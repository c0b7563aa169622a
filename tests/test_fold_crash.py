"""Multi-sink fold: a crash BETWEEN sinks replays exactly-once per sink.

``engine._start(extra_sinks=…)`` folds queries that share one upstream
plan into a single streaming query with N sinks, and claims: "a crash
between sinks re-runs the batch and only the uncommitted sinks write".
This test injects that crash for real — the fold's SECOND sink
(heavy_hitters, the additive one that would double-count if a replay
were not a no-op-per-sink) raises once mid-drain, strictly after the
primary (silver) has committed the same batch id — then restarts the
pipeline from its checkpoint and drains to completion.

Pass criteria:
  - at crash time the primary's commit marker for the batch exists
    (the fold really does commit sink-by-sink, primary first);
  - after restart, silver equals the batch oracle (the replayed batch
    was a no-op at the already-committed primary);
  - heavy_hitters equals the EXACT token counts (the additive sink got
    the replayed batch exactly once — any double write would inflate
    counts, any dropped batch would deflate them).
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from conftest import assert_df_equal
from crypto_near_real_time_data_ingestion_spark.datagen.flush import (
    FLUSH_CONV_ID,
    build_flushed_source,
)
from crypto_near_real_time_data_ingestion_spark.operators.heavy_hitters import (
    token_counts_exact,
)
from crypto_near_real_time_data_ingestion_spark.plans.silver import silver_batch
from crypto_near_real_time_data_ingestion_spark.sources import read_transcripts
from crypto_near_real_time_data_ingestion_spark.streaming.engine import (
    run_pipeline_to_completion,
)
from crypto_near_real_time_data_ingestion_spark.streaming.sinks import (
    AdditiveSummarySink,
)

WORK = "/tmp/spark_graft_fold_crash"


def test_fold_crash_between_sinks_is_exactly_once(
    spark, transcripts_parquet, stream_parquet_dir
):
    shutil.rmtree(WORK, ignore_errors=True)
    fsrc = build_flushed_source(stream_parquet_dir, os.path.join(WORK, "source"))

    orig = AdditiveSummarySink.process_batch
    state = {"crashed": False, "primary_committed_at_crash": None}
    silver_commits = os.path.join(WORK, "tables", "silver", "_commits")

    def crashing(self, df, batch_id):
        # let batch 0 flow through both sinks, then die once on the next
        if batch_id >= 1 and not state["crashed"]:
            state["crashed"] = True
            # the fold handler commits the primary sink FIRST — silver
            # must already be durable for this batch id when we die here
            state["primary_committed_at_crash"] = os.path.exists(
                os.path.join(silver_commits, f"batch-{batch_id:08d}.json")
            )
            raise RuntimeError("injected crash between fold sinks")
        return orig(self, df, batch_id)

    AdditiveSummarySink.process_batch = crashing
    try:
        with pytest.raises(Exception):
            run_pipeline_to_completion(
                spark, fsrc, WORK,
                queries=("silver", "heavy_hitters"),
                max_files_per_trigger=2,
            )
    finally:
        AdditiveSummarySink.process_batch = orig

    assert state["crashed"], "injected crash never fired"
    assert state["primary_committed_at_crash"] is True

    # restart from the same checkpoint: the crashed batch replays —
    # silver's commit log makes it a no-op, heavy_hitters (uncommitted
    # for that id) writes it now
    h = run_pipeline_to_completion(
        spark, fsrc, WORK,
        queries=("silver", "heavy_hitters"),
        max_files_per_trigger=2,
    )

    want_silver = silver_batch(read_transcripts(spark, transcripts_parquet))
    got_silver = h.sinks["silver"].read(spark).filter(
        F.col("conv_id") != FLUSH_CONV_ID
    )
    assert_df_equal(
        got_silver, want_silver.toPandas(), sort_cols=["conv_id", "turn_idx"]
    )

    hh = h.sinks["heavy_hitters"].read(spark)
    assert hh.agg(F.max("max_undercount")).collect()[0][0] == 0
    want_hh = token_counts_exact(want_silver)
    assert_df_equal(
        hh.select("token", "count"), want_hh.toPandas(), sort_cols=["token"]
    )


def test_crash_before_checkpoint_commit_replays(
    spark, transcripts_parquet, stream_parquet_dir
):
    """Crash point "checkpoint commit": the sink committed the last batch
    but the query's commit log did not. The restart replays that batch
    through the stateful dedup — it must drain (the replay still runs
    the plan so the state stores commit) and leave silver unchanged."""
    work = WORK + "_ckpt_commit"
    shutil.rmtree(work, ignore_errors=True)
    fsrc = build_flushed_source(stream_parquet_dir, os.path.join(work, "source"))
    run_pipeline_to_completion(
        spark, fsrc, work, queries=("silver",), max_files_per_trigger=4
    )
    commits = os.path.join(work, "checkpoints", "silver", "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    os.remove(os.path.join(commits, str(last)))
    os.remove(os.path.join(commits, f".{last}.crc"))
    h = run_pipeline_to_completion(
        spark, fsrc, work, queries=("silver",), max_files_per_trigger=4
    )
    assert os.path.exists(os.path.join(commits, str(last)))
    got = h.sinks["silver"].read(spark).filter(F.col("conv_id") != FLUSH_CONV_ID)
    want = silver_batch(read_transcripts(spark, transcripts_parquet))
    assert_df_equal(
        got, want.toPandas(), sort_cols=["conv_id", "turn_idx"]
    )


def test_gold_crash_before_checkpoint_commit_replays(
    spark, transcripts_parquet, stream_parquet_dir
):
    """The same crash point for a gold query reading silver's committed
    deltas: gold_hour's sink committed its last batch, its checkpoint
    did not. The restart replans that batch from the restored offset
    (the silver commit it covers), runs the plan through the windowed
    state, and leaves gold_hour equal to the batch oracle."""
    from crypto_near_real_time_data_ingestion_spark.plans.gold_windows import (
        conv_window_stats,
    )

    work = WORK + "_gold_ckpt_commit"
    shutil.rmtree(work, ignore_errors=True)
    fsrc = build_flushed_source(stream_parquet_dir, os.path.join(work, "source"))
    queries = ("silver", "gold_hour")
    run_pipeline_to_completion(
        spark, fsrc, work, queries=queries, max_files_per_trigger=4
    )
    commits = os.path.join(work, "checkpoints", "gold_hour", "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    marker = os.path.join(
        work, "tables", "gold_hour", "_commits", f"batch-{last:08d}.json"
    )
    assert os.path.exists(marker)
    os.remove(os.path.join(commits, str(last)))
    os.remove(os.path.join(commits, f".{last}.crc"))
    h = run_pipeline_to_completion(
        spark, fsrc, work, queries=queries, max_files_per_trigger=4
    )
    assert os.path.exists(os.path.join(commits, str(last)))
    got = h.sinks["gold_hour"].read(spark).filter(F.col("conv_id") != FLUSH_CONV_ID)
    want = conv_window_stats(silver_batch(read_transcripts(spark, transcripts_parquet)))
    assert_df_equal(got, want.toPandas(), sort_cols=["conv_id", "window_start"])


def test_topology_switch_on_existing_work_dir_refuses(spark):
    """Restarting a work_dir with a different fold topology must be a
    LOUD error, not silent data loss: a folded heavy_hitters sink holds
    batch ids issued by the SILVER checkpoint; a standalone restart
    would issue fresh ids from 0 that collide with the stale commit log
    (is_committed → True → batches silently dropped)."""
    import json

    from crypto_near_real_time_data_ingestion_spark.streaming.engine import (
        start_pipeline,
    )

    work = WORK + "_wiring"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # a prior FOLDED run recorded heavy_hitters as fed by silver's ckpt
    with open(os.path.join(work, "_sink_wiring.json"), "w") as f:
        json.dump({"silver": "silver", "heavy_hitters": "silver"}, f)
    # the guard fires before any query (or even the source) is touched
    with pytest.raises(RuntimeError, match="wiring changed"):
        start_pipeline(
            spark, os.path.join(work, "missing-source"), work,
            queries=("heavy_hitters",), available_now=True,
        )
    # same-topology restart stays allowed: no exception from the guard
    # itself (we don't start the queries — just re-check the wiring)
    with open(os.path.join(work, "_sink_wiring.json")) as f:
        assert json.load(f)["heavy_hitters"] == "silver"


def test_refused_topology_does_not_poison_work_dir(spark, stream_parquet_dir):
    """A refused fold attempt must leave the wiring file untouched: the
    wiring is committed only after every query starts, so the failed
    attempt cannot make a later LEGITIMATE topology (standalone
    heavy_hitters with its own fresh checkpoint) spuriously refused."""
    import json

    from crypto_near_real_time_data_ingestion_spark.streaming.engine import (
        run_pipeline_to_completion,
    )

    work = WORK + "_poison"
    shutil.rmtree(work, ignore_errors=True)
    fsrc = build_flushed_source(stream_parquet_dir, os.path.join(work, "source"))
    run_pipeline_to_completion(
        spark, fsrc, work, queries=("silver",), max_files_per_trigger=2
    )
    with pytest.raises(RuntimeError, match="never be replayed"):
        run_pipeline_to_completion(
            spark, fsrc, work,
            queries=("silver", "heavy_hitters"), max_files_per_trigger=2,
        )
    with open(os.path.join(work, "_sink_wiring.json")) as f:
        assert "heavy_hitters" not in json.load(f), "refused wiring persisted"
    # standalone heavy_hitters (fresh own checkpoint, full re-drain) is
    # safe and must still be allowed
    h = run_pipeline_to_completion(
        spark, fsrc, work, queries=("heavy_hitters",), max_files_per_trigger=2
    )
    assert h.sinks["heavy_hitters"].read(spark).count() > 0


def test_legacy_work_dir_infers_standalone_wiring(spark, stream_parquet_dir):
    """Pre-wiring-file work_dirs: a checkpoint dir NAMED after a sink is
    proof it ran standalone, so activating a fold on such a work_dir
    must be refused even with no _sink_wiring.json present."""
    from crypto_near_real_time_data_ingestion_spark.streaming.engine import (
        run_pipeline_to_completion,
    )

    work = WORK + "_legacy"
    shutil.rmtree(work, ignore_errors=True)
    fsrc = build_flushed_source(stream_parquet_dir, os.path.join(work, "source"))
    run_pipeline_to_completion(
        spark, fsrc, work, queries=("heavy_hitters",), max_files_per_trigger=2
    )
    os.remove(os.path.join(work, "_sink_wiring.json"))  # simulate legacy
    with pytest.raises(RuntimeError, match="wiring changed"):
        run_pipeline_to_completion(
            spark, fsrc, work,
            queries=("silver", "heavy_hitters"), max_files_per_trigger=2,
        )


def test_attach_sink_to_advanced_checkpoint_refuses(spark, stream_parquet_dir):
    """The wiring file can't catch a sink NEWLY attached to a checkpoint
    that advanced while the sink was absent (the mapping is new, not
    changed) — the batch-alignment guard must: every batch in the
    checkpoint's commits log is gone forever (never replayed), so a
    fold member joining late would silently miss all of them."""
    from crypto_near_real_time_data_ingestion_spark.streaming.engine import (
        run_pipeline_to_completion,
    )

    work = WORK + "_attach"
    shutil.rmtree(work, ignore_errors=True)
    fsrc = build_flushed_source(stream_parquet_dir, os.path.join(work, "source"))
    # run 1: silver alone drains the whole source
    run_pipeline_to_completion(
        spark, fsrc, work, queries=("silver",), max_files_per_trigger=2
    )
    # run 2: folding heavy_hitters onto silver's now-advanced checkpoint
    # must refuse — the summaries for every drained batch are unrecoverable
    with pytest.raises(RuntimeError, match="never be replayed"):
        run_pipeline_to_completion(
            spark, fsrc, work,
            queries=("silver", "heavy_hitters"),
            max_files_per_trigger=2,
        )
