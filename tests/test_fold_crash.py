"""Multi-sink fold: a crash BETWEEN sinks replays exactly-once per sink.

``engine._start(extra_sinks=…)`` folds queries that share one upstream
plan into a single streaming query with N sinks, and claims: "a crash
between sinks re-runs the batch and only the uncommitted sinks write".
This test injects that crash for real — the fold's SECOND sink
(heavy_hitters, the additive one that would double-count if a replay
were not a no-op-per-sink) raises once mid-drain, strictly after the
primary (silver) has committed the same batch id — then restarts the
pipeline from its checkpoint and drains to completion. The member is
requested alone: it starts its host, silver, and rides its query.

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
                queries=("heavy_hitters",),
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
        queries=("heavy_hitters",),
        max_files_per_trigger=2,
    )
    # the member alone starts its host and rides its query
    assert h.queries["heavy_hitters"] is h.queries["silver"]

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


def test_legacy_work_dir_infers_standalone_wiring(spark):
    """Work dirs from when fold members could run standalone: a
    checkpoint dir NAMED after a member is proof its sink holds that
    checkpoint's batch ids, so starting the member on its host's
    checkpoint must be refused before any query starts."""
    from crypto_near_real_time_data_ingestion_spark.streaming.engine import (
        run_pipeline_to_completion,
    )

    work = WORK + "_legacy"
    shutil.rmtree(work, ignore_errors=True)
    # what a standalone heavy_hitters run left behind
    os.makedirs(os.path.join(work, "checkpoints", "heavy_hitters", "commits"))
    with pytest.raises(RuntimeError, match="ran standalone"):
        run_pipeline_to_completion(
            spark, os.path.join(work, "missing-source"), work,
            queries=("silver", "heavy_hitters"), max_files_per_trigger=2,
        )
    assert not os.path.exists(os.path.join(work, "checkpoints", "silver"))


def test_attach_sink_to_advanced_checkpoint_refuses(spark, stream_parquet_dir):
    """The standalone-member guard can't catch a sink NEWLY attached to
    a checkpoint that advanced while the sink was absent (the member
    never had a checkpoint of its own) — the batch-alignment guard
    must: every batch in the checkpoint's commits log is gone forever
    (never replayed), so a fold member joining late would silently miss
    all of them."""
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
