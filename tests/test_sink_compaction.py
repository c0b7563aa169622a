"""Sink compaction: the Iceberg rewrite-data-files / snapshot-expiration
analog for the LSM-ish parquet MERGE sink (and the reference's
small-file roll-up strategy). Contract under test:

  * the merged read view is bit-identical before and after compact();
  * replay of a compacted-away batch id stays a no-op (the commit log's
    exactly-once guarantee survives its own garbage collection);
  * new deltas written AFTER compaction upsert/add on top of the
    snapshot exactly as they would have over the original delta pile;
  * the crash window between marker rename and cleanup is safe (stale
    delta dirs at or below the marker are filtered by id).
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

from crypto_near_real_time_data_ingestion_spark.streaming.sinks import (
    AdditiveSummarySink,
    ParquetMergeSink,
)
from crypto_near_real_time_data_ingestion_spark.operators.heavy_hitters import (
    _SENTINEL,
)


def _read_pdf(sink, spark) -> pd.DataFrame:
    return (
        sink.read(spark)
        .toPandas()
        .sort_values(sink.keys)
        .reset_index(drop=True)
    )


def _mk_keyed(spark, tmp_path, name="t"):
    sink = ParquetMergeSink(str(tmp_path / name), keys=["k"], event_time_col="v")
    frames = [
        [("a", 1), ("b", 1)],
        [("b", 2), ("c", 2)],          # upserts b
        [("a", 3), ("d", 3)],          # upserts a
        [("c", 4)],                    # upserts c
    ]
    for bid, rows in enumerate(frames):
        sink.process_batch(spark.createDataFrame(rows, "k string, v int"), bid)
    return sink


def test_keyed_compaction_preserves_read_view(spark, tmp_path):
    sink = _mk_keyed(spark, tmp_path)
    before = _read_pdf(sink, spark)
    stats = sink.compact(spark)
    assert stats["through"] == 3 and stats["compacted_deltas"] == 4
    after = _read_pdf(sink, spark)
    pd.testing.assert_frame_equal(before, after)
    # expected latest-wins content, explicitly
    assert dict(zip(after.k, after.v)) == {"a": 3, "b": 2, "c": 4, "d": 3}
    # the delta pile is gone: one snapshot dir, no batch dirs
    entries = sorted(os.listdir(sink.data_dir))
    assert entries == ["compact-00000003"], entries
    assert sink.committed_batches() == []


def test_keyed_replay_after_compaction_is_noop(spark, tmp_path):
    sink = _mk_keyed(spark, tmp_path)
    sink.compact(spark)
    assert sink.is_committed(0) and sink.is_committed(3)
    before = _read_pdf(sink, spark)
    # a recovering stream re-offers an old batch with stale values
    sink.process_batch(
        spark.createDataFrame([("a", 99)], "k string, v int"), 2
    )
    pd.testing.assert_frame_equal(_read_pdf(sink, spark), before)


def test_keyed_post_compaction_appends_and_recompaction(spark, tmp_path):
    sink = _mk_keyed(spark, tmp_path)
    sink.compact(spark)
    sink.process_batch(spark.createDataFrame([("a", 5), ("e", 5)], "k string, v int"), 4)
    after = _read_pdf(sink, spark)
    assert dict(zip(after.k, after.v)) == {"a": 5, "b": 2, "c": 4, "d": 3, "e": 5}
    # second compaction folds snapshot + new delta, drops the old snapshot
    stats = sink.compact(spark)
    assert stats["through"] == 4
    assert sorted(os.listdir(sink.data_dir)) == ["compact-00000004"]
    pd.testing.assert_frame_equal(_read_pdf(sink, spark), after)


def test_keyed_compaction_crash_window_filters_stale_deltas(spark, tmp_path):
    """Marker renamed but cleanup didn't run: stale delta dirs/markers at
    or below the marker must be invisible to read/committed_batches."""
    sink = _mk_keyed(spark, tmp_path)
    before = _read_pdf(sink, spark)
    sink.compact(spark)
    # resurrect a stale delta + its commit marker (as if cleanup crashed)
    stale = spark.createDataFrame([("a", 77)], "k string, v int")
    import pyspark.sql.functions as F

    stale.withColumn("__batch_id", F.lit(1)).write.mode("overwrite").parquet(
        os.path.join(sink.data_dir, "batch-00000001")
    )
    with open(sink._commit_marker(1), "w") as f:
        f.write('{"batch_id": 1, "rows": "1"}')
    assert sink.committed_batches() == []
    pd.testing.assert_frame_equal(_read_pdf(sink, spark), before)
    # ANY later compaction pass sweeps the crashed-cleanup leftovers, even
    # with no new deltas to fold (directory scan, not a remembered list)
    stats = sink.compact(spark)
    assert stats["compacted_deltas"] == 0
    assert sorted(os.listdir(sink.data_dir)) == ["compact-00000003"]
    assert os.listdir(sink.commits_dir) == []
    pd.testing.assert_frame_equal(_read_pdf(sink, spark), before)


def test_compact_without_new_deltas_is_noop(spark, tmp_path):
    sink = _mk_keyed(spark, tmp_path)
    sink.compact(spark)
    stats = sink.compact(spark)
    assert stats["compacted_deltas"] == 0 and stats["through"] == 3
    assert sorted(os.listdir(sink.data_dir)) == ["compact-00000003"]


def _mk_additive(spark, tmp_path):
    sink = AdditiveSummarySink(str(tmp_path / "hh"))
    deltas = [
        [("x", 3, 0), ("y", 1, 0), (_SENTINEL, 0, 2)],
        [("x", 2, 0), ("z", 5, 0)],
        [("y", 4, 0), (_SENTINEL, 0, 1)],
    ]
    for bid, rows in enumerate(deltas):
        sink.process_batch(
            spark.createDataFrame(rows, "token string, count long, decrement long"),
            bid,
        )
    return sink


def test_additive_compaction_preserves_counts_and_bound(spark, tmp_path):
    sink = _mk_additive(spark, tmp_path)
    before = _read_pdf(sink, spark)
    sink.compact(spark)
    after = _read_pdf(sink, spark)
    pd.testing.assert_frame_equal(before, after)
    got = {r["token"]: (r["count"], r["max_undercount"]) for r in sink.read(spark).collect()}
    assert got == {"x": (5, 3), "y": (5, 3), "z": (5, 3)}
    assert sorted(os.listdir(sink.data_dir)) == ["compact-00000002"]


def test_additive_replay_after_compaction_does_not_double_count(spark, tmp_path):
    """The additive merge is NOT idempotent — the surviving commit-log
    semantics (marker OR compacted-through) are what keep it exactly-once."""
    sink = _mk_additive(spark, tmp_path)
    sink.compact(spark)
    sink.process_batch(
        spark.createDataFrame(
            [("x", 2, 0)], "token string, count long, decrement long"
        ),
        1,  # replayed, already folded into the snapshot
    )
    got = {r["token"]: r["count"] for r in sink.read(spark).collect()}
    assert got["x"] == 5
    # genuinely new delta still adds
    sink.process_batch(
        spark.createDataFrame(
            [("x", 2, 0)], "token string, count long, decrement long"
        ),
        3,
    )
    got = {r["token"]: r["count"] for r in sink.read(spark).collect()}
    assert got["x"] == 7


def test_compact_all_folds_every_sink_and_guards_active_queries(spark, tmp_path):
    from crypto_near_real_time_data_ingestion_spark.streaming.engine import (
        PipelineHandles,
    )

    h = PipelineHandles()
    h.sinks["a"] = _mk_keyed(spark, tmp_path, "a")
    h.sinks["b"] = _mk_keyed(spark, tmp_path, "b")

    class _ActiveQ:
        isActive = True

    h.queries["q"] = _ActiveQ()
    with pytest.raises(RuntimeError):
        h.compact_all(spark)
    h.queries["q"].isActive = False
    res = h.compact_all(spark)
    assert res["a"]["through"] == 3 and res["b"]["compacted_deltas"] == 4
    for s in h.sinks.values():
        assert sorted(os.listdir(s.data_dir)) == ["compact-00000003"]


def test_compaction_property_random_batches(spark, tmp_path):
    """Randomized upsert streams: arbitrary key/value batches, compact
    after a random prefix, keep appending — final read view must equal
    the pandas latest-wins model of ALL batches in order."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    # one row per key per batch (dict): the keyed MERGE contract — within
    # a batch, duplicate keys would tie on __batch_id and win arbitrarily
    batch = st.dictionaries(
        st.sampled_from("abcdef"), st.integers(0, 99), min_size=1, max_size=5
    ).map(lambda d: sorted(d.items()))
    case = st.tuples(
        st.lists(batch, min_size=1, max_size=6),
        st.integers(0, 5),  # compact after this many batches (capped)
    )
    counter = iter(range(10_000))

    @settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
    @given(case)
    def run(c):
        batches, k = c
        sink = ParquetMergeSink(
            str(tmp_path / f"p{next(counter)}"), keys=["k"], event_time_col=None
        )
        model: dict[str, int] = {}
        for bid, rows in enumerate(batches):
            sink.process_batch(
                spark.createDataFrame(rows, "k string, v int"), bid
            )
            for key, v in rows:
                model[key] = v  # latest row in batch order wins
            if bid + 1 == min(k, len(batches)):
                sink.compact(spark)
        got = {r.k: r.v for r in sink.read(spark).collect()}
        assert got == model, (got, model, k)

    run()


def test_compaction_writes_lineage_manifest_and_gcs_folded_ones(spark, tmp_path):
    sink = _mk_keyed(spark, tmp_path)
    assert len(sink.manifests()) == 4  # one per committed batch
    sink.compact(spark)
    ms = sink.manifests()
    # folded batch manifests are summarized by the compaction manifest and
    # GC'd — metadata stays O(live), not O(lifetime batches)
    assert [m.get("compacted_through") for m in ms] == [3]
    assert ms[0]["folded_deltas"] == 4 and int(ms[0]["stats"]["rows"]) == 4
    # post-compaction batches get fresh manifests beside the compact one
    sink.process_batch(spark.createDataFrame([("z", 9)], "k string, v int"), 4)
    assert len(sink.manifests()) == 2


def test_compact_with_zorder_layout(spark, tmp_path):
    """compact(zorder_by=…) must keep the read view bit-identical while
    laying the snapshot's FILES out on the Morton curve — measured from
    the snapshot's own parquet footers: a band predicate on either
    z-ordered column (numeric event time, string key prefix) skips
    files, which a fold-order snapshot cannot promise."""
    import pandas as pd

    from crypto_near_real_time_data_ingestion_spark.sources.layout import (
        file_skip_fraction,
    )

    sink = ParquetMergeSink(str(tmp_path / "z"), keys=["k"], event_time_col="v")
    rows = [(f"u{i:04d}", (i * 37) % 2000) for i in range(2000)]
    for bid in range(4):
        chunk = rows[bid * 500 : (bid + 1) * 500]
        sink.process_batch(spark.createDataFrame(chunk, "k string, v int"), bid)
    before = _read_pdf(sink, spark)
    stats = sink.compact(spark, zorder_by=["v", "k"], zorder_files=16)
    after = _read_pdf(sink, spark)
    pd.testing.assert_frame_equal(before, after)
    snap = os.path.join(sink.data_dir, f"compact-{stats['through']:08d}")
    # ~10% band on the numeric event time; prefix band on the string key
    # (measured 0.625 / 0.4375 at 16 files — 2 Morton levels per dim)
    assert file_skip_fraction(snap, "v", 900, 1100) >= 0.5
    assert file_skip_fraction(snap, "k", "u0400", "u0599") >= 0.35
    # and the sink still upserts on top of the z-ordered snapshot
    sink.process_batch(
        spark.createDataFrame([("u0000", 9999)], "k string, v int"), 4
    )
    merged = _read_pdf(sink, spark)
    assert dict(zip(merged.k, merged.v))["u0000"] == 9999
