"""Streaming SCD2 maintenance ≡ full batch rebuild: the incremental
foreachBatch dimension job drained over a ts-ordered events stream
produces the same dimension as one-shot ``events_scd2``, at two
micro-batch granularities, and composes with point-in-time lookup."""

from __future__ import annotations

import os
import shutil

import pytest

from conftest import SF_DIR, assert_df_equal, duck_sql

from crypto_near_real_time_data_ingestion_spark.datagen.events_stream import (
    build_events_stream_source,
)
from crypto_near_real_time_data_ingestion_spark.operators import scd2
from crypto_near_real_time_data_ingestion_spark.streaming.scd2_maintenance import (
    run_scd2_maintenance_to_completion,
)

WORK = "/tmp/spark_graft_test_scd2_stream"


@pytest.fixture(scope="module", autouse=True)
def _fresh_work():
    """A stale drain from a previous pytest session must never serve the
    rerun tests (they would replay a checkpoint produced by older code)."""
    shutil.rmtree(WORK, ignore_errors=True)
    yield


def _drain(spark, n_chunks: int):
    src = build_events_stream_source(
        f"{SF_DIR}/events.parquet",
        os.path.join(WORK, f"src{n_chunks}"),
        n_chunks,
        sentinel=False,  # foreachBatch needs no watermark flush
    )
    work = os.path.join(WORK, f"run{n_chunks}")
    shutil.rmtree(work, ignore_errors=True)
    return run_scd2_maintenance_to_completion(
        spark, src, work, shuffle_partitions=4
    )


def _want(spark):
    return scd2.events_scd2(
        spark.read.parquet(f"{SF_DIR}/events.parquet")
    ).toPandas()


@pytest.mark.parametrize("n_chunks", [3, 6])
def test_maintained_dim_equals_full_rebuild(spark, n_chunks):
    sink = _drain(spark, n_chunks)
    got = sink.read(spark).drop("__batch_id")
    assert_df_equal(
        got, _want(spark), sort_cols=["user_id", "event_type", "version"]
    )


def test_rerun_is_noop_and_oracle_transfers(spark):
    """Replay over the drained work_dir changes nothing, and the
    maintained dimension answers the SAME DuckDB oracle as the graded
    batch entry."""
    src = os.path.join(WORK, "src3")
    work = os.path.join(WORK, "run3")
    if not os.path.isdir(work):
        pytest.skip("ordering: the equality test builds the drain first")
    sink = run_scd2_maintenance_to_completion(
        spark, src, work, shuffle_partitions=4
    )
    got = sink.read(spark).drop("__batch_id")
    want = duck_sql(scd2.EVENTS_SCD2_ORACLE_SQL)
    assert_df_equal(got, want, sort_cols=["user_id", "event_type", "version"])


def test_maintained_dim_serves_pit_lookup(spark):
    """The streaming-maintained dimension composes with scd2_lookup:
    every fact resolves to the version containing its ts."""
    src = os.path.join(WORK, "src3")
    work = os.path.join(WORK, "run3")
    if not os.path.isdir(work):
        pytest.skip("ordering: the equality test builds the drain first")
    sink = run_scd2_maintenance_to_completion(
        spark, src, work, shuffle_partitions=4
    )
    dim = sink.read(spark).drop("__batch_id")
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    facts = ev.select("event_id", "user_id", "event_type", "ts")
    got = scd2.scd2_lookup(facts, dim).select("event_id", "dim_tier", "dim_version")
    want = duck_sql(
        f"""
        WITH dim AS ({scd2.EVENTS_SCD2_ORACLE_SQL})
        SELECT e.event_id, d.tier AS dim_tier, d.version AS dim_version
        FROM events e
        LEFT JOIN dim d
          ON d.user_id = e.user_id AND d.event_type = e.event_type
         AND d.valid_from <= e.ts
         AND (d.valid_to IS NULL OR e.ts < d.valid_to)
        """
    )
    assert_df_equal(got, want, sort_cols=["event_id"])


def test_equal_ts_rows_never_split_across_chunks(spark, tmp_path):
    """Planted regression for the chunk-boundary rule: two change rows of
    one key share a timestamp exactly where a row-count split would cut.
    If they landed in different micro-batches, the same-ts keep-latest
    dedup would resolve differently than the batch rebuild and the
    upsert-only MERGE sink would strand a stale version row (two
    is_current rows). The builder must advance the boundary to the next
    distinct ts; the maintained dimension must equal the full rebuild."""
    import datetime as dt

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = dt.datetime(2024, 1, 1)

    def ts(h):
        return t0 + dt.timedelta(hours=h)

    # tiers: value // 25 → 30⇒1, 80⇒3. Rows 3 and 4 share ts(3); a
    # 2-chunk row-count split (8 rows → boundary at 4) would separate
    # them. Row 2 already has tier 3, so the correct same-ts resolution
    # (event_id 14 wins with tier 3) COLLAPSES into the open version —
    # exactly the case that leaves a stale higher version behind if the
    # rows are processed in different batches.
    rows = [
        (10, ts(0), 1, "x", 30.0),
        (11, ts(1), 2, "x", 30.0),
        (12, ts(2), 1, "x", 80.0),
        (13, ts(3), 1, "x", 30.0),   # same ts, lower seq — must lose
        (14, ts(3), 1, "x", 80.0),   # same ts, higher seq — wins, collapses
        (15, ts(4), 2, "x", 30.0),
        (16, ts(5), 1, "x", 30.0),
        (17, ts(6), 2, "x", 80.0),
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
    )
    pdf["props"] = "{}"
    table = pa.Table.from_pandas(pdf, preserve_index=False).cast(
        pa.schema(
            [
                ("event_id", pa.int64()),
                ("ts", pa.timestamp("us")),
                ("user_id", pa.int64()),
                ("event_type", pa.string()),
                ("value", pa.float64()),
                ("props", pa.string()),
            ]
        )
    )
    src_parquet = str(tmp_path / "events.parquet")
    pq.write_table(table, src_parquet)

    src = build_events_stream_source(
        src_parquet, str(tmp_path / "src"), n_chunks=2, sentinel=False
    )
    import glob

    sizes = [
        pq.read_metadata(p).num_rows
        for p in sorted(glob.glob(os.path.join(src, "part-*.parquet")))
    ]
    assert sizes == [5, 3], sizes  # boundary advanced past the equal-ts pair

    sink = run_scd2_maintenance_to_completion(
        spark, src, str(tmp_path / "work"), shuffle_partitions=2
    )
    got = sink.read(spark).drop("__batch_id")
    want = scd2.events_scd2(spark.read.parquet(src_parquet)).toPandas()
    assert_df_equal(got, want, sort_cols=["user_id", "event_type", "version"])


def test_refused_resume_restores_shuffle_partitions(spark):
    """A resume refused because the sink lost committed batches (its
    table dir was deleted after a drain) must leave the session's
    shuffle-partition count as it found it."""
    src = build_events_stream_source(
        f"{SF_DIR}/events.parquet", os.path.join(WORK, "src_refused"), 2,
        sentinel=False,
    )
    work = os.path.join(WORK, "run_refused")
    shutil.rmtree(work, ignore_errors=True)
    run_scd2_maintenance_to_completion(spark, src, work, shuffle_partitions=4)
    shutil.rmtree(os.path.join(work, "tables", "scd2_dim"))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        with pytest.raises(RuntimeError, match="never be replayed"):
            run_scd2_maintenance_to_completion(
                spark, src, work, shuffle_partitions=3
            )
        assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
