"""Iceberg MERGE sink: the same exactly-once contract as ParquetMergeSink,
run against a real Iceberg catalog WHEN the runtime jar is present.

This container does not ship iceberg-spark-runtime, and it cannot be
vendored from here: the sandbox has no network (verified round 3 —
``curl https://repo1.maven.org`` fails DNS resolution, exit 6), so the
plain Maven artifact is unreachable. The e2e therefore skips — LOUDLY —
with the exact launch recipe. The contract itself (replay
idempotency, keyed upsert, read-your-commits) is continuously verified
against the parquet implementation in test_sinks_lineage.py /
test_late_data.py; this module makes the production swap executable the
moment the jar exists.
"""

from __future__ import annotations

import datetime as dt
import shutil

import pytest

from crypto_near_real_time_data_ingestion_spark.streaming.iceberg_sink import (
    IcebergMergeSink,
    iceberg_available,
    iceberg_session_confs,
)

SKIP_REASON = (
    "iceberg-spark-runtime jar not on the classpath (not shipped in this "
    "container). To run: spark-submit --packages org.apache.iceberg:"
    "iceberg-spark-runtime-4.0_2.13:<version> with iceberg_session_confs() "
    "applied at session build."
)


def test_confs_shape():
    confs = iceberg_session_confs("/tmp/wh")
    assert confs["spark.sql.catalog.local"].endswith("SparkCatalog")
    assert confs["spark.sql.catalog.local.warehouse"] == "/tmp/wh"
    assert "IcebergSparkSessionExtensions" in confs["spark.sql.extensions"]


def test_sink_refuses_without_runtime(spark):
    if iceberg_available(spark):
        pytest.skip("iceberg IS available — covered by the e2e test below")
    with pytest.raises(RuntimeError, match="Iceberg Spark runtime"):
        IcebergMergeSink(spark, "local.gold.t", ["conv_id"])


def _mk_df(spark, rows):
    return spark.createDataFrame(rows, "conv_id string, turn_idx int, ts timestamp")


def test_iceberg_merge_exactly_once(spark):
    """Mirror of test_merge_sink_upsert_and_manifests against Iceberg."""
    if not iceberg_available(spark):
        pytest.skip(SKIP_REASON)
    shutil.rmtree("/tmp/spark_graft_iceberg_wh", ignore_errors=True)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS local.gold")
    sink = IcebergMergeSink(
        spark, "local.gold.sink_unit", ["conv_id", "turn_idx"], "ts"
    )
    t = dt.datetime(2025, 1, 1)
    sink.process_batch(_mk_df(spark, [("a", 0, t), ("a", 1, t)]), 0)
    sink.process_batch(_mk_df(spark, [("a", 1, t), ("b", 0, t)]), 1)
    assert sink.read(spark).count() == 3
    assert sink.committed_batches() == [0, 1]
    # replay with different data → skipped (exactly-once)
    sink.process_batch(_mk_df(spark, [("z", 9, t)]), 1)
    assert sink.read(spark).filter("conv_id = 'z'").count() == 0
    assert len(sink.manifests()) >= 2


def test_replayed_batch_still_runs_its_plan(spark):
    """A replay of a committed batch skips the MERGE but runs the plan to
    a noop write, so a replayed batch still commits its state stores.
    Pinned without the Iceberg jar: the sink is built without its
    constructor and the batch's plan raises when it runs."""
    from pyspark.sql import functions as F

    sink = object.__new__(IcebergMergeSink)
    sink.is_committed = lambda batch_id: True
    df = spark.range(1).select(F.raise_error(F.lit("plan ran")).alias("x"))
    with pytest.raises(Exception, match="plan ran"):
        sink.process_batch(df, 7)
