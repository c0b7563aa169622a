"""SparkSession factory with the engine's standard configuration.

Mirrors the physical-execution decisions of the reference jobs
(UTC session timezone, snappy parquet, dynamic partition overwrite —
``terraform/silver_glue_job.tf:30``, ``gold_features_base_job.py:123-128``)
but replaces its fixed ``shuffle.partitions=8`` with AQE-driven
coalescing, and enables Arrow for all pandas-UDF paths.

Scale notes (100 TB / 1000-executor design intent):
  * AQE on: runtime shuffle-partition coalescing + skew-join splitting
    replace hand-tuned partition counts.
  * ``shuffle.partitions`` here is a local-mode ceiling; on a real
    cluster it should be ~2-3x total cores and AQE coalesces down.
  * RocksDB state store for streaming keyed state (bounded memory at
    10^12-turn scale); falls back silently to HDFS-backed store in
    environments without the RocksDB JNI (local tests keep default).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from . import CHECKOUT_ROOT

# the box's own core count unless SPARK_GRAFT_CPUS pins it
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)

# Runtime SQL confs the sinks' correctness depends on. ``get_spark``
# builds with them; a session built elsewhere (spark-submit,
# scripts/run_pipeline.py) must set them before its first query.
SINK_SQL_CONF = {
    # deterministic time semantics (reference pins UTC)
    "spark.sql.session.timeZone": "UTC",
    # INT64 micros, not legacy INT96: INT96 carries NO footer min/max
    # stats, which would blind both parquet predicate pushdown on
    # timestamps and the sink manifests' event-time envelopes (the
    # data-skipping index for read_time_range)
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # a partitioned gold overwrite replaces only the partitions it writes
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
}


def get_spark(
    app_name: str = "transcript-medallion-stream",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    use_rocksdb_state: bool = False,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine."""
    cores = cores or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        # AQE: runtime coalescing + skew handling (SURVEY §4)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        # Arrow everywhere for pandas UDFs (no per-row Python)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # parquet physical layout (reference: snappy)
        .config("spark.sql.parquet.compression.codec", "snappy")
        # the catalog's warehouse lands under the gitignored data root,
        # never the process CWD
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", os.path.join(CHECKOUT_ROOT, "data", "warehouse")
            ),
        )
        # streaming
        .config("spark.sql.streaming.schemaInference", "false")
        .config("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "true")
        # quieter local runs
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    if use_rocksdb_state:
        b = b.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
    for k, v in {**SINK_SQL_CONF, **(extra_conf or {})}.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
