"""Correctness gate: every drained sink must equal its batch oracle.

Runs after the timed window. The flush sentinel is filtered out of both
sides; the oracle reads every file of the source directory the stream
consumed, which after a drain is exactly the files it read.
Equality is exact and multiset-wise (every distinct row occurs as often
in the sink as in the oracle), so a duplicated, dropped or altered row
fails the gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crypto_near_real_time_data_ingestion_spark.datagen.flush import FLUSH_CONV_ID
from crypto_near_real_time_data_ingestion_spark.operators.joins import user_response_pairs
from crypto_near_real_time_data_ingestion_spark.operators.rolling import (
    conv_features_vectorized,
)
from crypto_near_real_time_data_ingestion_spark.plans.gold_windows import (
    conv_window_stats,
    rank_window_stats,
)
from crypto_near_real_time_data_ingestion_spark.plans.silver import silver_batch
from crypto_near_real_time_data_ingestion_spark.sources import read_transcripts
from crypto_near_real_time_data_ingestion_spark.streaming.stateful import OUTPUT_SCHEMA

FEATURE_COLS = [f.name for f in OUTPUT_SCHEMA.fields]


def no_flush(df: DataFrame) -> DataFrame:
    return df.filter(F.col("conv_id") != FLUSH_CONV_ID)


def oracles(spark: SparkSession, source_dir: str) -> dict[str, DataFrame]:
    """Batch oracle per sink table over every file in ``source_dir``
    (lazy plans; silver is cached because every other oracle reads it)."""
    silver = silver_batch(no_flush(read_transcripts(spark, source_dir))).cache()
    hour = conv_window_stats(silver, "hour")
    return {
        "silver": silver,
        "gold_hour": hour,
        "gold_hour_rank": rank_window_stats(hour),
        "pairs": user_response_pairs(silver),
        "features": conv_features_vectorized(silver).select(*FEATURE_COLS),
    }


def _diff(table: str, got: DataFrame, want: DataFrame) -> DataFrame | str:
    """Rows of each side missing from the other, tagged by table and side,
    with their multiplicity; a string when the schemas differ. Each side
    is computed once: sink rows count +1, oracle rows -1, and a row whose
    count does not sum to 0 is in one side more often than in the other."""
    cols = sorted(got.columns)
    if cols != sorted(want.columns):
        return f"columns {cols} != {sorted(want.columns)}"
    n = F.col("n")
    return (
        got.select(*cols, F.lit(1).alias("n"))
        .unionByName(want.select(*cols, F.lit(-1).alias("n")))
        .groupBy(*cols)
        .agg(F.sum("n").alias("n"))
        .filter(n != 0)
        .select(
            F.lit(table).alias("table"),
            F.when(n > 0, "sink").otherwise("oracle").alias("side"),
            F.abs(n).alias("rows"),
        )
    )


def check_sinks(spark: SparkSession, sinks: dict, tables, source_dir: str) -> dict:
    """{table: None | reason} for each drained sink table, all tables
    compared in one Spark job over every core."""
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism))
    want = oracles(spark, source_dir)
    out: dict[str, str | None] = {t: None for t in tables}
    diffs = []
    for t in tables:
        d = _diff(t, no_flush(sinks[t].read(spark)), want[t])
        if isinstance(d, str):
            out[t] = d
        else:
            diffs.append(d)
    try:
        if diffs:
            union = diffs[0]
            for d in diffs[1:]:
                union = union.unionByName(d)
            counts: dict = {}
            for r in union.groupBy("table", "side").agg(F.sum("rows").alias("rows")).collect():
                counts.setdefault(r["table"], {})[r["side"]] = r["rows"]
            for t, c in counts.items():
                out[t] = (f"{c.get('sink', 0)} sink rows not in the oracle, "
                          f"{c.get('oracle', 0)} oracle rows not in the sink")
    finally:
        want["silver"].unpersist()
        spark.conf.set("spark.sql.shuffle.partitions", partitions)
    return out
