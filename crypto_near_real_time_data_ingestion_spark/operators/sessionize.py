"""Sessionization: 30-min-gap session windows keyed by conv_id.

The reference's hourly batch grain (``bronze_silver_gold_partitions.md:
51-72``) generalizes to event-time session windows (north-star
requirement). Two formulations:

* batch: classic gap-and-island — lag() gap, cumulative-sum session ids,
  grouped bounds. Two logical window passes over the same
  ``partitionBy(conv_id).orderBy(ts, turn_idx)`` — Catalyst plans them
  over a single sort+shuffle (same partitioning/ordering → one Window
  physical node chain, no extra exchange).
* streaming: ``F.session_window(ts, gap)`` grouped aggregation — Spark's
  native stateful session operator with watermark-driven merge/eviction.

Session identity differs by construction (batch: 0-based ordinal per
conv; streaming: window start/end), so the equivalence tests compare on
(conv_id, session_start, session_end−gap, n_turns).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_GAP_S = 1800


def sessionize_batch(silver: DataFrame, gap_s: int = DEFAULT_GAP_S) -> DataFrame:
    """Gap-and-island sessions: one row per (conv_id, session)."""
    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_session = (
        F.when(F.lag("ts").over(w).isNull(), F.lit(1))
        .when(gap >= gap_s * 1_000_000, F.lit(1))
        .otherwise(F.lit(0))
    )
    run = (
        silver.withColumn("__new", new_session)
        .withColumn(
            "session_id",
            F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("int"),
        )
        .drop("__new")
    )
    return (
        run.groupBy("conv_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.col("tool").isNotNull().cast("long")).alias("n_tool_calls"),
            (
                (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))) / F.lit(1e6)
            ).alias("duration_s"),
        )
    )


def sessionize_stream(silver_stream: DataFrame, gap_s: int = DEFAULT_GAP_S) -> DataFrame:
    """Native streaming session windows (merge-on-overlap, watermark
    eviction). Input must already carry the gold layer's watermark (set
    once on its silver read). ``session_window.end`` = last event ts + gap; the
    selected ``session_end`` is the max event ts, directly comparable to
    the batch formulation.
    """
    sw = F.session_window("ts", f"{gap_s} seconds")
    return (
        silver_stream.groupBy(sw.alias("w"), "conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.col("tool").isNotNull().cast("long")).alias("n_tool_calls"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .select(
            "conv_id",
            "session_start",
            "session_end",
            "n_turns",
            "n_tool_calls",
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
        )
    )


SESSIONS_ORACLE_SQL_TEMPLATE = """
WITH cleansed AS (
    SELECT CAST(conv_id AS VARCHAR) AS conv_id, CAST(turn_idx AS INTEGER) AS turn_idx,
           lower(trim(role)) AS role, nullif(trim(tool), '') AS tool,
           CAST(ts AS TIMESTAMP) AS ts
    FROM read_parquet('{path}')
    WHERE conv_id IS NOT NULL AND turn_idx IS NOT NULL AND turn_idx >= 0
      AND role IS NOT NULL AND ts IS NOT NULL
),
silver AS (
    SELECT conv_id, turn_idx, min(role) AS role, min(tool) AS tool, min(ts) AS ts
    FROM cleansed GROUP BY conv_id, turn_idx
),
flagged AS (
    SELECT *, CASE WHEN lag(ts) OVER w IS NULL THEN 1
                   WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) >= {gap_s} * 1000000 THEN 1
                   ELSE 0 END AS new_session
    FROM silver
    WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
),
runs AS (
    SELECT *, CAST(sum(new_session) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INTEGER) AS session_id
    FROM flagged
)
SELECT conv_id, session_id,
       min(ts) AS session_start, max(ts) AS session_end,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(sum(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_tool_calls,
       (epoch_us(max(ts)) - epoch_us(min(ts))) / 1e6 AS duration_s
FROM runs
GROUP BY conv_id, session_id
"""
