"""User-turn ↔ response joins (batch self-join and stream-stream stateful).

Generalizes the reference's self-join-of-a-filtered-aggregate pattern
(BTC benchmark join, ``gold_ml_training_job.py:123-126``, J2) into the
north-star stream-stream join: user turns joined to the immediately
following assistant/tool response in the same conversation, bounded by an
event-time range so streaming state stays finite.

Batch: equi-join on (conv_id, turn_idx+1). Both sides derive from the
same silver relation, so Catalyst plans a single shuffle on conv_id
(co-partitioned self-join); the time-range predicate is a post-join
filter pushed into the join condition.

Streaming: both sides watermarked; the join condition carries the
time-range bound (response within [user_ts, user_ts + max_latency]),
which lets Spark evict join state as the watermark advances — without
it, state at 10^12-turn scale grows unboundedly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_MAX_LATENCY = "1 hour"

PAIR_COLS = [
    "conv_id",
    "user_turn_idx",
    "response_turn_idx",
    "user_ts",
    "response_ts",
    "response_role",
    "response_tool",
    "latency_seconds",
]


def _project_pairs(joined: DataFrame) -> DataFrame:
    return joined.select(
        F.col("u.conv_id").alias("conv_id"),
        F.col("u.turn_idx").alias("user_turn_idx"),
        F.col("r.turn_idx").alias("response_turn_idx"),
        F.col("u.ts").alias("user_ts"),
        F.col("r.ts").alias("response_ts"),
        F.col("r.role").alias("response_role"),
        F.col("r.tool").alias("response_tool"),
        (
            (F.unix_micros(F.col("r.ts")) - F.unix_micros(F.col("u.ts"))) / F.lit(1e6)
        ).alias("latency_seconds"),
    )


def user_response_pairs(
    silver: DataFrame, max_latency: str = DEFAULT_MAX_LATENCY
) -> DataFrame:
    """Batch: user turn ⋈ next-turn assistant/tool response."""
    u = silver.filter(F.col("role") == "user").alias("u")
    r = silver.filter(F.col("role").isin("assistant", "tool")).alias("r")
    cond = (
        (F.col("u.conv_id") == F.col("r.conv_id"))
        & (F.col("r.turn_idx") == F.col("u.turn_idx") + 1)
        & (F.col("r.ts") >= F.col("u.ts"))
        & (F.col("r.ts") <= F.col("u.ts") + F.expr(f"INTERVAL {max_latency}"))
    )
    return _project_pairs(u.join(r, cond, "inner"))


def user_response_pairs_stream(
    silver_stream: DataFrame,
    max_latency: str = DEFAULT_MAX_LATENCY,
) -> DataFrame:
    """Stream-stream inner join with watermarked, time-bounded state.
    Input must already carry the gold layer's watermark (set once on its
    silver read); both join sides are references to that one stream."""
    u = silver_stream.alias("u")
    r = silver_stream.alias("r")
    cond = (
        (F.col("u.conv_id") == F.col("r.conv_id"))
        & (F.col("r.turn_idx") == F.col("u.turn_idx") + 1)
        & (F.col("r.ts") >= F.col("u.ts"))
        & (F.col("r.ts") <= F.col("u.ts") + F.expr(f"INTERVAL {max_latency}"))
    )
    joined = u.filter(F.col("role") == "user").join(
        r.filter(F.col("role").isin("assistant", "tool")), cond, "inner"
    )
    return _project_pairs(joined)


PAIRS_ORACLE_SQL_TEMPLATE = """
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
)
SELECT u.conv_id AS conv_id,
       u.turn_idx AS user_turn_idx,
       r.turn_idx AS response_turn_idx,
       u.ts AS user_ts,
       r.ts AS response_ts,
       r.role AS response_role,
       r.tool AS response_tool,
       (epoch_us(r.ts) - epoch_us(u.ts)) / 1e6 AS latency_seconds
FROM silver u
JOIN silver r
  ON u.conv_id = r.conv_id
 AND r.turn_idx = u.turn_idx + 1
 AND r.ts >= u.ts
 AND r.ts <= u.ts + INTERVAL 1 HOUR
WHERE u.role = 'user' AND r.role IN ('assistant', 'tool')
"""
