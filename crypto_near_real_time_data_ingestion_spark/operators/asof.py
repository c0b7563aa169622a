"""As-of join — "latest right row at or before the left row's time".

The temporal-join primitive Spark lacks natively (and the leakage-safe
way to attach slowly-changing aggregates to events at feature time),
expressed Spark-first as UNION-MERGE instead of a range join:

  1. union both sides into one keyed timeline (right rows carry the
     payload, left rows carry nulls);
  2. one window ``last(payload, ignorenulls=True)`` over
     (key ORDER BY t, side) with side ordered right-before-left, so
     each left row sees exactly the latest right payload with
     ``r.t <= l.t``;
  3. filter back to left rows.

Why this shape at 100 TB: a naive inequality join ``l.t >= r.t`` is a
range join — O(|L|·|R|) pairs per key before the "latest" filter. The
union-merge is ONE hash shuffle on the key and a single sort — cost
O((|L|+|R|) log) per partition, no pair blowup, and Catalyst keeps the
whole thing JVM-side (no UDFs). Skewed keys take the same salting
treatment as any windowed plan.

Oracle: DuckDB's native ``ASOF LEFT JOIN`` — an independent engine's
implementation of the same semantics, which is exactly what the driver
compares against.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_time: str,
    right_time: str,
    payload: Sequence[str],
    prefix: str = "asof_",
) -> DataFrame:
    """Left as-of join: every ``left`` row gains ``prefix+right_time`` and
    ``prefix+col`` for each payload col, from the latest ``right`` row of
    the same key with ``right_time <= left_time`` (nulls if none).

    The matched right row attaches as ONE struct, merged by a single
    ``last(ignorenulls)`` — never per column: per-column merges would
    let a NULL payload VALUE in the matched row fall through to an
    older row's value (a mixed-row result no ASOF JOIN produces; the
    SCD2 lookup hits it with NULL dimension attributes — r5 review,
    pinned in test_gold_plans)."""
    from pyspark.sql import types as T

    keys = list(keys)
    lcols = [c for c in left.columns]
    struct_t = T.StructType(
        [T.StructField(right_time, right.schema[right_time].dataType)]
        + [T.StructField(c, right.schema[c].dataType) for c in payload]
    )
    l_side = left.select(
        *lcols,
        F.col(left_time).alias("__t"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(struct_t).alias("__asof"),
    )
    # a NULL right_time is no time at all: under the ascending order it
    # would sort first and attach to every earlier left row, a match
    # ``right_time <= left_time`` never makes — drop those rows
    r_side = right.filter(F.col(right_time).isNotNull()).select(
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            if c not in keys
            else F.col(c)
            for c in lcols
        ],
        F.col(right_time).alias("__t"),
        F.lit(0).alias("__side"),  # sorts BEFORE left at equal time ⇒ <= semantics
        F.struct(
            F.col(right_time).alias(right_time),
            *[F.col(c) for c in payload],
        ).alias("__asof"),
    )
    u = l_side.unionByName(r_side)
    w = (
        Window.partitionBy(*keys)
        .orderBy("__t", "__side")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    u = u.withColumn("__asof", F.last("__asof", ignorenulls=True).over(w))
    # a NULL left_time matches nothing (asof_join_forward's gate)
    nn_left = F.col(left_time).isNotNull()
    return u.filter(F.col("__side") == 1).select(
        *lcols,
        *[
            F.when(nn_left, F.col(f"__asof.{c}")).alias(f"{prefix}{c}")
            for c in [right_time, *payload]
        ],
    )


def events_asof_ohlc(events: DataFrame) -> DataFrame:
    """Feature-time attachment demo: each event gains the latest DAILY
    OHLC row of its user with period <= event ts (the as-of pattern a
    training pipeline uses to join slowly-changing aggregates without
    future leakage beyond the period grain)."""
    from ..plans.events_gold import events_ohlc

    daily = events_ohlc(events, "day").select(
        "user_id", "period", "high", "low", "n_ticks"
    )
    return asof_join(
        events.select("event_id", "user_id", "ts"),
        daily,
        keys=["user_id"],
        left_time="ts",
        right_time="period",
        payload=["high", "low", "n_ticks"],
    )


def tool_asof_rights(silver: DataFrame) -> DataFrame:
    """Right side of the tool-context as-of: tool-call turns, made UNIQUE
    per (conv_id, ts) (max turn_idx wins) so the as-of match is
    deterministic under timestamp ties."""
    return (
        silver.filter(F.col("tool").isNotNull())
        .groupBy("conv_id", "ts")
        .agg(
            F.max("turn_idx").alias("tool_turn_idx"),
            F.max_by("tool", "turn_idx").alias("tool_used"),
        )
    )


def turn_tool_asof(silver: DataFrame) -> DataFrame:
    """Tool-context attachment: every turn gains the latest tool call at
    or before its event time in the same conversation — the per-turn
    "what tool ran last" feature an agent-transcript pipeline attaches
    without future leakage. Batch twin of
    ``streaming/stateful_asof.tool_asof_stream`` (the streaming form is
    graded; this one backs its equivalence tests)."""
    return asof_join(
        silver.select("conv_id", "turn_idx", "ts", "role"),
        tool_asof_rights(silver),
        keys=["conv_id"],
        left_time="ts",
        right_time="ts",
        payload=["tool_turn_idx", "tool_used"],
    )


# silver CTE matches joins.PAIRS_ORACLE_SQL_TEMPLATE (any-wins dedup)
TOOL_ASOF_ORACLE_SQL_TEMPLATE = """
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
rights AS (
    SELECT conv_id, ts, CAST(max(turn_idx) AS INTEGER) AS tool_turn_idx,
           max_by(tool, turn_idx) AS tool_used
    FROM silver WHERE tool IS NOT NULL GROUP BY conv_id, ts
)
SELECT l.conv_id, l.turn_idx, l.ts, l.role,
       r.ts AS asof_ts, r.tool_turn_idx AS asof_tool_turn_idx,
       r.tool_used AS asof_tool_used
FROM silver l
ASOF LEFT JOIN rights r ON l.conv_id = r.conv_id AND l.ts >= r.ts
"""


EVENTS_ASOF_OHLC_ORACLE_SQL = """
WITH daily AS (
    SELECT user_id, date_trunc('day', ts) AS period,
           max(value) AS high, min(value) AS low,
           CAST(count(*) AS BIGINT) AS n_ticks
    FROM events GROUP BY 1, 2
)
SELECT e.event_id, e.user_id, e.ts,
       d.period AS asof_period, d.high AS asof_high, d.low AS asof_low,
       d.n_ticks AS asof_n_ticks
FROM events e
ASOF LEFT JOIN daily d ON e.user_id = d.user_id AND e.ts >= d.period
"""
