"""CEP-style sequence patterns over the silver turn stream.

The north rule asks for a streaming/CEP engine; beyond windows, sessions
and the user↔response join, these plans cover the two classic pattern
shapes a MATCH_RECOGNIZE user would reach for, expressed Spark-first:

  tool_bursts            maximal runs of ≥ k consecutive tool turns in a
                         conversation (gap-and-island over the turn
                         order — the relational form of the regex
                         pattern ``T{k,}``).
  unanswered_user_turns  user turns with NO assistant/tool response
                         within a bounded horizon — a time-bounded LEFT
                         ANTI join (the negation pattern; at scale the
                         anti-join shuffles once on conv_id, identical
                         partitioning to the pairs join).

Both are pure Catalyst (window functions / anti-join — no UDFs), share
the single ``partitionBy(conv_id)`` sort with the other per-conversation
plans, and are DuckDB-oracle-checked. Streaming forms: tool_bursts rides
the stateful per-conversation operator pattern (emission in turn order
makes run detection incremental); unanswered turns is the watermarked
left-anti ("left outer with time bound, keep null matches") — both
bounded-state by the same watermark arguments as the pairs join.

Reference parity: the reference has no CEP (its pipeline is pure
aggregation), so these extend SURVEY §2 rather than mirror it; the
gap-and-island mechanics reuse ``operators/sessionize.py``'s shape
(``silver_glue_job.py`` has none to cite).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def role_runs(silver: DataFrame, role: str = "tool", min_run: int = 2) -> DataFrame:
    """Maximal runs of ≥ min_run consecutive turns of the given role —
    the ``R{k,}`` pattern for any role (tool bursts, double-texting
    users, multi-part assistant replies).

    One shuffle on conv_id; the run id is a running count of other-role
    turns (every other-role turn starts a potential new island), so
    consecutive target-role turns share an id — grouping yields one row
    per maximal run."""
    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    run = F.sum((F.col("role") != role).cast("int")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    tools = (
        silver.withColumn("run_id", run)
        .filter(F.col("role") == role)
    )
    return (
        tools.groupBy("conv_id", "run_id")
        .agg(
            F.min("turn_idx").alias("run_start_turn"),
            F.max("turn_idx").alias("run_end_turn"),
            F.count(F.lit(1)).alias("run_len"),
            F.min("ts").alias("run_start_ts"),
            F.max("ts").alias("run_end_ts"),
        )
        .filter(F.col("run_len") >= min_run)
        .select(
            "conv_id",
            "run_start_turn",
            "run_end_turn",
            F.col("run_len").cast("long").alias("run_len"),
            "run_start_ts",
            "run_end_ts",
        )
    )


def tool_bursts(silver: DataFrame, min_run: int = 2) -> DataFrame:
    """The domain headline instance of ``role_runs``: tool-call bursts."""
    return role_runs(silver, "tool", min_run)


def unanswered_user_turns(silver: DataFrame, horizon: str = "1 hour") -> DataFrame:
    """User turns with no assistant/tool turn in the same conversation
    within (user_ts, user_ts + horizon] — the negation/timeout pattern as
    a time-bounded LEFT ANTI join (single conv_id shuffle; in streaming
    form both sides watermarked, state bounded by the horizon)."""
    u = silver.filter(F.col("role") == "user").alias("u")
    r = silver.filter(F.col("role").isin("assistant", "tool")).alias("r")
    cond = (
        (F.col("u.conv_id") == F.col("r.conv_id"))
        & (F.col("r.ts") > F.col("u.ts"))
        & (F.col("r.ts") <= F.col("u.ts") + F.expr(f"INTERVAL {horizon}"))
    )
    return u.join(r, cond, "left_anti").select(
        F.col("u.conv_id").alias("conv_id"),
        F.col("u.turn_idx").alias("turn_idx"),
        F.col("u.ts").alias("ts"),
    )


def unanswered_user_turns_stream(
    silver_stream: DataFrame, horizon: str = "1 hour"
) -> DataFrame:
    """Streaming negation pattern. Spark's stream-stream joins support
    inner/outer/semi but NOT left-anti, so the anti is expressed as the
    watermarked LEFT OUTER join + null-match filter: an unanswered user
    turn emits exactly when the watermark passes ``user_ts + horizon``
    (the outer join's null-side emission point) — i.e. the timeout fires
    only once no response can still arrive. State is bounded by the
    horizon, same argument as the pairs join. Input must already carry
    the gold layer's watermark (set once on its silver read)."""
    u = silver_stream.alias("u")
    r = silver_stream.alias("r")
    cond = (
        (F.col("u.conv_id") == F.col("r.conv_id"))
        & (F.col("r.ts") > F.col("u.ts"))
        & (F.col("r.ts") <= F.col("u.ts") + F.expr(f"INTERVAL {horizon}"))
    )
    joined = u.filter(F.col("role") == "user").join(
        r.filter(F.col("role").isin("assistant", "tool")), cond, "leftOuter"
    )
    return joined.filter(F.col("r.conv_id").isNull()).select(
        F.col("u.conv_id").alias("conv_id"),
        F.col("u.turn_idx").alias("turn_idx"),
        F.col("u.ts").alias("ts"),
    )


_SILVER_CTE = """
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
"""

ROLE_RUNS_ORACLE_SQL_TEMPLATE = (
    _SILVER_CTE
    + """,
runs AS (
    SELECT *, sum(CASE WHEN role <> '{role}' THEN 1 ELSE 0 END)
              OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
    FROM silver
)
SELECT conv_id,
       min(turn_idx) AS run_start_turn,
       max(turn_idx) AS run_end_turn,
       CAST(count(*) AS BIGINT) AS run_len,
       min(ts) AS run_start_ts,
       max(ts) AS run_end_ts
FROM runs
WHERE role = '{role}'
GROUP BY conv_id, run_id
HAVING count(*) >= {min_run}
"""
)

UNANSWERED_ORACLE_SQL_TEMPLATE = (
    _SILVER_CTE
    + """
SELECT u.conv_id, u.turn_idx, u.ts
FROM silver u
WHERE u.role = 'user'
  AND NOT EXISTS (
        SELECT 1 FROM silver r
        WHERE r.conv_id = u.conv_id
          AND r.role IN ('assistant', 'tool')
          AND r.ts > u.ts
          AND r.ts <= u.ts + INTERVAL 1 HOUR
  )
"""
)
