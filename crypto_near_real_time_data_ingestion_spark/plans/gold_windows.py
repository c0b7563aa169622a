"""Gold per-window conversation stats — the OHLC analog.

Reference parity: the OHLC job computes open/high/low/close + tick counts
per ``date_trunc(grain)`` period and entity via full-frame window functions
plus a row_number reduce (``gold_ohlc_h_d_w_m.py:53-93``, operators
W3/W4/A3/A4/A5). Spark-first reformulation: since the result is one row
per (entity, period), a **grouped aggregation over a tumbling window**
replaces the window-function + rank pattern entirely — one shuffle, with
map-side partial aggregation (the reference's formulation shuffles every
row unreduced). open/close become ``min_by``/``max_by`` over the
event-time ordering, with ``turn_idx`` as a deterministic tiebreaker
(fixing the reference's nondeterministic `first(...desc)` tie, SURVEY §7.3.5).

Streaming formulation is the same plan with a watermark; emitted per
window close, merged into the gold table by the exactly-once sink.

Scale: group key = (window, conv_id). Hot conversations need no salting:
map-side partial aggregation already collapses a hot group per mapper
(salting measured a 2.3× loss, BASELINE.md §11). Partial aggregation
means the shuffle carries one row per (conv_id, window) per mapper — at
100 TB this is the difference between shuffling ~10^12 rows and ~10^9.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

GRAINS = {"hour": "1 hour", "day": "1 day"}

# calendar grains: not fixed durations, so F.window can't express them —
# the reference's g=week / g=month OHLC grains (gold_ohlc_h_d_w_m.py:53)
# group directly on date_trunc instead (same shuffle shape: one row per
# (period, conv_id) after map-side partial agg)
TRUNC_GRAINS = {"week": "INTERVAL 1 WEEK", "month": "INTERVAL 1 MONTH"}

STAT_COLS = [
    "window_start",
    "window_end",
    "conv_id",
    "n_turns",
    "n_user",
    "n_assistant",
    "n_tool",
    "tool_call_rate",
    "first_turn_idx",
    "last_turn_idx",
    "first_ts",
    "last_ts",
    "grain",
]


def _agg_exprs():
    order = F.struct(F.col("ts"), F.col("turn_idx"))
    return [
        F.count(F.lit(1)).alias("n_turns"),
        F.sum((F.col("role") == "user").cast("long")).alias("n_user"),
        F.sum((F.col("role") == "assistant").cast("long")).alias("n_assistant"),
        F.sum((F.col("role") == "tool").cast("long")).alias("n_tool"),
        # int/int division is bit-identical across engines; no round()
        (F.sum(F.col("tool").isNotNull().cast("long")) / F.count(F.lit(1))).alias(
            "tool_call_rate"
        ),
        F.min_by(F.col("turn_idx"), order).alias("first_turn_idx"),
        F.max_by(F.col("turn_idx"), order).alias("last_turn_idx"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    ]


def conv_window_stats(silver: DataFrame, grain: str = "hour") -> DataFrame:
    """Batch: tumbling-window per-conversation stats at the given grain."""
    win = F.window("ts", GRAINS[grain])
    return (
        silver.groupBy(win.alias("w"), "conv_id")
        .agg(*_agg_exprs())
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "conv_id",
            *STAT_COLS[3:12],
            F.lit(grain).alias("grain"),
        )
    )


def conv_window_stats_stream(silver_stream: DataFrame, grain: str = "hour") -> DataFrame:
    """Streaming: identical aggregation under the watermark already set
    upstream on the gold layer's silver read (one watermark per layer).
    Append mode emits each (window, conv_id) row once the watermark
    passes window end."""
    win = F.window("ts", GRAINS[grain])
    return (
        silver_stream.groupBy(win.alias("w"), "conv_id")
        .agg(*_agg_exprs())
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "conv_id",
            *STAT_COLS[3:12],
            F.lit(grain).alias("grain"),
        )
    )


def conv_window_stats_trunc(silver: DataFrame, grain: str) -> DataFrame:
    """Batch calendar-grain (week/month) per-conversation stats — the
    reference's ``g=week`` / ``g=month`` OHLC grains
    (``gold_ohlc_h_d_w_m.py:53-76``). ``date_trunc`` is Monday-aligned for
    week and calendar-exact for month (matching the reference's Athena
    semantics), where epoch-aligned ``F.window`` durations would not be.
    Identical group key cardinality and shuffle shape to the tumbling
    grains: one partially-aggregated row per (period, conv_id)."""
    interval = TRUNC_GRAINS[grain]
    return (
        silver.groupBy(
            F.date_trunc(grain, F.col("ts")).alias("window_start"), "conv_id"
        )
        .agg(*_agg_exprs())
        .select(
            "window_start",
            (F.col("window_start") + F.expr(interval)).alias("window_end"),
            "conv_id",
            *STAT_COLS[3:12],
            F.lit(grain).alias("grain"),
        )
    )


def conv_window_stats_sliding(
    silver: DataFrame, length: str = "1 hour", slide: str = "15 minutes"
) -> DataFrame:
    """Sliding-window per-conversation stats (north-star: tumbling AND
    sliding event-time windows). Each turn contributes to length/slide
    overlapping windows; Spark's ``window(ts, length, slide)`` expands
    rows window-side BEFORE the grouped aggregation, so partial map-side
    aggregation still applies (shuffle carries one row per (window, conv)
    per mapper — ×4 the tumbling volume at 1h/15m, not ×rows)."""
    win = F.window("ts", length, slide)
    return (
        silver.groupBy(win.alias("w"), "conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            (F.sum(F.col("tool").isNotNull().cast("long")) / F.count(F.lit(1))).alias(
                "tool_call_rate"
            ),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "conv_id",
            "n_turns",
            "tool_call_rate",
            "first_ts",
            "last_ts",
        )
    )


def conv_window_stats_sliding_stream(
    silver_stream: DataFrame, length: str = "1 hour", slide: str = "15 minutes"
) -> DataFrame:
    """Streaming sliding windows under the chain's upstream watermark."""
    return conv_window_stats_sliding(silver_stream, length, slide)


def rank_window_stats(stats: DataFrame) -> DataFrame:
    """W10 (per-period ranking, 2 dense_rank variants,
    ``gold_ml_training_job.py:129-134``) over the window-stats table:
    rank conversations within each window by activity and by tool-call
    rate. In streaming form this runs inside ``foreachBatch`` on the
    append-mode window-stats stream — correct because append mode emits
    EVERY row of a window in the single micro-batch where the watermark
    crosses its end, so a micro-batch-local rank over the closed windows
    is the global rank (SURVEY §2.4's W10 streaming mapping). The key
    set per batch is bounded (windows just closed), so the rank's
    per-window sort stays small regardless of total stream length."""
    w1 = Window.partitionBy("window_start").orderBy(F.desc("n_turns"))
    w2 = Window.partitionBy("window_start").orderBy(F.desc("tool_call_rate"))
    return stats.select(
        "window_start",
        "window_end",
        "conv_id",
        "n_turns",
        "tool_call_rate",
        F.dense_rank().over(w1).cast("long").alias("rank_turns"),
        F.dense_rank().over(w2).cast("long").alias("rank_tool_rate"),
    )


# W10 oracle: dense ranks over the hour-grain window stats
WINDOW_RANK_ORACLE_SQL_TEMPLATE = """
SELECT window_start, window_end, conv_id, n_turns, tool_call_rate,
       CAST(dense_rank() OVER (PARTITION BY window_start
                               ORDER BY n_turns DESC) AS BIGINT) AS rank_turns,
       CAST(dense_rank() OVER (PARTITION BY window_start
                               ORDER BY tool_call_rate DESC) AS BIGINT) AS rank_tool_rate
FROM ({inner}) t
"""


# sliding windows in plain SQL: each row belongs to the (length/slide)
# windows whose start is the slide-aligned floor of ts minus k slides
SLIDING_STATS_ORACLE_SQL_TEMPLATE = """
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
expanded AS (
    SELECT s.*,
           make_timestamp((epoch_us(ts) // ({slide_s} * 1000000)) * {slide_s} * 1000000
                          - k * {slide_s} * 1000000) AS window_start
    FROM silver s, unnest(generate_series(0, {n_overlap} - 1)) AS t(k)
)
SELECT window_start,
       window_start + INTERVAL {length_s} SECOND AS window_end,
       conv_id,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(sum(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
           AS tool_call_rate,
       min(ts) AS first_ts,
       max(ts) AS last_ts
FROM expanded
GROUP BY window_start, conv_id
"""


WINDOW_STATS_ORACLE_SQL_TEMPLATE = """
WITH cleansed AS (
    SELECT CAST(conv_id AS VARCHAR) AS conv_id, CAST(turn_idx AS INTEGER) AS turn_idx,
           lower(trim(role)) AS role, CAST(text AS VARCHAR) AS text,
           nullif(trim(tool), '') AS tool, CAST(ts AS TIMESTAMP) AS ts
    FROM read_parquet('{path}')
    WHERE conv_id IS NOT NULL AND turn_idx IS NOT NULL AND turn_idx >= 0
      AND role IS NOT NULL AND ts IS NOT NULL
),
silver AS (
    SELECT conv_id, turn_idx, min(role) AS role, min(text) AS text,
           min(tool) AS tool, min(ts) AS ts
    FROM cleansed GROUP BY conv_id, turn_idx
),
base AS (
    SELECT *, date_trunc('{grain}', ts) AS window_start,
           row_number() OVER (PARTITION BY conv_id, date_trunc('{grain}', ts)
                              ORDER BY ts ASC, turn_idx ASC) AS rn_a,
           row_number() OVER (PARTITION BY conv_id, date_trunc('{grain}', ts)
                              ORDER BY ts DESC, turn_idx DESC) AS rn_d
    FROM silver
)
SELECT
    window_start,
    window_start + INTERVAL 1 {grain} AS window_end,
    conv_id,
    CAST(count(*) AS BIGINT) AS n_turns,
    CAST(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT) AS n_user,
    CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT) AS n_assistant,
    CAST(sum(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS BIGINT) AS n_tool,
    CAST(sum(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
        AS tool_call_rate,
    max(CASE WHEN rn_a = 1 THEN turn_idx END) AS first_turn_idx,
    max(CASE WHEN rn_d = 1 THEN turn_idx END) AS last_turn_idx,
    min(ts) AS first_ts,
    max(ts) AS last_ts,
    '{grain}' AS grain
FROM base
GROUP BY window_start, conv_id
"""
