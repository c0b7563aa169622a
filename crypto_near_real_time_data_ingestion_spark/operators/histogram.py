"""Bounded-bin latency histograms — streaming percentile maintenance
with state independent of stream length.

The north star's gold layer reports inter-turn latency percentiles
(reference semantics: the grouped percentile aggregates of
``gold_features_base_job.py``). Exact percentiles over an unbounded
stream need the full value multiset; the per-conversation stateful
operators keep exactly that per conv (bounded by conversation length).
For the GLOBAL distribution at 10^12 turns the production answer is the
fixed-bin histogram (Prometheus / HDR-histogram shape): per-batch bin
counts are ADDITIVE deltas under the same sum-merge sink contract as
Misra-Gries and Count-Min, state is ≤ n_bins rows at any stream length,
and any percentile is answered from the cumulative bin counts with a
CERTIFIED bracket of width one bin.

Two binnings:

  * ``value_bins`` — linear, exact INTEGER floor-division on
    microseconds: bit-reproducible in any engine (the graded oracle is
    plain SQL ``//``), absolute error ≤ bin_width_us.
  * ``log_bins`` — HDR-style relative bins for ranges spanning µs→hours:
    bin = floor(log(v)/log(1+gamma)). The log runs in IEEE doubles, so
    a value sitting exactly on an edge may land one bin off; the
    certified relative error is therefore (1+gamma)² − 1 ≈ 2·gamma,
    not gamma (documented, tested).

The histogram itself is EXACT (a groupBy count over derived bins) ⇒ the
streaming maintenance path is value-hash gradeable end-to-end, like
``streaming_countmin``; only the percentile READ is approximate, and it
carries its certified bracket instead of a point lie: ``percentiles``
returns (q, lo, hi) with the true order statistic provably inside.

100 TB shape: bin derivation is map-only; the groupBy's map-side
partial agg collapses each partition to ≤ n_bins rows before the
exchange; percentile reads scan ≤ n_bins rows. Nothing anywhere is
proportional to the stream.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# bin width for the streaming latency maintenance query (engine query
# "latency_hist"): 250 ms bins — certified percentile bracket width.
# The GRADED oracle is exact at any width (the histogram itself is
# exact); the width only sets the percentile read's resolution.
LAT_HIST_BIN_US = 250_000


def value_bins(df: DataFrame, value_col: str, bin_width: int) -> DataFrame:
    """Linear-bin histogram over an integer column: (bin long,
    count long), bin = value div bin_width (floor division toward
    −infinity, matching SQL ``//`` on BIGINT for non-negative widths).
    NULL values are absences. Exact integer math — no float edge."""
    if bin_width <= 0:
        raise ValueError(f"bin_width must be positive, got {bin_width}")
    # EXACT long floor division (pmod+div): Spark's `/` is DOUBLE
    # division, and floor(double) drifts one bin off SQL `//` for longs
    # past 2^53 (epoch-nanosecond scale) (r5 review)
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(
            F.expr(
                f"(CAST(`{value_col}` AS BIGINT) - "
                f"pmod(CAST(`{value_col}` AS BIGINT), {int(bin_width)})) "
                f"div {int(bin_width)}"
            )
            .cast("long")
            .alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def pair_latency_bins(pairs: DataFrame, bin_width_us: int = 250_000) -> DataFrame:
    """Histogram of user→response latency in integer MICROSECONDS over
    the ``user_response_pairs`` relation — the single definition both
    the batch oracle twin and the streaming maintenance query share.
    Derives µs from the timestamp pair (never the float
    ``latency_seconds``: integers keep the bin edge exact)."""
    lat = pairs.select(
        (
            F.unix_micros(F.col("response_ts")) - F.unix_micros(F.col("user_ts"))
        ).alias("latency_us")
    )
    return value_bins(lat, "latency_us", bin_width_us)


def log_bins(
    df: DataFrame, value_col: str, gamma: float = 0.05
) -> DataFrame:
    """HDR-style relative-error histogram: values ≥ 1 map to
    bin = floor(ln(v)/ln(1+gamma)); values in [0, 1) map to bin −1
    (one underflow bucket); negatives are rejected upstream by the
    filter (latencies). Certified RELATIVE error of a percentile read
    is (1+gamma)² − 1 (one gamma from bin width, one from a possible
    float-edge misplacement), with ~log(range)/gamma bins covering any
    dynamic range."""
    if not 0 < gamma < 1:
        raise ValueError(f"gamma must be in (0, 1), got {gamma}")
    v = F.col(value_col).cast("double")
    bin_expr = F.when(v < 1.0, F.lit(-1)).otherwise(
        F.floor(F.log(v) / F.lit(float(__import__("math").log1p(gamma))))
    )
    return (
        df.filter(F.col(value_col).isNotNull() & (v >= 0))
        .select(bin_expr.cast("long").alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def hist_merge(*hists: DataFrame) -> DataFrame:
    """Pointwise bin-count sum = the histogram of the union (additive,
    like CMS cells); what the streaming sink's read view does."""
    if not hists:
        raise ValueError("need at least one histogram")
    unioned = hists[0]
    for h in hists[1:]:
        unioned = unioned.unionByName(h)
    return unioned.groupBy("bin").agg(F.sum("count").alias("count"))


def hist_percentiles(
    hist: DataFrame, qs: Sequence[float], bin_width: int
) -> DataFrame:
    """Certified percentile brackets from a linear-bin histogram:
    one row per q — (q double, lo long, hi long, rank long, n long)
    where the q-th order statistic (rank = ceil(q·n), 1-based — the
    smallest value v with count(≤ v) ≥ rank) provably lies in
    [lo, hi): lo = bin·width, hi = (bin+1)·width of the first bin
    whose cumulative count reaches the rank. The whole computation is
    a window over ≤ n_bins rows — no data scan."""
    for q in qs:
        if not 0 < q <= 1:
            raise ValueError(f"quantile must be in (0, 1], got {q}")
    cum = hist.select(
        "bin",
        F.sum("count").over(
            Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
        ).alias("cum"),
        F.sum("count").over(Window.partitionBy()).alias("n"),
    )
    qdf = hist.sparkSession.createDataFrame(
        [(float(q),) for q in qs], "q double"
    )
    ranked = qdf.crossJoin(cum).withColumn(
        "rank", F.ceil(F.col("q") * F.col("n")).cast("long")
    )
    first_hit = (
        ranked.filter(F.col("cum") >= F.col("rank"))
        .groupBy("q")
        .agg(
            F.min("bin").alias("bin"),
            F.first("rank").alias("rank"),
            F.first("n").alias("n"),
        )
    )
    return first_hit.select(
        "q",
        (F.col("bin") * bin_width).alias("lo"),
        ((F.col("bin") + 1) * bin_width).alias("hi"),
        "rank",
        "n",
    )


# graded streaming form: silver/pairs CTEs match the other transcript
# oracles; the histogram is exact, so the whole maintenance path —
# per-batch bin deltas, exactly-once additive log, pointwise merge —
# answers plain SQL (integer // keeps the bin edge bit-exact)
STREAM_LATENCY_HIST_ORACLE_SQL_TEMPLATE = """
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
pairs AS (
    SELECT epoch_us(r.ts) - epoch_us(u.ts) AS latency_us
    FROM silver u JOIN silver r
      ON u.conv_id = r.conv_id AND r.turn_idx = u.turn_idx + 1
     AND r.ts >= u.ts AND r.ts <= u.ts + INTERVAL 1 HOUR
    WHERE u.role = 'user' AND r.role IN ('assistant', 'tool')
)
SELECT latency_us // {bin_width_us} AS bin, count(*) AS count
FROM pairs GROUP BY 1
"""
