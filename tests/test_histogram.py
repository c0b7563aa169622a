"""Fixed-bin histograms: the histogram itself is EXACT (bit-equal numpy
reference, additive merge); the percentile READ is approximate with a
certified one-bin bracket — contract-tested here, never point-asserted."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from conftest import assert_df_equal
from crypto_near_real_time_data_ingestion_spark.operators.histogram import (
    LAT_HIST_BIN_US,
    hist_merge,
    hist_percentiles,
    log_bins,
    pair_latency_bins,
    value_bins,
)
from crypto_near_real_time_data_ingestion_spark.operators.joins import (
    user_response_pairs,
)
from crypto_near_real_time_data_ingestion_spark.plans.silver import silver_batch
from crypto_near_real_time_data_ingestion_spark.sources import read_transcripts


def _pairs(spark, transcripts_parquet):
    return user_response_pairs(
        silver_batch(read_transcripts(spark, transcripts_parquet))
    )


def _hist_dict(df) -> dict[int, int]:
    return {r["bin"]: r["count"] for r in df.collect()}


def _latencies_us(pairs) -> np.ndarray:
    rows = pairs.select(
        (F.unix_micros("response_ts") - F.unix_micros("user_ts")).alias("us")
    ).collect()
    return np.array([r["us"] for r in rows], dtype=np.int64)


def test_bins_match_numpy_reference_bit_exact(spark, transcripts_parquet):
    pairs = _pairs(spark, transcripts_parquet)
    got = _hist_dict(pair_latency_bins(pairs, LAT_HIST_BIN_US))
    us = _latencies_us(pairs)
    bins, counts = np.unique(us // LAT_HIST_BIN_US, return_counts=True)
    assert got == dict(zip(bins.tolist(), counts.tolist()))


def test_percentile_bracket_contains_order_statistic(spark, transcripts_parquet):
    """For each q the true order statistic (rank = ceil(q·n), 1-based)
    provably lies in [lo, hi) — the certified-bracket contract."""
    pairs = _pairs(spark, transcripts_parquet)
    hist = pair_latency_bins(pairs, LAT_HIST_BIN_US)
    us = np.sort(_latencies_us(pairs))
    qs = [0.5, 0.9, 0.95, 0.99, 1.0]
    out = {r["q"]: r for r in hist_percentiles(hist, qs, LAT_HIST_BIN_US).collect()}
    assert set(out) == set(qs)
    for q in qs:
        r = out[q]
        assert r["n"] == len(us)
        assert r["rank"] == math.ceil(q * len(us))
        true = int(us[r["rank"] - 1])
        assert r["lo"] <= true < r["hi"], (q, r["lo"], true, r["hi"])
        assert r["hi"] - r["lo"] == LAT_HIST_BIN_US


def test_hist_merge_equals_union_and_partition_invariance(spark, transcripts_parquet):
    pairs = _pairs(spark, transcripts_parquet)
    a = pairs.filter(F.col("user_turn_idx") % 2 == 0)
    b = pairs.filter(F.col("user_turn_idx") % 2 == 1)
    merged = _hist_dict(
        hist_merge(
            pair_latency_bins(a, LAT_HIST_BIN_US),
            pair_latency_bins(b, LAT_HIST_BIN_US),
        )
    )
    union = _hist_dict(pair_latency_bins(pairs, LAT_HIST_BIN_US))
    assert merged == union
    assert (
        _hist_dict(pair_latency_bins(pairs.repartition(1), LAT_HIST_BIN_US)) == union
    )


def test_log_bins_relative_error_bound(spark):
    """Every value's bin edges bracket it within the certified
    (1+gamma)² relative band (one gamma of bin width, one of possible
    float-edge misplacement), incl. values planted exactly ON edges."""
    gamma = 0.05
    base = math.log1p(gamma)
    vals = [1, 2, 10, 999, 10**6, 10**9] + [
        int(math.exp(k * base)) + d for k in (10, 50, 100, 200) for d in (-1, 0, 1)
    ]
    vals = sorted({v for v in vals if v >= 1})
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = {
        r["v"]: r["bin"]
        for r in df.select(
            "v",
            F.floor(F.log(F.col("v").cast("double")) / F.lit(base)).alias("bin"),
        ).collect()
    }
    hist = _hist_dict(log_bins(df, "v", gamma=gamma))
    assert sum(hist.values()) == len(vals)
    for v, b in got.items():
        # documented bound: one gamma of bin width + one of float-edge
        # misplacement ⇒ v ∈ [edge(b)/(1+γ), edge(b+1)·(1+γ)]
        assert math.exp(b * base) / (1 + gamma) <= v <= math.exp((b + 2) * base), (
            v,
            b,
        )
    # sub-1 underflow bucket + negative rejection
    small = spark.createDataFrame([(0,), (-5,), (1,)], "v long")
    h = _hist_dict(log_bins(small, "v", gamma=gamma))
    assert h.get(-1) == 1 and h.get(0) == 1 and sum(h.values()) == 2


def test_validation_and_nulls(spark):
    df = spark.createDataFrame([(10,), (None,), (20,)], "v long")
    assert sum(_hist_dict(value_bins(df, "v", 16)).values()) == 2
    with pytest.raises(ValueError, match="bin_width"):
        value_bins(df, "v", 0)
    with pytest.raises(ValueError, match="gamma"):
        log_bins(df, "v", gamma=1.5)
    with pytest.raises(ValueError, match="quantile"):
        hist_percentiles(value_bins(df, "v", 16), [0.0], 16)


def test_histogram_sink_merge_replay_and_compaction(spark, tmp_path, transcripts_parquet):
    """Additive sink contract: per-batch bin deltas sum to the union
    histogram; commit-log replay is a no-op; compaction preserves the
    view; percentile reads answer through the merged view; params bind."""
    from crypto_near_real_time_data_ingestion_spark.streaming.sinks import (
        HistogramSink,
    )

    pairs = _pairs(spark, transcripts_parquet)
    batches = [pairs.filter(F.col("user_turn_idx") % 3 == i) for i in range(3)]
    sink = HistogramSink(str(tmp_path / "hist"), bin_width=LAT_HIST_BIN_US)
    for i, b in enumerate(batches):
        sink.process_batch(pair_latency_bins(b, LAT_HIST_BIN_US), i)
    union = _hist_dict(pair_latency_bins(pairs, LAT_HIST_BIN_US))
    assert _hist_dict(sink.read(spark)) == union

    # replay of a committed batch id is skipped (additive ⇒ load-bearing)
    sink.process_batch(pair_latency_bins(batches[0], LAT_HIST_BIN_US), 0)
    assert _hist_dict(sink.read(spark)) == union

    res = sink.compact(spark)
    assert res["compacted_deltas"] >= 3
    assert _hist_dict(sink.read(spark)) == union

    # percentile read through the merged view honors the bracket
    us = np.sort(_latencies_us(pairs))
    for r in sink.percentiles(spark, [0.5, 0.99]).collect():
        true = int(us[r["rank"] - 1])
        assert r["lo"] <= true < r["hi"]

    with pytest.raises(ValueError, match="refusing to reopen"):
        HistogramSink(str(tmp_path / "hist"), bin_width=LAT_HIST_BIN_US * 2)


def test_streaming_oracle_twin_matches_batch(spark, transcripts_parquet):
    """The graded streaming_latency_hist oracle SQL equals the batch
    operator on the same transcripts — pinning the single-definition
    rule between pair_latency_bins and the DuckDB template."""
    import duckdb

    from crypto_near_real_time_data_ingestion_spark.operators.histogram import (
        STREAM_LATENCY_HIST_ORACLE_SQL_TEMPLATE,
    )

    got = pair_latency_bins(_pairs(spark, transcripts_parquet), LAT_HIST_BIN_US)
    want = duckdb.sql(
        STREAM_LATENCY_HIST_ORACLE_SQL_TEMPLATE.format(
            path=transcripts_parquet, bin_width_us=LAT_HIST_BIN_US
        )
    ).df()
    assert_df_equal(got, want, sort_cols=["bin"])


def test_value_bins_exact_past_2_53(spark):
    """Exact long floor division: double division rounds values near
    2^53+ into the wrong bin while SQL // (and the pmod+div form now
    shipped) stays exact (r5 review)."""
    import duckdb
    import pandas as pd

    from crypto_near_real_time_data_ingestion_spark.operators.histogram import (
        value_bins,
    )

    w = 1_000_003
    # values straddling 2^53 where float64 cannot represent v exactly
    vals = [2**53 + k for k in range(-2, 9)] + [2**62 + 7, 2**62 + w - 1]
    df = spark.createDataFrame(pd.DataFrame({"v": vals}))
    got = value_bins(df, "v", w).toPandas().sort_values("bin").reset_index(drop=True)
    want = (
        duckdb.sql(
            f"SELECT v // {w} AS bin, CAST(count(*) AS BIGINT) AS count "
            f"FROM (SELECT unnest({vals}::BIGINT[]) AS v) GROUP BY 1 ORDER BY 1"
        )
        .df()
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got.astype({"bin": "int64", "count": "int64"}),
        want.astype({"bin": "int64", "count": "int64"}),
    )
