"""Gold plans vs DuckDB oracles: windows, sessions, pairs, features, events."""

from __future__ import annotations

import duckdb

from conftest import assert_df_equal, duck_sql
from crypto_near_real_time_data_ingestion_spark.operators.joins import (
    PAIRS_ORACLE_SQL_TEMPLATE,
    user_response_pairs,
)
from crypto_near_real_time_data_ingestion_spark.operators.sessionize import (
    SESSIONS_ORACLE_SQL_TEMPLATE,
    sessionize_batch,
)
from crypto_near_real_time_data_ingestion_spark.plans import events_gold as eg
from crypto_near_real_time_data_ingestion_spark.plans.gold_features import (
    CONV_FEATURES_ORACLE_SQL_TEMPLATE,
    conv_features,
)
from crypto_near_real_time_data_ingestion_spark.plans.gold_windows import (
    WINDOW_STATS_ORACLE_SQL_TEMPLATE,
    conv_window_stats,
)
from crypto_near_real_time_data_ingestion_spark.plans.silver import silver_batch
from crypto_near_real_time_data_ingestion_spark.sources import read_transcripts

SF_DIR = "/root/testdata/sf0.001"


def _silver(spark, transcripts_parquet):
    return silver_batch(read_transcripts(spark, transcripts_parquet))


def test_window_stats_hour(spark, transcripts_parquet):
    got = conv_window_stats(_silver(spark, transcripts_parquet), "hour")
    want = duckdb.sql(
        WINDOW_STATS_ORACLE_SQL_TEMPLATE.format(path=transcripts_parquet, grain="hour")
    ).df()
    assert_df_equal(got, want, sort_cols=["conv_id", "window_start"])


def test_window_stats_day(spark, transcripts_parquet):
    got = conv_window_stats(_silver(spark, transcripts_parquet), "day")
    want = duckdb.sql(
        WINDOW_STATS_ORACLE_SQL_TEMPLATE.format(path=transcripts_parquet, grain="day")
    ).df()
    assert_df_equal(got, want, sort_cols=["conv_id", "window_start"])


def test_sessions(spark, transcripts_parquet):
    got = sessionize_batch(_silver(spark, transcripts_parquet))
    want = duckdb.sql(
        SESSIONS_ORACLE_SQL_TEMPLATE.format(path=transcripts_parquet, gap_s=1800)
    ).df()
    assert_df_equal(got, want, sort_cols=["conv_id", "session_id"])


def test_pairs(spark, transcripts_parquet):
    got = user_response_pairs(_silver(spark, transcripts_parquet))
    want = duckdb.sql(PAIRS_ORACLE_SQL_TEMPLATE.format(path=transcripts_parquet)).df()
    assert_df_equal(got, want, sort_cols=["conv_id", "user_turn_idx"])


def test_conv_features(spark, transcripts_parquet):
    got = conv_features(_silver(spark, transcripts_parquet))
    want = duckdb.sql(
        CONV_FEATURES_ORACLE_SQL_TEMPLATE.format(path=transcripts_parquet, gap_s=1800)
    ).df()
    assert_df_equal(got, want, sort_cols=["conv_id", "turn_idx"])


def test_events_dedup_latest(spark):
    got = eg.events_dedup_latest(eg.read_events(spark, SF_DIR))
    want = duck_sql(eg.EVENTS_DEDUP_ORACLE_SQL)
    assert_df_equal(got, want, sort_cols=["user_id", "event_type"])


def test_events_minute_qa(spark):
    got = eg.events_minute_qa(eg.read_events(spark, SF_DIR))
    want = duck_sql(eg.EVENTS_MINUTE_QA_ORACLE_SQL)
    assert_df_equal(got, want, sort_cols=["minute"])


def test_events_ml_features(spark):
    got = eg.events_ml_features(eg.read_events(spark, SF_DIR))
    want = duck_sql(eg.EVENTS_ML_ORACLE_SQL)
    assert_df_equal(got, want, sort_cols=["user_id", "dt"])


def test_conv_features_sketch_error_bound(spark, transcripts_parquet):
    """percentile_approx twin: every approximate percentile is an ACTUAL
    observed gap whose rank is within the GK bound of the target rank —
    the contract that justifies the O(accuracy) state swap at scale."""
    import numpy as np

    from pyspark.sql import functions as F

    from crypto_near_real_time_data_ingestion_spark.plans.gold_features import (
        conv_features,
        conv_features_sketch,
    )
    from crypto_near_real_time_data_ingestion_spark.plans.silver import silver_batch
    from crypto_near_real_time_data_ingestion_spark.sources import read_transcripts

    silver = silver_batch(read_transcripts(spark, transcripts_parquet))
    exact = conv_features(silver).select(
        "conv_id", "turn_idx", "inter_turn_latency_p95"
    )
    approx = conv_features_sketch(silver, accuracy=10000).select(
        "conv_id", "turn_idx",
        F.col("inter_turn_latency_p95").alias("p95_sketch"),
    )
    j = exact.join(approx, ["conv_id", "turn_idx"]).toPandas()
    assert len(j) == exact.count()
    assert (
        j["inter_turn_latency_p95"].isna() == j["p95_sketch"].isna()
    ).all()

    # The GK contract is a RANK bound (not a value bound — gaps are
    # heavy-tailed, neighbors can differ by minutes): the sketch value
    # must be an observed prefix gap whose rank is within eps*n of the
    # target. At accuracy=10000 and prefixes of <=hundreds of gaps that
    # means within ±1 order statistic of the exact position.
    sil = (
        silver.select("conv_id", "turn_idx", "ts")
        .toPandas()
        .sort_values(["conv_id", "ts", "turn_idx"], kind="mergesort")
    )
    sil["gap"] = (
        sil["ts"].astype("datetime64[us]").astype("int64").diff() / 1e6
    )
    first = sil.groupby("conv_id").cumcount() == 0
    sil.loc[first, "gap"] = np.nan
    bad = 0
    for conv, grp in sil.groupby("conv_id", sort=False):
        gaps = grp["gap"].to_numpy()
        tis = grp["turn_idx"].to_numpy()
        sk = j[j["conv_id"] == conv].set_index("turn_idx")["p95_sketch"]
        prefix = []
        for i in range(len(gaps)):
            if not np.isnan(gaps[i]):
                prefix.append(gaps[i])
            if not prefix:
                continue
            v = sk.get(tis[i])
            s = np.sort(prefix)
            pos = 0.95 * (len(s) - 1)
            lo, hi = max(int(np.floor(pos)) - 1, 0), min(
                int(np.ceil(pos)) + 1, len(s) - 1
            )
            if not (s[lo] - 1e-9 <= v <= s[hi] + 1e-9):
                bad += 1
    assert bad == 0, f"{bad} rows outside the rank band"


def test_asof_join_matches_duckdb_asof(spark):
    """Union-merge as-of join == DuckDB's native ASOF LEFT JOIN, and the
    physical plan is ONE hash shuffle on the key (no range join)."""
    from conftest import SF_DIR as TESTDATA_DIR

    from crypto_near_real_time_data_ingestion_spark.operators.asof import (
        EVENTS_ASOF_OHLC_ORACLE_SQL,
        events_asof_ohlc,
    )

    got = events_asof_ohlc(eg.read_events(spark, TESTDATA_DIR))
    want = duck_sql(EVENTS_ASOF_OHLC_ORACLE_SQL)
    assert_df_equal(got, want, sort_cols=["event_id"])
    plan = got._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final and "BroadcastNestedLoopJoin" not in final
    assert "SortMergeJoin" not in final, "as-of must not be a join at all"
    # daily-agg exchange + one user_id exchange per union branch (the one
    # logical merge shuffle, applied to each input) — never a range join
    assert final.count("Exchange hashpartitioning") <= 3, final[:600]


def test_asof_join_edge_semantics(spark):
    """Equal timestamps attach (<= not <); keys with no prior right row
    get nulls; latest-of-several wins."""
    import datetime as dt

    from crypto_near_real_time_data_ingestion_spark.operators.asof import asof_join

    t = lambda s: dt.datetime(2025, 1, 1, 0, 0, s)  # noqa: E731
    left = spark.createDataFrame(
        [("a", t(5), 1), ("a", t(10), 2), ("b", t(3), 3)],
        "k string, ts timestamp, row_id int",
    )
    right = spark.createDataFrame(
        [("a", t(5), 100.0), ("a", t(7), 200.0), ("c", t(0), 9.0)],
        "k string, rt timestamp, v double",
    )
    got = {
        r["row_id"]: (r["asof_rt"], r["asof_v"])
        for r in asof_join(
            left, right, ["k"], "ts", "rt", ["v"]
        ).collect()
    }
    assert got[1] == (t(5), 100.0)   # equal ts attaches
    assert got[2] == (t(7), 200.0)   # latest of several
    assert got[3] == (None, None)    # no right row for key b


def test_asof_join_null_times(spark):
    """A right row with NULL time never matches (it must not attach to
    left rows before the first real right row), and a left row with
    NULL time attaches nothing."""
    import datetime as dt

    from crypto_near_real_time_data_ingestion_spark.operators.asof import asof_join

    t = lambda s: dt.datetime(2025, 1, 1, 0, 0, s)  # noqa: E731
    left = spark.createDataFrame(
        [("a", t(2), 1), ("a", t(10), 2), ("a", None, 3), ("b", t(4), 4)],
        "k string, ts timestamp, row_id int",
    )
    right = spark.createDataFrame(
        [("a", None, -1.0), ("a", t(5), 100.0), ("b", None, -2.0)],
        "k string, rt timestamp, v double",
    )
    got = {
        r["row_id"]: (r["asof_rt"], r["asof_v"])
        for r in asof_join(left, right, ["k"], "ts", "rt", ["v"]).collect()
    }
    assert got == {
        1: (None, None),  # before the first real right row
        2: (t(5), 100.0),
        3: (None, None),  # NULL left time
        4: (None, None),  # only a NULL-time right row
    }


def test_daily_users_sketch_error_bound(spark):
    """HLL++ twin: approximate distinct within 5*rsd of exact on every
    day (rsd=0.01 ⇒ registers large vs this cardinality — near-exact)."""
    from conftest import SF_DIR as TESTDATA_DIR

    from crypto_near_real_time_data_ingestion_spark.plans.events_gold import (
        events_daily_users_sketch,
    )

    pdf = events_daily_users_sketch(eg.read_events(spark, TESTDATA_DIR)).toPandas()
    assert len(pdf) > 0
    rel = (pdf["approx_users"] - pdf["exact_users"]).abs() / pdf["exact_users"]
    assert (rel <= 0.05).all(), rel.max()
