"""Queries retired from the graded ``queries()`` window stay correct here.

The round driver grades only the first ~50 registered queries, so
redundant twins were retired from registration (round-3 verdict item 1).
Each retired twin keeps an oracle / bit-equality check SOMEWHERE in
pytest; this module holds the ones no other test file covers, plus a
guard that registration stays inside the graded window:

  retired twin                    | pytest home
  --------------------------------+----------------------------------
  gold_conv_features (Catalyst)   | test_rolling_vectorized.py
  sql_view_gold_hour              | test_entry_contract.py
  doc_langid                      | test_documents_ops.py
  emb_cosine_topk_exprs           | test_documents_ops.py
  gold_window_stats_day           | test_gold_plans.py (streaming form
                                  |   stays driver-graded: streaming_gold_day)
  gold_user_response_pairs        | test_gold_plans.py (streaming form
                                  |   stays driver-graded: streaming_pairs)
  gold_window_stats_month         | HERE
  gold_window_stats_sliding       | HERE (streaming form stays
                                  |   driver-graded: streaming_gold_sliding)
  gold_sessions_30m (round 4, for | test_gold_plans.py +
    emb_ivfpq_ann_topk's slot)    |   test_property_based.py (streaming
                                  |   form stays driver-graded:
                                  |   streaming_sessions_30m)
  events_dedup_latest (round 4,   | test_gold_plans.py (A6 keep-latest
    for streaming_lsh_pairs'slot) |   stays driver-graded via
                                  |   silver_cleanse_dedup)
  emb_near_dup (round 4, for      | test_streaming_emb.py (bit-equal to
    streaming_emb_pairs' slot)    |   the graded streaming form) +
                                  |   test_documents_ops.py (oracle)
  doc_chunks (round 4, for        | test_documents_ops.py (oracle; the
    streaming_countmin's slot)    |   pack oracle re-derives the chunk
                                  |   CTE, so chunking stays transitively
                                  |   driver-graded via doc_pack_sequences)
  media_metadata (round 4, for    | HERE (documents_as_media stays
    streaming_latency_hist's slot)|   driver-graded via media_features)
  gold_role_runs_user (round 4,   | HERE (streaming_role_runs answers
    for emb_pagerank's slot)      |   the IDENTICAL oracle SQL) +
                                  |   test_streaming_e2e bit-equality
  gold_unanswered_user_turns      | HERE (streaming_unanswered answers
    (round 4, events_scd2's slot) |   the IDENTICAL oracle SQL)
  doc_ngram_jaccard (round 4, for | test_documents_ops (own oracle;
    events_rollup's slot)         |   doc_minhash_lsh + streaming_lsh_
                                  |   pairs stay driver-graded on the
                                  |   IDENTICAL exact-Jaccard oracle)
  events_ohlc_hour (round 4, for  | HERE (the events_ohlc plan stays
    events_pivot's slot)          |   driver-graded at week grain via
                                  |   sql_view_ohlc_week)
  events_unpivot (round 4, for    | HERE (melt oracle; the inverse
    streaming_funnel's slot)      |   events_pivot is driver-graded)
  gold_conv_features_arrow        | test_rolling_vectorized (bit-equal
    (round 5, doc_line_dedup's    |   to the Catalyst twin, itself
    slot)                         |   oracled in test_gold_plans); the
                                  |   IDENTICAL oracle template stays
                                  |   driver-graded via streaming_
                                  |   conv_features
  gold_tool_bursts (round 5,      | HERE (role='tool' variant of the
    doc_dedup_spans' slot)        |   ROLE_RUNS template whose 'user'
                                  |   variant stays driver-graded via
                                  |   streaming_role_runs)
  doc_mixture_weights (round 5,   | test_documents_ops::test_dataset_
    doc_normalize's slot)         |   assembly_ops (DuckDB oracle)
"""

from __future__ import annotations

import duckdb

from conftest import assert_df_equal

import __spark_entry__ as entry
from crypto_near_real_time_data_ingestion_spark.plans import gold_windows
from crypto_near_real_time_data_ingestion_spark.plans.silver import silver_batch
from crypto_near_real_time_data_ingestion_spark.sources import read_transcripts


def test_month_grain_oracle(spark, transcripts_parquet):
    """Calendar month grain (same date_trunc path as the graded week)."""
    silver = silver_batch(read_transcripts(spark, transcripts_parquet))
    got = gold_windows.conv_window_stats_trunc(silver, "month")
    want = duckdb.sql(
        gold_windows.WINDOW_STATS_ORACLE_SQL_TEMPLATE.format(
            path=transcripts_parquet, grain="month"
        )
    ).df()
    assert_df_equal(got, want, sort_cols=["conv_id", "window_start"])


def test_registration_stays_inside_graded_window():
    """The driver grades the first 50 entries of queries(): the registry
    holds exactly 50, so every registered query is graded (CORRECTNESS
    must show a row for ALL of them — round-2's last five fell outside
    and went ungraded) and no graded slot stands empty."""
    q = entry.queries()
    assert len(q) == 50, (
        f"{len(q)} registered queries, not the driver's 50-entry graded "
        "window — a new entry takes a retired twin's slot"
    )
    # the round-2 casualties now register early enough to be graded even
    # if the window shrank slightly
    names = list(q)
    for must_be_early in (
        "doc_line_dedup", "doc_dedup_spans", "doc_normalize",
        "emb_pagerank", "events_scd2", "events_rollup", "events_pivot",
        "events_funnel_daily", "streaming_funnel",
        "streaming_lsh_pairs", "streaming_emb_pairs",
        "doc_winnow_fingerprints",
        "emb_lsh_ann_topk", "emb_ivf_ann_topk", "emb_ivfpq_ann_topk",
        "media_features", "streaming_latency_hist", "streaming_rank",
    ):
        assert names.index(must_be_early) < 19


def test_media_metadata_oracle(spark):
    """Retired round 4 (slot given to streaming_latency_hist): the
    documents→media mapping's metadata projection vs the same DuckDB
    byte-math oracle the driver graded in rounds 2-3."""
    from conftest import SF_DIR
    from crypto_near_real_time_data_ingestion_spark.operators.multimodal import (
        documents_as_media,
    )
    from crypto_near_real_time_data_ingestion_spark.plans import documents_gold as dg

    got = documents_as_media(dg.read_documents(spark, SF_DIR)).select(
        "media_id", "media_type", "n_bytes"
    )
    want = duckdb.sql(
        f"""
        SELECT doc_id AS media_id,
               CASE WHEN doc_id % 3 = 0 THEN 'image'
                    WHEN doc_id % 3 = 1 THEN 'audio'
                    ELSE 'video' END AS media_type,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        FROM read_parquet('{SF_DIR}/documents.parquet') WHERE text IS NOT NULL
        """
    ).df()
    assert_df_equal(got, want, sort_cols=["media_id"])


def test_sliding_grain_oracle(spark, transcripts_parquet):
    """Sliding-window batch path (same oracle template as the graded
    streaming_gold_sliding twin)."""
    silver = silver_batch(read_transcripts(spark, transcripts_parquet))
    got = gold_windows.conv_window_stats_sliding(silver)
    want = duckdb.sql(
        gold_windows.SLIDING_STATS_ORACLE_SQL_TEMPLATE.format(
            path=transcripts_parquet, slide_s=900, length_s=3600, n_overlap=4
        )
    ).df()
    assert_df_equal(got, want, sort_cols=["conv_id", "window_start"])


def test_role_runs_user_oracle(spark, transcripts_parquet):
    """Batch R{k,} run detector, retired round 4 (emb_pagerank's slot):
    the graded streaming_role_runs answers this IDENTICAL oracle."""
    from crypto_near_real_time_data_ingestion_spark.plans import patterns

    silver = silver_batch(read_transcripts(spark, transcripts_parquet))
    got = patterns.role_runs(silver, "user")
    want = duckdb.sql(
        patterns.ROLE_RUNS_ORACLE_SQL_TEMPLATE.format(
            path=transcripts_parquet, role="user", min_run=2
        )
    ).df()
    assert_df_equal(got, want, sort_cols=["conv_id", "run_start_turn"])


def test_tool_bursts_oracle(spark, transcripts_parquet):
    """Tool-burst CEP detector, retired round 5 (doc_dedup_spans' slot):
    the same parameterized ROLE_RUNS template's role='user' variant
    stays driver-graded via streaming_role_runs."""
    from crypto_near_real_time_data_ingestion_spark.plans import patterns

    silver = silver_batch(read_transcripts(spark, transcripts_parquet))
    got = patterns.tool_bursts(silver)
    want = duckdb.sql(
        patterns.ROLE_RUNS_ORACLE_SQL_TEMPLATE.format(
            path=transcripts_parquet, role="tool", min_run=2
        )
    ).df()
    assert_df_equal(got, want, sort_cols=["conv_id", "run_start_turn"])


def test_unanswered_user_turns_oracle(spark, transcripts_parquet):
    """Batch negation/timeout pattern, retired round 4 (events_scd2's
    slot): the graded streaming_unanswered answers this IDENTICAL
    oracle."""
    from crypto_near_real_time_data_ingestion_spark.plans import patterns

    silver = silver_batch(read_transcripts(spark, transcripts_parquet))
    got = patterns.unanswered_user_turns(silver)
    want = duckdb.sql(
        patterns.UNANSWERED_ORACLE_SQL_TEMPLATE.format(path=transcripts_parquet)
    ).df()
    assert_df_equal(got, want, sort_cols=["conv_id", "turn_idx"])


def test_events_ohlc_hour_oracle(spark):
    """Hour-grain OHLC, retired round 4 (events_pivot's slot): the same
    events_ohlc plan stays driver-graded at week grain through the S13
    view entry."""
    from conftest import SF_DIR, duck_sql
    from crypto_near_real_time_data_ingestion_spark.plans import events_gold as eg

    got = eg.events_ohlc(spark.read.parquet(f"{SF_DIR}/events.parquet"), "hour")
    want = duck_sql(eg.OHLC_ORACLE_SQL_TEMPLATE.format(grain="hour"))
    assert_df_equal(got, want, sort_cols=["user_id", "period"])


def test_events_unpivot_oracle(spark):
    """Wide→long melt, retired round 4 (streaming_funnel's slot): the
    inverse pivot is driver-graded; the melt stays oracle-pinned here."""
    from conftest import SF_DIR, duck_sql
    from crypto_near_real_time_data_ingestion_spark.plans import events_gold as eg

    got = eg.events_unpivot(spark.read.parquet(f"{SF_DIR}/events.parquet"))
    want = duck_sql(eg.EVENTS_UNPIVOT_ORACLE_SQL)
    assert_df_equal(got, want, sort_cols=["minute", "metric"])
