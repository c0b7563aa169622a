"""Driver-contract smoke: every queries() entry runs; every oracle matches
at the tiny scale (sf0.001 stand-in for the driver's sf0.01 gate).

The heavyweight per-query oracle checks live in the dedicated test modules;
this test guards the CONTRACT itself — names, column alignment, and the
two newest entries (JSON props parse, SQL-view layer).
"""

from __future__ import annotations

import duckdb

from conftest import SF_DIR, assert_df_equal, duck_sql
import __spark_entry__ as entry


def test_entry_smoke(spark):
    df = entry.entry(spark)
    assert df.count() > 0
    assert [f.name for f in df.schema.fields] == [
        "conv_id", "turn_idx", "role", "text", "tool", "ts",
    ]


def test_oracle_keys_subset_of_queries():
    q = entry.queries()
    o = entry.oracle_sql()
    assert set(o) <= set(q)
    # every query is oracle-graded — no rows-only entries left (the
    # custom-hash ops re-derive their hashes in DuckDB HUGEINT SQL; the
    # approximate-index ops are exact by construction or recall-pinned)
    assert set(q) == set(o)


def test_events_props_parse(spark):
    from crypto_near_real_time_data_ingestion_spark.plans import events_gold as eg

    got = eg.events_props_parse(eg.read_events(spark, SF_DIR))
    want = duck_sql(eg.EVENTS_PROPS_ORACLE_SQL)
    assert_df_equal(got, want, sort_cols=["event_type"])


def test_events_json_entities(spark):
    """P4-P6 literal: explode_outer keeps empty-array and malformed rows,
    map_entries flattens the attrs map, struct fields flatten to columns."""
    from pyspark.sql import functions as F

    from crypto_near_real_time_data_ingestion_spark.plans import events_gold as eg

    events = eg.read_events(spark, SF_DIR)
    got = eg.events_json_entities(events)
    want = duck_sql(eg.EVENTS_JSON_ENTITIES_ORACLE_SQL)
    assert_df_equal(got, want, sort_cols=["event_id", "entity_name"])
    # explode_outer row-preservation: every source event appears
    assert got.select("event_id").distinct().count() == events.count()
    # malformed rows survive as all-null rows
    assert (
        got.filter((F.col("event_id") % 7 == 0) & F.col("attrs_flat").isNull()).count()
        > 0
    )


def test_sql_view_gold_hour(spark, transcripts_parquet):
    from crypto_near_real_time_data_ingestion_spark.plans.gold_windows import (
        WINDOW_STATS_ORACLE_SQL_TEMPLATE,
    )

    got = entry._sql_view_gold_hour(spark, SF_DIR)
    want = duckdb.sql(
        WINDOW_STATS_ORACLE_SQL_TEMPLATE.format(path=transcripts_parquet, grain="hour")
    ).df()
    assert_df_equal(got, want, sort_cols=["conv_id", "window_start"])
