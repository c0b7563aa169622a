"""transformWithState backend: stream vs batch equivalence (skips where
the TWS protobuf protocol is unavailable) + pure-core unit checks that
run everywhere."""

from __future__ import annotations

import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from conftest import assert_df_equal
from crypto_near_real_time_data_ingestion_spark.datagen.flush import (
    FLUSH_CONV_ID,
    build_flushed_source,
)
from crypto_near_real_time_data_ingestion_spark.plans.gold_features import conv_features
from crypto_near_real_time_data_ingestion_spark.plans.silver import silver_batch
from crypto_near_real_time_data_ingestion_spark.sources import read_transcripts
from crypto_near_real_time_data_ingestion_spark.streaming.engine import (
    run_pipeline_to_completion,
)
from crypto_near_real_time_data_ingestion_spark.streaming.stateful import (
    _EMPTY,
    _columns,
    _input_frame,
    _step,
)
from crypto_near_real_time_data_ingestion_spark.streaming.stateful_tws import (
    tws_available,
)

WORK = "/tmp/spark_graft_stateful_tws"

CAUSAL_COLS = [
    "conv_id",
    "turn_idx",
    "as_of_ts",
    "turn_count",
    "max_turn_idx",
    "tool_call_rate",
    "inter_turn_latency_p50",
    "inter_turn_latency_p95",
    "inter_turn_latency_p99",
    "rolling_turns_10m",
    "session_id",
    "session_start",
]


def _batch(ti_ts_tool):
    return iter(
        [
            pd.DataFrame(
                {
                    "turn_idx": [t[0] for t in ti_ts_tool],
                    "ts": pd.to_datetime([t[1] for t in ti_ts_tool], unit="us"),
                    "tool": [t[2] for t in ti_ts_tool],
                }
            )
        ]
    )


def _rows_step(conv_id, pdf_iter, st, wm_us, gap_s):
    """``_step`` over an input-chunk iterator, output as row tuples."""
    out, new_st, timer = _step(
        conv_id, *_columns(_input_frame(pdf_iter)), st, wm_us, gap_s
    )
    return list(zip(*out)), new_st, timer


def test_step_core_buffers_until_watermark():
    """The shared `_step` core (both stateful backends): rows past the
    watermark stay buffered with a wake-up timer; nothing is emitted."""
    out, st, timer = _rows_step("c", _batch([(0, 10_000_000, None)]), _EMPTY, 0, 1800)
    assert out == [] and st is not None
    assert timer == 10_000 + 1  # earliest buffered turn, ms
    # watermark passes → emit in order, dedup against emitted set
    out2, st2, _ = _rows_step(
        "c", _batch([(0, 10_000_000, None), (1, 20_000_000, "grep")]), st,
        25_000_000, 1800,
    )
    assert [r[1] for r in out2] == [0, 1]
    assert st2[3] == [0, 1]  # emitted turn_idx set persisted


def test_step_core_eviction():
    """Watermark far past last activity → state evicted (None)."""
    out, st, _ = _rows_step("c", _batch([(0, 1_000_000, None)]), _EMPTY, 2_000_000, 1800)
    assert len(out) == 1
    _, st2, timer = _rows_step("c", iter(()), st, 2_000_000 + 2 * 1800 * 1_000_000 + 1, 1800)
    assert st2 is None and timer is None


@pytest.mark.skipif(
    not tws_available(),
    reason=(
        "transformWithStateInPandas needs the google.protobuf wheel for its "
        "state-server protocol; this container does not ship it (and "
        "installs are disallowed). The TWS backend therefore runs UNIT-"
        "TESTED-ONLY here (shared _step core, TTL/timer translation); this "
        "e2e executes wherever `pip install protobuf` is possible."
    ),
)
def test_tws_features_equal_batch(spark, transcripts_parquet, stream_parquet_dir):
    shutil.rmtree(WORK, ignore_errors=True)
    fsrc = build_flushed_source(stream_parquet_dir, os.path.join(WORK, "source"))
    h = run_pipeline_to_completion(
        spark, fsrc, WORK, queries=("features_tws",), max_files_per_trigger=2
    )
    got = (
        h.sinks["features_tws"]
        .read(spark)
        .filter(F.col("conv_id") != FLUSH_CONV_ID)
        .select(*CAUSAL_COLS)
    )
    want = (
        conv_features(silver_batch(read_transcripts(spark, transcripts_parquet)))
        .select(*CAUSAL_COLS)
        .toPandas()
    )
    assert_df_equal(got, want, sort_cols=["conv_id", "turn_idx"], rtol=0)
