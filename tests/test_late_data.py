"""Watermark semantics under engineered late data.

The generator keeps lateness within the watermark (no loss); this test
manufactures the opposite — rows arriving AFTER the watermark advanced
far beyond their event time — and pins the engine's layered policy:

  * silver (dedup) passes late singletons through: Spark's
    ``dropDuplicatesWithinWatermark`` only guarantees dedup WITHIN the
    watermark; it does not filter late rows, so no data is silently lost
    on the completeness-oriented silver path.
  * a late DUPLICATE whose dedup state was already evicted re-emits from
    the dedup operator — and the exactly-once MERGE sink (keyed upsert)
    still yields exactly one row per key. End-to-end exactly-once is a
    sink property, not only an operator property.
  * windowed aggregations (gold) DROP beyond-watermark rows, observable
    via ``numRowsDroppedByWatermark`` — the reference's reprocessing-dupe
    scenario made explicit and counted.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from crypto_near_real_time_data_ingestion_spark.datagen.transcripts import SCHEMA
from crypto_near_real_time_data_ingestion_spark.streaming.engine import (
    run_pipeline_to_completion,
)
from crypto_near_real_time_data_ingestion_spark.streaming.listener import MetricsListener

WORK = "/tmp/spark_graft_late"


def _write(df: pd.DataFrame, path: str, mtime: float) -> None:
    pq.write_table(pa.Table.from_pandas(df, schema=SCHEMA, preserve_index=False), path)
    os.utime(path, (mtime, mtime))


def _late_source(work: str) -> str:
    """Four one-file batches whose third arrives after the watermark
    passed its event time."""
    shutil.rmtree(work, ignore_errors=True)
    src = os.path.join(work, "source")
    os.makedirs(src)
    t0 = pd.Timestamp("2025-06-01 00:00:00")

    def rows(items):
        return pd.DataFrame(
            {
                "conv_id": [c for c, *_ in items],
                "turn_idx": np.array([t for _, t, _ in items], dtype="int32"),
                "role": ["user"] * len(items),
                "text": [f"{c}:{t}" for c, t, _ in items],
                "tool": [None] * len(items),
                "ts": [t0 + pd.Timedelta(minutes=m) for *_, m in items],
            }
        )

    # file 1: two on-time turns
    _write(rows([("c1", 0, 0), ("c1", 1, 1)]), f"{src}/f1.parquet", 1e9)
    # file 2: advances watermark far ahead (event time +6h)
    _write(rows([("c2", 0, 360)]), f"{src}/f2.parquet", 1e9 + 1)
    # file 3: arrives after the watermark passed: a duplicate of (c1,0) and
    # a NEVER-seen turn (c1,2) both with ancient event time
    _write(rows([("c1", 0, 0), ("c1", 2, 2)]), f"{src}/f3.parquet", 1e9 + 2)
    # file 4: flush
    _write(rows([("c3", 0, 720)]), f"{src}/f4.parquet", 1e9 + 3)
    return src


def test_late_rows_beyond_watermark_are_dropped(spark):
    src = _late_source(WORK)

    lst = MetricsListener()
    spark.streams.addListener(lst)
    try:
        h = run_pipeline_to_completion(
            spark, src, WORK, queries=("silver", "gold_hour"), watermark="15 minutes",
            max_files_per_trigger=1,
        )
        got = h.sinks["silver"].read(spark)
        keys = {(r.conv_id, r.turn_idx) for r in got.collect()}
        # on-time rows present; late singleton passes through (no silent loss)
        assert {("c1", 0), ("c1", 1), ("c2", 0), ("c1", 2)} <= keys
        # late duplicate of (c1,0): dedup state was evicted, the row
        # re-emitted — the keyed MERGE sink still holds exactly one copy
        assert got.filter((F.col("conv_id") == "c1") & (F.col("turn_idx") == 0)).count() == 1
        # gold window agg: the late rows arrived while the window's state
        # was still live (emission+eviction happen at the END of the batch
        # whose watermark closes the window), so they are ABSORBED into the
        # final window row — the stream result equals the batch oracle even
        # for these beyond-watermark stragglers. Only rows arriving after
        # eviction fall back to the documented latest-wins sink policy.
        gold = h.sinks["gold_hour"].read(spark)
        c1_w0 = gold.filter(
            (F.col("conv_id") == "c1")
            & (F.col("window_start") == "2025-06-01 00:00:00")
        ).collect()
        assert len(c1_w0) == 1 and c1_w0[0]["n_turns"] == 3
    finally:
        spark.streams.removeListener(lst)


def test_session_window_absorbs_late_in_watermark_rows(spark):
    """SURVEY §7.3 hard-part 2: a late row landing INSIDE an open session
    (within the watermark) must merge into that session before it closes
    — the emitted session covers both on-time and late turns, and equals
    the batch gap-and-island result."""
    work = WORK + "_sessions"
    shutil.rmtree(work, ignore_errors=True)
    src = os.path.join(work, "source")
    os.makedirs(src)
    t0 = pd.Timestamp("2025-06-01 00:00:00")

    def rows(items):
        return pd.DataFrame(
            {
                "conv_id": [c for c, *_ in items],
                "turn_idx": np.array([t for _, t, _ in items], dtype="int32"),
                "role": ["user"] * len(items),
                "text": [f"{c}:{t}" for c, t, _ in items],
                "tool": [None] * len(items),
                "ts": [t0 + pd.Timedelta(minutes=m) for *_, m in items],
            }
        )

    # batch 1: session start (minutes 0, 2)
    _write(rows([("c1", 0, 0), ("c1", 2, 2)]), f"{src}/f1.parquet", 1e9)
    # batch 2: watermark moves to ~minute 6 (wm delay 15m → still open),
    # and a LATE row (minute 1) slots between the first two turns
    _write(rows([("c2", 0, 21), ("c1", 1, 1)]), f"{src}/f2.parquet", 1e9 + 1)
    # batch 3: flush far ahead — closes every session
    _write(rows([("c3", 0, 600)]), f"{src}/f3.parquet", 1e9 + 2)

    h = run_pipeline_to_completion(
        spark, src, work, queries=("sessions",), watermark="15 minutes",
        max_files_per_trigger=1,
    )
    got = h.sinks["sessions"].read(spark)
    c1 = got.filter(F.col("conv_id") == "c1").collect()
    # ONE session holding all three turns incl. the late one
    assert len(c1) == 1, c1
    assert c1[0]["n_turns"] == 3
    assert str(c1[0]["session_start"]) == "2025-06-01 00:00:00"
    assert str(c1[0]["session_end"]) == "2025-06-01 00:02:00"


def test_gold_waits_for_a_slow_silver_commit(spark, monkeypatch):
    """Gold reads silver's commits and runs no eviction batch of its own:
    while silver is still writing the batch that holds the late rows,
    gold must not close their hour window on the watermark the previous
    batch raised. Silver's commit of that batch (batch 2: one file per
    trigger) is delayed by several seconds; the c1 window still absorbs
    the late turn, as in the undelayed drain above."""
    from crypto_near_real_time_data_ingestion_spark.streaming.sinks import (
        ParquetMergeSink,
    )

    work = WORK + "_slow_silver"
    src = _late_source(work)
    orig = ParquetMergeSink.process_batch

    def slow_silver(self, df, batch_id, lineage=None):
        if self.table_dir.endswith("silver") and batch_id == 2:
            time.sleep(6)
        return orig(self, df, batch_id, lineage)

    monkeypatch.setattr(ParquetMergeSink, "process_batch", slow_silver)
    h = run_pipeline_to_completion(
        spark, src, work, queries=("silver", "gold_hour"), watermark="15 minutes",
        max_files_per_trigger=1, source_format="py_datasource",
    )
    c1_w0 = h.sinks["gold_hour"].read(spark).filter(
        (F.col("conv_id") == "c1") & (F.col("window_start") == "2025-06-01 00:00:00")
    ).collect()
    assert len(c1_w0) == 1 and c1_w0[0]["n_turns"] == 3
