"""MERGE-sink schema evolution: the Iceberg-style metadata-driven
contract on the LSM-ish delta pile (`sinks.py` schema-evolution block).

A long-lived sink's delta files can carry different schemas after an
upstream change; bare parquet reads over mixed-schema piles resolve to
whichever file wins inference (columns silently vanish). The sidecar
contract: additive-only widening recorded transactionally in
`_schema.json`; reads bind the stored schema explicitly, so added
columns come back NULL from pre-addition deltas; drops and type changes
are refused loudly at WRITE time.
"""

from __future__ import annotations

import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from crypto_near_real_time_data_ingestion_spark.streaming.sinks import ParquetMergeSink

WORK = "/tmp/spark_graft_test_schema_evo"


def _df(spark, rows, cols):
    return spark.createDataFrame(pd.DataFrame(rows, columns=cols))


@pytest.fixture()
def sink():
    shutil.rmtree(WORK, ignore_errors=True)
    return ParquetMergeSink(WORK, ["k"], None)


def test_added_column_reads_null_from_old_deltas(spark, sink):
    sink.process_batch(_df(spark, [(1, "a"), (2, "b")], ["k", "v"]), 0)
    sink.process_batch(
        _df(spark, [(2, "b2", 20), (3, "c", 30)], ["k", "v", "extra"]), 1
    )
    got = sink.read(spark).orderBy("k").toPandas()
    assert list(got.columns) == ["k", "v", "extra"]
    # key 1 only exists in the pre-addition delta → extra is NULL;
    # key 2's latest version carries the new column
    assert got.set_index("k")["extra"].to_dict() == pytest.approx(
        {2: 20, 3: 30}
    ) or pd.isna(got.set_index("k").loc[1, "extra"])
    assert pd.isna(got.set_index("k").loc[1, "extra"])
    assert got.set_index("k").loc[2, "extra"] == 20
    assert got.set_index("k").loc[2, "v"] == "b2"


def test_dropped_column_refused(spark, sink):
    sink.process_batch(_df(spark, [(1, "a", 1.5)], ["k", "v", "w"]), 0)
    with pytest.raises(ValueError, match="additive-only.*'w'.*missing"):
        sink.process_batch(_df(spark, [(2, "b")], ["k", "v"]), 1)


def test_type_change_refused(spark, sink):
    sink.process_batch(_df(spark, [(1, "a")], ["k", "v"]), 0)
    with pytest.raises(ValueError, match="additive-only.*'v'.*changed type"):
        sink.process_batch(_df(spark, [(2, 7)], ["k", "v"]), 1)


def test_nested_nullability_drift_accepted(spark, sink):
    """Same physical type, only nested nullability flipped (array
    containsNull, struct field nullable): a live batch must still
    commit, and a real nested type change is still refused."""
    base = spark.range(1).select(F.col("id").alias("k"))
    strict = base.select(
        "k",
        F.array(F.lit(1)).alias("xs"),
        F.struct(F.lit(1).alias("a")).alias("s"),
    )
    loose = base.select(
        (F.col("k") + 1).alias("k"),
        F.array(F.lit(2), F.lit(None).cast("int")).alias("xs"),
        F.struct(F.lit(None).cast("int").alias("a")).alias("s"),
    )
    assert strict.schema["xs"].dataType != loose.schema["xs"].dataType
    assert strict.schema["s"].dataType != loose.schema["s"].dataType
    sink.process_batch(strict, 0)
    sink.process_batch(loose, 1)
    got = [r.asDict(recursive=True) for r in sink.read(spark).orderBy("k").collect()]
    assert [(r["xs"], r["s"]["a"]) for r in got] == [([1], 1), ([2, None], None)]
    retyped = base.select(
        (F.col("k") + 2).alias("k"),
        F.array(F.lit("x")).alias("xs"),
        F.struct(F.lit(1).alias("a")).alias("s"),
    )
    with pytest.raises(ValueError, match="additive-only.*'xs'.*changed type"):
        sink.process_batch(retyped, 2)


def test_evolution_survives_compaction_and_time_travel(spark, sink):
    """The widened schema holds through compact (snapshot + GC) and
    read_as_of: pre-addition versions travel with NULL in the new
    column."""
    sink.process_batch(_df(spark, [(1, "a")], ["k", "v"]), 0)
    sink.process_batch(_df(spark, [(1, "a2", 10)], ["k", "v", "extra"]), 1)
    asof0 = sink.read_as_of(spark, 0).toPandas()
    assert list(asof0.columns) == ["k", "v", "extra"]
    assert pd.isna(asof0["extra"].iloc[0])
    sink.compact(spark)
    got = sink.read(spark).toPandas()
    assert list(got.columns) == ["k", "v", "extra"]
    assert got["extra"].iloc[0] == 10 and got["v"].iloc[0] == "a2"
    # post-compaction appends keep evolving
    sink.process_batch(
        _df(spark, [(2, "c", 20, True)], ["k", "v", "extra", "flag"]), 2
    )
    got = sink.read(spark).orderBy("k").toPandas()
    assert list(got.columns) == ["k", "v", "extra", "flag"]
    assert pd.isna(got["flag"].iloc[0]) and bool(got["flag"].iloc[1])


def test_legacy_table_without_sidecar_still_reads(spark, sink):
    """Pre-evolution tables (no `_schema.json`) keep the plain read."""
    import os

    sink.process_batch(_df(spark, [(1, "a")], ["k", "v"]), 0)
    os.remove(sink._schema_path)
    got = sink.read(spark).toPandas()
    assert list(got.columns) == ["k", "v"]
    assert got["v"].iloc[0] == "a"
