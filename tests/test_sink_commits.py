"""Stream source over a sink's committed deltas (sources/sink_commits.py):
the offset protocol the gold layer reads silver through, driven without
Spark — marker visibility, one commit per trigger, restart repair, the
compaction and checkpoint-id guards, and the fold limit compact_all
reads from a gold checkpoint."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from crypto_near_real_time_data_ingestion_spark.sources.sink_commits import (
    _SinkCommitsReader,
)

SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("ts", T.TimestampType()),
])


def _checkpoint(tmp_path, ckpt_id: str) -> str:
    ckpt = tmp_path / "ckpt"
    ckpt.mkdir(exist_ok=True)
    (ckpt / "metadata").write_text(json.dumps({"id": ckpt_id}))
    return str(ckpt)


def _delta(table: str, batch: int, rows: int) -> None:
    d = os.path.join(table, "data", f"batch-{batch:08d}")
    os.makedirs(d, exist_ok=True)
    pq.write_table(
        pa.table({
            "conv_id": [f"c{i}" for i in range(rows)],
            "turn_idx": pa.array(range(rows), pa.int32()),
            "text": ["x"] * rows,
            # INT96-written tables read back as nanoseconds
            "ts": pa.array(range(0, 1000 * rows, 1000), pa.timestamp("ns")),
            "__batch_id": [batch] * rows,
        }),
        os.path.join(d, "part-0.parquet"),
    )


def _marker(table: str, batch: int, row: int) -> None:
    d = os.path.join(table, "_commits")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"batch-{batch:08d}.json"), "w") as f:
        json.dump({"batch_id": batch, "rows": "0", "source": {"row": row}}, f)


def _reader(tmp_path, ckpt_id: str = "A") -> _SinkCommitsReader:
    return _SinkCommitsReader(
        str(tmp_path / "silver"), _checkpoint(tmp_path, ckpt_id), SCHEMA, {"row": 0}
    )


def test_delta_without_marker_stays_invisible(tmp_path):
    r = _reader(tmp_path)
    table = r.sink.table_dir
    assert r.initialOffset() == {"batch": -1, "checkpoint": "A", "row": 0}
    _delta(table, 0, 3)  # written, not committed: a write in flight
    assert r.latestOffset()["batch"] == -1
    _marker(table, 0, 30)
    assert r.latestOffset() == {"batch": 0, "checkpoint": "A", "row": 30}


def test_one_commit_per_trigger_including_empty_commits(tmp_path):
    r = _reader(tmp_path)
    table = r.sink.table_dir
    _delta(table, 0, 3)
    _marker(table, 0, 30)
    _delta(table, 1, 0)  # a no-data batch: empty delta, still a commit
    _marker(table, 1, 30)
    _delta(table, 2, 2)
    _marker(table, 2, 50)
    offs = [r.latestOffset() for _ in range(4)]
    assert [o["batch"] for o in offs] == [0, 1, 2, 2]
    assert [o["row"] for o in offs] == [30, 30, 50, 50]

    start = r.initialOffset()
    for off, want in zip(offs, (3, 0, 2)):
        parts = r.partitions(start, off)
        got = sum(b.num_rows for p in parts for b in r.read(p))
        assert got == want
        start = off
    # the read projects to the read schema, in its Arrow types: text is
    # never loaded, and timestamps arrive as Spark's microseconds
    batch = next(r.read(r.partitions(r.initialOffset(), offs[0])[0]))
    assert batch.schema.names == SCHEMA.fieldNames()
    assert batch.schema.field("ts").type == pa.timestamp("us", tz="UTC")
    assert batch.column("ts").to_pylist()[1].microsecond == 1


def test_restarted_reader_repairs_cursor(tmp_path):
    r = _reader(tmp_path)
    table = r.sink.table_dir
    for b in range(3):
        _delta(table, b, 1)
        _marker(table, b, 10 * (b + 1))
    durable = [r.latestOffset() for _ in range(2)][-1]
    assert durable["batch"] == 1

    # a fresh reader on restart: Spark replans the restored offset
    # (setLatestSeenOffset → partitions(end, end)) before asking for more
    fresh = _reader(tmp_path)
    assert fresh.partitions(durable, durable) == []
    assert fresh.latestOffset()["batch"] == 2

    # the commit callback repairs too, and never moves the cursor back
    fresh = _reader(tmp_path)
    fresh.commit(durable)
    fresh.commit({**durable, "batch": 0})
    assert fresh.latestOffset()["batch"] == 2


def test_batch_folded_by_compaction_raises(tmp_path):
    r = _reader(tmp_path)
    table = r.sink.table_dir
    for b in range(3):
        _delta(table, b, 1)
        _marker(table, b, b + 1)
    first = r.latestOffset()
    with open(os.path.join(table, "_compaction.json"), "w") as f:
        json.dump({"through": 1}, f)
    with pytest.raises(RuntimeError, match=r"silver: batch 1 was folded"):
        r.latestOffset()
    with pytest.raises(RuntimeError, match=r"batch 0 was folded"):
        _reader(tmp_path).partitions(r.initialOffset(), first)


def test_changed_upstream_checkpoint_is_refused(tmp_path):
    r = _reader(tmp_path, "A")
    table = r.sink.table_dir
    _delta(table, 0, 1)
    _marker(table, 0, 1)
    off = r.latestOffset()
    # the upstream table and checkpoint re-created from batch 0
    restarted = _reader(tmp_path, "B")
    with pytest.raises(RuntimeError, match="re-created"):
        restarted.partitions(off, off)
    with pytest.raises(RuntimeError, match="re-created"):
        restarted.commit(off)


def test_consumed_batch_reads_the_gold_checkpoint(tmp_path):
    """compact_all's fold limit: the silver batch a gold checkpoint has
    committed (the lower side of a self-join), -1 before its first
    commit, and None for a checkpoint whose offsets name bronze, not
    silver commits (one written before gold read silver)."""
    from crypto_near_real_time_data_ingestion_spark.streaming.engine import (
        _consumed_batch,
    )

    def ckpt(name, sources, committed):
        d = tmp_path / name
        (d / "offsets").mkdir(parents=True)
        (d / "commits").mkdir()
        for bid, offs in enumerate(sources):
            (d / "offsets" / str(bid)).write_text(
                "\n".join(["v1", "{}", *map(json.dumps, offs)])
            )
        for bid in range(committed):
            (d / "commits" / str(bid)).write_text("v1\n{}")
        return str(d)

    pair = [
        {"batch": 4, "checkpoint": "A", "row": 9},
        {"batch": 3, "checkpoint": "A", "row": 7},
    ]
    later = [{"batch": 6, "checkpoint": "A", "row": 11}] * 2
    assert _consumed_batch(ckpt("pairs", [pair, later], 1)) == 3
    assert _consumed_batch(ckpt("fresh", [pair], 0)) == -1
    assert _consumed_batch(ckpt("legacy", [[{"logOffset": 5}]], 1)) is None
