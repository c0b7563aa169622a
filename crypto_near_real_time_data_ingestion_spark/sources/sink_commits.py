"""Stream source over a ``ParquetMergeSink``'s committed deltas.

The gold layer reads silver the way the reference's gold jobs read the
silver table (SURVEY §0), but incrementally: each micro-batch of a gold
query is exactly one committed silver delta. Bronze is then scanned,
cleansed and deduped once per trigger (by the silver query), and each
gold query pays only for its own operator. Registered as
``readStream.format("sink_commits")``; ``sources/py_datasource.py`` is
the template for the offset protocol.

  * Offsets — ``{"batch": b, "checkpoint": id, **source}``: ``b`` is the
    upstream query's batch id (the sink's commit-log id), ``id`` the
    upstream checkpoint's id (``<checkpoint>/metadata``), and ``source``
    the upstream source offset that batch covered, copied as-is from
    the commit marker (``{"row": n}`` for the registered transcripts
    source). The upstream writer copies it there from its checkpoint's
    ``offsets/<b>`` entry, because Spark purges old offsets files.
  * Rate control — ``latestOffset`` advances ONE committed batch per
    trigger, empty (no-data) commits included, so a downstream query's
    batches, watermark and evictions follow the upstream batches
    exactly. Only batches with a commit marker are visible; a delta
    directory without one is a write in flight.
  * ``partitions(start, end)`` — one input partition per parquet file of
    each delta in ``(start, end]``; ``read`` is an executor-side pyarrow
    read of the read schema's columns only, cast to their Arrow types (a
    table written with INT96 timestamps reads back as nanoseconds).
  * Restart — Spark hands the restored offset to ``partitions`` (and
    ``commit``) before asking for a new one, and the reader keeps the
    MAX it has seen, like the template's cursor.

Safety: an offset naming a different upstream checkpoint id is refused
(a table re-created from batch 0 would otherwise be skipped silently),
and so is a batch at or below the sink's compaction marker (its delta
was folded into the snapshot and is gone).
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition


def checkpoint_id(checkpoint: str) -> str:
    """The id Spark stamps on a checkpoint when it creates it."""
    try:
        with open(os.path.join(checkpoint, "metadata")) as f:
            return json.load(f)["id"]
    except FileNotFoundError:
        raise FileNotFoundError(
            f"no checkpoint metadata under {checkpoint}: start the upstream "
            "query before the queries that read its committed deltas"
        ) from None


class _DeltaFile(InputPartition):
    def __init__(self, path: str):
        self.path = path


class SinkCommitsDataSource(DataSource):
    """``spark.readStream.format("sink_commits").schema(...)
    .option("path", <sink table dir>).option("checkpoint", <checkpoint of
    the query writing the sink>).option("initialOffset", <json>)``.
    ``initialOffset`` is the upstream source's offset before its first
    batch (merged into this source's initial offset). The read schema is
    always explicit: the upstream table may not have written one yet."""

    @classmethod
    def name(cls) -> str:
        return "sink_commits"

    def streamReader(self, schema) -> DataSourceStreamReader:
        return _SinkCommitsReader(
            self.options["path"],
            self.options["checkpoint"],
            schema,
            json.loads(self.options.get("initialoffset", "{}")),
        )


class _SinkCommitsReader(DataSourceStreamReader):
    def __init__(self, table_dir: str, checkpoint: str, schema, initial: dict):
        from ..streaming.sinks import ParquetMergeSink

        self.sink = ParquetMergeSink(table_dir, [])
        self.checkpoint = checkpoint
        self.schema = schema
        self._initial = initial
        self._ckpt_id: str | None = None
        # the latest offset known durable or offered: advisory only,
        # repaired upward from every offset Spark hands back
        self._last: dict | None = None

    def _id(self) -> str:
        if self._ckpt_id is None:
            self._ckpt_id = checkpoint_id(self.checkpoint)
        return self._ckpt_id

    def _offset(self, batch: int, source: dict) -> dict:
        return {"batch": batch, "checkpoint": self._id(), **source}

    def _repair(self, off: dict) -> None:
        if off.get("checkpoint") != self._id():
            raise RuntimeError(
                f"sink {self.sink.table_dir}: this query read batches issued "
                f"by checkpoint {off.get('checkpoint')}, but {self.checkpoint} "
                f"is now checkpoint {self._id()} — the upstream table was "
                "re-created, and its batch ids no longer mean what this "
                "query's offsets say. Use a fresh checkpoint for this query."
            )
        if self._last is None or int(off["batch"]) > int(self._last["batch"]):
            self._last = off

    def _check_live(self, batch: int) -> None:
        through = self.sink.compacted_through()
        if batch <= through:
            raise RuntimeError(
                f"sink {self.sink.table_dir}: batch {batch} was folded by "
                f"compaction (through {through}) before this query read it"
            )

    def initialOffset(self) -> dict:
        return self._offset(-1, self._initial)

    def latestOffset(self) -> dict:
        if self._last is None:
            self._last = self.initialOffset()
        nxt = int(self._last["batch"]) + 1
        self._check_live(nxt)
        rec = self.sink.commit_record(nxt)
        if rec is not None:
            self._last = self._offset(nxt, rec.get("source", {}))
        return self._last

    def partitions(self, start: dict, end: dict):
        # on restart Spark replans the restored offset here before it
        # asks for a new one (setLatestSeenOffset)
        self._repair(end)
        parts = []
        for b in range(int(start["batch"]) + 1, int(end["batch"]) + 1):
            self._check_live(b)
            parts += [
                _DeltaFile(f)
                for f in sorted(glob.glob(os.path.join(self.sink.delta_path(b), "*.parquet")))
            ]
        return parts

    def read(self, partition: _DeltaFile):
        if partition is None:  # engine's empty-plan sentinel
            return
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        table = pq.read_table(partition.path, columns=self.schema.fieldNames())
        yield from table.cast(to_arrow_schema(self.schema)).to_batches()

    def commit(self, end: dict) -> None:
        self._repair(end)
