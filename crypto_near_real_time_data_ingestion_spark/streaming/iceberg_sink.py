"""Iceberg ``MERGE INTO`` sink — the production form of ``ParquetMergeSink``.

Same contract, same ``foreach_batch_handler`` signature (the swap the
sinks module docstring promises): exactly-once keyed upsert into a gold
table, idempotent under batch replay, read-your-commits. Where the
parquet sink implements the contract with per-batch deltas + a commit
log + keep-latest-batch reads, this sink delegates to Iceberg:

  * upsert     = ``MERGE INTO`` (snapshot-isolated, ACID)
  * idempotent = a tiny ``<table>__commits`` Iceberg table records every
    applied batch id; a replayed batch is skipped. If a crash lands
    between the MERGE commit and the commit-log insert, the replayed
    MERGE re-applies the SAME rows to the SAME keys — keyed upsert is
    idempotent, so exactly-once output holds without cross-table
    atomicity (single-writer-per-query, Spark's foreachBatch model).
  * manifests  = Iceberg's own snapshot/manifest metadata (exposed via
    ``snapshots()``), replacing the JSON sidecars.

The Iceberg runtime jar does not ship in this container, so everything
is gated: ``iceberg_available()`` is False → the engine and tests fall
back to ``ParquetMergeSink`` (pytest marks the e2e as skipped, loudly).
On a cluster with the jar, build the session with
``iceberg_session_confs()`` and pass ``sink_cls=IcebergMergeSink``.

Reference parity: the reference's idempotent put (``app.py:146-153``)
and dynamic-partition-overwrite gold writes
(``gold_features_base_job.py:123-139``), as one ACID MERGE.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

CATALOG = "local"


def iceberg_session_confs(warehouse: str, catalog: str = CATALOG) -> dict[str, str]:
    """SparkSession confs that register an Iceberg catalog (hadoop
    warehouse). Must be set at session build time — catalogs cannot be
    added to a running session."""
    return {
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        ),
    }


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


class IcebergMergeSink:
    """foreachBatch target: exactly-once keyed MERGE INTO an Iceberg table.

    Drop-in for ``ParquetMergeSink`` (same constructor shape + handler /
    read / is_committed surface); ``table`` is a catalog-qualified name
    like ``local.gold.conv_features`` instead of a directory."""

    def __init__(
        self,
        spark: SparkSession,
        table: str,
        keys: Sequence[str],
        event_time_col: str | None = None,
    ):
        if not iceberg_available(spark):
            raise RuntimeError(
                "Iceberg Spark runtime not on the classpath — use "
                "ParquetMergeSink, or launch with the iceberg-spark-runtime "
                "jar and iceberg_session_confs()"
            )
        self.spark = spark
        self.table = table
        self.keys = list(keys)
        self.event_time_col = event_time_col
        self.commits_table = f"{table}__commits"
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self.commits_table} "
            "(batch_id BIGINT, rows BIGINT) USING iceberg"
        )
        self._ensured = False

    # -- write path ---------------------------------------------------------

    def is_committed(self, batch_id: int) -> bool:
        return (
            self.spark.sql(
                f"SELECT 1 FROM {self.commits_table} WHERE batch_id = {int(batch_id)}"
            ).count()
            > 0
        )

    def _ensure_table(self, df: DataFrame) -> None:
        if self._ensured:
            return
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
        )
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self.table} ({cols}) USING iceberg"
        )
        self._ensured = True

    def process_batch(self, df: DataFrame, batch_id: int) -> None:
        """Idempotent exactly-once upsert: skip if the batch id is already
        in the commit log, else one ACID MERGE + commit-log append."""
        if self.is_committed(batch_id):
            # a crash after the commit-log append but before the
            # checkpoint commit replays the batch: its plan must still
            # run, or its state stores never commit the batch
            # (ParquetMergeSink.process_batch does the same)
            df.write.format("noop").mode("overwrite").save()
            return
        self._ensure_table(df)
        # view name embeds the SANITIZED table name (not a hash of it —
        # a 2^30 hash space can collide across concurrently-running
        # queries of one session, racing their MERGEs onto each other's
        # temp views)
        import re

        view = "__iceberg_batch_" + re.sub(r"[^A-Za-z0-9_]", "_", self.table)
        # a batch may carry several versions of a key (e.g. stateful
        # re-emissions) — MERGE requires unique source keys: keep latest.
        # The winner must be DETERMINISTIC under replay/repartitioning
        # (monotonically_increasing_id is partition-dependent — not an
        # emission order): order by the event-time column when the caller
        # provides one, with the remaining payload columns as a total-order
        # tiebreak; without an event-time column the payload columns alone
        # still give a replay-stable (if semantically arbitrary) winner.
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        payload = [c for c in df.columns if c not in self.keys]
        order_cols = [self.event_time_col] if (
            self.event_time_col and self.event_time_col in df.columns
        ) else []
        order_cols += [c for c in payload if c not in order_cols]
        if order_cols:
            w = Window.partitionBy(*self.keys).orderBy(
                *[F.col(c).desc_nulls_last() for c in order_cols]
            )
            deduped = (
                df.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
        else:  # key-only rows: duplicates are identical
            deduped = df.dropDuplicates(self.keys)
        # persist: the MERGE and the commit-log row count both consume
        # the deduped frame — unpersisted, the dedup window would
        # re-execute per action
        deduped.persist()
        try:
            deduped.createOrReplaceTempView(view)
            on = " AND ".join(f"t.`{k}` = s.`{k}`" for k in self.keys)
            self.spark.sql(
                f"MERGE INTO {self.table} t USING {view} s ON {on} "
                "WHEN MATCHED THEN UPDATE SET * "
                "WHEN NOT MATCHED THEN INSERT *"
            )
            n = deduped.count()
        finally:
            deduped.unpersist()
        self.spark.sql(
            f"INSERT INTO {self.commits_table} VALUES ({int(batch_id)}, {int(n)})"
        )

    def foreach_batch_handler(self):
        return lambda df, bid: self.process_batch(df, bid)

    # -- read path ----------------------------------------------------------

    def committed_batches(self) -> list[int]:
        return [
            r[0]
            for r in self.spark.sql(
                f"SELECT batch_id FROM {self.commits_table} ORDER BY batch_id"
            ).collect()
        ]

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.table(self.table)

    def manifests(self) -> list[dict]:
        """Iceberg snapshot metadata — the manifest-sidecar analog."""
        return [
            r.asDict()
            for r in self.spark.sql(
                f"SELECT snapshot_id, committed_at, operation, summary "
                f"FROM {self.table}.snapshots ORDER BY committed_at"
            ).collect()
        ]
