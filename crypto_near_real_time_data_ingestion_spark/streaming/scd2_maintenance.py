"""Streaming SCD Type 2 dimension maintenance: incremental view
maintenance of the validity-interval dimension via foreachBatch.

The batch pair (``operators/scd2.py``) gives history = full rebuild and
apply = touched-key rebuild; this runner turns apply into the nightly/
continuous dimension job the lakehouse actually runs: each micro-batch
of change-log rows rebuilds ONLY its touched keys against the sink's
current merged view and MERGEs them back (key = (dimension key,
version) — under the append-only contract a key's version list only
extends, so the merge can never leave stale higher versions).

Exactly-once: the sink's per-batch commit log makes replays no-ops, and
because a crashed batch's delta is uncommitted, the recomputation on
restart reads the same pre-batch dimension view it read the first time.
No watermark is needed — foreachBatch sees whole micro-batches and the
ts-ordered source IS the append-only contract; late data goes back to
the bronze replay path (see the operator docstring).

A dimension this maintains composes directly with ``scd2_lookup``
(point-in-time fact enrichment) and the sink's own ``compact`` /
``read_as_of`` maintenance — time travel over dimension history comes
for free from the MERGE sink's versioned deltas.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.scd2 import TIER_WIDTH, _tiered, scd2_history, scd2_rebuild_touched


def run_scd2_maintenance_to_completion(
    spark: SparkSession,
    source_dir: str,
    work_dir: str,
    tier_width: float = TIER_WIDTH,
    max_files_per_trigger: int = 1,
    shuffle_partitions: int | None = None,
):
    """Drain a ts-ordered events file stream through incremental SCD2
    maintenance; returns the MERGE sink holding the dimension. Same
    resume-safety + verification-scale partition rationale as the other
    stateful runners."""
    from .engine import drain_file_stream

    def handler(sink):
        def handle(batch_df: DataFrame, batch_id: int) -> None:
            updates = _tiered(batch_df, tier_width)
            try:
                current = sink.read(spark)
            except FileNotFoundError:
                # first batch: nothing stored — the rebuild IS the history
                rebuilt = scd2_history(updates)
            else:
                rebuilt = scd2_rebuild_touched(current, updates)
            sink.process_batch(rebuilt, batch_id)

        return handle

    return drain_file_stream(
        spark, source_dir, work_dir, "scd2_dim",
        ["user_id", "event_type", "version"], lambda src: src, "update",
        max_files_per_trigger, shuffle_partitions, handler,
    )
