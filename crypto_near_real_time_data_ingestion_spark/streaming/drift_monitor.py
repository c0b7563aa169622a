"""Streaming corpus-drift monitor: per-event-time-window token
distributions maintained exactly-once, scored against a reference
corpus at read time.

The batch op (``operators/drift.py``) answers "did release n move vs
n−1"; production wants the CONTINUOUS form — "is this hour's incoming
text drifting from the corpus we trained on" — without ever storing
the stream. Shape:

  * write path: each micro-batch folds to (window_start, token, count)
    partials (map-side combine; shuffle ∝ per-batch per-window
    vocabulary) and lands as a delta in a SUM-merge additive sink —
    the ``AdditiveSummarySink`` contract: additive merges are NOT
    replay-idempotent, so the batch-id commit log is what makes the
    running histogram exactly-once.
  * read path: the merged per-window histograms join the reference
    corpus's unigram distribution once (vocabulary-sized, the
    ``doc_unigram_logprob`` regime) and every window's JS/TV comes out
    of ONE aggregate — ``operators/drift._divergence_terms`` is the
    single formula definition, so the streaming monitor, the batch
    release-QA op, and the sketch floor can never drift apart
    (CLAUDE.md single-definition rule).

State is bounded by (windows retained × vocabulary), not stream
length; windows age out with sink compaction like any other key. Float
venue: ln()-based — pytest tolerance oracle (per-window equality with
the batch ``corpus_drift``), never a value-hash driver entry.

Reference parity: the reference's QA layer compares per-window
aggregate profiles across runs (``gold_features_base_job.py`` grouped
rollups); this is that comparison generalized to full distributions
and made continuous.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import word_tokens
from ..operators.drift import _divergence_terms
from .sinks import ParquetMergeSink


class WindowedTokenHistSink(ParquetMergeSink):
    """SUM-merge additive sink keyed by (window_start, token).

    Binds its WINDOW WIDTH in the shared sketch-params sidecar
    (``_bind_sketch_params``): histograms from different window grains
    must never sum — a reopen with a different ``window`` would
    silently merge 30-minute keys into an hourly pile (the CMS
    seed-mismatch class of corruption) and is refused instead."""

    def __init__(self, table_dir: str, window: str = "1 hour"):
        super().__init__(table_dir, keys=["window_start", "token"], event_time_col=None)
        from .sinks import _bind_sketch_params

        self.window = window
        _bind_sketch_params(
            table_dir, "_drift_hist_params.json",
            {"window": window}, "windowed token histogram",
        )

    def _compact_frame(self, df: DataFrame) -> DataFrame:
        # additive fold (one definition serves snapshot writer + reads,
        # like AdditiveSummarySink): pointwise sum per (window, token)
        return df.groupBy("window_start", "token").agg(
            F.sum("count").alias("count")
        )


def token_window_counts(
    bdf: DataFrame, window: str = "1 hour", text_col: str = "text"
) -> DataFrame:
    """Per-micro-batch partial histogram: (window_start, token, count).
    ``word_tokens`` is the family-wide tokenizer (single definition),
    so the monitored distribution is exactly the one heavy hitters /
    DSIR / unigram scoring see."""
    from ..datagen.flush import FLUSH_CONV_ID

    # a NULL event time belongs to no window: it is an absence, as in
    # the sketch family (hll_windowed_build), not a NULL-keyed window
    d = bdf.filter(F.col(text_col).isNotNull() & F.col("ts").isNotNull())
    if "conv_id" in bdf.columns:
        # sentinel rows must be excluded at WRITE time — an additive
        # sink cannot un-count them (the MG/CMS fold rule)
        d = d.filter(F.col("conv_id") != FLUSH_CONV_ID)
    return (
        d.select(
            F.window("ts", window)["start"].alias("window_start"),
            F.explode(word_tokens(F.col(text_col))).alias("token"),
        )
        .groupBy("window_start", "token")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def windowed_drift(
    spark: SparkSession,
    sink: WindowedTokenHistSink,
    reference_docs: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """One row per window: (window_start, js_divergence,
    total_variation, n_tokens_window, n_tokens_ref) — how far each
    window's word distribution sits from the reference corpus's. Same
    null semantics as ``corpus_drift``: a window with no tokens (or an
    empty reference) reports NULL divergences, never 0.

    Scale shape: the reference histogram is computed ONCE
    (vocabulary-sized) and joined full-outer per window — shuffle ∝
    windows × vocabulary union, nothing ∝ stream length. Per-window
    equality with the batch ``corpus_drift`` is the pytest oracle."""
    from ..operators.heavy_hitters import token_counts_exact

    win = sink.read(spark).withColumnRenamed("count", "cw")
    ref = (
        token_counts_exact(reference_docs, text_col)
        .withColumnRenamed("count", "cr")
    )
    # every window must see the FULL reference vocabulary (a token the
    # window lacks contributes q·ln(q/m) mass): cross the window list
    # with the reference histogram, then overlay the window counts
    windows = win.select("window_start").distinct()
    grid = windows.crossJoin(ref)  # windows × vocab — bounded, no stream term
    joined = grid.join(win, ["window_start", "token"], "full_outer").select(
        "window_start",
        F.coalesce(F.col("cw"), F.lit(0)).alias("cw"),
        F.coalesce(F.col("cr"), F.lit(0)).alias("cr"),
    )
    totals = joined.groupBy("window_start").agg(F.sum("cw").alias("nw"))
    n_ref = ref.agg(F.coalesce(F.sum("cr"), F.lit(0)).alias("nr"))
    with_p = joined.join(totals, "window_start").crossJoin(F.broadcast(n_ref))
    p = F.when(F.col("nw") > 0, F.col("cw") / F.col("nw")).otherwise(F.lit(0.0))
    q = F.when(F.col("nr") > 0, F.col("cr") / F.col("nr")).otherwise(F.lit(0.0))
    js_term, tv_term = _divergence_terms(p, q)
    guard = (F.col("nw") > 0) & (F.col("nr") > 0)
    return (
        with_p.groupBy("window_start", "nw", "nr")
        .agg(
            F.sum(F.when(guard, js_term)).alias("js_divergence"),
            F.sum(F.when(guard, tv_term)).alias("total_variation"),
        )
        .select(
            "window_start",
            "js_divergence",
            "total_variation",
            F.col("nw").alias("n_tokens_window"),
            F.col("nr").alias("n_tokens_ref"),
        )
    )


def run_drift_monitor_to_completion(
    spark: SparkSession,
    source_dir: str,
    work_dir: str,
    window: str = "1 hour",
    max_files_per_trigger: int = 8,
    shuffle_partitions: int | None = None,
) -> WindowedTokenHistSink:
    """Drain a transcripts file stream through the monitor (foreachBatch
    — per-batch partials need no watermark: the additive fold is
    order- and batching-independent, late rows just add to their
    window's histogram; retention is sink compaction, the same
    coordination point as every other sink)."""
    import os

    from ..sources import read_transcripts_stream
    from .engine import _check_sink_alignment

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    sink = WindowedTokenHistSink(
        os.path.join(work_dir, "tables", "drift_hist"), window=window
    )
    ckpt = os.path.join(work_dir, "checkpoints", "drift_hist")
    _check_sink_alignment(ckpt, "drift_hist", sink, None)
    try:
        q = (
            read_transcripts_stream(spark, source_dir, max_files_per_trigger)
            .writeStream.queryName("drift_hist")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .foreachBatch(
                lambda bdf, bid: sink.process_batch(
                    token_window_counts(bdf, window), bid
                )
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return sink
