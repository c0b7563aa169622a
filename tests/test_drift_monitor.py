"""Streaming drift monitor (streaming/drift_monitor.py): the per-window
token histogram maintained exactly-once through the additive sink, and
the read-side JS/TV scored against a reference corpus.

Oracles: the merged histogram is BIT-equal to the batch windowed token
count over the same corpus (integer counts — exact), and each window's
divergences equal the batch ``corpus_drift`` of (that window's docs,
reference) — the single-definition formula, float tolerance venue.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from crypto_near_real_time_data_ingestion_spark.datagen.flush import (
    FLUSH_CONV_ID,
    build_flushed_source,
)
from crypto_near_real_time_data_ingestion_spark.operators.drift import corpus_drift
from crypto_near_real_time_data_ingestion_spark.sources import read_transcripts
from crypto_near_real_time_data_ingestion_spark.streaming.drift_monitor import (
    run_drift_monitor_to_completion,
    token_window_counts,
    windowed_drift,
)

WORK = "/tmp/spark_graft_test_drift_monitor"


@pytest.fixture(scope="module")
def drained_sink(spark, stream_parquet_dir):
    shutil.rmtree(WORK, ignore_errors=True)
    fsrc = build_flushed_source(stream_parquet_dir, os.path.join(WORK, "source"))
    return run_drift_monitor_to_completion(
        spark, fsrc, WORK, max_files_per_trigger=8, shuffle_partitions=4
    )


def _corpus(spark, transcripts_parquet):
    return read_transcripts(spark, transcripts_parquet).filter(
        F.col("conv_id") != FLUSH_CONV_ID
    )


def test_window_width_reopen_refused(drained_sink):
    """Histograms from different window grains must never sum: a reopen
    with a different window is refused by the params sidecar (the CMS
    seed-mismatch guard class)."""
    from crypto_near_real_time_data_ingestion_spark.streaming.drift_monitor import (
        WindowedTokenHistSink,
    )

    with pytest.raises(ValueError, match="refusing to reopen"):
        WindowedTokenHistSink(drained_sink.table_dir, window="30 minutes")
    # same window reopens fine
    WindowedTokenHistSink(drained_sink.table_dir, window="1 hour")


def test_histogram_equals_batch_windowed_counts(
    spark, transcripts_parquet, drained_sink
):
    """Exactly-once additive maintenance: the merged (window, token)
    histogram over the drained stream == one batch aggregation over the
    whole corpus (integer counts, bit-exact)."""
    got = drained_sink.read(spark)
    want = token_window_counts(_corpus(spark, transcripts_parquet))
    diff = got.join(
        want.withColumnRenamed("count", "want"),
        ["window_start", "token"],
        "full_outer",
    ).filter(
        F.coalesce(F.col("count"), F.lit(-1)) != F.coalesce(F.col("want"), F.lit(-1))
    )
    assert diff.count() == 0
    assert got.count() > 0


def test_replay_is_noop(spark, transcripts_parquet, drained_sink):
    """Additive merges are not replay-idempotent — the commit log is
    load-bearing: re-processing a committed batch id changes nothing."""
    before = drained_sink.read(spark).agg(F.sum("count")).first()[0]
    some_batch = drained_sink.committed_batches()[0]
    replay = token_window_counts(
        _corpus(spark, transcripts_parquet).limit(200)
    )
    drained_sink.process_batch(replay, some_batch)
    after = drained_sink.read(spark).agg(F.sum("count")).first()[0]
    assert after == before


def test_windowed_drift_matches_per_window_batch_drift(
    spark, transcripts_parquet, drained_sink
):
    """Each window's (js, tv) against the reference == the batch
    corpus_drift of (that window's docs, reference). The reference is
    the corpus's FIRST half by conversation hash — so later windows
    genuinely drift and the assertion is non-vacuous."""
    corpus = _corpus(spark, transcripts_parquet)
    reference = corpus.filter(F.crc32(F.col("conv_id")) % 2 == 0)
    got = windowed_drift(spark, drained_sink, reference).toPandas()
    assert len(got) > 1
    assert got["js_divergence"].notna().all()
    # spot-check every window against the batch op (few windows at
    # this sf; corpus_drift is the single-definition formula)
    for _, row in got.iterrows():
        w_docs = corpus.filter(
            F.window("ts", "1 hour")["start"] == row.window_start
        )
        want = corpus_drift(w_docs, reference).first()
        assert row.js_divergence == pytest.approx(
            want["js_divergence"], rel=1e-9, abs=1e-12
        )
        assert row.total_variation == pytest.approx(
            want["total_variation"], rel=1e-9, abs=1e-12
        )
        assert row.n_tokens_window == want["n_tokens_a"]
        assert row.n_tokens_ref == want["n_tokens_b"]
    # sanity: identical distributions score 0 (reference vs itself)
    self_drift = corpus_drift(reference, reference).first()
    assert self_drift["js_divergence"] == pytest.approx(0.0, abs=1e-12)


def test_null_event_time_is_an_absence(spark):
    """A row with a NULL ``ts`` belongs to no window: it contributes no
    counts, rather than a NULL-keyed window row that windowed_drift's
    equality joins would strand."""
    rows = spark.createDataFrame(
        [("c1", "alpha beta", "2025-06-01 00:10:00"), ("c2", "alpha gamma", None)],
        "conv_id string, text string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {(r.token, r["count"]) for r in token_window_counts(rows).collect()}
    assert got == {("alpha", 1), ("beta", 1)}
    assert token_window_counts(rows).filter(F.col("window_start").isNull()).count() == 0
