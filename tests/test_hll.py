"""HyperLogLog: error-bound contracts vs the exact countDistinct twin
plus a bit-equal numpy reference (the HLL / GK / Misra-Gries sketch rule
— approximate ops are graded by their guarantees, never a value hash).
The max-merge algebra (idempotent replays) is pinned on the sink."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR
from crypto_near_real_time_data_ingestion_spark.operators.hll import (
    _floor_log2_u64,
    hll_build,
    hll_estimate,
    hll_merge,
    hll_reference,
    hll_salt,
    hll_standard_error,
)
from crypto_near_real_time_data_ingestion_spark.plans import documents_gold as dg

P = 12  # 4096 registers, stderr ≈ 1.6%


def _tokens(spark):
    from crypto_near_real_time_data_ingestion_spark.functions.text import word_tokens

    return (
        dg.read_documents(spark, SF_DIR)
        .filter(F.col("text").isNotNull())
        .select(F.explode(word_tokens(F.col("text"))).alias("token"))
    )


def _regs_dict(sketch_df) -> dict[int, int]:
    return {r["bucket"]: r["rho"] for r in sketch_df.collect()}


def test_floor_log2_exact_near_boundaries():
    """The vectorized floor-log2 must be exact where float log2 rounds
    wrong: 2^k − 1 / 2^k / 2^k + 1 across the width, incl. > 2^53."""
    xs, want = [], []
    for k in range(1, 64):
        xs += [(1 << k) - 1, 1 << k]
        want += [k - 1, k]
        if k < 63:
            xs.append((1 << k) + 1)
            want.append(k)
    got = _floor_log2_u64(np.array(xs, dtype=np.uint64))
    assert got.tolist() == want


def test_hll_matches_numpy_reference_bit_exact(spark):
    """The distributed build equals a single-machine numpy build from
    the same salted xxhash64 values, register for register."""
    toks = _tokens(spark).repartition(16)
    sketch = hll_build(toks, "token", p=P)
    h64 = np.array(
        [
            r["h64"]
            for r in toks.select(
                F.xxhash64(
                    F.concat(F.lit(hll_salt(0)), F.col("token"))
                ).alias("h64")
            ).collect()
        ],
        dtype=np.int64,
    )
    ref = hll_reference(h64, P)
    got = _regs_dict(sketch)
    want = {int(b): int(ref[b]) for b in np.nonzero(ref)[0]}
    assert got == want


def test_hll_estimate_within_error_bound(spark):
    """|est − exact| ≤ 4·(1.04/√m)·exact on the corpus vocabulary —
    well outside the published standard error only with probability
    ≪ 1e-4, and deterministic for the fixed corpus/salt."""
    toks = _tokens(spark)
    exact = toks.select("token").distinct().count()
    est = hll_estimate(hll_build(toks, "token", p=P), P).collect()[0][
        "n_distinct_est"
    ]
    assert abs(est - exact) <= 4 * hll_standard_error(P) * exact


def test_hll_linear_counting_small_range(spark):
    """At cardinality ≪ m the estimator is in the linear-counting
    regime and should be essentially exact (every register collision
    is corrected by the occupancy formula)."""
    df = spark.range(100).select(F.concat(F.lit("item-"), F.col("id")).alias("x"))
    est = hll_estimate(hll_build(df, "x", p=P), P).collect()[0]["n_distinct_est"]
    assert abs(est - 100) <= 2


def test_hll_duplicates_are_absorbed(spark):
    """The sketch of a multiset equals the sketch of its support —
    bit-equal registers (max absorbs repeats); that IS the point."""
    toks = _tokens(spark)
    assert _regs_dict(hll_build(toks, "token", p=P)) == _regs_dict(
        hll_build(toks.distinct(), "token", p=P)
    )


def test_hll_merge_equals_union_and_partition_invariance(spark):
    docs = dg.read_documents(spark, SF_DIR).filter(F.col("text").isNotNull())
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    sa = hll_build(a, "text", p=P)
    sb = hll_build(b, "text", p=P)
    merged = _regs_dict(hll_merge(sa, sb))
    union = _regs_dict(hll_build(docs, "text", p=P))
    assert merged == union
    # partition invariance: the per-partition fold is max all the way up
    assert _regs_dict(hll_build(docs.repartition(1), "text", p=P)) == union
    # idempotence of the merge algebra itself: merge(s, s) ≡ s
    assert _regs_dict(hll_merge(sa, sa)) == _regs_dict(sa)


def test_hll_nulls_and_validation(spark):
    df = spark.createDataFrame([("a",), (None,), ("b",)], ["x"])
    no_null = spark.createDataFrame([("a",), ("b",)], ["x"])
    assert _regs_dict(hll_build(df, "x", p=8)) == _regs_dict(
        hll_build(no_null, "x", p=8)
    )
    for bad in (3, 25):
        with pytest.raises(ValueError, match="p must be"):
            hll_build(df, "x", p=bad)


def test_hll_windowed_registers_bit_equal_per_window_builds(spark, transcripts_parquet):
    """The one-pass windowed build equals running the flat build on each
    window's slice independently — register for register, window for
    window (the factorized fold is max all the way up, like the flat
    one), regardless of how rows are partitioned."""
    from crypto_near_real_time_data_ingestion_spark.operators.hll import (
        hll_windowed_build,
    )
    from crypto_near_real_time_data_ingestion_spark.sources import read_transcripts

    turns = read_transcripts(spark, transcripts_parquet).repartition(16).persist()
    got = {
        (r["window_start"], r["bucket"]): r["rho"]
        for r in hll_windowed_build(turns, "conv_id", "ts", "1 hour", p=8).collect()
    }
    windows = [
        r["w"]
        for r in turns.select(F.window("ts", "1 hour").start.alias("w"))
        .distinct()
        .collect()
    ]
    want = {}
    for w in windows:
        # one task per window: a slice is a few hundred rows
        slice_df = turns.filter(F.window("ts", "1 hour").start == w).coalesce(1)
        for b, rho in _regs_dict(hll_build(slice_df, "conv_id", p=8)).items():
            want[(w, b)] = rho
    turns.unpersist()
    assert got == want


def test_hll_windowed_estimates_within_bound(spark, transcripts_parquet):
    """Per-window estimates vs per-window exact countDistinct, every
    window within 4 standard errors (p=12 ⇒ 1.6% stderr; the driver
    corpus windows are small enough to sit in the near-exact
    linear-counting regime, so this bound is loose on purpose)."""
    from crypto_near_real_time_data_ingestion_spark.operators.hll import (
        hll_windowed_build,
        hll_windowed_estimate,
    )
    from crypto_near_real_time_data_ingestion_spark.sources import read_transcripts

    turns = read_transcripts(spark, transcripts_parquet)
    sk = hll_windowed_build(turns, "conv_id", "ts", "1 hour", p=P)
    est = {
        r["window_start"]: r["n_distinct_est"]
        for r in hll_windowed_estimate(sk, P).collect()
    }
    exact = {
        r["w"]: r["n"]
        for r in turns.groupBy(F.window("ts", "1 hour").start.alias("w"))
        .agg(F.countDistinct("conv_id").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    tol = 4 * hll_standard_error(P)
    for w, n in exact.items():
        assert abs(est[w] - n) <= max(tol * n, 2.0), (w, est[w], n)


def test_hll_sink_merge_replay_and_compaction(spark, tmp_path):
    """End-to-end sink contract: per-batch register deltas MAX-merge to
    the union sketch; a replayed delta is a no-op BY ALGEBRA (not just
    via the commit log); compaction + param binding hold."""
    import shutil

    from crypto_near_real_time_data_ingestion_spark.streaming.sinks import HllSink

    docs = dg.read_documents(spark, SF_DIR).filter(F.col("text").isNotNull())
    batches = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    sink = HllSink(str(tmp_path / "hll"), p=P)
    for i, b in enumerate(batches):
        sink.process_batch(hll_build(b, "text", p=P), i)
    union = _regs_dict(hll_build(docs, "text", p=P))
    assert _regs_dict(sink.read(spark)) == union

    # commit-log replay: a committed batch id is skipped
    sink.process_batch(hll_build(batches[0], "text", p=P), 0)
    assert _regs_dict(sink.read(spark)) == union

    # ALGEBRAIC replay tolerance: duplicate batch 0's delta directory
    # wholesale (as if exactly-once bookkeeping failed and the same
    # registers landed twice under a new id) — the max-merge read view
    # must not move. This is the property the SUM-merge sinks do NOT
    # have; their commit log is load-bearing, this one's is lineage.
    src = sink.data_dir + "/batch-00000000"
    shutil.copytree(src, sink.data_dir + "/batch-00000099")
    with open(sink._commit_marker(99), "w") as f:
        f.write("{}")
    assert _regs_dict(sink.read(spark)) == union

    # compaction folds everything into one snapshot, same view
    res = sink.compact(spark)
    assert res["compacted_deltas"] >= 3
    assert _regs_dict(sink.read(spark)) == union
    # estimate() answers through the merged view within the bound
    exact = docs.select("text").distinct().count()
    est = sink.estimate(spark).collect()[0]["n_distinct_est"]
    assert abs(est - exact) <= 4 * hll_standard_error(P) * exact

    # parameter binding: reopen with different p or seed is refused
    with pytest.raises(ValueError, match="refusing to reopen"):
        HllSink(str(tmp_path / "hll"), p=P + 1)
    with pytest.raises(ValueError, match="refusing to reopen"):
        HllSink(str(tmp_path / "hll"), p=P, seed=7)


def test_windowed_build_drops_null_ts(spark):
    """NULL ts rows must drop with NULL items: unfiltered they
    factorized to code -1 and the flat-array fold wrapped the negative
    index into the LAST real window's registers (r5 review)."""
    import pandas as pd

    from crypto_near_real_time_data_ingestion_spark.operators.hll import (
        hll_windowed_build,
        hll_windowed_estimate,
    )

    base = pd.DataFrame(
        {
            "conv_id": [f"c{i}" for i in range(50)],
            "ts": pd.to_datetime(["2024-01-01 10:00"] * 50),
        }
    )
    poisoned = pd.concat(
        [base, pd.DataFrame({"conv_id": ["zz1", "zz2"], "ts": [pd.NaT, pd.NaT]})]
    )
    clean = hll_windowed_build(spark.createDataFrame(base), "conv_id", p=12)
    dirty = hll_windowed_build(spark.createDataFrame(poisoned), "conv_id", p=12)
    c = hll_windowed_estimate(clean, p=12).toPandas()
    d = hll_windowed_estimate(dirty, p=12).toPandas()
    # one real window either way, identical estimate — the NULL-ts rows
    # neither create a window nor inflate the real one
    assert len(c) == len(d) == 1
    assert float(c.n_distinct_est.iloc[0]) == float(d.n_distinct_est.iloc[0])

    # an all-NULL-ts batch is a no-op, not an IndexError
    only_null = spark.createDataFrame(
        pd.DataFrame({"conv_id": ["a"], "ts": [pd.NaT]})
    )
    assert hll_windowed_build(only_null, "conv_id", p=12).count() == 0
