"""Hypothesis properties for the pure-numpy kernels that grade-critical
paths stand on (no Spark session — these run hundreds of examples):

- ``ann._round6_half_away`` vs decimal ROUND_HALF_UP — the grid every
  cosine oracle comparison happens on;
- ``bloom._test_bits`` vs a per-bit python reference (signed int64
  shifts are the trap it exists to handle);
- the Count-Min kernel (``cms_reference``/``cms_cols``): never an
  underestimate, per-row conservation, and bit-exact mergeability for
  arbitrary hash multisets and (width, depth, seed).
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from crypto_near_real_time_data_ingestion_spark.operators.ann import _round6_half_away
from crypto_near_real_time_data_ingestion_spark.operators.bloom import _test_bits


@settings(max_examples=500, deadline=None)
@given(st.integers(min_value=-(2**31), max_value=2**31))
def test_round6_half_away_matches_decimal(n):
    # off-grid values (a prime-ish divisor keeps x away from exact
    # decimal-microsixth boundaries); the oracle quantizes the EXACT
    # binary value of x (Decimal(x), never repr) half-up
    x = n / 999_999_937.0
    got = float(_round6_half_away(np.asarray([x], dtype=np.float64))[0])
    d = Decimal(x) * 1_000_000
    frac = abs(d - d.to_integral_value())
    if abs(frac - Decimal("0.5")) < Decimal("1e-9"):
        return  # inside the float-multiply ulp band of a tie: undefined
    want = float(
        Decimal(x).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
    )
    assert got == want, (x, got, want)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=64 * 8 - 1), min_size=1, max_size=64),
    st.lists(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        min_size=8,
        max_size=8,
    ),
)
def test_bloom_bit_test_matches_reference(positions, word_values):
    words = np.asarray(word_values, dtype=np.int64)
    pos = np.asarray(positions, dtype=np.int64)
    got = _test_bits(pos, words)
    for p, g in zip(positions, got):
        want = bool((int(words[p >> 6]) >> (p & 63)) & 1) if int(words[p >> 6]) >= 0 else bool(
            ((int(words[p >> 6]) + (1 << 64)) >> (p & 63)) & 1
        )
        assert bool(g) == want


# ---------------------------------------------------------------------------
# Count-Min numpy kernel: est >= true for every item and merge == union,
# for ANY multiset of 64-bit hashes and any (width, depth, seed)
# ---------------------------------------------------------------------------

h64s = st.lists(
    st.integers(min_value=-(2**63), max_value=2**63 - 1), min_size=0, max_size=200
)


@settings(max_examples=200, deadline=None)
@given(
    hs=h64s,
    log_w=st.integers(min_value=1, max_value=10),
    depth=st.integers(min_value=1, max_value=6),
    seed=st.integers(min_value=0, max_value=3),
)
def test_cms_kernel_never_underestimates_and_merges(hs, log_w, depth, seed):
    from collections import Counter

    from crypto_near_real_time_data_ingestion_spark.operators.countmin import (
        cms_cols,
        cms_hash_params,
        cms_reference,
    )

    width = 1 << log_w
    arr = np.array(hs, dtype=np.int64)
    mat = cms_reference(arr, width, depth, seed)
    # shape + conservation: every depth row folds every occurrence
    assert mat.shape == (depth, width)
    assert (mat.sum(axis=1) == len(hs)).all()
    # point-query property: min over depth rows >= true multiplicity
    mults = cms_hash_params(depth, seed)
    true = Counter(hs)
    for h, cnt in true.items():
        cols = cms_cols(np.array([h], dtype=np.int64), mults, width)[:, 0]
        est = min(int(mat[i, int(cols[i])]) for i in range(depth))
        assert est >= cnt
    # mergeability: sketch(A) + sketch(B) == sketch(A ++ B), bit-exact
    cut = len(arr) // 2
    merged = cms_reference(arr[:cut], width, depth, seed) + cms_reference(
        arr[cut:], width, depth, seed
    )
    assert np.array_equal(merged, mat)
