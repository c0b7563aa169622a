"""Grouped top-k with MAP-SIDE PARTIAL TRIMMING.

"Keep the k best rows per group" is the curation primitive behind
per-source quality filtering, per-query candidate cut-offs, and
per-stratum exemplar selection. The naive Spark formulation —
``row_number() OVER (PARTITION BY key ORDER BY score)`` + filter — is
correct but shuffles EVERY input row to the rank stage; at 10^12 rows
that is the whole table moving for an output of k·|groups| rows.

This operator restores the missing map-side combine:

  1. **partial trim** (``mapInPandas``): within each input partition,
     per Arrow batch, keep only the k best rows per key (vectorized
     ``np.lexsort`` + first-k-per-group mask — no per-row Python). A
     partition with B batches forwards ≤ k·B rows per key instead of
     all of them, so the shuffle carries O(k · groups-per-mapper ·
     batches) rows — the same asymptotics a combiner gives sum/count.
  2. **final rank**: the standard window rank over the trimmed set.
     Rows surviving phase 1 are a superset of the true top-k (any row
     in the global top-k is in its batch's top-k), so the result is
     exactly the naive plan's.

Determinism: ties on the order column are broken by ``tiebreak`` (must
be unique within a group — e.g. a primary key), which both phases use,
so the output is unique and oracle-hashable.

The same shape with a hash of the key as the order column is a
deterministic uniform per-group sample; with ``ascending=True`` it is
bottom-k (outlier trimming).

Reference parity: generalizes the reference's per-day rank features
(``gold_ml_training_job.py:100-109``, W10) from "rank everything" to
"materialize only the top k" — the formulation that survives when the
rank's input is the whole corpus rather than 11 assets.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _nan_to_null(df: DataFrame, order_col: str) -> DataFrame:
    """The family's NaN contract (see grouped_topk): float NaN scores
    become NULL before any ranking."""
    from pyspark.sql import types as T

    if isinstance(df.schema[order_col].dataType, (T.FloatType, T.DoubleType)):
        c = F.col(order_col)
        df = df.withColumn(
            order_col, F.when(F.isnan(c), F.lit(None)).otherwise(c)
        )
    return df


def _partial_trim(
    keys: list[str], order_col: str, k: int, tiebreak: str, ascending: bool
):
    """Per-Arrow-batch top-k-per-key mask, fully vectorized."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) <= k:  # cannot exceed k per key
                yield pdf
                continue
            # group id per row (single key fast path avoids a join of cols)
            if len(keys) == 1:
                gid = pd.factorize(pdf[keys[0]], use_na_sentinel=False)[0]
            else:
                gid = pd.MultiIndex.from_frame(pdf[keys]).factorize(
                    use_na_sentinel=False
                )[0]
            order = pdf[order_col].to_numpy()
            # a NaN here is always a JVM NULL: _nan_to_null turned every
            # true NaN score into NULL upstream, and Arrow hands NULLs to
            # pandas as NaN. So rank them with Spark's null placement —
            # first ascending, last descending — tiebroken like any
            # other value, and the k-per-key bound holds for them too
            null = np.zeros(len(order), dtype=bool)
            if np.issubdtype(order.dtype, np.floating):
                null = np.isnan(order)
                order = np.where(null, 0.0, order)
            tb = pdf[tiebreak].to_numpy()
            # lexsort is ascending-only: sort by (gid, null placement,
            # order in the requested direction, tiebreak asc)
            if not ascending:
                idx = np.lexsort((tb, -order, null, gid))
            else:
                idx = np.lexsort((tb, order, ~null, gid))
            g_sorted = gid[idx]
            # rank within group = position - first position of the group
            new_grp = np.empty(len(g_sorted), dtype=bool)
            new_grp[0] = True
            new_grp[1:] = g_sorted[1:] != g_sorted[:-1]
            starts = np.maximum.accumulate(
                np.where(new_grp, np.arange(len(g_sorted)), 0)
            )
            keep = (np.arange(len(g_sorted)) - starts) < k
            yield pdf.iloc[np.sort(idx[keep])]

    return fn


def grouped_topk(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    k: int,
    tiebreak: str,
    ascending: bool = False,
) -> DataFrame:
    """Top-k rows per group by ``order_col`` (desc by default), tiebroken
    by ``tiebreak`` asc (must be unique per group). Adds ``rank`` (1..k).
    Map-side trimmed: the shuffle into the final rank carries at most
    k rows per key per Arrow batch, never the full table.

    NaN CONTRACT: a float NaN score is normalized to NULL before
    ranking (both here and in the naive twin — they must agree). This
    is forced by the Arrow boundary, which maps NaN → NULL on the way
    back from the Python trim, so Spark's native NaN ordering (NaN >
    everything) cannot survive a mapInPandas round trip; "undefined
    score = no preference" (ranked with the nulls) is the coherent
    contract for a curation cut-off anyway (r5 review; pinned in
    test_topk with planted NULL and NaN scores)."""
    keys = list(keys)
    df = _nan_to_null(df, order_col)
    trimmed = df.mapInPandas(
        _partial_trim(keys, order_col, k, tiebreak, ascending), df.schema
    )
    direction = F.col(order_col).asc() if ascending else F.col(order_col).desc()
    w = Window.partitionBy(*keys).orderBy(direction, F.col(tiebreak).asc())
    return (
        trimmed.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(*df.columns, "rank")
    )


def grouped_topk_naive(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    k: int,
    tiebreak: str,
    ascending: bool = False,
) -> DataFrame:
    """The window-only formulation (shuffles every row) — kept as the
    equivalence twin for tests; do not use on large inputs. Shares the
    family NaN contract (NaN normalized to NULL — see grouped_topk)."""
    df = _nan_to_null(df, order_col)
    direction = F.col(order_col).asc() if ascending else F.col(order_col).desc()
    w = Window.partitionBy(*list(keys)).orderBy(direction, F.col(tiebreak).asc())
    return (
        df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(*df.columns, "rank")
    )
