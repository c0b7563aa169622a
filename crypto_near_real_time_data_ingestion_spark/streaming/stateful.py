"""Per-conversation stateful rolling features (applyInPandasWithState).

The north-star custom operator: per-conversation state holding a sorted
turn buffer + running aggregates, with watermark-driven emission and
event-time-timeout eviction. Streaming counterpart of the batch
``plans/gold_features.conv_features`` plan (its equivalence oracle) for
the *causal* feature columns — everything computable from turns at or
before the current one:

  turn_count, max_turn_idx, tool_call_rate,
  inter_turn_latency_p50/p95/p99 (expanding exact percentiles),
  rolling_turns_10m, session_id, session_start

(`session_end` is future-looking in the batch plan — the final end of the
session — so it is not emitted here.)

Emission discipline: arriving turns are buffered in state; a turn is
emitted only once the watermark has passed its event time, in strict
(ts, turn_idx) order — so late arrivals within the watermark slot into
their correct position BEFORE feature computation, and the emitted
features are byte-equal to the batch plan's. Duplicates are dropped
against the buffered + emitted turn_idx set (exact dedup inside the
operator, because Spark does not allow a second stateful operator
upstream of applyInPandasWithState in the same chain).

State size is O(turns per conversation) — the gap array backs exact
percentiles. Conversations are length-bounded in this domain; for
unbounded keys swap the array for a mergeable quantile sketch (KLL /
t-digest) at the cost of exactness, and the rest of the state stays O(1).

Eviction contract: a conversation's aggregates are dropped once the
watermark passes ``last activity + 2*gap_s`` (state must be bounded —
keys are never "done" in an endless stream). A turn arriving after that
horizon (possible: the GLOBAL watermark is driven by other keys, and an
above-watermark event time can sit arbitrarily far ahead of it) REVIVES
the conversation with fresh lifetime aggregates — the same revival
semantics Spark's own ``session_window`` state has. Batch-plan
equivalence therefore holds for turns arriving within the eviction
horizon; the property test's watermark schedules
(``tests/test_stateful_cores.py::_wm_schedule``) span exactly the
schedules a real Spark watermark (max observed event time - delay) can
produce, under which the horizon cannot be crossed while a key's rows
are still in flight in the single-key case.

Bucketed state: Spark's state key is NOT the conversation but a hash
bucket of it, ``pmod(xxhash64(conv_id), N_BUCKETS)``. Every Python call
pays a fixed pandas/Arrow/pickle cost, so one call per bucket per batch
(instead of one per conversation, plus one more per fired timer) is the
lever — the arithmetic was never the cost. A bucket's state is a
columnar map: one array per ``STATE_SCHEMA`` field, one entry per
conversation, plus each conversation's own event-time timer. Inside a
call the bucket's rows are converted to numpy once and segmented by
``conv_id``; a conversation runs the unchanged per-conversation core
(``_step``) only when it has rows in this batch or its own timer is
below the watermark (``timer < wm``, Spark's firing rule), so every
conversation sees exactly the calls a per-conversation key would. The
bucket's timer is the minimum of its conversations' timers.

Inside ``_step`` the emission is vectorized: the buffered turns sorted
by (ts, turn_idx) make the ``ts < wm`` set a prefix, and counts, tool
rate, max turn, sessions and the 10-minute window come from cumsum /
accumulate / searchsorted over it. Only the sorted gap insert behind
the exact percentiles stays a per-turn loop.

Reference parity: this operator replaces the reference's per-entity
ordered window features (``gold_ml_training_job.py:57-109``, W5-W9)
with streaming keyed state; eviction mirrors watermark semantics the
reference approximates with daily batch boundaries.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

GAP_S_DEFAULT = 1800

# Spark state keys: conversations hash into this many buckets, and the
# Python state function runs once per bucket per micro-batch
N_BUCKETS = 64

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("as_of_ts", T.TimestampType()),
        T.StructField("turn_count", T.LongType()),
        T.StructField("max_turn_idx", T.IntegerType()),
        T.StructField("tool_call_rate", T.DoubleType()),
        T.StructField("inter_turn_latency_p50", T.DoubleType()),
        T.StructField("inter_turn_latency_p95", T.DoubleType()),
        T.StructField("inter_turn_latency_p99", T.DoubleType()),
        T.StructField("rolling_turns_10m", T.LongType()),
        T.StructField("session_id", T.IntegerType()),
        T.StructField("session_start", T.TimestampType()),
    ]
)

# per-conversation state: buffered (unemitted) turns + running aggregates
# over emitted turns
STATE_SCHEMA = T.StructType(
    [
        T.StructField("buf_turn_idx", T.ArrayType(T.IntegerType())),
        T.StructField("buf_ts_us", T.ArrayType(T.LongType())),
        T.StructField("buf_tool", T.ArrayType(T.BooleanType())),
        T.StructField("emitted_turn_idx", T.ArrayType(T.IntegerType())),
        T.StructField("gaps_us", T.ArrayType(T.DoubleType())),  # kept SORTED
        T.StructField("recent_ts_us", T.ArrayType(T.LongType())),
        T.StructField("emitted_count", T.LongType()),
        T.StructField("emitted_tool", T.LongType()),
        T.StructField("max_turn_idx", T.IntegerType()),
        T.StructField("last_ts_us", T.LongType()),
        T.StructField("session_id", T.IntegerType()),
        T.StructField("session_start_us", T.LongType()),
    ]
)

# per-bucket state: the columnar map conv_id → STATE_SCHEMA fields, plus
# each conversation's armed event-time timer
BUCKET_STATE_SCHEMA = T.StructType(
    [T.StructField("conv_id", T.ArrayType(T.StringType()))]
    + [T.StructField(f.name, T.ArrayType(f.dataType)) for f in STATE_SCHEMA.fields]
    + [T.StructField("timer_ms", T.ArrayType(T.LongType()))]
)

_EMPTY = ([], [], [], [], [], [], 0, 0, -1, -1, 0, -1)

_I64 = np.empty(0, dtype=np.int64)
_NO_ROWS = (_I64, _I64, np.empty(0, dtype=bool))
_NO_OUT = (
    np.empty(0, dtype=object), _I64, _I64, _I64, _I64,
    *(np.empty(0) for _ in range(4)), _I64, _I64, _I64,
)


# percentile interpolation + incremental sorted insert are SHARED with
# the batch applyInPandas twin (operators/rolling.py) — the state's gap
# array is kept sorted, so each emission costs one searchsorted insert
# (O(log n + move)) instead of a full re-sort (O(n log n) per row).
# BIT-identical to Spark `percentile` / DuckDB `quantile_cont` — see
# percentiles_from_sorted notes.
from ..operators.rolling import percentiles_from_sorted, sorted_insert  # noqa: E402


def _input_frame(pdf_iter: Iterator[pd.DataFrame]) -> pd.DataFrame | None:
    """The call's input chunks as one frame (arrival order), or None."""
    pdfs = [p for p in pdf_iter if len(p)]
    if not pdfs:
        return None
    return pdfs[0] if len(pdfs) == 1 else pd.concat(pdfs, ignore_index=True)


def _columns(pdf: pd.DataFrame | None) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(turn_idx, ts_us, has_tool) numpy columns of an input frame."""
    if pdf is None:
        return _NO_ROWS
    return (
        pdf["turn_idx"].to_numpy(dtype=np.int64),
        pdf["ts"].astype("datetime64[us]").astype("int64").to_numpy(),
        pdf["tool"].notna().to_numpy(),
    )


def _step(
    conv_id: str,
    ti: np.ndarray,
    ts: np.ndarray,
    tool: np.ndarray,
    st: tuple,
    wm_us: int,
    gap_s: int,
) -> tuple[tuple, tuple | None, int | None]:
    """Pure ingest+emit core of one conversation, called per conversation
    by the ``applyInPandasWithState`` bucket function.

    Takes the batch's rows as numpy columns (``turn_idx``, event time in
    µs, has-tool flag; arrival order) and the 12-field state tuple
    (layout = ``STATE_SCHEMA``), ingests the rows (exact dedup vs
    buffered+emitted), emits every buffered turn whose event time the
    watermark has STRICTLY passed — in strict (ts, turn_idx) order — and
    returns ``(out_columns, new_state | None-to-evict, timer_ms | None)``;
    ``out_columns`` holds one numpy array per ``OUTPUT_SCHEMA`` field
    (timestamps as µs), empty when nothing is emitted.
    Strictly: Spark drops late rows only when event-time < watermark,
    so a ``ts == wm`` row may still arrive and its tied peers must
    stay pending or the ordered running aggregates (gaps, sessions)
    would fold the tie out of order (the stateful_funnel boundary
    convention, applied to every sibling kernel round 5)."""
    (
        buf_ti, buf_ts, buf_tool, emitted_ti, gaps, recent,
        e_count, e_tool, max_ti, last_ts, sess_id, sess_start,
    ) = st
    b_ti = np.asarray(buf_ti, dtype=np.int64)
    b_ts = np.asarray(buf_ts, dtype=np.int64)
    b_tool = np.asarray(buf_tool, dtype=bool)
    emitted = np.asarray(emitted_ti, dtype=np.int64)  # kept sorted

    # --- ingest new rows (exact dedup vs buffered+emitted): first batch
    # occurrence per turn_idx, then one isin against the known set
    if len(ti):
        uniq, first_idx = np.unique(ti, return_index=True)
        sel = first_idx[~np.isin(uniq, np.concatenate([emitted, b_ti]))]
        b_ti = np.concatenate([b_ti, ti[sel]])
        b_ts = np.concatenate([b_ts, ts[sel]])
        b_tool = np.concatenate([b_tool, tool[sel]])

    # --- emit buffered turns whose event time < watermark, in order: in
    # (ts, turn_idx) order they are a prefix (ts == wm is still-arrivable
    # — see the docstring)
    order = np.lexsort((b_ti, b_ts))
    b_ti, b_ts, b_tool = b_ti[order], b_ts[order], b_tool[order]
    k = int(np.searchsorted(b_ts, wm_us, side="left"))
    out = _NO_OUT
    if k:
        e_ti, e_ts = b_ti[:k], b_ts[:k]
        counts = e_count + np.arange(1, k + 1, dtype=np.int64)
        tools = e_tool + np.cumsum(b_tool[:k], dtype=np.int64)
        max_tis = np.maximum.accumulate(np.maximum(e_ti, max_ti))

        # gaps to the previous emitted turn; the very first turn of a
        # conversation has none and opens session 1
        prev = np.empty(k, dtype=np.int64)
        prev[0] = last_ts
        prev[1:] = e_ts[:-1]
        gap_us = (e_ts - prev).astype(np.float64)
        has_gap = np.ones(k, dtype=bool)
        new_sess = gap_us >= gap_s * 1e6
        if last_ts < 0:
            has_gap[0] = False
            new_sess[0] = True
            sess_id = 0
        sess_ids = sess_id + np.cumsum(new_sess, dtype=np.int64)
        start_pos = np.maximum.accumulate(np.where(new_sess, np.arange(k), -1))
        sess_starts = np.where(
            start_pos >= 0, e_ts[np.maximum(start_pos, 0)], sess_start
        )

        # rolling 10-minute count over the emitted sequence (emission
        # order ⇒ recent + e_ts is sorted)
        allts = np.concatenate([np.asarray(recent, dtype=np.int64), e_ts])
        lo = np.searchsorted(allts, e_ts - 600_000_000, side="left")
        rolling = len(recent) + np.arange(1, k + 1, dtype=np.int64) - lo

        # expanding exact percentiles: sorted gap buffer with capacity for
        # this step's emissions, one searchsorted insert per emitted gap
        gbuf = np.empty(len(gaps) + k, dtype=np.float64)
        m = len(gaps)
        gbuf[:m] = gaps
        pct = np.full((k, 3), np.nan)
        for j in range(k):
            if has_gap[j]:
                m = sorted_insert(gbuf, m, gap_us[j])
            if m:
                pct[j] = percentiles_from_sorted(gbuf, m)

        out = (
            np.full(k, conv_id, dtype=object), e_ti, e_ts, counts, max_tis,
            tools / counts, pct[:, 0], pct[:, 1], pct[:, 2], rolling,
            sess_ids, sess_starts,
        )
        emitted = np.sort(np.concatenate([emitted, e_ti]))
        gaps = gbuf[:m].tolist()
        recent = allts[lo[-1]:].tolist()
        e_count, e_tool = int(counts[-1]), int(tools[-1])
        max_ti, last_ts = int(max_tis[-1]), int(e_ts[-1])
        sess_id, sess_start = int(sess_ids[-1]), int(sess_starts[-1])
        b_ti, b_ts, b_tool = b_ti[k:], b_ts[k:], b_tool[k:]

    # --- persistence directive
    if len(b_ti):
        new_state = (
            b_ti.tolist(), b_ts.tolist(), b_tool.tolist(), emitted.tolist(),
            gaps, recent, e_count, e_tool, max_ti, last_ts, sess_id, sess_start,
        )
        # re-arm: wake when the watermark passes the earliest buffered turn
        timer = max(int(b_ts[0]) // 1000 + 1, wm_us // 1000 + 1)
        return out, new_state, timer
    if e_count > 0:
        # nothing buffered: keep aggregates until the watermark is far past
        # the last activity, then evict (watermark-driven state eviction)
        if wm_us > last_ts + 2 * gap_s * 1_000_000:
            return out, None, None
        new_state = (
            [], [], [], emitted.tolist(), gaps, recent,
            e_count, e_tool, max_ti, last_ts, sess_id, sess_start,
        )
        timer = max(last_ts // 1000 + 2 * gap_s * 1000, wm_us // 1000 + 1)
        return out, new_state, timer
    return out, None, None


def _out_frame(outs: list[tuple]) -> pd.DataFrame:
    """One output frame from ``_step`` output columns (one tuple per
    conversation), built column-wise."""
    cols = [np.concatenate(c) for c in zip(*outs)]
    out = pd.DataFrame(dict(zip(OUTPUT_SCHEMA.fieldNames(), cols)))
    out["as_of_ts"] = pd.to_datetime(out["as_of_ts"], unit="us")
    out["session_start"] = pd.to_datetime(out["session_start"], unit="us")
    return out


def _process_bucket(
    key: tuple,
    pdf_iter: Iterator[pd.DataFrame],
    state: GroupState,
    gap_s: int,
) -> Iterator[pd.DataFrame]:
    """One call per bucket per micro-batch: run ``_step`` for every
    conversation of the bucket that has rows in this batch or whose own
    timer has fired (``timer < wm``), carry the rest over untouched."""
    wm_ms = state.getCurrentWatermarkMs()
    wm_us = wm_ms * 1000
    # conv_id → (state tuple, timer_ms) for every conversation in the bucket
    convs: dict[str, tuple[tuple, int]] = {}
    if state.exists:
        cols = state.get
        for i, c in enumerate(cols[0]):
            convs[c] = (tuple(f[i] for f in cols[1:-1]), cols[-1][i])

    outs: list[tuple] = []

    def run(c, ti, ts, tool, st):
        out, new_state, timer = _step(c, ti, ts, tool, st, wm_us, gap_s)
        if len(out[1]):
            outs.append(out)
        if new_state is None:
            convs.pop(c, None)
        else:
            convs[c] = (new_state, timer)

    # conversations with rows: segment the bucket's rows by conv_id
    # (stable, so each conversation keeps its arrival order)
    pdf = _input_frame(pdf_iter)
    seen = set()
    if pdf is not None:
        codes, uniq = pd.factorize(pdf["conv_id"], use_na_sentinel=False)
        order = np.argsort(codes, kind="stable")
        bounds = np.concatenate([[0], np.cumsum(np.bincount(codes))])
        ti, ts, tool = (c[order] for c in _columns(pdf))
        for u, c in enumerate(uniq):
            s = slice(bounds[u], bounds[u + 1])
            run(c, ti[s], ts[s], tool[s], convs[c][0] if c in convs else _EMPTY)
            seen.add(c)
    # conversations whose own timer fired
    for c, (st, timer) in list(convs.items()):
        if c not in seen and timer < wm_ms:
            run(c, *_NO_ROWS, st)

    if convs:
        ids = list(convs)
        fields = [list(f) for f in zip(*(convs[c][0] for c in ids))]
        timers = [convs[c][1] for c in ids]
        state.update((ids, *fields, timers))
        state.setTimeoutTimestamp(min(timers))
    elif state.exists:
        state.remove()

    if outs:
        yield _out_frame(outs)


def conv_features_stream(
    silver_stream: DataFrame, gap_s: int = GAP_S_DEFAULT
) -> DataFrame:
    """Apply the stateful per-conversation feature operator to a cleansed,
    watermarked stream (NOT deduped upstream — dedup happens in-state)."""

    def fn(key, pdf_iter, state):
        return _process_bucket(key, pdf_iter, state, gap_s)

    bucket = F.pmod(F.xxhash64("conv_id"), F.lit(N_BUCKETS)).alias("bucket")
    return (
        silver_stream.select(bucket, "conv_id", "turn_idx", "tool", "ts")
        .groupBy("bucket")
        .applyInPandasWithState(
            fn,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=BUCKET_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
