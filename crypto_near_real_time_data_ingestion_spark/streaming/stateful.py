"""Watermark-ordered Python keyed state: one driver, three kernels.

The driver owns the discipline the per-conversation operators share;
each operator supplies only a ``Kernel``:

  features   per-conversation rolling features (this module,
             ``features_kernel``)
  role_runs  CEP run detector (``stateful_runs.runs_kernel``)
  tool_asof  as-of join, latest tool call at or before each turn
             (``stateful_asof.ASOF_KERNEL``)

Emission discipline: arriving turns are buffered in state; a turn is
emitted only once the watermark has passed its event time, in strict
(ts, turn_idx) order — so late arrivals within the watermark slot into
their correct position BEFORE the kernel sees them, and the emitted
rows are byte-equal to each operator's batch plan. Duplicates are
dropped against the buffered + emitted turn_idx set (exact dedup inside
the operator, because Spark does not allow a second stateful operator
upstream of the Python state function in the same chain).

Eviction contract: a conversation's state is dropped once the
watermark passes ``last activity + kernel.horizon_s`` (state must be
bounded — keys are never "done" in an endless stream); a kernel with a
``flush`` (the run detector's still-open run) emits it then. A turn
arriving after that horizon (possible: the GLOBAL watermark is driven
by other keys, and an above-watermark event time can sit arbitrarily
far ahead of it) REVIVES the conversation with fresh lifetime state —
the same revival semantics Spark's own ``session_window`` state has.
Batch-plan equivalence therefore holds for turns arriving within the
eviction horizon; the property test's watermark schedules
(``tests/test_stateful_cores.py::_wm_schedule``) span exactly the
schedules a real Spark watermark (max observed event time - delay) can
produce, under which the horizon cannot be crossed while a key's rows
are still in flight in the single-key case.

Bucketed state: Spark's state key is NOT the conversation but a hash
bucket of it, ``pmod(xxhash64(conv_id), N_BUCKETS)``. Every Python call
pays a fixed pandas/Arrow/pickle cost, so one call per bucket per batch
(instead of one per conversation, plus one more per fired timer) is the
lever — the arithmetic was never the cost. A bucket's state is a
columnar map: one array per field of the kernel's per-conversation
state, one entry per conversation, plus each conversation's own
event-time timer. Inside a call the bucket's rows are converted to
numpy once and segmented by ``conv_id``; a conversation runs the
per-conversation step (``_step``) only when it has rows in this batch
or its own timer is below the watermark (``timer < wm``, Spark's firing
rule), so every conversation sees exactly the calls a per-conversation
key would. The bucket's timer is the minimum of its conversations'
timers.

Features kernel: the causal columns of the batch
``plans/gold_features.conv_features`` plan (its equivalence oracle) —
everything computable from turns at or before the current one:

  turn_count, max_turn_idx, tool_call_rate,
  inter_turn_latency_p50/p95/p99 (expanding exact percentiles),
  rolling_turns_10m, session_id, session_start

(`session_end` is future-looking in the batch plan — the final end of the
session — so it is not emitted here.) Its emission is vectorized over
the sorted prefix: counts, tool rate, max turn, sessions and the
10-minute window come from cumsum / accumulate / searchsorted. Only the
sorted gap insert behind the exact percentiles stays a per-turn loop.

State size is O(turns per conversation) — the emitted turn_idx set, and
for features the gap array backing exact percentiles. Conversations are
length-bounded in this domain; for unbounded keys swap the gap array
for a mergeable quantile sketch (KLL / t-digest) at the cost of
exactness.

Reference parity: the features kernel replaces the reference's
per-entity ordered window features (``gold_ml_training_job.py:57-109``,
W5-W9) with streaming keyed state; eviction mirrors watermark semantics
the reference approximates with daily batch boundaries.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from dataclasses import dataclass
from functools import cached_property, partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

GAP_S_DEFAULT = 1800
# eviction horizon of the kernels without a session gap (runs, as-of)
CLOSE_GAP_S = 3600

# Spark state keys: conversations hash into this many buckets, and the
# Python state function runs once per bucket per micro-batch
N_BUCKETS = 64

# numpy dtype of a buffered payload column, by its Spark type
_DTYPES = {"boolean": bool, "string": object}


@dataclass(frozen=True)
class Kernel:
    """An operator's own part of the keyed-state driver.

    ``payload``: the per-turn columns it buffers besides turn_idx and
    ts, each a (state element field, reader) pair; the reader maps the
    same-named input column to a numpy array.
    ``carry``: its per-conversation state beyond the buffer, with the
    values ``carry0`` before the first emission.
    ``emit(rows, last_ts_us, carry) -> (columns, carry)``: ``rows`` are
    the (turn_idx, ts_us, *payload) columns of the emittable turns in
    (ts, turn_idx) order; ``last_ts_us`` is the event time of the last
    turn emitted before them (-1 before the first); ``columns`` holds
    one numpy array per ``output`` field after conv_id (timestamps as
    µs, zero rows allowed).
    ``horizon_s``: evict once the watermark is this far past the last
    emitted turn. ``flush(carry) -> columns``: rows emitted at eviction."""

    output: T.StructType
    payload: tuple[tuple[T.StructField, Callable[[pd.Series], np.ndarray]], ...]
    carry: T.StructType
    carry0: tuple
    emit: Callable
    horizon_s: int
    flush: Callable | None = None

    @cached_property
    def state_schema(self) -> T.StructType:
        """Per-conversation state: the unemitted turn buffer, the
        emitted turn_idx set (dedup), the last emitted event time, then
        the kernel's carry."""
        return T.StructType(
            [
                T.StructField("buf_turn_idx", T.ArrayType(T.IntegerType())),
                T.StructField("buf_ts_us", T.ArrayType(T.LongType())),
                *(T.StructField(f"buf_{f.name}", T.ArrayType(f.dataType)) for f, _ in self.payload),
                T.StructField("emitted_turn_idx", T.ArrayType(T.IntegerType())),
                T.StructField("last_ts_us", T.LongType()),
                *self.carry.fields,
            ]
        )

    @cached_property
    def bucket_schema(self) -> T.StructType:
        """Per-bucket state: the columnar map conv_id → per-conversation
        state fields, plus each conversation's armed event-time timer."""
        return T.StructType(
            [T.StructField("conv_id", T.ArrayType(T.StringType()))]
            + [T.StructField(f.name, T.ArrayType(f.dataType)) for f in self.state_schema.fields]
            + [T.StructField("timer_ms", T.ArrayType(T.LongType()))]
        )

    @cached_property
    def empty(self) -> tuple:
        """The state of a conversation never seen."""
        return ([], [], *([] for _ in self.payload), [], -1, *self.carry0)

    @cached_property
    def dtypes(self) -> tuple:
        """numpy dtypes of the buffered columns (turn_idx, ts_us, *payload)."""
        return (np.int64, np.int64, *(_DTYPES[f.dataType.typeName()] for f, _ in self.payload))


def _input_frame(pdf_iter: Iterator[pd.DataFrame]) -> pd.DataFrame | None:
    """The call's input chunks as one frame (arrival order), or None."""
    pdfs = [p for p in pdf_iter if len(p)]
    if not pdfs:
        return None
    return pdfs[0] if len(pdfs) == 1 else pd.concat(pdfs, ignore_index=True)


def _columns(k: Kernel, pdf: pd.DataFrame | None) -> list[np.ndarray]:
    """(turn_idx, ts_us, *payload) numpy columns of an input frame."""
    if pdf is None:
        return [np.empty(0, dtype=d) for d in k.dtypes]
    return [
        pdf["turn_idx"].to_numpy(dtype=np.int64),
        pdf["ts"].astype("datetime64[us]").astype("int64").to_numpy(),
        *(read(pdf[f.name]) for f, read in k.payload),
    ]


def _step(
    k: Kernel, conv_id: str, rows: list[np.ndarray], st: tuple, wm_us: int
) -> tuple[list[tuple], tuple | None, int | None]:
    """Ingest+emit of one conversation, called per conversation by the
    bucket function.

    Takes the batch's rows as numpy columns (``_columns``; arrival
    order) and the state tuple (layout = ``k.state_schema``), ingests
    the rows (exact dedup vs buffered+emitted), hands every buffered
    turn whose event time the watermark has STRICTLY passed to
    ``k.emit`` — in strict (ts, turn_idx) order — and returns
    ``(outputs, new_state | None-to-evict, timer_ms | None)``; each
    output is one tuple of columns per ``k.output`` field.
    Strictly: Spark drops late rows only when event-time < watermark,
    so a ``ts == wm`` row may still arrive and its tied peers must
    stay pending, or a kernel would fold the tie out of order (gaps,
    sessions, a run broken at the tie, a tied as-of match; the
    stateful_funnel boundary convention)."""
    n = len(k.dtypes)
    buf = [np.asarray(v, dtype=d) for v, d in zip(st[:n], k.dtypes)]
    emitted = np.asarray(st[n], dtype=np.int64)  # kept sorted
    last_ts, carry = st[n + 1], st[n + 2 :]
    outs = []

    def tag(cols):
        if len(cols[0]):
            outs.append((np.full(len(cols[0]), conv_id, dtype=object), *cols))

    # --- ingest new rows (exact dedup vs buffered+emitted): first batch
    # occurrence per turn_idx, then one isin against the known set
    if len(rows[0]):
        uniq, first_idx = np.unique(rows[0], return_index=True)
        sel = first_idx[~np.isin(uniq, np.concatenate([emitted, buf[0]]))]
        buf = [np.concatenate([b, r[sel]]) for b, r in zip(buf, rows)]

    # --- emit buffered turns whose event time < watermark, in order: in
    # (ts, turn_idx) order they are a prefix (ts == wm is still-arrivable
    # — see the docstring)
    order = np.lexsort((buf[0], buf[1]))
    buf = [b[order] for b in buf]
    n_emit = int(np.searchsorted(buf[1], wm_us, side="left"))
    if n_emit:
        cols, carry = k.emit([b[:n_emit] for b in buf], last_ts, carry)
        tag(cols)
        emitted = np.sort(np.concatenate([emitted, buf[0][:n_emit]]))
        last_ts = int(buf[1][n_emit - 1])
        buf = [b[n_emit:] for b in buf]

    # --- persistence directive
    if len(buf[0]):
        # re-arm: wake when the watermark passes the earliest buffered turn
        timer = max(int(buf[1][0]) // 1000 + 1, wm_us // 1000 + 1)
    elif not len(emitted):
        return outs, None, None
    elif wm_us > last_ts + k.horizon_s * 1_000_000:
        # nothing buffered and the watermark is far past the last
        # activity: the conversation is over — flush, evict
        if k.flush is not None:
            tag(k.flush(carry))
        return outs, None, None
    else:
        # nothing buffered: keep the state until the watermark is far
        # past the last activity
        timer = max(last_ts // 1000 + k.horizon_s * 1000, wm_us // 1000 + 1)
    return outs, (*(b.tolist() for b in buf), emitted.tolist(), last_ts, *carry), timer


def _out_frame(k: Kernel, outs: list[tuple]) -> pd.DataFrame:
    """One output frame from ``_step`` outputs, built column-wise."""
    cols = [np.concatenate(c) for c in zip(*outs)]
    out = pd.DataFrame(dict(zip(k.output.fieldNames(), cols)))
    for f in k.output.fields:
        if isinstance(f.dataType, T.TimestampType):
            out[f.name] = pd.to_datetime(out[f.name], unit="us")
    return out


def _process_bucket(
    k: Kernel, key: tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
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

    def run(c, rows, st):
        out, new_state, timer = _step(k, c, rows, st, wm_us)
        outs.extend(out)
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
        rows = [c[order] for c in _columns(k, pdf)]
        for u, c in enumerate(uniq):
            s = slice(bounds[u], bounds[u + 1])
            run(c, [r[s] for r in rows], convs[c][0] if c in convs else k.empty)
            seen.add(c)
    # conversations whose own timer fired
    no_rows = _columns(k, None)
    for c, (st, timer) in list(convs.items()):
        if c not in seen and timer < wm_ms:
            run(c, no_rows, st)

    if convs:
        ids = list(convs)
        fields = [list(f) for f in zip(*(convs[c][0] for c in ids))]
        timers = [convs[c][1] for c in ids]
        state.update((ids, *fields, timers))
        state.setTimeoutTimestamp(min(timers))
    elif state.exists:
        state.remove()

    if outs:
        yield _out_frame(k, outs)


def keyed_stream(silver_stream: DataFrame, k: Kernel) -> DataFrame:
    """Run kernel ``k`` over a cleansed, watermarked stream (NOT deduped
    upstream — dedup happens in-state), keyed by conversation bucket."""
    bucket = F.pmod(F.xxhash64("conv_id"), F.lit(N_BUCKETS)).alias("bucket")
    return (
        silver_stream.select(bucket, "conv_id", "turn_idx", "ts", *(f.name for f, _ in k.payload))
        .groupBy("bucket")
        .applyInPandasWithState(
            partial(_process_bucket, k),
            outputStructType=k.output,
            stateStructType=k.bucket_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# --- the features kernel ---------------------------------------------------

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

# running aggregates over the emitted turns
FEATURES_CARRY = T.StructType(
    [
        T.StructField("gaps_us", T.ArrayType(T.DoubleType())),  # kept SORTED
        T.StructField("recent_ts_us", T.ArrayType(T.LongType())),
        T.StructField("emitted_count", T.LongType()),
        T.StructField("emitted_tool", T.LongType()),
        T.StructField("max_turn_idx", T.IntegerType()),
        T.StructField("session_id", T.IntegerType()),
        T.StructField("session_start_us", T.LongType()),
    ]
)


# percentile interpolation + incremental sorted insert are SHARED with
# the batch applyInPandas twin (operators/rolling.py) — the state's gap
# array is kept sorted, so each emission costs one searchsorted insert
# (O(log n + move)) instead of a full re-sort (O(n log n) per row).
# BIT-identical to Spark `percentile` / DuckDB `quantile_cont` — see
# percentiles_from_sorted notes.
from ..operators.rolling import percentiles_from_sorted, sorted_insert  # noqa: E402


def _features_emit(rows, last_ts, carry, gap_s):
    """Causal features of the emittable turns, continuing the carried
    aggregates."""
    e_ti, e_ts, e_tool = rows
    gaps, recent, n_count, n_tool, max_ti, sess_id, sess_start = carry
    k = len(e_ti)
    counts = n_count + np.arange(1, k + 1, dtype=np.int64)
    tools = n_tool + np.cumsum(e_tool, dtype=np.int64)
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
    sess_starts = np.where(start_pos >= 0, e_ts[np.maximum(start_pos, 0)], sess_start)

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

    cols = (
        e_ti, e_ts, counts, max_tis, tools / counts, pct[:, 0], pct[:, 1],
        pct[:, 2], rolling, sess_ids, sess_starts,
    )
    carry = (
        gbuf[:m].tolist(), allts[lo[-1] :].tolist(), int(counts[-1]),
        int(tools[-1]), int(max_tis[-1]), int(sess_ids[-1]), int(sess_starts[-1]),
    )
    return cols, carry


def features_kernel(gap_s: int = GAP_S_DEFAULT) -> Kernel:
    """The features kernel: buffers the has-tool flag, sessions split at
    ``gap_s``, state evicted ``2*gap_s`` past the last activity."""
    return Kernel(
        output=OUTPUT_SCHEMA,
        payload=((T.StructField("tool", T.BooleanType()), lambda s: s.notna().to_numpy()),),
        carry=FEATURES_CARRY,
        carry0=([], [], 0, 0, -1, 0, -1),
        emit=partial(_features_emit, gap_s=gap_s),
        horizon_s=2 * gap_s,
    )


def conv_features_stream(
    silver_stream: DataFrame, gap_s: int = GAP_S_DEFAULT
) -> DataFrame:
    """Apply the stateful per-conversation feature operator to a cleansed,
    watermarked stream (NOT deduped upstream — dedup happens in-state)."""
    return keyed_stream(silver_stream, features_kernel(gap_s))
