"""Streaming k-step conversion funnel: the ordered multi-type CEP
pattern (SEQ(A → B → C) with per-step horizons) as keyed state.

Batch twin: ``operators/funnel.py::funnel_events`` (k−1 chained forward
as-of joins) — a drain of this operator over the same events is
bit-equal to it (``tests/test_streaming_funnel.py``), so the batch
DuckDB funnel oracle transfers.

Same watermark-ordered emission discipline as ``stateful_runs.py``:
arriving events buffer in keyed state; once the watermark passes an
event's time it is fed — in strict (ts, event_id) order — into the
funnel matcher. Every step-0 event opens an ANCHOR; an anchor at step i
advances when the earliest step-(i+1) event STRICTLY after its frontier
and within ``horizon_s`` of it becomes watermark-definite. An anchor
resolves exactly once:

  * CONVERTED — it reaches the last step (emitted with all step times);
  * DEAD — the watermark passes STRICTLY beyond ``frontier + horizon``
    with no match (emitted with NULLs from the first missed step), which
    is definitive because any still-unseen event has ``ts >= watermark``
    — Spark drops late rows only when event-time is strictly below the
    watermark, so ``ts == watermark`` rows may still arrive and both the
    definite cutoff and the dead test must treat them as pending.

The matcher is vectorized per level: one ``np.searchsorted`` of all
candidate frontiers into the window's sorted per-type time array — the
"earliest strictly-after" rule is exactly ``side='right'``. No per-event
Python loop; per-key state is O(horizon × rate): the event buffer is
bounded by the watermark lag and every anchor dies within
(k−1)·horizon of its start.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.funnel import FUNNEL_HORIZON_S, FUNNEL_STEPS

_NULL_US = -1  # null sentinel inside the long-typed state/ts arrays


def funnel_output_schema(k: int) -> T.StructType:
    return T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            *[T.StructField(f"ts_{i}", T.TimestampType()) for i in range(k)],
        ]
    )


FUNNEL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("buf_ts_us", T.ArrayType(T.LongType())),
        T.StructField("buf_eid", T.ArrayType(T.LongType())),
        T.StructField("buf_type", T.ArrayType(T.StringType())),
        T.StructField("a_eid", T.ArrayType(T.LongType())),
        T.StructField("a_lvl", T.ArrayType(T.IntegerType())),
        # anchor step times, row-major k per anchor (_NULL_US = unreached)
        T.StructField("a_ts_us", T.ArrayType(T.LongType())),
    ]
)

_EMPTY = ([], [], [], [], [], [])


def _funnel_step(
    pdf_iter: Iterator[pd.DataFrame],
    st: tuple,
    wm_us: int,
    steps: Sequence[str],
    horizon_us: int,
) -> tuple[list[tuple], tuple | None, int | None]:
    """Pure ingest+match core: returns (resolved_anchor_rows,
    new_state | None-to-evict, timer_ms | None). Anchor rows are
    (event_id, ts_us_0, …, ts_us_{k−1}) with _NULL_US for unreached."""
    k = len(steps)
    buf_ts, buf_eid, buf_type, a_eid, a_lvl, a_ts = (list(c) for c in st)

    for pdf in pdf_iter:
        if len(pdf) == 0:
            continue
        buf_ts.extend(
            pdf["ts"].astype("datetime64[us]").astype("int64").tolist()
        )
        buf_eid.extend(pdf["event_id"].astype("int64").tolist())
        buf_type.extend(pdf["event_type"].astype(str).tolist())

    ts_a = np.asarray(buf_ts, dtype=np.int64)
    eid_a = np.asarray(buf_eid, dtype=np.int64)
    type_a = np.asarray(buf_type, dtype=object)
    order = np.lexsort((eid_a, ts_a))
    ts_a, eid_a, type_a = ts_a[order], eid_a[order], type_a[order]
    # definite = strictly below the watermark (side='left'): Spark only
    # guarantees rows with ts < wm can no longer arrive; a ts == wm row
    # may still show up and must not be matched/declared-dead against
    n_emit = int(np.searchsorted(ts_a, wm_us, side="left"))
    w_ts, w_eid, w_type = ts_a[:n_emit], eid_a[:n_emit], type_a[:n_emit]

    # anchors: carried + the window's step-0 events (ts-ordered, so the
    # concatenation preserves per-anchor independence — each matches on
    # its own frontier only)
    new0 = w_type == steps[0]
    frontier = np.concatenate(
        [
            np.asarray([a_ts[i * k + a_lvl[i]] for i in range(len(a_eid))], np.int64),
            w_ts[new0],
        ]
    )
    lvl = np.concatenate(
        [np.asarray(a_lvl, np.int64), np.zeros(int(new0.sum()), np.int64)]
    )
    eid = np.concatenate([np.asarray(a_eid, np.int64), w_eid[new0]])
    tsm = np.full((len(eid), k), _NULL_US, np.int64)
    if a_eid:
        tsm[: len(a_eid)] = np.asarray(a_ts, np.int64).reshape(len(a_eid), k)
    tsm[len(a_eid):, 0] = w_ts[new0]

    # vectorized level sweep: anchors at level i−1 race into the sorted
    # step-i time array of this window (side='right' = strictly after)
    for i in range(1, k):
        cand = np.flatnonzero(lvl == i - 1)
        if len(cand) == 0:
            continue
        arr = np.sort(w_ts[w_type == steps[i]])
        if len(arr) == 0:
            continue
        pos = np.searchsorted(arr, frontier[cand], side="right")
        ok = pos < len(arr)
        hit = cand[ok]
        mts = arr[pos[ok]]
        within = mts <= frontier[hit] + horizon_us
        hit, mts = hit[within], mts[within]
        frontier[hit] = mts
        lvl[hit] = i
        tsm[hit, i] = mts

    converted = lvl == k - 1
    dead = ~converted & (frontier + horizon_us < wm_us)
    out = [
        (int(eid[i]), *[int(t) for t in tsm[i]])
        for i in np.flatnonzero(converted | dead)
    ]
    keep = np.flatnonzero(~(converted | dead))

    buf_rest = (ts_a[n_emit:].tolist(), eid_a[n_emit:].tolist(),
                type_a[n_emit:].tolist())
    if len(keep) == 0 and not buf_rest[0]:
        return out, None, None
    new_state = (
        *buf_rest,
        eid[keep].tolist(),
        lvl[keep].astype("int32").tolist(),
        tsm[keep].ravel().tolist(),
    )
    # wake when the earliest anchor deadline or buffered event becomes
    # watermark-definite (must sit strictly past the current watermark)
    cands = [int(frontier[i]) + horizon_us for i in keep]
    if buf_rest[0]:
        cands.append(min(buf_rest[0]))
    timer = max(min(cands) // 1000 + 1, wm_us // 1000 + 1)
    return out, new_state, timer


def funnel_stream(
    events_stream: DataFrame,
    steps: Sequence[str] = FUNNEL_STEPS,
    horizon_s: int = FUNNEL_HORIZON_S,
) -> DataFrame:
    """Apply the streaming funnel to a watermarked events stream
    (columns user_id, event_id, event_type, ts)."""
    k = len(steps)
    if k < 2:
        raise ValueError("a funnel needs at least two steps")
    out_schema = funnel_output_schema(k)
    horizon_us = int(horizon_s) * 1_000_000

    def fn(key, pdf_iter, state: GroupState):
        (user_id,) = key
        st = state.get if state.exists else _EMPTY
        wm_us = state.getCurrentWatermarkMs() * 1000
        out, new_state, timer = _funnel_step(
            pdf_iter, st, wm_us, steps, horizon_us
        )
        if new_state is not None:
            state.update(new_state)
            state.setTimeoutTimestamp(timer)
        elif state.exists:
            state.remove()
        if out:
            pdf = pd.DataFrame(
                out, columns=["event_id"] + [f"ts_{i}" for i in range(k)]
            )
            pdf.insert(0, "user_id", user_id)
            for i in range(k):
                c = f"ts_{i}"
                pdf[c] = pd.to_datetime(
                    pdf[c].where(pdf[c] != _NULL_US), unit="us"
                )
            yield pdf

    return events_stream.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def run_funnel_to_completion(
    spark: SparkSession,
    source_dir: str,
    work_dir: str,
    steps: Sequence[str] = FUNNEL_STEPS,
    horizon_s: int = FUNNEL_HORIZON_S,
    watermark: str = "1 minute",
    max_files_per_trigger: int = 1,
    shuffle_partitions: int | None = None,
):
    """Drain a ts-ordered events file stream through the funnel into an
    exactly-once MERGE sink keyed by the anchor's event_id; returns the
    sink. Same resume-safety + verification-scale partition rationale as
    ``stateful_lsh.run_lsh_dedup_to_completion``."""
    from .engine import drain_file_stream

    def plan(src: DataFrame) -> DataFrame:
        # driver parquet carries TIMESTAMP_NTZ; watermarks require
        # TIMESTAMP — value-preserving here (session TZ pinned UTC)
        events = src.select(
            "user_id", "event_id", "event_type",
            F.col("ts").cast("timestamp").alias("ts"),
        ).withWatermark("ts", watermark)
        return funnel_stream(events, steps, horizon_s)

    return drain_file_stream(
        spark, source_dir, work_dir, "funnel", ["event_id"], plan, "append",
        max_files_per_trigger, shuffle_partitions,
    )
