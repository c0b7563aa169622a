"""Streaming CEP run detection: maximal runs of ≥ k consecutive
same-role turns (the ``R{k,}`` pattern), per conversation.

Batch twin: ``plans/patterns.role_runs`` (gap-and-island) — this
operator answers the SAME DuckDB oracle after a drain. It is a kernel of
the watermark-ordered keyed-state driver (``streaming/stateful.py``):
once the watermark passes a turn's event time the turn is fed — in
strict (ts, turn_idx) order — into the run accumulator, so late
arrivals within the watermark land in their correct sequence position
BEFORE pattern matching, and a run is emitted exactly once, when it is
DEFINITELY closed:

  * a watermark-ordered turn of a different role arrives (mid-stream
    closure), or
  * the conversation evicts (event-time timeout ``CLOSE_GAP_S`` past
    last activity) and the still-open run flushes.

The kernel buffers each turn's role (O(horizon)) and carries the open
run's 6 scalars (O(1)); the driver's dedup set is O(turns per
conversation).

This is the MATCH_RECOGNIZE-style pattern operator the north rule's
"CEP" asks for, expressed as keyed state + event-time timers rather
than an NFA — for fixed patterns like ``R{k,}`` the accumulator IS the
(two-state) automaton.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .stateful import CLOSE_GAP_S, Kernel, keyed_stream

RUNS_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("run_start_turn", T.IntegerType()),
        T.StructField("run_end_turn", T.IntegerType()),
        T.StructField("run_len", T.LongType()),
        T.StructField("run_start_ts", T.TimestampType()),
        T.StructField("run_end_ts", T.TimestampType()),
    ]
)

# the open run (role '' == none)
RUNS_CARRY = T.StructType(
    [
        T.StructField("run_role", T.StringType()),
        T.StructField("run_start_turn", T.IntegerType()),
        T.StructField("run_end_turn", T.IntegerType()),
        T.StructField("run_len", T.LongType()),
        T.StructField("run_start_us", T.LongType()),
        T.StructField("run_end_us", T.LongType()),
    ]
)


def runs_kernel(target_role: str = "user", min_run: int = 2) -> Kernel:
    """The run detector's kernel: buffers each turn's role, emits the
    runs of ``target_role`` at least ``min_run`` long."""

    def emit(rows, _last_ts, carry):
        e_ti, e_ts, e_role = rows
        n = len(e_ti)
        # gap-and-islands, vectorized: segment starts at role changes
        change = np.flatnonzero(e_role[1:] != e_role[:-1]) + 1
        starts = np.concatenate([[0], change])
        ends = np.concatenate([change, [n]])  # exclusive
        # one column per carry field, one entry per segment
        seg = [
            e_role[starts], e_ti[starts], e_ti[ends - 1], ends - starts,
            e_ts[starts], e_ts[ends - 1],
        ]
        r_role, r_start, _, r_len, r_start_us, _ = carry
        if r_role and seg[0][0] == r_role:
            # carry-in open run continues into segment 0
            seg[1][0], seg[3][0], seg[4][0] = r_start, seg[3][0] + r_len, r_start_us
        elif r_role:
            # segment 0 broke the open run: it is closed, ahead of it
            seg = [np.concatenate([[c], s]) for c, s in zip(carry, seg)]
        # every segment but the last is closed (a different-role turn
        # follows it in watermark order); the last becomes the open run
        closed = (seg[0][:-1] == target_role) & (seg[3][:-1] >= min_run)
        cols = tuple(s[:-1][closed] for s in seg[1:])  # per closed RUN, not per turn
        return cols, (str(seg[0][-1]), *(int(s[-1]) for s in seg[1:]))

    def flush(carry):
        # conversation over: the open run closes
        r_role, *run = carry
        rows = [run] if r_role == target_role and run[2] >= min_run else []
        return tuple(np.array(rows, dtype=np.int64).reshape(-1, len(run)).T)

    return Kernel(
        output=RUNS_OUTPUT_SCHEMA,
        payload=((T.StructField("role", T.StringType()), lambda s: s.to_numpy(dtype=object)),),
        carry=RUNS_CARRY,
        carry0=("", -1, -1, 0, -1, -1),
        emit=emit,
        horizon_s=CLOSE_GAP_S,
        flush=flush,
    )


def role_runs_stream(
    silver_stream: DataFrame, role: str = "user", min_run: int = 2
) -> DataFrame:
    """Apply the streaming run detector to a cleansed, watermarked stream
    (NOT deduped upstream — dedup happens in-state)."""
    return keyed_stream(silver_stream, runs_kernel(role, min_run))
