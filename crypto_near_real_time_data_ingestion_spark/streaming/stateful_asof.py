"""Streaming as-of join: per-turn "latest tool call at or before me".

The batch ``operators/asof.turn_tool_asof`` (union-merge, one shuffle)
re-expressed as keyed streaming state — the TEMPORAL-join member of the
stateful-operator family (features = aggregates, runs = CEP, this =
as-of). Spark's native stream-stream join cannot express as-of ("latest
right ≤ t", an ordered, non-equi, last-wins match), so it is a kernel
of the watermark-ordered keyed-state driver (``streaming/stateful.py``):

  * turns buffer in keyed state until the watermark passes their event
    time (late arrivals within the watermark slot into their correct
    position BEFORE matching);
  * emission walks (ts, turn_idx) order in TS GROUPS: all tool calls at
    a timestamp become visible before any turn at that timestamp emits,
    so a turn and a tool call sharing ``ts`` match (``<=`` semantics,
    max turn_idx wins the tie) — exactly the batch twin's union-merge
    ordering (right side sorts before left at equal time) and DuckDB's
    ``ASOF LEFT JOIN`` on the pre-uniqued right side;
  * the only cross-turn state the match needs is the LATEST tool call
    seen — three scalars, O(1), beside the driver's watermark-horizon
    buffer and emitted-turn dedup set.

State is evicted once the watermark is ``CLOSE_GAP_S`` past the last
activity, like the run detector's.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .stateful import CLOSE_GAP_S, Kernel, keyed_stream

ASOF_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("role", T.StringType()),
        T.StructField("asof_ts", T.TimestampType()),
        T.StructField("asof_tool_turn_idx", T.IntegerType()),
        T.StructField("asof_tool_used", T.StringType()),
    ]
)

# latest tool call visible to future turns (us == -1 -> none yet)
ASOF_CARRY = T.StructType(
    [
        T.StructField("tool_ts_us", T.LongType()),
        T.StructField("tool_turn_idx", T.IntegerType()),
        T.StructField("tool_used", T.StringType()),
    ]
)


def _asof_emit(rows, _last_ts, carry):
    """As-of match of the emittable turns.

    Fully vectorized: unlike the run detector and the percentile state
    (whose emission is inherently sequential per key), the as-of match
    over a (ts, turn_idx)-sorted batch is a cumulative-max index
    lookup — the latest tool call visible to a turn at time t is the
    highest-index tool row at or before t's TS GROUP END (sorted order
    makes lexicographic (ts, turn_idx) max == positional max), capped
    against the carried-in latest-tool state.
    """
    e_ti, e_ts, e_role, e_tool = rows
    tool_us, tool_ti, tool_used = carry
    has_tool = e_tool != ""
    # highest-index tool row at or before each position
    tool_pos = np.where(has_tool, np.arange(len(e_ti)), -1)
    cummax = np.maximum.accumulate(tool_pos)
    # a turn sees every tool in its own ts group (<= semantics):
    # look up the cummax at the group END, not at the row itself
    grp_end = np.searchsorted(e_ts, e_ts, side="right") - 1
    vis = cummax[grp_end]
    visc = np.clip(vis, 0, None)
    bts, bti = e_ts[visc], e_ti[visc]
    # batch candidate vs carried-in latest: lexicographic (ts, ti)
    batch_wins = (vis >= 0) & ((bts > tool_us) | ((bts == tool_us) & (bti > tool_ti)))
    a_ts = np.where(batch_wins, bts, tool_us)
    none = a_ts < 0
    cols = (
        e_ti, e_ts, e_role,
        np.where(none, None, a_ts),
        np.where(none, None, np.where(batch_wins, bti, tool_ti)),
        np.where(none, None, np.where(batch_wins, e_tool[visc], tool_used)),
    )
    # carry the overall latest tool forward (last tool row wins)
    lt = int(cummax[-1])
    if lt >= 0 and (int(e_ts[lt]), int(e_ti[lt])) > (tool_us, tool_ti):
        carry = (int(e_ts[lt]), int(e_ti[lt]), str(e_tool[lt]))
    return cols, carry


# the as-of kernel: buffers each turn's role and tool ('' = no tool)
ASOF_KERNEL = Kernel(
    output=ASOF_OUTPUT_SCHEMA,
    payload=(
        (T.StructField("role", T.StringType()), lambda s: s.to_numpy(dtype=object)),
        (T.StructField("tool", T.StringType()), lambda s: s.fillna("").to_numpy(dtype=object)),
    ),
    carry=ASOF_CARRY,
    carry0=(-1, -1, ""),
    emit=_asof_emit,
    horizon_s=CLOSE_GAP_S,
)


def tool_asof_stream(silver_stream: DataFrame) -> DataFrame:
    """Apply the streaming as-of operator to a cleansed, watermarked
    stream (NOT deduped upstream — dedup happens in-state)."""
    return keyed_stream(silver_stream, ASOF_KERNEL)
