"""Property tests for the pure stateful-operator cores.

The streaming as-of join and the CEP run detector are driven end-to-end
by the e2e suite over one fixed corpus; these tests pin their SEMANTICS
under hypothesis-generated adversarial inputs — arbitrary arrival
orders, batch partitions, watermark schedules, timestamp ties, and
duplicate deliveries — against brute-force reference implementations.

The generated schedules respect the Spark watermark contract the
operators are written against: a row never arrives after the watermark
has passed its event time (Spark's stateful machinery guarantees this
for the micro-batches the functions see; within-watermark LATE arrival,
i.e. out of event-time order, is generated freely).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from crypto_near_real_time_data_ingestion_spark.streaming.stateful_asof import (
    _EMPTY as ASOF_EMPTY,
)
from crypto_near_real_time_data_ingestion_spark.streaming.stateful_asof import (
    CLOSE_GAP_S,
    _asof_step,
)
from crypto_near_real_time_data_ingestion_spark.streaming.stateful import (
    _EMPTY as FEAT_EMPTY,
)
from crypto_near_real_time_data_ingestion_spark.streaming.stateful import (
    _columns,
    _input_frame,
    _process_bucket,
    _step,
)
from crypto_near_real_time_data_ingestion_spark.streaming.stateful_runs import (
    _EMPTY as RUNS_EMPTY,
)
from crypto_near_real_time_data_ingestion_spark.streaming.stateful_runs import (
    _runs_step,
)

US = 1_000_000
FAR = 10**15  # watermark "infinity": flushes every buffer and eviction timer


# rows: (turn_idx, ts_us, role, tool) — ts drawn from a tiny set to force
# same-timestamp groups; tool non-empty on a subset of assistant turns
@st.composite
def _turn_history(draw):
    n = draw(st.integers(min_value=1, max_value=28))
    rows = []
    for ti in range(n):
        ts = draw(st.sampled_from([1, 2, 3, 5, 8, 13])) * US
        role = draw(st.sampled_from(["user", "assistant", "tool"]))
        tool = draw(st.sampled_from(["", "", "search", "calc"]))
        rows.append((ti, ts, role, tool))
    # arrival order: any permutation (event-time disorder is the point)
    order = draw(st.permutations(range(n)))
    # duplicate deliveries of a few rows (exact dupes, like a source replay)
    dup_of = draw(
        st.lists(st.integers(min_value=0, max_value=n - 1), max_size=4)
    )
    arrival = [rows[i] for i in order] + [rows[i] for i in dup_of]
    # partition the arrival sequence into 1-4 batches
    n_batches = draw(st.integers(min_value=1, max_value=4))
    cuts = sorted(
        draw(
            st.lists(
                st.integers(min_value=0, max_value=len(arrival)),
                min_size=n_batches - 1,
                max_size=n_batches - 1,
            )
        )
    )
    batches, prev = [], 0
    for c in cuts + [len(arrival)]:
        batches.append(arrival[prev:c])
        prev = c
    return rows, batches


def _wm_schedule(batches):
    """Monotonic watermarks honoring BOTH halves of Spark's contract:
    after batch i the watermark stays AT OR below every event time
    still to arrive — Spark drops late rows only when event-time is
    STRICTLY below the watermark, so a still-to-arrive row with
    ts == wm is legal and the schedule deliberately produces it
    (wm = min(future), the boundary every kernel must treat as
    pending; the round-5 watermark-tie convention) — AND it never
    exceeds the max event time observed so far: Spark computes the
    watermark as max(observed event time) - delay with delay >= 0, so
    a schedule that jumps past everything seen is unreachable. (The
    unreachable jump matters: it can cross a key's eviction horizon
    while rows for that key are still in flight, manufacturing a
    "revived conversation" no real Spark run could produce.)"""
    wms, wm_prev, seen_max = [], -1, -1
    for i in range(len(batches)):
        seen_max = max([seen_max] + [ts for (_, ts, _, _) in batches[i]])
        future = [ts for b in batches[i + 1 :] for (_, ts, _, _) in b]
        wm = min(min(future), seen_max) if future else FAR
        wm = max(wm, wm_prev)  # watermarks never regress
        wms.append(wm)
        wm_prev = wm
    return wms


def _pdf(batch):
    d = pd.DataFrame(batch, columns=["turn_idx", "ts", "role", "tool"])
    d["tool"] = d["tool"].replace("", None)
    d["ts"] = pd.to_datetime(d["ts"], unit="us")
    return d


def _drive_asof(batches):
    # None mirrors "no state row exists": Spark then skips the group on
    # an input-less micro-batch and hands the fn _EMPTY otherwise.
    st_ = None
    out = []
    for batch, wm in zip(batches, _wm_schedule(batches)):
        if st_ is None and not batch:
            continue
        o, st_, _ = _asof_step(
            "c", iter([_pdf(batch)]), st_ if st_ is not None else ASOF_EMPTY, wm
        )
        if o is not None:
            out.append(o)
    if st_ is not None:  # final flush + eviction
        o, st_, _ = _asof_step("c", iter([]), st_, FAR + 2 * CLOSE_GAP_S * US)
        if o is not None:
            out.append(o)
        assert st_ is None, "state must evict once the watermark passes"
    return pd.concat(out, ignore_index=True) if out else pd.DataFrame()


def _brute_asof(rows):
    """Reference: each turn gets the lexicographically-latest (ts, ti)
    tool row with ts <= its own ts (same-ts tools visible, max ti wins)."""
    want = []
    for ti, ts, role, _ in rows:
        cand = [(t, i) for (i, t, _, tl) in rows if tl and t <= ts]
        if cand:
            bt, bi = max(cand)
            tool = next(tl for (i, t, _, tl) in rows if i == bi and t == bt)
            want.append((ti, ts, role, bt, bi, tool))
        else:
            want.append((ti, ts, role, None, None, None))
    return sorted(want)


@settings(max_examples=120, deadline=None)
@given(_turn_history())
def test_asof_core_matches_brute_force(case):
    rows, batches = case
    got_pdf = _drive_asof(batches)
    got = sorted(
        (
            int(r.turn_idx),
            int(r.ts.value // 1000),  # ns → µs
            r.role,
            None if pd.isna(r.asof_ts) else int(r.asof_ts.value // 1000),
            None if r.asof_tool_turn_idx is None else int(r.asof_tool_turn_idx),
            r.asof_tool_used,
        )
        for r in got_pdf.itertuples()
    )
    assert got == _brute_asof(rows)
    # exactly-once: every turn emitted exactly once despite dup deliveries
    assert len(got) == len(rows)


def _drive_runs(batches, target="user", min_run=2):
    st_ = None
    out = []
    for batch, wm in zip(batches, _wm_schedule(batches)):
        if st_ is None and not batch:
            continue
        o, st_, _ = _runs_step(
            "c",
            iter([_pdf(batch)]),
            st_ if st_ is not None else RUNS_EMPTY,
            wm,
            target,
            min_run,
        )
        out.extend(o)
    if st_ is not None:
        o, st_, _ = _runs_step(
            "c", iter([]), st_, FAR + 2 * CLOSE_GAP_S * US, target, min_run
        )
        out.extend(o)
        assert st_ is None
    return sorted(out)


def _brute_runs(rows, target="user", min_run=2):
    ordered = sorted(rows, key=lambda r: (r[1], r[0]))  # (ts, ti)
    runs, cur = [], []
    for r in ordered:
        if cur and r[2] == cur[-1][2]:
            cur.append(r)
        else:
            if cur:
                runs.append(cur)
            cur = [r]
    if cur:
        runs.append(cur)
    return sorted(
        ("c", seg[0][0], seg[-1][0], len(seg), seg[0][1], seg[-1][1])
        for seg in runs
        if seg[0][2] == target and len(seg) >= min_run
    )


@settings(max_examples=120, deadline=None)
@given(_turn_history())
def test_runs_core_matches_brute_force(case):
    rows, batches = case
    assert _drive_runs(batches) == _brute_runs(rows)


# --- conv-features core (stateful._step): scale timestamps to minutes so
# the 10-minute rolling window actually trims, and use a 3-minute session
# gap so sessionization actually splits, under the same adversarial
# arrival schedules.

FEAT_GAP_S = 180
MIN_SCALE = 60  # seconds → minutes


def _scaled(case):
    rows, batches = case
    s = lambda r: (r[0], r[1] * MIN_SCALE, r[2], r[3])  # noqa: E731
    return [s(r) for r in rows], [[s(r) for r in b] for b in batches]


def _nn(v):
    return None if (isinstance(v, float) and np.isnan(v)) else v


def _drive_features(batches):
    st_ = None
    rows_out = []
    for batch, wm in zip(batches, _wm_schedule(batches)):
        if st_ is None and not batch:
            continue
        o, st_, _ = _step(
            "c",
            *_columns(_input_frame(iter([_pdf(batch)]))),
            st_ if st_ is not None else FEAT_EMPTY,
            wm,
            FEAT_GAP_S,
        )
        rows_out.extend(zip(*o))
    if st_ is not None:
        o, st_, _ = _step("c", *_columns(None), st_, FAR, FEAT_GAP_S)
        rows_out.extend(zip(*o))
        assert st_ is None, "state must evict once the watermark passes"
    return sorted(
        (ti, ts, c, mti, rate, _nn(p50), _nn(p95), _nn(p99), roll, sid, ss)
        for (_c, ti, ts, c, mti, rate, p50, p95, p99, roll, sid, ss) in rows_out
    )


def _brute_features(rows):
    """Reference: causal expanding features over the (ts, turn_idx)-ordered
    unique turns; percentiles re-derived by a FULL SORT each row (checks
    the core's incremental sorted-insert path), same weighted-sum
    interpolation arithmetic as Spark `percentile`."""
    ordered = sorted(rows, key=lambda r: (r[1], r[0]))
    out, gaps, ets = [], [], []
    tools, max_ti, last, sid, sstart = 0, -1, None, 0, None
    for k, (ti, ts, _role, tool) in enumerate(ordered, 1):
        if last is None:
            sid, sstart = 1, ts
        else:
            g = float(ts - last)
            gaps.append(g)
            if g >= FEAT_GAP_S * 1e6:
                sid += 1
                sstart = ts
        tools += 1 if tool else 0
        max_ti = max(max_ti, ti)
        last = ts
        ets.append(ts)
        roll = sum(1 for t in ets if t >= ts - 600_000_000)
        if gaps:
            sg = sorted(gaps)
            ps = []
            for p in (0.50, 0.95, 0.99):
                pos = p * (len(sg) - 1)
                lo, hi = int(np.floor(pos)), int(np.ceil(pos))
                v = sg[lo] if lo == hi else (hi - pos) * sg[lo] + (pos - lo) * sg[hi]
                ps.append(v / 1e6)
        else:
            ps = [None, None, None]
        out.append(
            (ti, ts, k, max_ti, tools / k, ps[0], ps[1], ps[2], roll, sid, sstart)
        )
    return sorted(out)


@settings(max_examples=120, deadline=None)
@given(_turn_history())
def test_features_core_matches_brute_force(case):
    rows, batches = _scaled(case)
    assert _drive_features(batches) == _brute_features(rows)


# --- bucketed conv-features operator (stateful._process_bucket): several
# conversations share ONE Spark state key. Driven through a fake
# GroupState with Spark's EventTimeTimeout bookkeeping, it must give
# every conversation exactly the _step calls a per-conversation key gets
# under Spark's firing rule (data in the batch, or timer < watermark) —
# same output rows, same per-conversation state, same timers.


class _FakeGroupState:
    """The GroupState surface the bucket function uses. Like Spark, the
    timeout is not carried into a call: the function re-arms it or the
    key loses its timer."""

    def __init__(self):
        self.value, self.timeout, self.wm_ms = None, None, None

    def begin(self, wm_ms):
        self.wm_ms, self.timeout = wm_ms, None

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return tuple(self.value)

    def getCurrentWatermarkMs(self):
        return self.wm_ms

    def update(self, value):
        self.value = tuple(value)

    def remove(self):
        self.value = None

    def setTimeoutTimestamp(self, ms):
        assert ms >= self.wm_ms, "Spark refuses a timeout older than the watermark"
        self.timeout = ms


def _bucket_pdf(batch):
    d = pd.DataFrame(batch, columns=["conv_id", "turn_idx", "ts", "role", "tool"])
    d["tool"] = d["tool"].replace("", None)
    d["ts"] = pd.to_datetime(d["ts"], unit="us")
    return d[["conv_id", "turn_idx", "tool", "ts"]]


def _norm_rows(rows):
    return sorted(tuple(_nn(v) for v in r) for r in rows)


def _frame_rows(pdf):
    pdf = pdf.copy()
    for c in ("as_of_ts", "session_start"):
        pdf[c] = pdf[c].astype("datetime64[us]").astype("int64")
    return list(pdf.itertuples(index=False, name=None))


def _drive_bucket_vs_per_conv(batches, wms):
    """Run the same conversation-tagged batches through one bucket and
    through per-conversation ``_step`` keys; assert they agree after
    every batch. Returns the per-batch {conv: timer_ms} of the bucket."""
    state, bucket_timer = _FakeGroupState(), None
    ref: dict = {}  # conv → (state tuple, timer_ms)
    timers_seen = []
    for batch, wm in zip(batches, wms):
        wm_ms = wm // 1000
        # per-conversation keys, Spark's rule: rows, or timer < watermark
        want = []
        convs_with_rows = list(dict.fromkeys(r[0] for r in batch))
        due = [c for c, (_, t) in ref.items() if c not in convs_with_rows and t < wm_ms]
        for c in convs_with_rows + due:
            rows = [r[1:] for r in batch if r[0] == c]
            cols = _columns(_input_frame(iter([_pdf(rows)]))) if rows else _columns(None)
            st_ = ref[c][0] if c in ref else FEAT_EMPTY
            o, new_st, timer = _step(c, *cols, st_, wm, FEAT_GAP_S)
            want.extend(zip(*o))
            if new_st is None:
                ref.pop(c, None)
            else:
                ref[c] = (new_st, timer)
        # one bucket key: called on rows, or when its timer fires
        got = []
        fire = state.exists and bucket_timer is not None and bucket_timer < wm_ms
        if batch or fire:
            state.begin(wm_ms)
            pdfs = iter([_bucket_pdf(batch)] if batch else [])
            for out in _process_bucket(("b",), pdfs, state, FEAT_GAP_S):
                got.extend(_frame_rows(out))
            bucket_timer = state.timeout
        assert _norm_rows(got) == _norm_rows(want)
        have = {}
        if state.exists:
            ids, *fields, timers = state.get
            have = {
                c: (tuple(f[i] for f in fields), timers[i]) for i, c in enumerate(ids)
            }
            assert bucket_timer == min(timers)
        assert have == ref
        timers_seen.append({c: t for c, (_, t) in have.items()})
    assert not state.exists and not ref, "every conversation must evict"
    return timers_seen


def _tagged_batches(cases, perm_seed):
    """Merge per-conversation batch lists into shared batches (batch i of
    every conversation lands in merged batch i, interleaved)."""
    rng = np.random.default_rng(perm_seed)
    n = max(len(b) for _, b in cases)
    merged = []
    for i in range(n):
        rows = [
            (f"c{j}", *r)
            for j, (_, b) in enumerate(cases)
            if i < len(b)
            for r in b[i]
        ]
        merged.append([rows[p] for p in rng.permutation(len(rows))])
    return merged


@settings(max_examples=80, deadline=None)
@given(
    st.lists(_turn_history(), min_size=2, max_size=4),
    st.integers(min_value=0, max_value=2**16),
)
def test_bucket_matches_per_conversation_keys(cases, perm_seed):
    merged = _tagged_batches([_scaled(c) for c in cases], perm_seed)
    wms = _wm_schedule([[r[1:] for r in b] for b in merged])
    _drive_bucket_vs_per_conv(merged + [[]], wms + [FAR])


def test_bucket_timer_tie_and_revival():
    """Planted: conversation A's own timer equals the watermark exactly
    (it must NOT run: Spark fires only on timer < watermark), then fires
    one batch later and evicts A, then a new A turn revives it with
    fresh lifetime aggregates — while B's rows drive the watermark."""
    m = 60 * US
    batches = [
        [("A", 0, 2 * m, "user", ""), ("B", 0, 2 * m, "user", "")],
        [("B", 1, 3 * m, "assistant", "search")],
        [("B", 2, 8 * m, "user", "")],
        [("B", 3, 9 * m, "assistant", "")],
        [("A", 1, 10 * m, "user", "")],
        [],
    ]
    wms = [2 * m, 3 * m, 8 * m, 9 * m, 10 * m, FAR]
    timers = _drive_bucket_vs_per_conv(batches, wms)
    # A emitted at batch 2 and armed its eviction timer at last + 2*gap
    a_timer = (2 * m + 2 * FEAT_GAP_S * US) // 1000
    assert a_timer == wms[2] // 1000
    assert timers[1]["A"] == a_timer
    assert timers[2]["A"] == a_timer  # tie: left alone, not re-armed
    assert "A" not in timers[3]  # fired below the watermark: evicted
    assert "A" in timers[4]  # revived by its new turn


# --- planted unit checks of the `_step` core ------------------------------


def _batch(ti_ts_tool):
    return iter(
        [
            pd.DataFrame(
                {
                    "turn_idx": [t[0] for t in ti_ts_tool],
                    "ts": pd.to_datetime([t[1] for t in ti_ts_tool], unit="us"),
                    "tool": [t[2] for t in ti_ts_tool],
                }
            )
        ]
    )


def _rows_step(conv_id, pdf_iter, st, wm_us, gap_s):
    """``_step`` over an input-chunk iterator, output as row tuples."""
    out, new_st, timer = _step(
        conv_id, *_columns(_input_frame(pdf_iter)), st, wm_us, gap_s
    )
    return list(zip(*out)), new_st, timer


def test_step_core_buffers_until_watermark():
    """Rows past the watermark stay buffered with a wake-up timer;
    nothing is emitted."""
    out, st, timer = _rows_step("c", _batch([(0, 10_000_000, None)]), FEAT_EMPTY, 0, 1800)
    assert out == [] and st is not None
    assert timer == 10_000 + 1  # earliest buffered turn, ms
    # watermark passes → emit in order, dedup against emitted set
    out2, st2, _ = _rows_step(
        "c", _batch([(0, 10_000_000, None), (1, 20_000_000, "grep")]), st,
        25_000_000, 1800,
    )
    assert [r[1] for r in out2] == [0, 1]
    assert st2[3] == [0, 1]  # emitted turn_idx set persisted


def test_step_core_eviction():
    """Watermark far past last activity → state evicted (None)."""
    out, st, _ = _rows_step("c", _batch([(0, 1_000_000, None)]), FEAT_EMPTY, 2_000_000, 1800)
    assert len(out) == 1
    _, st2, timer = _rows_step("c", iter(()), st, 2_000_000 + 2 * 1800 * 1_000_000 + 1, 1800)
    assert st2 is None and timer is None
