"""In-memory spans, the full streaming-progress record, and self time.

A ``Tracer`` keeps spans (name, layer, start, end, parent, trace id) in a
list and writes them out once, at exit. Disabled, every call is a no-op,
so the untraced end-to-end runs pay nothing for the hooks.

Spans come from two places:

* the benchmark's own calls into a layer (``tracer.span(...)``) and the
  wrapped sink methods (``wrap_sinks``) — every ``process_batch``,
  ``read``, ``read_time_range`` and ``read_as_of`` call of the engine's
  sinks, wrapped at class level from this process;
* ``ProgressRecorder``, a ``StreamingQueryListener`` that keeps the whole
  ``StreamingQueryProgress`` JSON of every micro-batch. Its ``durationMs``
  phases become one span per micro-batch with a child per phase, laid
  out in the order the engine runs them.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time
from datetime import datetime, timezone

from pyspark.sql.streaming import StreamingQueryListener

# micro-batch phases in execution order, and the layer that owns each
PHASES = (
    ("latestOffset", "sources"),
    ("walCommit", "streaming.engine"),
    ("getBatch", "sources"),
    ("queryPlanning", "streaming.engine"),
    ("addBatch", "streaming.engine"),
    ("commitOffsets", "streaming.engine"),
)


class Tracer:
    def __init__(self, enabled: bool, trace_id: str):
        self.enabled = enabled
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self.cost_s = 0.0  # time spent recording spans: the tracing overhead
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def add(self, name, layer, start, end, parent=None, **attrs) -> int | None:
        """Record a finished span; returns its id (None when disabled)."""
        if not self.enabled:
            return None
        t = time.perf_counter()
        with self._lock:
            sid = next(self._ids)
            self.spans.append(
                {"id": sid, "trace": self.trace_id, "name": name, "layer": layer,
                 "start": start, "end": end, "parent": parent, "attrs": attrs}
            )
            self.cost_s += time.perf_counter() - t
        return sid

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        stack.append(sid)
        start = time.time()
        before = time.perf_counter() - t
        try:
            yield sid
        finally:
            end = time.time()
            t = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(
                    {"id": sid, "trace": self.trace_id, "name": name, "layer": layer,
                     "start": start, "end": end, "parent": parent, "attrs": attrs}
                )
                self.cost_s += before + time.perf_counter() - t

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_time_by_layer(self) -> dict[str, float]:
        """Seconds per layer: each span's duration minus the part of its
        interval that its children cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(children.get(s["id"], [])):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            own = max(0.0, s["end"] - s["start"] - covered)
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"trace": self.trace_id, "spans": self.spans}, f)


def wrap_sinks(tracer: Tracer) -> None:
    """Record a span around every sink write and read call. The engine
    calls ``process_batch`` from its foreachBatch handler in this
    process, so class-level wrappers see every micro-batch write."""
    from crypto_near_real_time_data_ingestion_spark.streaming import sinks

    def wrap(cls, meth):
        orig = getattr(cls, meth)
        if getattr(orig, "_perfbench", False):
            return

        def wrapped(self, *args, **kwargs):
            table = os.path.basename(self.table_dir)
            attrs = {"table": table}
            if meth == "process_batch":
                attrs["batch_id"] = int(args[1] if len(args) > 1 else kwargs["batch_id"])
            with tracer.span(f"sinks.{meth}", "streaming.sinks", **attrs):
                return orig(self, *args, **kwargs)

        wrapped._perfbench = True
        setattr(cls, meth, wrapped)

    for meth in ("process_batch", "read", "read_time_range", "read_as_of"):
        wrap(sinks.ParquetMergeSink, meth)


def progress_start(p: dict) -> float:
    """Unix time a micro-batch's trigger started."""
    return datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc
    ).timestamp()


class ProgressRecorder(StreamingQueryListener):
    """Keeps the full progress JSON of every micro-batch, unfiltered:
    ``durationMs`` phases, state operators (``commitTimeMs``,
    ``allUpdatesTimeMs``, ``memoryUsedBytes``, ``numRowsTotal``,
    ``customMetrics``), source offsets and sink description."""

    def __init__(self):
        self.progress: list[dict] = []
        self.failed: list[str] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = json.loads(event.progress.json)
        with self._lock:
            self.progress.append(p)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        if event.exception:
            with self._lock:
                self.failed.append(str(event.exception))

    def of(self, run_ids: set[str]) -> list[dict]:
        """Progress events of the query runs ``run_ids``. Events arrive
        asynchronously, so those of an earlier run of a query can land
        while a later run is going: select by run, not by arrival."""
        with self._lock:
            return [p for p in self.progress if p["runId"] in run_ids]

    def wait_for(self, run_ids: set[str], batches: dict[str, int], timeout_s: float = 10.0) -> None:
        """Wait until the events of ``run_ids`` include batch
        ``batches[query]`` of each query."""
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            seen = {(p["name"], p["batchId"]) for p in self.of(run_ids)}
            if all((q, b) in seen for q, b in batches.items()):
                return
            time.sleep(0.05)
        raise RuntimeError(f"no progress event for batches {batches}")


def progress_spans(tracer: Tracer, progress: list[dict], parent: int | None) -> None:
    """One span per micro-batch (its trigger) under ``parent``, a child per
    duration phase; wrapped ``process_batch`` spans of the same query and
    batch id are re-parented under the batch's ``addBatch`` phase."""
    if not tracer.enabled:
        return
    writes: dict = {}
    for s in tracer.by_name("sinks.process_batch"):
        writes.setdefault(s["attrs"]["batch_id"], []).append(s)
    for p in progress:
        d = p.get("durationMs", {})
        start = progress_start(p)
        trig = tracer.add(
            "engine.trigger", "streaming.engine", start,
            start + d.get("triggerExecution", 0) / 1000, parent,
            query=p.get("name"), batch_id=p.get("batchId"),
            rows=p.get("numInputRows", 0),
        )
        t = start
        for phase, layer in PHASES:
            ms = d.get(phase)
            if ms is None:
                continue
            sid = tracer.add(f"engine.{phase}", layer, t, t + ms / 1000, trig)
            if phase == "addBatch":
                for w in writes.get(p.get("batchId"), []):
                    # a folded query feeds tables named after it
                    # (gold_hour -> gold_hour, gold_hour_rank)
                    mine = w["attrs"]["table"].startswith(p.get("name") or "")
                    inside = t - 0.05 <= w["start"] and w["end"] <= t + ms / 1000 + 0.05
                    if mine and inside and w["parent"] is None:
                        w["parent"] = sid
            t += ms / 1000
