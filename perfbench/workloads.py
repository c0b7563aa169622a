"""The benchmark's workloads, driven only through the engine's public
entry points (``streaming.engine.run_pipeline_to_completion``, the
sinks' read and write methods, and the batch plans/operators).

Both workloads are closed-loop drains with one client (the main thread)
and run the same skeleton inside one SparkSession:

1. a set-up round: drain a one-file warm-up source of a fifth of a
   micro-batch, paying the JIT warm-up; its set-up sample is the time
   from query start until every sink committed its first micro-batch
   (the measured drain's own start is a second, warm sample);
2. the measured drain of the seeded source, then analyst reads against
   the drained sinks;
3. the correctness gate (``oracle.check_sinks``) on the drained sinks.

``run_pipeline_to_completion`` picks the trigger for the source format:
the default trigger plus ``processAllAvailable`` for the Python Data
Source, ``Trigger.AvailableNow`` for the file source.

* ``drain_medallion`` — silver + gold_hour (with the rank fold) + pairs,
  read through the registered Python Data Source at 2 files per trigger,
  120k turns per micro-batch: Catalyst stateful operators, state-store
  commits and sink writes.
* ``drain_stateful_py`` — the ``features`` query
  (``applyInPandasWithState``) from the parquet file source at 2 files
  per trigger, 16k turns per micro-batch: Python/Arrow workers and
  per-key Python state, no joins or window aggregation.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np

from crypto_near_real_time_data_ingestion_spark.streaming.engine import (
    run_pipeline_to_completion,
)

from . import inputs, oracle
from .procstat import ProcSampler, cpu_seconds
from .spans import ProgressRecorder, Tracer

SETUP_ROUNDS = 1
WARM_READS = 3  # one cycle of the read mix, untimed
N_READS = 12


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    recorder: ProgressRecorder
    sampler: ProcSampler
    work: str
    cache: str
    seed: int
    seconds: int
    attempted: int = 0
    failed: int = 0
    mismatches: dict = field(default_factory=dict)

    def fresh_dir(self, name: str) -> str:
        d = os.path.join(self.work, name)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d


@dataclass
class Phase:
    """What one measured drain leaves behind for the metrics."""

    work: str
    handles: object
    rows: list  # input rows per part file
    file_done_s: list  # per part file: drain start until every query committed it
    first_commit_s: float  # drain start until every sink committed once
    progress: list  # every micro-batch of the drain, flush tail included
    batch_s: dict  # per query: triggerExecution of each batch that read input files
    cpu: dict  # CPU seconds of the JVM and the Python workers
    trace_cost_s: float  # time spent recording spans during the drain
    peak_rss_mb: float
    span: int | None  # the drain's span, parent of its micro-batch spans
    reads: list = field(default_factory=list)  # (kind, seconds)
    pruned: list = field(default_factory=list)  # (skipped, live deltas) per range read

    @property
    def turns(self) -> int:
        return sum(self.rows)

    @property
    def wall_s(self) -> float:
        return self.file_done_s[-1]

    def turns_per_s(self, n_files: int | None = None) -> float:
        """Input turns over the time until every query committed them,
        for all part files or the first ``n_files``."""
        n = n_files or len(self.rows)
        return sum(self.rows[:n]) / self.file_done_s[n - 1]


def _unique(queries: dict) -> list:
    out, seen = [], set()
    for q in queries.values():
        if id(q) not in seen:
            seen.add(id(q))
            out.append(q)
    return out


def _raise_failed(h) -> None:
    for q in _unique(h.queries):
        exc = q.exception()
        if exc is not None:
            raise RuntimeError(f"query {q.name} failed: {exc}")


def _file_batches(checkpoint: str, src, fmt: str) -> list[int]:
    """Micro-batch id that read each part file of ``src``, from the
    query's checkpoint: the file source's ``sources/0`` log names files,
    the Python Data Source's offsets log holds row positions."""
    if fmt == "files":
        where: dict[str, int] = {}
        d = os.path.join(checkpoint, "sources", "0")
        for f in os.listdir(d):
            if f.startswith("."):
                continue
            with open(os.path.join(d, f)) as fh:
                for line in fh.read().splitlines()[1:]:
                    e = json.loads(line)
                    where[os.path.basename(e["path"])] = int(e["batchId"])
        return [where.get(os.path.basename(p), -1) for p in src.parts]
    ends = []
    d = os.path.join(checkpoint, "offsets")
    for f in sorted((f for f in os.listdir(d) if f.isdigit()), key=int):
        with open(os.path.join(d, f)) as fh:
            ends.append((int(f), json.loads(fh.read().splitlines()[-1])["row"]))
    out, acc = [], 0
    for n in src.rows:
        acc += n
        out.append(next((b for b, e in ends if e >= acc), -1))
    return out


def _commit_times(sink) -> dict[int, float]:
    return {
        m["batch_id"]: m["committed_at_unix"]
        for m in sink.manifests()
        if "batch_id" in m
    }


def _first_commit(h) -> float:
    """Unix time by which every sink had committed a micro-batch."""
    return max(min(_commit_times(s).values()) for s in h.sinks.values())


class Drain:
    """Closed-loop drain of a pre-written seeded source."""

    name: str
    queries: tuple  # passed to run_pipeline_to_completion
    checkpoints: tuple  # queries with their own checkpoint and same-named sink
    tables: tuple  # sinks checked against the oracles
    fmt: str
    mfpt = 2
    # input size, chosen from a sweep of batch time against batch size
    # (README): large enough that per-row work, not the fixed cost of a
    # micro-batch, takes at least half of a batch
    batch_turns: int  # turns per micro-batch
    batches_per_10s: int  # micro-batches per 10 measured seconds

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        # the set-up round pays the JIT warm-up on a fifth of a batch
        self.warm = inputs.make_source(
            ctx.cache, ctx.seed * 7919 + 1, self.batch_turns // 5, 1, flush=False
        )
        n_batches = max(2, self.batches_per_10s * ctx.seconds // 10)
        self.src = inputs.make_source(
            ctx.cache, ctx.seed, self.batch_turns * n_batches, self.mfpt * n_batches,
            flush=True,
        )

    def drain(self, source_dir: str, work: str):
        """Drain ``source_dir`` through the engine's own drain entry point,
        which picks the trigger for the source format and stops every
        query when the source is drained. Returns the handles and the
        drain's span, the parent of its micro-batch spans."""
        with self.ctx.tracer.span(
            "engine.run_pipeline_to_completion", "streaming.engine"
        ) as sid:
            h = run_pipeline_to_completion(
                self.ctx.spark, source_dir, work, queries=self.queries,
                max_files_per_trigger=self.mfpt, source_format=self.fmt,
            )
        _raise_failed(h)
        return h, sid

    def setup_round(self, i: int) -> float:
        """Seconds from query start until every sink committed its first
        micro-batch of the one-file warm-up source."""
        t0 = time.time()
        h, _ = self.drain(self.warm.path, self.ctx.fresh_dir(f"setup{i}"))
        return _first_commit(h) - t0

    def measure(self, tag: str, reads: bool = True, src=None) -> Phase:
        ctx = self.ctx
        src = src or self.src
        work = ctx.fresh_dir(tag)
        ctx.sampler.reset_peak()
        cpu0, cost0 = cpu_seconds(), ctx.tracer.cost_s
        t0 = time.time()
        h, sid = self.drain(src.path, work)
        run_ids = {q.runId for q in _unique(h.queries)}
        cpu1, cost1 = cpu_seconds(), ctx.tracer.cost_s
        # per query: the batch that read each input file, and its commit
        read_by, done = {}, [0.0] * len(src.parts)
        for q in self.checkpoints:
            batches = _file_batches(os.path.join(work, "checkpoints", q), src, self.fmt)
            commits = _commit_times(h.sinks[q])
            missing = [b for b in batches if b not in commits]
            if missing:
                raise RuntimeError(f"{q}: input batches {missing} never committed")
            read_by[q] = batches
            done = [max(d, commits[b] - t0) for d, b in zip(done, batches)]
        ctx.recorder.wait_for(run_ids, {q: b[-1] for q, b in read_by.items()})
        progress = ctx.recorder.of(run_ids)
        phase = Phase(
            work, h, src.rows, done, _first_commit(h) - t0, progress,
            {
                q: [
                    p["durationMs"]["triggerExecution"] / 1000 for p in progress
                    if p["name"] == q and p["batchId"] in batches
                ]
                for q, batches in read_by.items()
            },
            {k: cpu1[k] - cpu0[k] for k in cpu0}, cost1 - cost0,
            ctx.sampler.peak_rss_mb, sid,
        )
        if reads:
            traced = ctx.tracer.enabled
            for i in range(WARM_READS + N_READS):
                # warm-up reads are neither timed nor traced, so the read
                # spans and the timed reads are the same sample
                ctx.tracer.enabled = traced and i >= WARM_READS
                kind, seconds, pruned = self.read(h, i)
                if i >= WARM_READS:
                    ctx.attempted += 1
                    phase.reads.append((kind, seconds))
                    if pruned is not None:
                        phase.pruned.append(pruned)
            ctx.tracer.enabled = traced
            phase.peak_rss_mb = ctx.sampler.peak_rss_mb
        return phase

    def read(self, h, i: int) -> tuple[str, float, tuple | None]:
        """The i-th analyst read against the drained sinks: (kind, seconds,
        (deltas skipped, live deltas) for a range read)."""
        raise NotImplementedError

    def check(self, phase: Phase) -> None:
        ctx = self.ctx
        with ctx.tracer.span("bench.oracle_gate", "plans"):
            got = oracle.check_sinks(ctx.spark, phase.handles.sinks, self.tables, self.src.path)
        for table, reason in got.items():
            ctx.attempted += 1
            if reason is not None:
                ctx.failed += 1
                ctx.mismatches[table] = reason


def _materialized_s(ctx: Ctx, name: str, read) -> float:
    """Seconds to build a sink read's DataFrame and run it to a noop sink."""
    t = time.time()
    with ctx.tracer.span(name, "streaming.sinks"):
        read().write.format("noop").mode("overwrite").save()
    return time.time() - t


class DrainMedallion(Drain):
    name = "drain_medallion"
    queries = ("silver", "gold_hour", "gold_hour_rank", "pairs")
    checkpoints = ("silver", "gold_hour", "pairs")
    tables = ("silver", "gold_hour", "gold_hour_rank", "pairs")
    fmt = "py_datasource"
    batch_turns = 120_000
    batches_per_10s = 2

    def read(self, h, i):
        """Two of every three reads: a 1-hour ``read_time_range`` of
        gold_hour; the third: the full merged view of gold_hour. The i-th
        read's hour lies at fraction (i + 0.5) / (number of reads) of the
        input's event-time span, so every run reads the same mix of hours
        whose deltas the manifests prune and hours whose they do not."""
        ctx, gold = self.ctx, h.sinks["gold_hour"]
        if i % 3 == 2:
            return "read", _materialized_s(
                ctx, "read.full", lambda: gold.read(ctx.spark)
            ), None
        first_us, last_us = (
            np.datetime64(t, "us").astype(np.int64)
            for t in (self.src.ts_range[0][0], self.src.ts_range[-1][1])
        )
        at = first_us + (i + 0.5) / (WARM_READS + N_READS) * (last_us - first_us)
        lo = np.datetime64(int(at), "us").astype("datetime64[h]")
        got = {}

        def range_read():
            got["df"] = gold.read_time_range(ctx.spark, lo, lo + np.timedelta64(1, "h"))
            return got["df"]

        seconds = _materialized_s(ctx, "read.time_range", range_read)
        return "read_time_range", seconds, (got["df"]._skipped_deltas, len(gold.versions()))


class DrainStatefulPy(Drain):
    name = "drain_stateful_py"
    queries = ("features",)
    checkpoints = ("features",)
    tables = ("features",)
    fmt = "files"
    batch_turns = 16_000
    batches_per_10s = 5

    def read(self, h, i):
        """Two of every three reads: the full merged view; the third: time
        travel as of the middle committed batch (the features sink has no
        event-time column, so no range read)."""
        ctx, sink = self.ctx, h.sinks["features"]
        if i % 3 != 2:
            return "read", _materialized_s(
                ctx, "read.full", lambda: sink.read(ctx.spark)
            ), None
        versions = sink.versions()
        return "read_as_of", _materialized_s(
            ctx, "read.as_of",
            lambda: sink.read_as_of(ctx.spark, versions[len(versions) // 2]),
        ), None


WORKLOADS = {w.name: w for w in (DrainMedallion, DrainStatefulPy)}
