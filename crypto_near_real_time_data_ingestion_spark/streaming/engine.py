"""Engine wiring: bronze stream → silver → gold streaming queries.

The reference's Step-Functions DAG of four sequential Glue jobs
(``terraform/sfn.tf:4-56``) becomes a set of continuously-running
Structured Streaming queries, each checkpointed and resumable (SFN
retry/backoff → restart-from-checkpoint). Data passes between layers
through tables, exactly as the reference passes through S3 — but
incrementally, per micro-batch:

  bronze ──► silver ──► silver table ──► gold queries ──► gold tables
  (files or the         (committed deltas, read through
   Python source)        ``sources/sink_commits.py``)

Silver is the only query that scans bronze for the gold layer: it
cleanses and dedups once per trigger, and every gold query reads
silver's committed deltas, one silver commit per gold micro-batch, and
declares its own ``ts`` watermark on them (one watermark per layer).
Gold queries run without no-data batches of their own, so their
watermark and evictions follow silver's batches exactly. Requesting any
gold query starts silver.

Folds (``FOLDS``): a member query shares its host's plan and always
rides the host's query — heavy_hitters, countmin, hll and hll_hour ride
silver, gold_hour_rank rides gold_hour, latency_hist rides pairs. The
group runs as ONE query: one checkpoint, N sinks, each sink exactly-once
via its own commit log. Requesting a member starts its host.

Queries reading bronze (each scans the source itself):
  silver      raw → cleanse → dropDuplicatesWithinWatermark → MERGE
  features    cleansed bronze → per-conv stateful rolling features → MERGE
  role_runs   CEP R{k,} pattern: stateful run detector, runs emitted on
              definitive closure (role change / eviction flush) → MERGE
  tool_asof   streaming as-of join: latest tool call ≤ each turn's ts
              (keyed state, watermark-ordered matching) → MERGE
  (``KEYED_STATE``: these three are kernels of one keyed-state driver,
  ``stateful.py``)
  heavy_hitters  streaming sketch maintenance: per-batch Misra-Gries
              token summaries → additive sink (pointwise merge; the
              commit log makes the non-idempotent merge exactly-once)
  countmin    streaming sketch maintenance, point-frequency member:
              per-batch Count-Min cell deltas over the deduped token
              stream → CountMinSink (pointwise cell sum; same additive
              exactly-once contract, hard ≤ depth·width state bound)
  hll         streaming sketch maintenance, cardinality member:
              per-batch HyperLogLog register deltas over conv_id →
              HllSink (pointwise register MAX — idempotent, so replays
              are no-ops by algebra; ≤ 2^p state at any stream length)
  hll_hour    windowed form of hll: per-hour-window register deltas →
              WindowedHllSink (distinct conversations per hour with
              state bounded by TIME not cardinality; late data folds
              into its window's registers idempotently — no watermark
              needed for correctness)
  (the four sketch queries are fold members of silver: they read
  silver's deduped micro-batch, never bronze on their own)

Gold-layer queries (read silver's committed deltas):
  gold_hour   tumbling 1h window agg → MERGE (append-on-close)
  gold_hour_rank  same agg → per-closed-window dense_rank in foreachBatch
              (W10 streaming form) → MERGE
  gold_day    same at day grain
  gold_sliding  1h windows sliding every 15 min → MERGE
  sessions    session_window(30 min) → MERGE (update-on-merge)
  pairs       silver ⋈ silver (user ↔ response) → MERGE
  unanswered  negation pattern: watermarked left-outer + null filter
              (stream-stream anti), timeout-emitted → MERGE
  latency_hist  global inter-turn latency percentile maintenance:
              per-batch fixed-bin histograms of user→response latency
              (integer µs) riding the pairs join → HistogramSink
              (additive; ≤ n_bins state; percentile reads return
              certified one-bin brackets). The histogram is EXACT, so
              this maintenance path is value-hash graded end-to-end
              (streaming_latency_hist)
  enriched_hour  stream-static broadcast join (role dimension) feeding
              a per-(window, role_group) aggregate → MERGE
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..functions.cleansing import cleanse_turns
from ..operators.joins import user_response_pairs_stream
from ..operators.sessionize import sessionize_stream
from ..plans.gold_windows import conv_window_stats_stream
from ..plans.silver import silver_stream
from ..sources import read_transcripts_stream
from .sinks import ParquetMergeSink
from .stateful import conv_features_stream
from .stateful_asof import tool_asof_stream
from .stateful_runs import role_runs_stream

DEFAULT_WATERMARK = "15 minutes"

# queries that read silver's committed deltas instead of bronze
GOLD_LAYER = frozenset({
    "gold_hour", "gold_hour_rank", "gold_day", "gold_sliding", "sessions",
    "pairs", "latency_hist", "unanswered", "enriched_hour",
})
# fold member → host: the member's sink is fed from its host's
# micro-batch (one checkpoint, one plan, N sinks); requesting a member
# starts its host. A member's sink commit log keys on the host
# checkpoint's batch ids, so it never has a checkpoint of its own.
FOLDS = {
    "heavy_hitters": "silver", "countmin": "silver", "hll": "silver",
    "hll_hour": "silver", "gold_hour_rank": "gold_hour", "latency_hist": "pairs",
}
# the keyed-state queries over cleansed bronze (``stateful.py``'s one
# driver, one kernel each): name → (sink keys, plan)
KEYED_STATE = {
    "features": (["conv_id", "turn_idx"], conv_features_stream),
    "role_runs": (["conv_id", "run_start_turn"], role_runs_stream),
    "tool_asof": (["conv_id", "turn_idx"], tool_asof_stream),
}
_NO_DATA_BATCHES = "spark.sql.streaming.noDataMicroBatches.enabled"


@dataclass
class PipelineHandles:
    queries: dict[str, StreamingQuery] = field(default_factory=dict)
    sinks: dict[str, ParquetMergeSink] = field(default_factory=dict)
    # gold query name → its checkpoint, for every gold checkpoint in the
    # work dir, started in this run or not
    silver_readers: dict[str, str] = field(default_factory=dict)

    def await_all(self) -> None:
        for q in self.queries.values():
            q.awaitTermination()

    def stop_all(self) -> None:
        for q in self.queries.values():
            if q.isActive:
                q.stop()

    def compact_all(self, spark) -> dict[str, dict]:
        """Sink maintenance between runs: fold every sink's delta pile into
        one snapshot (``ParquetMergeSink.compact``). Call only while the
        pipeline's queries are stopped — compaction coordinates with the
        commit log, not with in-flight foreachBatch writers. Silver is
        folded only through the batch every gold checkpoint in the work
        dir has committed: a delta a gold query has not read yet must stay
        live for it, whether or not this run started that query."""
        if any(q.isActive for q in self.queries.values()):
            raise RuntimeError("compact_all requires all queries stopped")
        consumed = [_consumed_batch(c) for c in self.silver_readers.values()]
        consumed = [b for b in consumed if b is not None]
        out = {}
        for name, s in self.sinks.items():
            if name == "silver" and consumed:
                out[name] = s.compact(spark, upto=min(consumed))
            else:
                out[name] = s.compact(spark)
        return out


def _ckpt_latest(checkpoint: str, sub: str) -> int:
    """Latest batch id recorded in a checkpoint's ``offsets``/``commits``
    log, -1 if absent. File names in those dirs ARE the batch ids."""
    d = os.path.join(checkpoint, sub)
    if not os.path.isdir(d):
        return -1
    return max((int(f) for f in os.listdir(d) if f.isdigit()), default=-1)


def _consumed_batch(checkpoint: str) -> int | None:
    """Upstream batch id through which a query reading committed deltas
    (``sources/sink_commits.py``) has committed, -1 if none. None for a
    checkpoint whose offsets name no upstream batch: a gold checkpoint
    written before the gold layer read silver, which cannot resume."""
    done = _ckpt_latest(checkpoint, "commits")
    if done < 0:
        return -1
    with open(os.path.join(checkpoint, "offsets", str(done))) as f:
        batches = [json.loads(line).get("batch") for line in f.read().splitlines()[2:]]
    return None if None in batches else min(int(b) for b in batches)


def _batch_lineage(checkpoint: str, batch_id: int) -> dict:
    """What silver's commit marker records for the gold layer's reader:
    the source offset this batch covered, copied from the checkpoint's
    ``offsets/<id>`` (Spark purges those files)."""
    with open(os.path.join(checkpoint, "offsets", str(batch_id))) as f:
        return {"source": json.loads(f.read().splitlines()[2])}


def _sink_max_committed(sink: ParquetMergeSink) -> int:
    return max([sink.compacted_through(), *sink.committed_batches()])


def _check_sink_alignment(checkpoint: str, name: str, sink, extra_sinks) -> None:
    """Refuse to resume a checkpoint whose engine-committed batches are
    missing from any sink it feeds. A batch in the checkpoint's
    ``commits`` log will NEVER be replayed, so a sink without it has
    lost that data permanently — which happens when a sink is attached
    to a checkpoint that advanced while the sink was absent (a fold
    member added to an existing work_dir, or the sink's table lost). The
    in-flight batch (``offsets`` ahead of ``commits``) is exempt —
    restart replays it and each sink's own commit log absorbs it
    exactly-once."""
    required = _ckpt_latest(checkpoint, "commits")
    if required < 0:
        return
    for s in [sink, *[x for x, _ in (extra_sinks or [])]]:
        have = _sink_max_committed(s)
        if have < required:
            raise RuntimeError(
                f"query '{name}': checkpoint has committed batch "
                f"{required} but sink {s.table_dir} has "
                f"only committed through {have} — those batches will "
                "never be replayed, so resuming would silently lose "
                "them at this sink. Use a fresh work_dir (or backfill "
                "the sink) instead."
            )


def _register(spark: SparkSession, source_cls) -> None:
    """Register a Python data source whose planner workers can import
    this package. Spark starts those workers with the registration's
    environment but, unlike UDF workers, without the ``--py-files``
    includes — so the package's import root (``CHECKOUT_ROOT``: the
    checkout, or the zip under spark-submit) goes on their PYTHONPATH."""
    from .. import CHECKOUT_ROOT

    env = spark.sparkContext.environment
    parts = [p for p in env.get("PYTHONPATH", "").split(":") if p]
    if CHECKOUT_ROOT not in parts:
        env["PYTHONPATH"] = ":".join([*parts, CHECKOUT_ROOT])
    spark.dataSource.register(source_cls)


def _start(
    df: DataFrame,
    sink: ParquetMergeSink,
    name: str,
    checkpoint: str,
    mode: str,
    available_now: bool,
    trigger_interval: str | None,
    extra_sinks=None,
    lineage: bool = False,
) -> StreamingQuery:
    """``extra_sinks``: optional list of (sink, transform) fed from the
    SAME micro-batch, the transform mapping the batch DataFrame to the
    sink's rows — the multi-sink fold (``FOLDS``). Queries that share one
    upstream plan (e.g. the hour aggregate feeding both the plain MERGE
    and the ranked sink) then pay that plan's state stores ONCE per
    batch instead of once per sink. Exactly-once holds per sink: each
    keeps its own commit log, so a replayed batch id is independently a
    no-op at every sink (a crash between sinks re-runs the batch and
    only the uncommitted sinks write).

    ``lineage``: record the batch's source offset in the primary sink's
    commit marker (``_batch_lineage``) — set for silver, whose committed
    deltas the gold layer reads."""
    _check_sink_alignment(checkpoint, name, sink, extra_sinks)

    def write(bdf, bid):
        if lineage:
            sink.process_batch(bdf, bid, lineage=_batch_lineage(checkpoint, bid))
        else:
            sink.process_batch(bdf, bid)

    if extra_sinks:
        def handler(bdf, bid):
            # persist: the batch plan (incl. any stateful upstream) must
            # not recompute per sink
            bdf.persist()
            try:
                write(bdf, bid)
                for s, tr in extra_sinks:
                    s.process_batch(tr(bdf), bid)
            finally:
                bdf.unpersist()

    else:
        handler = write
    writer = (
        df.writeStream.queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", checkpoint)
        .foreachBatch(handler)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_interval:
        writer = writer.trigger(processingTime=trigger_interval)
    return writer.start()


def start_pipeline(
    spark: SparkSession,
    source_dir: str,
    work_dir: str,
    queries: tuple[str, ...] = ("silver", "gold_hour", "pairs"),
    watermark: str = DEFAULT_WATERMARK,
    max_files_per_trigger: int = 1,
    trigger_interval: str | None = None,
    source_format: str = "files",
) -> PipelineHandles:
    """Start the selected streaming queries; each has its own checkpoint
    under ``work_dir`` and its own MERGE sink table, except a fold member
    (``FOLDS``), which starts its host and writes its sink from the
    host's micro-batch under the host's checkpoint. The queries run
    until stopped; ``run_pipeline_to_completion`` drains a bounded
    source instead.

    ``source_format``: ``"files"`` (the parquet file stream source) or
    ``"py_datasource"`` (the registered Spark 4 Python Data Source,
    ``sources/py_datasource.py`` — row-position offsets over the same
    arrival-ordered log, ``filesPerBatch`` mirroring
    ``maxFilesPerTrigger`` so the micro-batch boundaries are identical).

    ``trigger_interval`` (a processing-time interval; None runs the
    default trigger) paces the queries reading bronze. Gold-layer
    queries (``GOLD_LAYER``) read silver's committed deltas and start
    silver with them. They always run the default trigger: their pace
    is set by silver's commits (one per gold batch), and a
    ``trigger_interval`` would cap them at one silver commit per
    interval, so a gold query behind silver could never catch up."""
    return _start_queries(
        spark, source_dir, work_dir, queries, watermark, max_files_per_trigger,
        False, trigger_interval, source_format,
    )


def _member_sink(name: str, table_dir: str) -> tuple:
    """Fold member ``name``'s sink, and the transform that maps its
    host's micro-batch to the sink's rows.

    The sketch and histogram members exclude the flush sentinel at
    WRITE time: an additive sink cannot un-count (nor a max sketch
    un-register) what a flush row contributed, and the read view cannot
    filter rows that no longer carry conv_id.

    Late-duplicate contract of the additive members (MG, CMS,
    histogram): they ride the deduped stream, but
    dropDuplicatesWithinWatermark only dedups within its watermark — a
    duplicate arriving after its dedup state evicted passes through as
    a late singleton (pinned in test_late_data.py). The keyed silver
    sink absorbs it (latest-wins); an additive sink cannot un-count, so
    its merged totals drift ABOVE truth by exactly the beyond-watermark
    duplicate volume. That is the documented algebraic residual of
    sum-merge sketches (test_streaming_e2e.py), not fixed here: the
    write-side cure (anti-join each batch against silver's committed
    keys) costs a sink read per batch; size the watermark to the
    source's real lateness instead, which bounds the residual to zero."""
    from pyspark.sql import functions as F

    from ..datagen.flush import FLUSH_CONV_ID
    from . import sinks

    def real(bdf: DataFrame) -> DataFrame:
        return bdf.filter(F.col("conv_id") != FLUSH_CONV_ID)

    if name == "heavy_hitters":
        from ..operators.heavy_hitters import STREAM_EXACT_K, mg_batch_summary

        # one Misra-Gries summary delta per micro-batch, merged pointwise
        # by the additive sink's read view
        return (
            sinks.AdditiveSummarySink(table_dir),
            lambda bdf: mg_batch_summary(real(bdf), k=STREAM_EXACT_K),
        )
    if name == "countmin":
        from ..operators.countmin import STREAM_EXACT_WIDTH, token_cms

        return (
            sinks.CountMinSink(table_dir, width=STREAM_EXACT_WIDTH),
            lambda bdf: token_cms(real(bdf), text_col="text", width=STREAM_EXACT_WIDTH),
        )
    if name == "hll":
        from ..operators.hll import STREAM_HLL_P, hll_build

        # distinct-conversation cardinality over the unbounded stream
        return (
            sinks.HllSink(table_dir, p=STREAM_HLL_P),
            lambda bdf: hll_build(real(bdf), "conv_id", p=STREAM_HLL_P),
        )
    if name == "hll_hour":
        from ..operators.hll import STREAM_HLL_P, hll_windowed_build

        # distinct conversations PER HOUR WINDOW — late data folds into
        # its window's registers idempotently, so no watermark is needed
        # for correctness (state grows with time, not cardinality)
        return (
            sinks.WindowedHllSink(table_dir, p=STREAM_HLL_P),
            lambda bdf: hll_windowed_build(
                real(bdf), "conv_id", "ts", "1 hour", p=STREAM_HLL_P
            ),
        )
    if name == "gold_hour_rank":
        from ..plans.gold_windows import rank_window_stats

        # W10 streaming form: append-mode hour windows close fully within
        # one micro-batch, so a batch-local dense_rank per window_start IS
        # the global per-window rank (see rank_window_stats docstring)
        return (
            ParquetMergeSink(table_dir, ["window_start", "conv_id"], None),
            rank_window_stats,
        )
    if name == "latency_hist":
        from ..operators.histogram import LAT_HIST_BIN_US, pair_latency_bins

        # the pairs stream already carries (user_ts, response_ts) per
        # emitted pair, so the histogram rides it as one more additive
        # delta per micro-batch (≤ n_bins rows of state). The sentinel
        # cannot form a pair, but the join shape need not stay pair-proof.
        return (
            sinks.HistogramSink(table_dir, bin_width=LAT_HIST_BIN_US),
            lambda bdf: pair_latency_bins(real(bdf), bin_width_us=LAT_HIST_BIN_US),
        )
    raise ValueError(f"{name} is not a fold member")


def _start_queries(
    spark: SparkSession,
    source_dir: str,
    work_dir: str,
    queries: tuple[str, ...],
    watermark: str,
    max_files_per_trigger: int,
    available_now: bool,
    trigger_interval: str | None,
    source_format: str,
) -> PipelineHandles:
    """Start ``queries`` (see ``start_pipeline``). ``available_now``,
    set only by ``run_pipeline_to_completion`` for the file source, runs
    the queries reading bronze under ``Trigger.AvailableNow``. Never the
    gold layer: the trigger would snapshot silver's commits once, before
    silver has written them. Never the Python Data Source: its rate
    limit lives in ``latestOffset``, which the trigger snapshots once as
    the final end."""
    # fail loudly on a name no branch below will start: a typo'd query
    # would otherwise be silently skipped while the caller believes its
    # table is produced
    known = {*GOLD_LAYER, *FOLDS, *KEYED_STATE, "silver"}
    unknown = [q for q in queries if q not in known]
    if unknown:
        raise ValueError(
            f"unknown streaming queries {unknown}; known: {sorted(known)}"
        )
    hosts = {FOLDS[q] for q in queries if q in FOLDS} - set(queries)
    queries = (*sorted(hosts), *queries)
    if set(queries) & GOLD_LAYER and "silver" not in queries:
        queries = ("silver", *queries)
    h = PipelineHandles()

    def src() -> DataFrame:
        if source_format == "py_datasource":
            from ..sources.py_datasource import SynthTranscriptsDataSource

            _register(spark, SynthTranscriptsDataSource)
            return (
                spark.readStream.format("synth_transcripts")
                .option("path", source_dir)
                .option("filesPerBatch", str(max_files_per_trigger))
                # 4 read tasks/batch: each task is a Python worker doing
                # an Arrow range scan — at verification scale the worker
                # fan-out costs more than the extra read parallelism buys
                # (the downstream shuffle re-partitions anyway)
                .option("numPartitions", "4")
                .load()
            )
        return read_transcripts_stream(spark, source_dir, max_files_per_trigger)

    def ckpt(name: str) -> str:
        return os.path.join(work_dir, "checkpoints", name)

    def table(name: str) -> str:
        return os.path.join(work_dir, "tables", name)

    silver_schema = None  # silver's output schema, set where silver is planned

    def silver_src(with_text: bool = False) -> DataFrame:
        """Silver's committed deltas, one per trigger, with the gold
        layer's own watermark. Only enriched_hour reads ``text``; the
        other gold queries leave it unread."""
        from pyspark.sql import types as T

        from ..sources.sink_commits import SinkCommitsDataSource

        _register(spark, SinkCommitsDataSource)
        # the bronze offset before silver's first batch
        initial = {"row": 0} if source_format == "py_datasource" else {"logOffset": -1}
        schema = T.StructType([
            T.StructField(f.name, f.dataType, True)
            for f in silver_schema.fields
            if with_text or f.name != "text"
        ])
        return (
            spark.readStream.format("sink_commits")
            .schema(schema)
            .option("path", table("silver"))
            .option("checkpoint", ckpt("silver"))
            .option("initialOffset", json.dumps(initial))
            .load()
            .withWatermark("ts", watermark)
        )

    # Work dirs made while fold members could also run standalone: a
    # checkpoint dir NAMED after a member is hard evidence its sink was
    # fed from that checkpoint's batch ids, which the host's ids (from
    # 0 again) would collide with — is_committed would answer True from
    # the stale log and batches would be silently dropped.
    legacy = [m for m in FOLDS if m in queries and os.path.isdir(ckpt(m))]
    if legacy:
        raise RuntimeError(
            f"fold members {legacy} ran standalone in this work_dir "
            f"({', '.join(ckpt(m) for m in legacy)}); they now ride their "
            "host query, whose batch ids would misalign the sinks' commit "
            "logs (silent data loss). Use a fresh work_dir."
        )

    def member_sinks(host: str):
        """The (sink, transform) of each requested fold member of ``host``."""
        extra = []
        for m in FOLDS:
            if FOLDS[m] == host and m in queries:
                h.sinks[m], transform = _member_sink(m, table(m))
                extra.append((h.sinks[m], transform))
        return extra or None

    if "silver" in queries:
        sink = ParquetMergeSink(table("silver"), ["conv_id", "turn_idx"], "ts")
        h.sinks["silver"] = sink
        silver_df = silver_stream(src(), watermark)
        silver_schema = silver_df.schema
        h.queries["silver"] = _start(
            silver_df, sink, "silver", ckpt("silver"),
            "append", available_now, trigger_interval,
            extra_sinks=member_sinks("silver"), lineage=True,
        )

    for name, (keys, plan) in KEYED_STATE.items():
        if name not in queries:
            continue
        sink = ParquetMergeSink(table(name), keys, None)
        h.sinks[name] = sink
        h.queries[name] = _start(
            plan(cleanse_turns(src()).withWatermark("ts", watermark)),
            sink, name, ckpt(name), "append", available_now, trigger_interval,
        )

    # ---- gold layer: silver's committed deltas, one per trigger -------
    # No no-data batches of gold's own: gold then evicts only on silver
    # commits (silver's empty commits included), so its watermark and
    # evictions follow silver's batches exactly. With them, gold could
    # run an eviction batch while silver is still writing the batch
    # holding late rows, and drop rows the chain absorbs today.
    # Default trigger: silver's commits set gold's pace (start_pipeline).
    def start_gold(df, sink, name) -> StreamingQuery:
        return _start(
            df, sink, name, ckpt(name), "append", False, None,
            extra_sinks=member_sinks(name),
        )

    prev_no_data = spark.conf.get(_NO_DATA_BATCHES)
    spark.conf.set(_NO_DATA_BATCHES, "false")
    try:
        if "gold_hour" in queries:
            sink = ParquetMergeSink(table("gold_hour"), ["window_start", "conv_id"], "window_start")
            h.sinks["gold_hour"] = sink
            h.queries["gold_hour"] = start_gold(
                conv_window_stats_stream(silver_src(), "hour"), sink, "gold_hour"
            )

        if "gold_day" in queries:
            sink = ParquetMergeSink(table("gold_day"), ["window_start", "conv_id"], "window_start")
            h.sinks["gold_day"] = sink
            h.queries["gold_day"] = start_gold(
                conv_window_stats_stream(silver_src(), "day"),
                sink, "gold_day",
            )

        if "gold_sliding" in queries:
            from ..plans.gold_windows import conv_window_stats_sliding_stream

            sink = ParquetMergeSink(table("gold_sliding"), ["window_start", "conv_id"], "window_start")
            h.sinks["gold_sliding"] = sink
            h.queries["gold_sliding"] = start_gold(
                conv_window_stats_sliding_stream(silver_src()),
                sink, "gold_sliding",
            )

        if "sessions" in queries:
            sink = ParquetMergeSink(table("sessions"), ["conv_id", "window_start"], "window_start")
            h.sinks["sessions"] = sink
            h.queries["sessions"] = start_gold(
                sessionize_stream(silver_src(), 1800),
                sink, "sessions",
            )

        if "unanswered" in queries:
            from ..plans.patterns import unanswered_user_turns_stream

            sink = ParquetMergeSink(table("unanswered"), ["conv_id", "turn_idx"], None)
            h.sinks["unanswered"] = sink
            h.queries["unanswered"] = start_gold(
                unanswered_user_turns_stream(silver_src()),
                sink, "unanswered",
            )

        if "enriched_hour" in queries:
            from pyspark.sql import functions as F

            from ..datagen.flush import FLUSH_CONV_ID
            from ..plans.enrich import enriched_role_stats_stream

            # stream-static broadcast enrichment (J1's streaming analog): the
            # tiny role dimension is broadcast into every micro-batch, then a
            # normal watermark-driven windowed aggregate groups on the
            # DIMENSION's column. The flush sentinel is excluded write-side:
            # the aggregate drops conv_id, so the read view could not filter
            # it. The filter must sit after the watermark node, which has to
            # see the sentinel to advance; the optimizer pushes a filter
            # below a watermark unless it references the event-time column,
            # hence the (always false) ts IS NULL arm.
            sink = ParquetMergeSink(
                table("enriched_hour"), ["window_start", "role_group"], None
            )
            h.sinks["enriched_hour"] = sink
            h.queries["enriched_hour"] = start_gold(
                enriched_role_stats_stream(
                    silver_src(with_text=True).filter(
                        (F.col("conv_id") != FLUSH_CONV_ID) | F.col("ts").isNull()
                    ),
                    spark,
                ),
                sink, "enriched_hour",
            )

        if "pairs" in queries:
            sink = ParquetMergeSink(table("pairs"), ["conv_id", "user_turn_idx"], None)
            h.sinks["pairs"] = sink
            h.queries["pairs"] = start_gold(
                user_response_pairs_stream(silver_src()), sink, "pairs"
            )
    except BaseException:
        h.stop_all()  # silver may have been started for the gold layer
        raise
    finally:
        spark.conf.set(_NO_DATA_BATCHES, prev_no_data)
    # every gold checkpoint the work dir has: compact_all must not fold
    # a silver delta that one of them has not read, started now or not
    # (a fold member's own checkpoint is a legacy one that never runs again)
    h.silver_readers = {
        q: ckpt(q) for q in GOLD_LAYER - FOLDS.keys() if os.path.isdir(ckpt(q))
    }
    for m in FOLDS:
        if m in queries:
            h.queries[m] = h.queries[FOLDS[m]]  # same query object (alias)
    return h


def run_pipeline_to_completion(
    spark: SparkSession,
    source_dir: str,
    work_dir: str,
    queries: tuple[str, ...] = ("silver", "gold_hour", "pairs"),
    watermark: str = DEFAULT_WATERMARK,
    max_files_per_trigger: int = 4,
    shuffle_partitions: int | None = None,
    source_format: str = "files",
) -> PipelineHandles:
    """Drain the whole source and return handles. Rate control is
    preserved (micro-batches of ``max_files_per_trigger`` files), so
    watermark semantics match a live run over the same arrival order.

    One drain path for both source formats:
      1. start every query;
      2. drain the queries reading bronze, silver among them: the file
         source under ``Trigger.AvailableNow``, the registered Python
         Data Source (``source_format="py_datasource"``) under the
         default trigger + ``processAllAvailable`` — its rate limit
         lives in ``latestOffset``, which AvailableNow snapshots once
         (see ``_start_queries``);
      3. ``processAllAvailable`` on each gold-layer query, which then
         has every silver commit to read, then stop them all.
    Both formats run the post-watermark flush batches
    (``processAllAvailable`` blocks until no-new-data, which includes
    the stateful flush batch the sentinel's watermark advance schedules,
    and gold reads silver's flush commit like any other).

    ``shuffle_partitions``: state stores are instantiated and committed
    PER shuffle partition PER stateful operator PER micro-batch — at
    verification scale that fixed cost dominates (measured: an 8-query
    sf0.1 drain drops 93 s → 34 s going 32 → 8 partitions, identical
    results). Pass a small value for small drains; production streams
    size it to state volume as usual. Restored after the drain."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        available_now = source_format != "py_datasource"
        h = _start_queries(
            spark, source_dir, work_dir, queries, watermark,
            max_files_per_trigger, available_now, None, source_format,
        )
        distinct = list({id(q): q for q in h.queries.values()}.values())
        gold = {id(q) for n, q in h.queries.items() if n in GOLD_LAYER}
        # stop_all in finally: a query failing mid-drain (e.g.
        # state-server timeouts under CPU steal) must not leave the
        # default-trigger queries running forever in the driver
        try:
            for q in distinct:
                if id(q) in gold:
                    continue
                if available_now:
                    q.awaitTermination()
                else:
                    q.processAllAvailable()
            for q in distinct:
                if id(q) in gold:
                    q.processAllAvailable()
        finally:
            h.stop_all()
        h.await_all()
    finally:
        if shuffle_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    return h


def drain_file_stream(
    spark: SparkSession,
    source_dir: str,
    work_dir: str,
    name: str,
    keys: list[str],
    plan,
    mode: str,
    max_files_per_trigger: int = 1,
    shuffle_partitions: int | None = None,
    handler=ParquetMergeSink.foreach_batch_handler,
) -> ParquetMergeSink:
    """Drain a parquet file stream through ``plan`` (stream DataFrame →
    stream DataFrame) into the MERGE sink ``tables/<name>`` keyed by
    ``keys``, checkpointed under ``checkpoints/<name>``, with
    ``Trigger.AvailableNow``; returns the sink. The one drain of the
    side runners (stateful LSH and embedding dedup, funnel, SCD2).

    The schema comes from the source files themselves: a hardcoded
    literal would silently NULL-fill renamed or retyped columns, where
    deriving it makes drift fail loudly at analysis time. Resuming
    follows the engine's contract: a checkpoint whose committed batches
    are missing from the sink is refused (``_check_sink_alignment``).

    ``handler(sink)`` returns the ``foreachBatch`` function; the default
    writes each batch with ``sink.process_batch``. ``shuffle_partitions``: as in
    ``run_pipeline_to_completion``; restored however the drain ends, a
    refused resume or a bad source path included."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        schema = spark.read.parquet(source_dir).schema
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(source_dir)
        )
        sink = ParquetMergeSink(os.path.join(work_dir, "tables", name), keys, None)
        ckpt = os.path.join(work_dir, "checkpoints", name)
        _check_sink_alignment(ckpt, name, sink, None)
        (
            plan(src).writeStream.queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .foreachBatch(handler(sink))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return sink
