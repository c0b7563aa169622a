"""Physical-plan regression tests: the properties that matter at 100 TB.

These read ``executedPlan`` strings and pin down:
  * filter pushdown reaches the parquet scan (silver)
  * column pruning (a narrow projection reads a narrow schema)
  * map-side partial aggregation before the dedup shuffle
  * all conv_features windows share ONE exchange on conv_id
  * the per-day factor join is a broadcast join (J1)
"""

from __future__ import annotations

from crypto_near_real_time_data_ingestion_spark.plans import events_gold as eg
from crypto_near_real_time_data_ingestion_spark.plans.gold_features import conv_features
from crypto_near_real_time_data_ingestion_spark.plans.silver import silver_batch
from crypto_near_real_time_data_ingestion_spark.sources import read_transcripts

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_silver_pushdown_and_partial_agg(spark, transcripts_parquet):
    plan = _plan(silver_batch(read_transcripts(spark, transcripts_parquet)))
    scan = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert scan and "isnotnull(conv_id" in scan[0], "filters must reach the scan"
    assert "partial_min" in plan, "dedup reduce must partially aggregate map-side"
    assert plan.count("Exchange") == 1, "silver is a single-shuffle plan"


def test_column_pruning(spark, transcripts_parquet):
    narrow = silver_batch(read_transcripts(spark, transcripts_parquet)).select(
        "conv_id", "turn_idx"
    )
    scan = [l for l in _plan(narrow).splitlines() if "FileScan parquet" in l][0]
    assert "text" not in scan, "unused text column must be pruned from the scan"


def test_conv_features_single_exchange(spark, transcripts_parquet):
    silver = silver_batch(read_transcripts(spark, transcripts_parquet))
    plan = _plan(conv_features(silver))
    # one exchange for the dedup key + one for conv_id windows; all window
    # specs share the conv_id exchange
    assert plan.count("Exchange hashpartitioning") == 2, plan.count("Exchange")


def test_events_ml_broadcast_join(spark):
    plan = _plan(eg.events_ml_features(eg.read_events(spark, SF_DIR)))
    assert "BroadcastHashJoin" in plan, "per-day factor join must broadcast (J1)"


def test_partitioned_layout_roundtrip_and_pruning(spark, transcripts_parquet, tmp_path):
    """Hive-partitioned silver layout (y/m/d/h): write → read roundtrip is
    lossless, and a predicate on partition columns prunes at PLANNING time
    (PartitionFilters on the scan, fewer files read) — the reference's
    partition-projection behavior (S2/S9/S10)."""
    from pyspark.sql import functions as F

    from crypto_near_real_time_data_ingestion_spark.sources import (
        read_silver_partitioned,
        write_silver_partitioned,
    )

    silver = silver_batch(read_transcripts(spark, transcripts_parquet))
    out = str(tmp_path / "silver_part")
    write_silver_partitioned(silver, out)

    back = read_silver_partitioned(spark, out)
    assert back.count() == silver.count()
    # roundtrip equality on the logical columns
    a = silver.orderBy("conv_id", "turn_idx").toPandas()
    b = (
        back.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    assert a.equals(b)

    pruned = back.filter((F.col("h") == "03"))
    plan = _plan(pruned)
    scan = [l for l in plan.splitlines() if "FileScan parquet" in l][0]
    import re

    assert re.search(r"PartitionFilters: \[[^\]]*h#\d+ = 3", scan), scan[:500]
    # pruning must not degenerate to a full scan: the hour filter reads
    # strictly fewer partition directories than exist
    n_hours = silver.select(F.date_format("ts", "HH").alias("h")).distinct().count()
    assert n_hours > 1
    got_hours = pruned.select("h").distinct().count()
    assert got_hours == 1


def test_gold_dynamic_partition_overwrite(spark, transcripts_parquet, tmp_path):
    """Gold dt-partitioned write with dynamic overwrite: rewriting one
    day's rows replaces exactly that partition and leaves the rest intact
    (the reference's idempotent daily-batch discipline, S10)."""
    from pyspark.sql import functions as F

    from crypto_near_real_time_data_ingestion_spark.plans.gold_windows import (
        conv_window_stats,
    )
    from crypto_near_real_time_data_ingestion_spark.sources import (
        write_gold_partitioned,
    )

    gold = conv_window_stats(
        silver_batch(read_transcripts(spark, transcripts_parquet)), "hour"
    )
    out = str(tmp_path / "gold_part")
    write_gold_partitioned(gold, out)
    before = spark.read.parquet(out)
    before_count = before.count()  # eager: file index goes stale post-rewrite
    days = [r["dt"] for r in before.select("dt").distinct().collect()]
    assert len(days) > 1
    target = sorted(days)[0]

    # rewrite ONLY the first day, with a sentinel value
    patched = gold.filter(F.to_date("window_start") == F.lit(target)).withColumn(
        "n_turns", F.lit(-1).cast("long")
    )
    write_gold_partitioned(patched, out)

    after = spark.read.parquet(out)
    assert after.count() == before_count, "untouched partitions must survive"
    assert (
        after.filter(F.col("dt") == target).filter(F.col("n_turns") != -1).count() == 0
    ), "target partition must be fully replaced"
    assert (
        after.filter(F.col("dt") != target).filter(F.col("n_turns") == -1).count() == 0
    ), "other partitions must be untouched"


def test_ohlc_view_branch_pruning(spark):
    """The g='week' view filters a 4-grain union; Catalyst constant-folds
    the other grains' `'hour' = 'week'` predicates to false and prunes
    those union branches — exactly ONE scan survives. (The reference got
    this from physical `g=` partition layout; we get it from the
    optimizer.)"""
    from crypto_near_real_time_data_ingestion_spark.plans import events_gold as eg

    eg.register_ohlc_views(spark, eg.read_events(spark, SF_DIR))
    plan = _plan(spark.sql("SELECT * FROM gold_ohlc_week"))
    assert plan.count("FileScan parquet") == 1, plan[:800]


def test_doc_chunks_no_shuffle(spark):
    """Chunk fan-out is pure map-side Catalyst (posexplode+slice): no
    Exchange, no Python runner in the plan."""
    from crypto_near_real_time_data_ingestion_spark.plans import documents_gold as dg

    plan = _plan(dg.doc_chunks(dg.read_documents(spark, SF_DIR)))
    assert "Exchange" not in plan, plan[:500]
    assert "Generate posexplode" in plan or "posexplode" in plan
    assert "Python" not in plan, "chunking must stay JVM-side"


def test_events_json_entities_no_shuffle(spark):
    """JSON build/parse/explode_outer/map_entries is one codegen'd
    map-side pass over the scan."""
    from crypto_near_real_time_data_ingestion_spark.plans import events_gold as eg

    plan = _plan(eg.events_json_entities(eg.read_events(spark, SF_DIR)))
    assert "Exchange" not in plan, plan[:500]
    assert "Python" not in plan


def test_block_gemm_plan_shape(spark):
    """The exact ANN scorer must be a broadcast tile join (no sort-merge,
    no cartesian shuffle) and contain NO driver collect: the plan builds
    the corpus blocks with a hash aggregate, broadcasts them, and runs
    one Arrow stage over the tiles."""
    from crypto_near_real_time_data_ingestion_spark.operators.ann import (
        broadcast_cosine_topk,
    )
    from crypto_near_real_time_data_ingestion_spark.plans import documents_gold as dg

    emb = dg.read_embeddings(spark, SF_DIR)
    plan = _plan(broadcast_cosine_topk(emb, k=5, block_size=128))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan[:800]
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_dataset_assembly_plan_shapes(spark):
    """Split is pure map-side (no Exchange, no Python); packing is exactly
    ONE shuffle (the bucket key) + one in-bucket sort."""
    from crypto_near_real_time_data_ingestion_spark.plans import documents_gold as dg

    docs = dg.read_documents(spark, SF_DIR)
    split_plan = _plan(dg.doc_split_assign(docs))
    assert "Exchange" not in split_plan and "Python" not in split_plan

    pack_plan = _plan(dg.doc_pack_sequences(docs)).split("== Initial Plan ==")[0]
    assert pack_plan.count("Exchange hashpartitioning") == 1, pack_plan[:400]
    assert "Python" not in pack_plan


def test_enriched_stream_static_broadcast(spark, transcripts_parquet):
    """The stream-static enrichment's dimension join must broadcast (J1
    streaming analog) — asserted on the batch twin, which shares the
    join plan with the streaming form."""
    from crypto_near_real_time_data_ingestion_spark.plans.enrich import (
        enriched_role_stats,
    )
    from crypto_near_real_time_data_ingestion_spark.plans.silver import silver_batch
    from crypto_near_real_time_data_ingestion_spark.sources import read_transcripts

    plan = _plan(
        enriched_role_stats(
            silver_batch(read_transcripts(spark, transcripts_parquet)), spark
        )
    )
    assert "BroadcastHashJoin" in plan, "role dimension must broadcast"


def test_aqe_coalesces_small_shuffle(spark, transcripts_parquet):
    """AQE right-sizes shuffle partitions at runtime: a small aggregate
    under the session's static partition count comes back coalesced
    (`AQEShuffleRead coalesced`) in the final adaptive plan — the knob
    that keeps per-partition fixed costs (task launch, state-store
    commits) from dominating when a stage's data is far below the
    static `spark.sql.shuffle.partitions` sizing. The final plan is
    only visible on the executed Dataset's own QueryExecution
    (CLAUDE.md AQE note), hence collect-then-inspect."""
    from pyspark.sql import functions as F

    silver = silver_batch(read_transcripts(spark, transcripts_parquet))
    agg = silver.groupBy("conv_id").agg(F.count("*").alias("n"))
    agg.collect()
    plan = _plan(agg)
    assert "coalesced" in plan, plan


def test_identical_subplans_reuse_one_exchange(spark, transcripts_parquet):
    """Exchange reuse: when the SAME aggregated subtree feeds a join
    twice (the self-comparison shape — week-over-week stats, rank vs
    rank), Spark computes and shuffles it ONCE (`ReusedExchange`)
    instead of re-running the aggregation per side. At 100 TB that is
    a full corpus scan + shuffle saved; worth pinning so a refactor
    that perturbs one side's plan (breaking subtree equality) fails
    here instead of doubling a production stage."""
    from pyspark.sql import functions as F

    silver = silver_batch(read_transcripts(spark, transcripts_parquet))
    stats = silver.groupBy("conv_id").agg(
        F.count("*").alias("n"), F.max("ts").alias("last_ts")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = (
            stats.alias("a")
            .join(stats.alias("b"), "conv_id")
            .select("conv_id", F.col("a.n").alias("n_a"), F.col("b.n").alias("n_b"))
        )
        j.collect()
        plan = _plan(j)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "ReusedExchange" in plan, plan
