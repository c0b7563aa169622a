#!/usr/bin/env python
"""spark-submit entrypoint for the streaming medallion pipeline.

Cluster usage (the north-rule deployment shape):

    python scripts/make_pyfiles.py          # → dist/engine.zip
    spark-submit \
        --master <cluster-master> \
        --py-files dist/engine.zip \
        scripts/run_pipeline.py \
        --source s3://bucket/transcripts/stream \
        --work-dir s3://bucket/medallion \
        --queries silver,gold_hour,gold_day,sessions,pairs,features \
        --watermark "15 minutes" \
        --trigger "1 minute"

Local smoke (what the test does):

    spark-submit --master 'local[4]' --py-files dist/engine.zip \
        scripts/run_pipeline.py --source <dir> --work-dir <dir> \
        --queries silver,gold_hour --available-now

Each query gets its own checkpoint under ``<work-dir>/checkpoints`` —
re-running the same command resumes from offsets (the Glue-bookmark
analog). ``--available-now`` drains the current source and exits
(backfill mode, through ``run_pipeline_to_completion``: silver drains
first, then each gold query reads every silver commit); without it the
queries reading bronze run continuously at ``--trigger`` cadence (the
reference's 5-minute EventBridge analog), and the gold queries follow
silver's commits.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--source", required=True, help="transcripts stream directory")
    ap.add_argument("--work-dir", required=True, help="checkpoints + sink tables root")
    ap.add_argument("--queries", default="silver,gold_hour",
                    help="comma list: silver,gold_hour,gold_day,sessions,pairs,features; "
                    "a fold member (heavy_hitters, countmin, hll, hll_hour, "
                    "gold_hour_rank, latency_hist) starts its host query")
    ap.add_argument("--watermark", default="15 minutes")
    ap.add_argument("--trigger", default=None, help="processing-time trigger, e.g. '1 minute'")
    ap.add_argument("--available-now", action="store_true", help="drain source and exit")
    ap.add_argument("--max-files-per-trigger", type=int, default=4)
    ap.add_argument("--metrics-jsonl", default=None, help="append progress events here")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from crypto_near_real_time_data_ingestion_spark.session import SINK_SQL_CONF
    from crypto_near_real_time_data_ingestion_spark.streaming.engine import (
        run_pipeline_to_completion,
        start_pipeline,
    )
    from crypto_near_real_time_data_ingestion_spark.streaming.listener import (
        MetricsListener,
    )

    # master and cluster confs come from spark-submit; the confs the sinks'
    # correctness depends on are the engine's, not the submitter's
    spark = SparkSession.builder.appName("transcript-medallion-stream").getOrCreate()
    for k, v in SINK_SQL_CONF.items():
        spark.conf.set(k, v)

    listener = MetricsListener(jsonl_path=args.metrics_jsonl)
    spark.streams.addListener(listener)

    queries = tuple(q.strip() for q in args.queries.split(",") if q.strip())
    if args.available_now:
        handles = run_pipeline_to_completion(
            spark, args.source, args.work_dir, queries, args.watermark,
            args.max_files_per_trigger,
        )
    else:
        handles = start_pipeline(
            spark,
            source_dir=args.source,
            work_dir=args.work_dir,
            queries=queries,
            watermark=args.watermark,
            max_files_per_trigger=args.max_files_per_trigger,
            trigger_interval=args.trigger,
        )
        handles.await_all()
    summary = {
        "queries": sorted(handles.queries),
        "input_rows": listener.total_input_rows(),
        "batches": sum(len(listener.batch_durations_ms(n)) for n in handles.queries),
        "rows_dropped_by_watermark": listener.rows_dropped_by_watermark(),
    }
    print("PIPELINE_SUMMARY " + json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
