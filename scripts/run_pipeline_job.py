#!/usr/bin/env python
"""Cluster job entrypoint for the flagship pipeline.

Submission shape (north_rule)::

    zip -r pipeline.zip compress_otel_collector_spark
    spark-submit --py-files pipeline.zip \\
        scripts/run_pipeline_job.py \\
        --input s3://bucket/pages_iceberg_or_parquet \\
        --output s3://bucket/routed \\
        --format parquet --buckets 64

On a real cluster the input is an Iceberg table (``--format iceberg``
with the catalog configured on the session); locally any parquet directory
with the pages schema works. ``--streaming`` drains a parquet input with
``availableNow`` + checkpoint instead of one batch run — same stages,
resumable either way (batch resumes from the sink's own lineage, streaming
from the checkpoint). Each route directory is committed whole, so a route
is either absent or complete. ``--no-resume`` re-encodes the whole input and
replaces every route it covers; it never appends a second copy.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# Local invocation (`python scripts/run_pipeline_job.py`) puts scripts/ on
# sys.path, not the repo root; on a cluster --py-files provides the package.
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    try:
        import compress_otel_collector_spark  # noqa: F401
    except ModuleNotFoundError:
        sys.path.insert(0, _REPO_ROOT)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--format", default="parquet",
                    choices=["parquet", "iceberg"])
    ap.add_argument("--buckets", type=int, default=64,
                    help="host route buckets")
    ap.add_argument("--arms", action="store_true",
                    help="also measure the gzip, OTLP proto and JSON "
                         "comparison arms")
    ap.add_argument("--no-resume", action="store_true",
                    help="re-encode every page and replace each route the "
                         "input covers (no copy is appended)")
    ap.add_argument("--streaming", action="store_true")
    ap.add_argument("--checkpoint", default=None,
                    help="checkpoint dir (required with --streaming)")
    ap.add_argument("--dedup-horizon", default=None, metavar="INTERVAL",
                    help="streaming only: drop re-delivered duplicate "
                         "texts across micro-batches within this "
                         "event-time horizon (e.g. '1 hour'); state is "
                         "bounded by ingest-rate × horizon and rides "
                         "the checkpoint")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    args = ap.parse_args()
    if args.dedup_horizon and not args.streaming:
        ap.error("--dedup-horizon requires --streaming (batch dedup is "
                 "operators.dedup.dedup_keep_first, a separate pass)")
    if args.streaming and not args.checkpoint:
        ap.error("--streaming requires --checkpoint")
    if args.streaming and args.format == "iceberg":
        ap.error("--streaming reads --input as a parquet directory; "
                 "--format iceberg is batch only")

    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.appName("compress-otel-collector-spark")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
    )
    if args.shuffle_partitions:
        builder = builder.config("spark.sql.shuffle.partitions",
                                 str(args.shuffle_partitions))
    spark = builder.getOrCreate()

    if args.streaming:
        from compress_otel_collector_spark.streaming.stream import (
            run_streaming_pipeline,
        )

        run_streaming_pipeline(
            spark, args.input, args.output, args.checkpoint,
            n_buckets=args.buckets, arms=args.arms,
            dedup_horizon=args.dedup_horizon)
        from compress_otel_collector_spark.plans.pipeline import (
            aggregate_stage,
            read_routed,
        )

        agg = aggregate_stage(read_routed(spark, args.output))
    else:
        from compress_otel_collector_spark.plans.pipeline import run_pipeline

        if args.format == "iceberg":
            pages = spark.read.format("iceberg").load(args.input)
        else:
            pages = spark.read.parquet(args.input)
        agg = run_pipeline(
            spark, pages, args.output, n_buckets=args.buckets,
            arms=args.arms, resume=not args.no_resume)

    rows = [r.asDict() for r in agg.collect()]
    print(json.dumps({"sinks": len(rows),
                      "pages": sum(r["pages"] for r in rows)}))
    spark.stop()


if __name__ == "__main__":
    main()
