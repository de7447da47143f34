#!/usr/bin/env python
"""spark-submit entry point for the extraction pipeline.

    python jobs/make_package.py   # builds dist/docprompt_spark.zip from HEAD
    spark-submit --master <cluster> \
        --py-files dist/docprompt_spark.zip \
        jobs/extract_job.py \
        --input  <parquet dir: (doc_id, pdf, n_pages)> \
        --output <parquet dir: (doc_id, spans)> \
        [--checkpoint <dir>] [--run-id <id>] \
        [--shuffle-partitions N] [--explain]

Designed for multi-executor clusters: the job carries no driver-side state
beyond the plan; skew salting (fixed 16-page buckets,
pipeline.PAGES_PER_BUCKET, which the checkpoint keys on), checkpoint/resume
and lineage live in docprompt_spark.pipeline. Build the zip with jobs/make_package.py.
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument(
        "--output-format",
        choices=["parquet", "table"],
        default="parquet",
        help="'table' writes an Iceberg-style snapshot table "
        "(docprompt_spark.table): append-only data files + manifest with "
        "per-file doc_id bounds, so re-runs commit new snapshots instead of "
        "clobbering output",
    )
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--explain", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName("docprompt-spark-extract")
    builder = builder.config("spark.sql.adaptive.enabled", "true")
    builder = builder.config("spark.sql.adaptive.skewJoin.enabled", "true")
    builder = builder.config("spark.sql.execution.arrow.pyspark.enabled", "true")
    builder = builder.config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
    if args.shuffle_partitions:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(args.shuffle_partitions)
        )
    spark = builder.getOrCreate()

    from docprompt_spark import pipeline

    docs = spark.read.parquet(args.input).select("doc_id", "pdf", "n_pages")
    result = pipeline.run_extraction(
        spark, docs, checkpoint_dir=args.checkpoint, run_id=args.run_id
    )
    if args.explain:
        result.explain("formatted")
    if args.output_format == "table":
        from docprompt_spark import table

        sid = table.write_table(
            result, args.output, stat_cols=["doc_id"], mode="append"
            if table.current_snapshot_id(args.output) is not None
            else "overwrite",
        )
        print(f"committed snapshot {sid} at {args.output}")
    else:
        result.write.mode("overwrite").parquet(args.output)
    spark.stop()


if __name__ == "__main__":
    main()
