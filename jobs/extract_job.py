#!/usr/bin/env python
"""spark-submit entrypoint for the extraction pipeline.

Cluster usage (north rule packaging):

    cd /root/repo && zip -r /tmp/engine.zip credit_ocr_backend_spark config
    spark-submit --py-files /tmp/engine.zip jobs/extract_job.py \
        --pages s3://bucket/pages --out /mnt/shared/extract \
        --ts-min 2025-01-01 --ts-max 2025-02-01 \
        --buckets 4096 --chunks 64 [--resume]

--pages accepts any URI whose scheme has a Hadoop FileSystem
implementation on the classpath (file://, hdfs://, s3a:// with the aws
connector jars, ...). --out needs that too, since Spark writes the chunk
data through Hadoop, and also a scheme pyarrow can open (local,
file://, s3a:// as pyarrow's s3://, hdfs:// with libhdfs): the manifest
and lineage go through pyarrow.fs onto the same store as the data.
CheckpointManager fails fast at startup when either is missing (e.g.
s3:// without the jars) rather than silently divorcing resume state
from data.

Local smoke:

    python jobs/extract_job.py --generate 2000 --out /tmp/extract_out

The job prints one JSON line with document counts, failures and
throughput; per-bucket metrics land in {out}/lineage.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_session():
    """The job's SparkSession. Under spark-submit master/executors come
    from the submit conf; the engine's conf, the same dict get_spark
    applies, goes on the builder so its ``spark.hadoop.*`` keys reach
    the Hadoop conf that the chunk writes use."""
    from pyspark.sql import SparkSession

    from credit_ocr_backend_spark.plans.session import ENGINE_CONF

    return (
        SparkSession.builder.appName("extract-job").config(map=ENGINE_CONF).getOrCreate()
    )


def main() -> int:
    parser = argparse.ArgumentParser()
    parser.add_argument("--pages", help="input pages table (parquet/Iceberg path)")
    parser.add_argument("--out", required=True, help="output root")
    parser.add_argument("--generate", type=int, default=0,
                        help="generate a synthetic corpus of N docs instead of --pages")
    parser.add_argument("--buckets", type=int, default=64)
    parser.add_argument("--chunks", type=int, default=4)
    parser.add_argument("--resume", action="store_true")
    parser.add_argument("--ts-min", dest="ts_min")
    parser.add_argument("--ts-max", dest="ts_max")
    args = parser.parse_args()

    from credit_ocr_backend_spark.plans.pipeline import run_pipeline
    from credit_ocr_backend_spark.sources.pages import write_pages

    spark = build_session()

    pages_path = args.pages
    if args.generate:
        pages_path = f"{args.out.rstrip('/')}/_generated_pages"
        write_pages(spark, pages_path, n_docs=args.generate)
    if not pages_path:
        parser.error("either --pages or --generate is required")

    result = run_pipeline(
        spark,
        pages_path,
        args.out,
        n_buckets=args.buckets,
        n_chunks=args.chunks,
        resume=args.resume,
        ts_min=args.ts_min,
        ts_max=args.ts_max,
    )
    print(
        json.dumps(
            {
                "n_docs": result.n_docs,
                "n_failed": result.n_failed,
                "chunks_run": result.chunks_run,
                "chunks_skipped": result.chunks_skipped,
                "wall_sec": round(result.wall_sec, 2),
                "docs_per_sec": round(result.docs_per_sec, 1),
                "out": args.out,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
