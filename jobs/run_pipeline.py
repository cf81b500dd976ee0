#!/usr/bin/env python
"""Cluster job entrypoint — the spark-submit face of the engine.

    spark-submit --py-files loggie_spark.zip jobs/run_pipeline.py \
        --input  s3://bucket/sequences/          \
        --output s3://bucket/routed/             \
        --run-id 2026-08-16                      \
        --n-buckets 4096 --salt 64

Re-running with the same --run-id resumes: completed buckets are
skipped via the manifest; partially-written buckets are atomically
re-written (dynamic partition overwrite). Per-sink metric counts land
under <output>/_metrics and are exactly-once across resumes.

The manifest (default <output>/_manifest, or --manifest) goes through
the same Hadoop filesystem as the write, for URIs and plain paths alike:
a plain path resolves against fs.defaultFS, as the output does.

Build the zip with:  python -m zipfile -c loggie_spark.zip loggie_spark
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="sequences table path/URI")
    ap.add_argument("--output", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--manifest", default=None)
    ap.add_argument("--n-buckets", type=int, default=4096)
    ap.add_argument("--salt", type=int, default=64)
    ap.add_argument("--key", default="doc_id")
    args = ap.parse_args()

    # Imports deferred so --help works without a JVM.
    from pyspark.sql import SparkSession

    from loggie_spark.examples import reference_pipeline
    from loggie_spark.pipeline import Pipeline

    # On a cluster, master/memory/etc. come from spark-submit; this
    # builder only names the app and trusts the submit-time conf.
    spark = (
        SparkSession.builder.appName(f"loggie-spark:{args.run_id}")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .getOrCreate()
    )

    cfg = reference_pipeline(n_buckets=args.n_buckets, salt=args.salt)
    seq = spark.read.parquet(args.input)
    metrics = Pipeline(cfg).run(
        spark,
        seq,
        args.output,
        run_id=args.run_id,
        manifest_dir=args.manifest,
        key=args.key,
    )
    metrics.write.mode("overwrite").parquet(f"{args.output}/_metrics")
    metrics.orderBy("pipeline", "source", "sink").show(100, truncate=False)
    spark.stop()


if __name__ == "__main__":
    main()
