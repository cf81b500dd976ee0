#!/usr/bin/env python
"""Cluster job entrypoint for the training-data curation pass — the
spark-submit face of the td_* surface:

    spark-submit --py-files loggie_spark.zip jobs/run_curation.py \
        --input  s3://bucket/documents/           \
        --output s3://bucket/curated/             \
        --min-quality 0.5 --max-repetition 0.3    \
        --n-shards 64

Stages (each one the operator the registry certifies, composed):

1. quality + repetition signals   (textstats — one narrow pass)
2. exact dedup                    (sha2-digest groupBy, digest shuffle)
3. near-dup clusters → survivors  (minhash-LSH bands → connected
                                   components → quality-aware keeper)
3b. semantic dedup (optional)     (--embeddings: SemDeDup — kmeans
                                   cells → within-cell cosine →
                                   least-prototypical survivor)
4. gates                          (quality ≥ q, repetition ≤ r)
4b. DSIR resample (optional)      (--dsir-target: importance-weighted
                                   deterministic Bernoulli selection
                                   toward the target domain)
5. greedy sequence packing        (no-straddle bins, scalar shuffle)
6. shard export                   (manifest-last commit protocol;
                                   consumers verify before reading)

A `_curation_report.json` lands next to the manifest with per-stage
doc counts — the funnel a curation run is audited by. Re-running into
the same --output overwrites atomically (data first, manifest last).
"""

from __future__ import annotations

import argparse
import json


def main(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="documents table path/URI")
    ap.add_argument("--output", required=True)
    ap.add_argument("--min-quality", type=float, default=0.5)
    ap.add_argument("--max-repetition", type=float, default=0.3)
    ap.add_argument("--n-shards", type=int, default=64)
    ap.add_argument("--max-seq-len", type=int, default=2048)
    ap.add_argument(
        "--embeddings",
        default=None,
        help="embeddings table (vec_id = doc_id) enabling the SemDeDup stage",
    )
    ap.add_argument("--semdedup-threshold", type=float, default=0.95)
    ap.add_argument(
        "--dsir-target",
        default=None,
        help="target-domain documents table enabling the DSIR resample stage",
    )
    ap.add_argument("--dsir-keep-fraction", type=float, default=0.5)
    ap.add_argument("--master", default=None, help="override for local runs/tests")
    args = ap.parse_args(argv)

    import pyspark.sql.functions as F

    from loggie_spark.layout import write_training_shards
    from loggie_spark.operators.dedup import (
        cluster_survivors,
        dedup_exact,
        dup_clusters,
        minhash_lsh_pairs,
    )
    from loggie_spark.operators.packing import pack_sequences_greedy
    from loggie_spark.operators.textstats import dup_word_fraction, text_stats
    from loggie_spark.session import get_spark

    spark = get_spark(app_name="loggie-curation", master=args.master)

    docs = spark.read.parquet(args.input)
    report: dict = {"input_docs": docs.count()}

    # 1. signals (narrow, single pass) — cached: three later stages gate on it
    scored = text_stats(docs).withColumn(
        "repetition", F.round(dup_word_fraction(F.col("text")), 4)
    )

    # 2. exact dedup
    exact_keep = dedup_exact(scored)
    scored = scored.join(exact_keep, "doc_id", "left_semi")
    report["after_exact_dedup"] = scored.count()

    # 3. near-dup clusters, quality-aware survivor per cluster
    pairs = minhash_lsh_pairs(scored)
    clusters = dup_clusters(pairs)
    survivors = cluster_survivors(clusters, scored.select("doc_id", F.col("quality").alias("q")))
    clustered_ids = clusters.select("doc_id")
    kept_near = survivors.select(F.col("survivor_id").alias("doc_id"))
    scored = scored.join(clustered_ids, "doc_id", "left_anti").unionByName(
        scored.join(kept_near, "doc_id", "left_semi")
    )
    report["after_near_dedup"] = scored.count()

    # 3b. optional semantic dedup (SemDeDup): duplicate groups in
    # embedding space keep one member each (the least prototypical)
    if args.embeddings:
        from loggie_spark.operators.dedup import semdedup

        emb = spark.read.parquet(args.embeddings)
        sem = semdedup(emb, threshold=args.semdedup_threshold)
        # docs without an embedding row pass through (no evidence
        # against them); docs whose group dropped them go
        scored = scored.join(
            sem.filter(~F.col("keep")).select(F.col("vec_id").alias("doc_id")),
            "doc_id",
            "left_anti",
        )
        report["after_semantic_dedup"] = scored.count()

    # 4. quality gates
    curated = scored.filter(
        (F.col("quality") >= args.min_quality)
        & (F.col("repetition") <= args.max_repetition)
    )
    report["after_quality_gates"] = curated.count()

    # 4b. optional DSIR importance resample toward a target domain
    if args.dsir_target:
        from loggie_spark.operators.curation import dsir_resample

        target = spark.read.parquet(args.dsir_target)
        picked = dsir_resample(
            curated, target, keep_fraction=args.dsir_keep_fraction
        )
        curated = curated.join(
            picked.filter(F.col("keep")).select("doc_id"), "doc_id", "left_semi"
        )
        report["after_dsir_resample"] = curated.count()

    # 5. pack into training sequences (token count = whitespace words here;
    #    swap in the real tokenizer's n_tok upstream when available)
    packed = pack_sequences_greedy(
        curated.select("doc_id", "source", F.col("n_words").cast("long").alias("n_tok")),
        max_len=args.max_seq_len,
        n_shards=args.n_shards,
    )
    to_export = packed.join(
        curated.select("doc_id", "n_words"), "doc_id"
    ).select(
        "doc_id",
        F.pmod(F.xxhash64("pack_id"), F.lit(args.n_shards)).cast("int").alias("shard"),
        F.col("n_words").cast("long").alias("n_tok"),
        "pack_id",
        "pack_offset",
    )

    # 6. manifest-committed shard export
    manifest = write_training_shards(to_export, args.output)
    report["exported_rows"] = manifest["total_rows"]
    report["exported_tokens"] = manifest["total_tokens"]
    report["n_shards"] = len(manifest["shards"])

    # through the Hadoop FS API so the report lands next to the data on
    # object stores too (--output s3a://... is the advertised contract)
    from loggie_spark.checkpoint import write_json_marker

    write_json_marker(spark, args.output, "_curation_report.json", report)
    print(json.dumps(report))
    return report


if __name__ == "__main__":
    main()
