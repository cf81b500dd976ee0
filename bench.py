#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
the sf0.1 test data, SF_DIR below) on local[$SPARK_GRAFT_CPUS] (default:
the CPUs this process may run on).

Prints ONE JSON line:
  {"metric": "sequences_per_sec_e2e", "value": N, "unit": "seq/s",
   "elapsed_sec": ..., "queries": {"q": sec, ...}, "sf": ...,
   "rows": ..., "cpus": ...}

The headline metric is the BASELINE.json north metric: sequences/sec
through the full parse → enrich → route → aggregate pipeline over a
tokenized sequences table (token decode via Arrow pandas UDF, per-source
regex/grok/json programs, broadcast enrich, 3-sink fan-out, exact
per-sink metric counts). The aggregate is collected (forces the full
plan); no local-disk write is timed — on a cluster the sink write is
object-store-bound, which local tmpfs writes would misrepresent.
"""

from __future__ import annotations

import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
# Tokenized-table size for the flagship e2e run (rows scale with SF:
# sf0.1 → 2M sequences ≈ 150 MB of decoded log lines).
N_SEQ = int(os.environ.get("SPARK_GRAFT_N_SEQ", "2000000"))

BENCH_QUERIES = [
    "pl_regex_route_metrics",
    "pl_grok_parse",
    "pl_aggregator",
    "pl_enrich_broadcast",
    "th_q1_pricing",
    "th_q3_revenue",
    "th_q5_region_revenue",
    "td_dedup_minhash_lsh",
    "td_dedup_simhash",
    "td_sim_topk_brute",
    "td_token_counts",
    "td_dup_clusters",
    "td_curation_v2",
    "td_span_dedup",
    "td_vocab_topk",
    "td_bigram_lm",
    "td_token_window_dedup",
    "td_dedup_incremental",
    "td_curation_v3",
    "th_sessionize",
    "td_tokenize_ids",
    "td_containment",
    "td_cluster_survivors",
    "th_heavy_hitters",
    "td_group_sample",
    "td_kmeans_refine",
    "td_semdedup",
    "td_ccnet_buckets",
    "td_ngram_novelty",
    "th_funnel",
    "th_asof_join",
    "td_countmin",
    "td_dsir_weights",
    # round-5 additions: the unbenched-but-nontrivial r4 plans ...
    "th_range_join",
    "td_idf_keywords",
    "pl_parse_dlq",
    "td_bloom_decontaminate",
    "td_embed_quantize",
    "td_split_leakage_safe",
    "td_url_filter",
    "td_corpus_report",
    "td_epoch_order",
    "td_sample_mix",
    # ... and the new r5 operators
    "td_line_dedup",
    "td_gopher_filter",
    "th_cms_hitters",
    "th_asof_join_bucketed",
    "td_idf_keywords_capped",
    "td_bpe_train",
    "td_bpe_encode",
    "th_retention",
    "td_token_budget_plan",
    "td_hashed_linear_score",
]


def all_bench_queries(registry) -> list[str]:
    """Full bench coverage, never stale: the curated headline list above
    (kept first — round-over-round comparability), then every remaining
    registry query appended in name order. A new @register'd query gets
    a bench row automatically."""
    rest = sorted(n for n in registry if n not in BENCH_QUERIES)
    return BENCH_QUERIES + rest


def flagship_elapsed(spark) -> tuple[float, int]:
    """Time the end-to-end sequences pipeline; returns (sec, rows)."""
    import pyspark.sql.functions as F

    from loggie_spark.datagen import generate_sequences
    from loggie_spark.examples import reference_pipeline
    from loggie_spark.pipeline import Pipeline
    from loggie_spark.sinks.metrics import sink_metrics

    seq_path = f"/tmp/loggie_bench_seq_{N_SEQ}"
    if not os.path.isdir(seq_path):
        generate_sequences(spark, N_SEQ, partitions=CPUS * 2).write.mode(
            "overwrite"
        ).parquet(seq_path)

    cfg = reference_pipeline(time_col_name="_ptime")
    pipe = Pipeline(cfg)

    def once() -> float:
        t0 = time.monotonic()
        seq = spark.read.parquet(seq_path).withColumn(
            "_ptime", F.lit("2024-03-01 00:00:00").cast("timestamp")
        )
        routed = pipe.transform(seq)
        rows = sink_metrics(routed, cfg.name).collect()
        assert rows, "flagship pipeline produced no metric rows"
        return time.monotonic() - t0

    # Whole-stage-codegen JIT needs ~2 passes to reach steady state
    # (cold: 4× slower); warm twice, report the best of FOUR measured
    # passes — minute-scale CPU-steal noise on this host swings single
    # passes 2-4×, and two passes inside one noisy minute both read
    # slow (observed 16.4 s vs 6.7 s for the identical build).
    once()
    once()
    elapsed = min(once() for _ in range(4))
    return elapsed, N_SEQ


def raw_ingest_elapsed(spark) -> tuple[float, float]:
    """Apples-to-apples with the reference's published 210 MiB/s
    (README.md:79-81): file→kafka ingest with NO parsing — token decode
    → one-sink route render → exact per-source counts. Returns
    (sec, decoded MiB moved). The reference number also excludes any
    per-event parse work, so this is the comparable figure; the
    flagship metric above additionally pays 4 regex/grok programs,
    enrichment and a 3-sink fan-out."""
    import pyspark.sql.functions as F

    from loggie_spark.pipeline import Pipeline, PipelineConfig, SourceSpec
    from loggie_spark.sinks.metrics import sink_metrics
    from loggie_spark.sinks.router import SinkSpec

    # Sustained-throughput measurement needs the job to dominate fixed
    # scheduling overhead: use at least 10M rows (~750 MiB decoded).
    n_raw = max(N_SEQ, 10_000_000)
    seq_path = f"/tmp/loggie_bench_seq_{n_raw}"
    if not os.path.isdir(seq_path):
        from loggie_spark.datagen import generate_sequences

        generate_sequences(spark, n_raw, partitions=CPUS * 2).write.mode(
            "overwrite"
        ).parquet(seq_path)
    total_bytes = (
        spark.read.parquet(seq_path).agg(F.sum("n_tok")).collect()[0][0]
    )  # 1 token = 1 UTF-8 byte; untimed column-stat scan

    # keep_tokens=False: the reference's pump moves line BYTES to kafka,
    # not token arrays — the decoded body is still produced and routed,
    # only the redundant int32 column is dropped after decode. The
    # in-task pyarrow reader is the measured ingest fast path for this
    # shape (no JVM→Python transfer of the token ints; BASELINE.md).
    from loggie_spark.sources.arrow_reader import read_sequences_arrow

    cfg = PipelineConfig(
        name="raw",
        sources=[SourceSpec("all")],
        sinks=[SinkSpec("kafka", "${source}")],
        keep_tokens=False,
    )
    pipe = Pipeline(cfg)

    def once() -> float:
        t0 = time.monotonic()
        seq = read_sequences_arrow(spark, seq_path, parallelism=CPUS)
        rows = sink_metrics(pipe.transform(seq), cfg.name).collect()
        assert rows
        return time.monotonic() - t0

    once()
    elapsed = min(once() for _ in range(4))
    return elapsed, total_bytes / (1024.0 * 1024.0)


def main() -> None:
    from loggie_spark.operators.sharing import release_shared
    from loggie_spark.queries import QUERIES
    from loggie_spark.session import get_spark

    spark = get_spark(
        app_name="loggie-bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
    )
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM/Arrow paths once so the timed runs measure compute.
    spark.range(1000).selectExpr("sum(id)").collect()

    # Raw ingest first: it is the reference-comparable headline and is
    # sensitive to old-gen garbage the flagship's passes leave behind
    # (measured ~1.5 s/pass slower when run second on this host).
    raw_sec, raw_mib = raw_ingest_elapsed(spark)
    elapsed, rows = flagship_elapsed(spark)

    per_query: dict[str, float] = {}
    for name in all_bench_queries(QUERIES):
        fn = QUERIES[name]
        # One untimed warm pass (codegen/JIT for the query's own huge
        # expressions — simhash's 60-term vote measured 8.5 s cold vs
        # 1.4 s warm), then best-of-2 timed: minute-scale CPU-steal
        # noise on this host swings single passes 2-4x.
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        best = float("inf")
        for _ in range(2):
            t0 = time.monotonic()
            df = fn(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.monotonic() - t0)
        per_query[name] = round(best, 3)
        # drop this query's shared InMemoryRelations before the next
        # one runs — 109 queries in one session would otherwise
        # accumulate cache entries until LRU pressure
        release_shared()

    sf = SF_DIR.rstrip("/").split("sf")[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    raw = {
        "elapsed_sec": round(raw_sec, 3),
        "mib": round(raw_mib, 1),
        "mib_per_sec": round(raw_mib / raw_sec, 1),
        "note": "decode→route→exact counts, zero parse — comparable to reference README 210 MiB/s",
    }
    # Full per-query map goes to a file artifact: with 100+ registry
    # rows the one-line JSON grew past the driver's 2000-char stdout
    # tail capture and decapitated the headline (BENCH_r05.json
    # parsed:null). The stdout contract line stays compact (< ~1 KB):
    # headline metric + raw ingest + the 5 slowest query rows.
    full = {
        "metric": "sequences_per_sec_e2e",
        "value": round(rows / elapsed, 1),
        "unit": "seq/s",
        "elapsed_sec": round(elapsed, 3),
        "rows": rows,
        "queries": per_query,
        "sf": sf_val,
        "cpus": CPUS,
        "raw_ingest_no_parse": raw,
    }
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json")
    with open(full_path, "w") as fh:
        json.dump(full, fh, indent=1, ensure_ascii=False)
    slowest = dict(sorted(per_query.items(), key=lambda kv: -kv[1])[:5])
    out = {
        "metric": "sequences_per_sec_e2e",
        "value": round(rows / elapsed, 1),
        "unit": "seq/s",
        "elapsed_sec": round(elapsed, 3),
        "rows": rows,
        "sf": sf_val,
        "cpus": CPUS,
        "raw_ingest_no_parse": raw,
        "n_queries": len(per_query),
        "queries": slowest,
        "queries_full": "BENCH_FULL.json",
    }
    # degrade, never die: a 20-minute measurement must always end in a
    # parseable stdout line — drop slowest-rows until it fits
    line = json.dumps(out)
    while len(line) >= 1500 and out["queries"]:
        out["queries"].popitem()
        line = json.dumps(out)
    print(line)
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
