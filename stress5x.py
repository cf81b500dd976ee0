#!/usr/bin/env python
"""5x data scale-up stress harness — the "would this survive a
scale-up" probe (BASELINE.md "5x data scale-up stress").

Builds a 5x copy of the sf0.1 `documents` and `events` tables under
/tmp (other tables symlinked), then times each query interleaved at
both levels (one untimed warm pass per level, then min-of-3 alternating
timed passes — interleaving makes a host-noise window hit BOTH levels
instead of silently inflating one ratio). ratio = t(5x)/t(1x); ideal
<= 5 on fixed cores for a linear operator.

Scale model (honest web-scale growth, not hot-key growth):
- documents: 5 copies, doc_id offset by copy*N; copies > 0 get a
  per-copy suffix token appended so dedup/novelty operators see
  mostly-distinct documents (a pure clone would let dedup collapse
  the input and fake sub-linear scaling).
- events: 5 copies, event_id/user_id offset per copy — 5x the users
  with the SAME per-user history length, which is how event volume
  actually grows; as-of/sessionize key cardinality grows 5x.

Usage: python stress5x.py [query ...]   # default: the round-5 six
Prints one JSON line per query and a summary table row list.
"""

from __future__ import annotations

import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
COPIES = 5
OUT_DIR = f"/tmp/loggie_stress5x_{os.path.basename(SF_DIR.rstrip('/'))}"

DEFAULT_QUERIES = [
    "th_asof_join",
    "th_range_join",
    "td_idf_keywords",
    "td_ccnet_buckets",
    "td_dsir_weights",
    "td_split_leakage_safe",
]

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


def build_5x(spark) -> str:
    import pyspark.sql.functions as F

    marker = os.path.join(OUT_DIR, "_built")
    if os.path.exists(marker):
        return OUT_DIR
    os.makedirs(OUT_DIR, exist_ok=True)

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    n_docs = docs.count()
    parts = []
    for c in range(COPIES):
        p = docs.withColumn("doc_id", F.col("doc_id") + F.lit(c * n_docs))
        if c > 0:
            # distinct-doc perturbation: suffix token unique per (copy,
            # doc) so shingle/minhash/novelty treat copies as new docs
            p = p.withColumn(
                "text",
                F.concat(
                    F.col("text"),
                    F.lit(f" zcopy{c}tok"),
                    F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6),
                ),
            ).withColumn("n_chars", F.length("text"))
        parts.append(p)
    big = parts[0]
    for p in parts[1:]:
        big = big.unionByName(p)
    big.repartition(CPUS).write.mode("overwrite").parquet(
        os.path.join(OUT_DIR, "documents.parquet")
    )

    ev = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    eid_max, uid_max = ev.agg(
        F.max("event_id"), F.max("user_id")
    ).collect()[0]
    parts = [
        ev.withColumn("event_id", F.col("event_id") + F.lit(c * (eid_max + 1)))
        .withColumn("user_id", F.col("user_id") + F.lit(c * (uid_max + 1)))
        for c in range(COPIES)
    ]
    big = parts[0]
    for p in parts[1:]:
        big = big.unionByName(p)
    big.repartition(CPUS).write.mode("overwrite").parquet(
        os.path.join(OUT_DIR, "events.parquet")
    )

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    n_emb = emb.count()
    parts = [
        emb.withColumn("vec_id", F.col("vec_id") + F.lit(c * n_emb))
        # distinct-vector perturbation: deterministic per-copy jitter so
        # semantic dedup sees new vectors, not 5 collapsible clones
        .withColumn(
            "embedding",
            F.transform(
                "embedding",
                lambda x, i: x
                + F.lit(c * 1e-3) * ((i * 2654435761 % 97).cast("double") / 97.0),
            )
            if c > 0
            else F.col("embedding"),
        )
        for c in range(COPIES)
    ]
    big = parts[0]
    for p in parts[1:]:
        big = big.unionByName(p)
    big.repartition(CPUS).write.mode("overwrite").parquet(
        os.path.join(OUT_DIR, "embeddings.parquet")
    )

    for t in TABLES:
        if t in ("documents", "events", "embeddings"):
            continue
        dst = os.path.join(OUT_DIR, f"{t}.parquet")
        src = os.path.join(SF_DIR, f"{t}.parquet")
        if not os.path.exists(dst) and os.path.exists(src):
            os.symlink(src, dst)
    with open(marker, "w") as f:
        f.write("ok")
    return OUT_DIR


def timed(fn, spark, sf_dir) -> float:
    t0 = time.monotonic()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.monotonic() - t0


def main() -> None:
    from loggie_spark.queries import QUERIES
    from loggie_spark.session import get_spark

    names = sys.argv[1:] or DEFAULT_QUERIES
    spark = get_spark(
        app_name="loggie-stress5x",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
    )
    spark.sparkContext.setLogLevel("ERROR")
    big_dir = build_5x(spark)

    from loggie_spark.operators.sharing import release_shared

    results = []
    for name in names:
        fn = QUERIES[name]
        # warm both levels (codegen JIT), then 3 interleaved timed pairs
        timed(fn, spark, SF_DIR)
        timed(fn, spark, big_dir)
        base, big = float("inf"), float("inf")
        for _ in range(3):
            base = min(base, timed(fn, spark, SF_DIR))
            big = min(big, timed(fn, spark, big_dir))
        release_shared()
        row = {
            "query": name,
            "base_sec": round(base, 3),
            "x5_sec": round(big, 3),
            "ratio": round(big / base, 2),
        }
        results.append(row)
        print(json.dumps(row), flush=True)
    print(json.dumps({"summary": results}))
    spark.stop()


if __name__ == "__main__":
    main()
