"""Table-layout utilities: bucketed tables for shuffle-free co-located
joins.

Most operators in this repo join or fold on a stable document key
(dedup survivor joins, kept-position rebuilds, enrichment by doc).
Every such join on plain parquet shuffles BOTH sides; writing the
corpus ONCE bucketed by that key amortizes the shuffle to zero for
every later join on it — measured here: the same doc-keyed join plans
0 shuffle Exchanges against bucketed tables vs 2 against plain parquet
(tests/test_plan_shapes.py). This is the batch-table analog of the
kafka partitionKey co-location contract, and at Iceberg scale the same
layout is the table's bucket partition transform (``bucket(N, key)``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from loggie_spark.checkpoint import read_json_marker, write_json_marker

SHARD_COL = "shard"


def save_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    buckets: int = 64,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed+sorted managed table on ``key``.

    Reads via ``spark.table(table)`` then carry the bucket layout, so
    joins/aggregations keyed on ``key`` between tables with the SAME
    bucket count plan no Exchange at all. ``buckets`` must match
    across the tables you intend to co-join (64 locally; at cluster
    scale pick buckets ≈ executors × cores so one bucket is one task).
    """
    (
        df.write.mode(mode)
        .bucketBy(buckets, key)
        .sortBy(key)
        .saveAsTable(table)
    )


def _shard_stats(shards: DataFrame, shard_col: str, id_col: str, len_col: str) -> dict:
    """Per-shard ``rows``, ``tokens`` and ``fingerprint`` (bit-XOR of
    the ids' 60-bit hashes) — the manifest entry the export writes and
    the check the verifier re-derives, from one aggregate."""
    from pyspark.sql import functions as F

    from loggie_spark.functions.hashing import md5_60bit

    rows = (
        shards.groupBy(shard_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("rows"),
            F.sum(len_col).cast("long").alias("tokens"),
            F.bit_xor(md5_60bit(F.col(id_col).cast("string"))).cast("long").alias("fingerprint"),
        )
        .orderBy(shard_col)
        .collect()
    )
    return {
        str(r[shard_col]): {"rows": r.rows, "tokens": r.tokens, "fingerprint": r.fingerprint}
        for r in rows
    }


def write_training_shards(
    df: DataFrame,
    out_dir: str,
    shard_col: str = SHARD_COL,
    id_col: str = "doc_id",
    len_col: str = "n_tok",
    max_records_per_file: int = 1_000_000,
) -> dict:
    """Export the final curated corpus as training shards with a
    data-first / manifest-last commit protocol — the step a curation
    pipeline ends with before the trainer reads the data.

    Layout: parquet partitioned by ``shard_col`` (one directory per
    shard, file sizes bounded by ``max_records_per_file``), plus a
    ``_manifest.json`` at the root written only AFTER every shard
    landed. The manifest records per-shard row counts, token totals
    and an ORDER-INSENSITIVE content fingerprint (bit-XOR of 60-bit id
    hashes — associative and commutative, so any task/file order yields
    the same value, and unlike a sum it can never overflow long under
    ANSI mode; an id swapped for another flips the fingerprint, while a
    doubled id is caught by the row count), letting a consuming job
    verify completeness
    without re-reading payloads. Readers must treat a directory
    without a manifest as an aborted export.

    One shuffle (repartition by shard so each shard writes from its
    own tasks). The manifest is aggregated FROM THE PARQUET ACTUALLY
    WRITTEN (a re-read of out_dir), never by re-evaluating the input
    frame — with a nondeterministic upstream (shuffle-order-sensitive
    ops, task retries, source mutation between the two actions) a
    second evaluation could certify data the export never contained.
    The marker itself goes through the Hadoop FileSystem API, so the
    commit works against whatever filesystem the data landed on
    (file://, hdfs://, s3a://). Returns the manifest dict.
    """
    from pyspark.sql import functions as F

    spark = df.sparkSession
    staged = df.repartition(F.col(shard_col))
    staged.write.mode("overwrite").option(
        "maxRecordsPerFile", max_records_per_file
    ).partitionBy(shard_col).parquet(out_dir)

    shards = _shard_stats(spark.read.parquet(out_dir), shard_col, id_col, len_col)
    manifest = {
        "shards": shards,
        "total_rows": int(sum(v["rows"] for v in shards.values())),
        "total_tokens": int(sum(v["tokens"] for v in shards.values())),
    }
    # manifest LAST: its presence is the commit marker
    write_json_marker(spark, out_dir, "_manifest.json", manifest)
    return manifest


def verify_training_shards(spark, out_dir: str, id_col: str = "doc_id", len_col: str = "n_tok") -> None:
    """Re-derive every manifest entry from the shard data and raise
    ``RuntimeError`` on any mismatch (missing manifest = aborted
    export; count/token/fingerprint drift = torn or corrupted shard)
    of an export partitioned by the default ``SHARD_COL``. The
    consuming trainer runs this before touching payloads."""
    manifest = read_json_marker(spark, out_dir, "_manifest.json")
    if manifest is None:
        raise RuntimeError(f"no _manifest.json in {out_dir}: aborted export")
    got = _shard_stats(spark.read.parquet(out_dir), SHARD_COL, id_col, len_col)
    want = manifest["shards"]
    if got != want:
        missing = sorted(set(want) - set(got))
        extra = sorted(set(got) - set(want))
        drift = sorted(k for k in set(want) & set(got) if want[k] != got[k])
        raise RuntimeError(
            f"shard export does not match manifest: missing={missing} "
            f"extra={extra} drifted={drift}"
        )
