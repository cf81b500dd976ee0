"""Checkpoint manifest + resume — loggie's at-least-once ack/registry
contract mapped to batch (SURVEY.md §3.4), upgraded to exactly-once.

The reference persists, per (jobUid, sourceName, pipelineName), the
highest contiguous acked file offset (pkg/source/file/ack.go:44-106,
pkg/util/persistence/reg/registry.go:24-50) so a restart resumes
without loss; sinks may then redeliver (at-least-once).

Batch mapping:

* Work is bucketed by a **stable** key: ``bucket = pmod(xxhash64(doc_id), B)``
  — a pure function of the data, so the same rows land in the same
  bucket across runs regardless of input split planning.
* Output is written ``partitionBy(bucket, ...)`` with **dynamic
  partition overwrite**: re-processing a bucket atomically replaces its
  directory, so a crash mid-write (partial files, no manifest row)
  heals on resume instead of duplicating.
* The manifest is TWO tiny tables under ``path/``:
  - ``lineage/``  — one row per completed bucket with rows_in/rows_out
    counters (the per-partition lineage of the north-rule). A bucket is
    *done* iff a lineage row exists; resume processes only the rest.
  - ``metrics/``  — per-(bucket, source, sink) success/fail deltas for
    the buckets written by one run() invocation.
  Both carry a monotonically increasing ``seq`` stamped per run()
  invocation. Metrics are appended BEFORE lineage: a crash between the
  two leaves stale metric rows whose (bucket, seq) never appears in
  lineage — the rollup joins metrics to the winning lineage seq per
  bucket, so stale deltas are ignored and re-processed buckets count
  exactly once.
* Final metrics = a rollup of the deltas table (tiny: buckets × sources
  × sinks rows) — the 100 TB output table is NEVER re-read for
  accounting.

At 100 TB scale B is sized so one bucket ≈ a few GB (e.g. B=4096), and
both manifest tables stay driver-readable (≤ B × sinks × sources rows).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BUCKET_COL = "_bucket"

LINEAGE_SCHEMA = (
    "run_id string, seq long, bucket int, source string, "
    "rows_in long, rows_out long, status string"
)
METRICS_SCHEMA = (
    "run_id string, seq long, bucket int, pipeline string, source string, "
    "sink string, success_count long, fail_count long"
)
FINAL_METRICS_SCHEMA = (
    "pipeline string, source string, sink string, success_count long, fail_count long"
)


def with_bucket(df: DataFrame, n_buckets: int, key: str = "doc_id") -> DataFrame:
    """Stable work bucket from the row key (xxhash64 is deterministic
    across runs/versions for the same input)."""
    return df.withColumn(BUCKET_COL, F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int"))


def _has_parquet(path: str) -> bool:
    return os.path.isdir(path) and any(
        f.endswith(".parquet") for f in _walk_files(path)
    )


def _walk_files(root: str):
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            yield os.path.join(dirpath, f)


@dataclass
class Manifest:
    path: str

    @property
    def lineage_path(self) -> str:
        return f"{self.path}/lineage"

    @property
    def metrics_path(self) -> str:
        return f"{self.path}/metrics"

    def read_lineage(self, spark: SparkSession) -> DataFrame:
        if not _has_parquet(self.lineage_path):
            return spark.createDataFrame([], LINEAGE_SCHEMA)
        return spark.read.parquet(self.lineage_path)

    def read_metrics(self, spark: SparkSession) -> DataFrame:
        if not _has_parquet(self.metrics_path):
            return spark.createDataFrame([], METRICS_SCHEMA)
        return spark.read.parquet(self.metrics_path)

    def completed_buckets(self, spark: SparkSession, run_id: str) -> list[int]:
        m = self.read_lineage(spark)
        rows = (
            m.filter((F.col("run_id") == run_id) & (F.col("status") == "done"))
            .select("bucket")
            .distinct()
            .collect()
        )
        return sorted(r.bucket for r in rows)

    def next_seq(self, spark: SparkSession) -> int:
        """Monotonic invocation stamp: max existing seq + 1. The manifest
        is tiny; this is a driver-side footer read."""
        m = self.read_lineage(spark)
        row = m.agg(F.max("seq").alias("s")).collect()[0]
        return int(row.s) + 1 if row.s is not None else 0

    def record_run(
        self, spark: SparkSession, lineage_rows: list[tuple], metrics_rows: list[tuple]
    ) -> None:
        """Commit one run() invocation's accounting. Metrics FIRST, then
        lineage: lineage marks buckets done, so a crash in between
        leaves only ignorable stale metric rows (see module docstring),
        never a done bucket without its deltas."""
        if metrics_rows:
            spark.createDataFrame(metrics_rows, METRICS_SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(self.metrics_path)
        if lineage_rows:
            spark.createDataFrame(lineage_rows, LINEAGE_SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(self.lineage_path)

    def final_metrics(self, spark: SparkSession) -> DataFrame:
        """Exact per-(pipeline, source, sink) counts of the CURRENT
        output table, from manifest deltas alone — no output re-read.

        Per bucket, the winning write is the one with the highest done
        lineage seq (dynamic partition overwrite means later writes
        replaced earlier ones); its metric deltas are summed, everything
        else (overwritten or stale) is discarded.
        """
        lin = self.read_lineage(spark).filter(F.col("status") == "done")
        winner = lin.groupBy("bucket").agg(F.max("seq").alias("seq"))
        mets = self.read_metrics(spark)
        return (
            mets.join(winner, ["bucket", "seq"])
            .groupBy("pipeline", "source", "sink")
            .agg(
                F.sum("success_count").alias("success_count"),
                F.sum("fail_count").alias("fail_count"),
            )
        )

