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
  directory, so a crash mid-write (partial files, no commit) heals on
  resume instead of duplicating.
* The manifest is ONE JSON object per run() invocation,
  ``path/commits/<seq:012d>.json``: its run_id, one lineage row per
  bucket it wrote (rows_in/rows_out, the per-partition lineage of the
  north-rule) and its per-(bucket, source, sink) success/fail deltas.
  The object is written under a ``.tmp`` name and renamed, so it is
  committed whole or not at all: **presence = committed**. A crash
  before the rename leaves only the ``.tmp``, which no reader matches,
  so a torn commit is never read — not for the next seq (the resume
  reuses it), not for done buckets, not for counts.
* A bucket is *done* for a run_id iff a commit of that run_id lists it;
  resume processes only the rest. Its winning write is the highest seq
  listing it (dynamic partition overwrite means later writes replaced
  earlier ones). Final metrics sum each bucket's deltas from its
  winning commit only — the output table is NEVER re-read for
  accounting.
* Every read and write goes through the Hadoop FileSystem API, the
  same resolution Spark's writers use: URIs (file://, hdfs://, s3a://)
  and plain paths (against fs.defaultFS) land wherever the data does.
  No Spark job runs; final_metrics is a local relation.

At 100 TB scale B is sized so one bucket ≈ a few GB (e.g. B=4096); a
commit holds at most B lineage rows and B × sources × sinks metric
rows, so the manifest stays driver-readable.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from loggie_spark.session import local_frame

BUCKET_COL = "_bucket"

FINAL_METRICS_SCHEMA = (
    "pipeline string, source string, sink string, success_count long, fail_count long"
)

_COMMIT_NAME = re.compile(r"\d{12}\.json")


def with_bucket(df: DataFrame, n_buckets: int, key: str = "doc_id") -> DataFrame:
    """Stable work bucket from the row key (xxhash64 is deterministic
    across runs/versions for the same input)."""
    return df.withColumn(BUCKET_COL, F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int"))


def _hadoop_path(spark, uri: str):
    """(FileSystem, Path) for ``uri`` through the Hadoop FS API — the
    same resolution the writers use, so commit markers land wherever
    the data does (local file://, hdfs://, s3a://...), instead of a
    local open() that would write a bogus './s3:/...' directory after
    an object-store export."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(uri)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, path


def list_names(spark, dir_uri: str):
    """Names of the entries directly under ``dir_uri``, listed through
    the Hadoop FS API; none when it does not exist."""
    fs, path = _hadoop_path(spark, dir_uri)
    if fs.exists(path):
        yield from (s.getPath().getName() for s in fs.listStatus(path))


def write_json_marker(spark, dir_uri: str, name: str, payload: dict) -> None:
    """Write ``payload`` as ``dir_uri/name`` through the Hadoop
    FileSystem API: tmp file first, then delete+rename — atomic on
    posix/HDFS, last-writer-wins on object stores (where the marker's
    EXISTENCE is still the commit signal, because the tmp name never
    matches a reader's probe)."""
    data = json.dumps(payload, indent=2, sort_keys=True).encode()
    base = dir_uri.rstrip("/")
    fs, tmp = _hadoop_path(spark, f"{base}/{name}.tmp")
    _, dest = _hadoop_path(spark, f"{base}/{name}")
    out = fs.create(tmp, True)
    try:
        out.write(data)
    finally:
        out.close()
    fs.delete(dest, False)
    if not fs.rename(tmp, dest):
        raise IOError(f"could not commit {dest}")


def read_json_marker(spark, dir_uri: str, name: str) -> dict | None:
    """Read ``dir_uri/name`` back through the Hadoop FS API; None when
    absent (= aborted export for a commit marker)."""
    fs, dest = _hadoop_path(spark, f"{dir_uri.rstrip('/')}/{name}")
    if not fs.exists(dest):
        return None
    stream = fs.open(dest)
    try:
        raw = bytes(
            spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        )
    finally:
        stream.close()
    return json.loads(raw.decode())


@dataclass
class Manifest:
    path: str

    @property
    def commits_path(self) -> str:
        return f"{self.path.rstrip('/')}/commits"

    def _names(self, spark: SparkSession) -> list[str]:
        """Committed object names in seq order; a torn commit's ``.tmp``
        never matches."""
        return sorted(n for n in list_names(spark, self.commits_path) if _COMMIT_NAME.fullmatch(n))

    def _commits(self, spark: SparkSession) -> list[dict]:
        return [read_json_marker(spark, self.commits_path, n) for n in self._names(spark)]

    def completed_buckets(self, spark: SparkSession, run_id: str) -> list[int]:
        commits = [c for c in self._commits(spark) if c["run_id"] == run_id]
        return sorted({row["bucket"] for c in commits for row in c["lineage"]})

    def next_seq(self, spark: SparkSession) -> int:
        """Monotonic invocation stamp: the highest committed seq + 1,
        from the commit names alone."""
        names = self._names(spark)
        return int(names[-1].removesuffix(".json")) + 1 if names else 0

    def record_run(
        self, spark: SparkSession, seq: int, run_id: str, lineage: list[dict], metrics: list[dict]
    ) -> None:
        """Commit one run() invocation's lineage and metric deltas as
        one object (see module docstring)."""
        write_json_marker(
            spark,
            self.commits_path,
            f"{seq:012d}.json",
            {"seq": seq, "run_id": run_id, "lineage": lineage, "metrics": metrics},
        )

    def final_metrics(self, spark: SparkSession) -> DataFrame:
        """Exact per-(pipeline, source, sink) counts of the CURRENT
        output table, from the commits alone — no output re-read.

        Per bucket, the winning write is the highest seq whose lineage
        lists it; its metric deltas are summed, every other delta for
        that bucket (overwritten, or with no lineage row) is discarded.
        """
        commits = self._commits(spark)
        winner = {row["bucket"]: c["seq"] for c in commits for row in c["lineage"]}
        totals: dict[tuple, list[int]] = {}
        for c in commits:
            for m in c["metrics"]:
                if winner.get(m["bucket"]) == c["seq"]:
                    t = totals.setdefault((m["pipeline"], m["source"], m["sink"]), [0, 0])
                    t[0] += m["success_count"]
                    t[1] += m["fail_count"]
        return local_frame(spark, [(*k, *v) for k, v in totals.items()], FINAL_METRICS_SCHEMA)
