"""Enrichment stage — the schema interceptor and broadcast-join lookups.

Covers addK8sMeta's indexed pod lookup
(pkg/interceptor/addk8smeta/interceptor.go:88-121). The per-source
static fields (pkg/pipeline/pipeline.go:1054-1123) are literals in the
pipeline's per-source dispatch (pipeline.py), not a join.

addK8sMeta is the one true join in loggie: extract keys from a
pattern-shaped field, look them up in a local index, splice workload
metadata in. Spark-first that is a **broadcast left join** — the
lookup (pods/sources) is tiny relative to the fact table, so no
shuffle of the 100 TB side, ever. ``F.broadcast`` pins the strategy
rather than trusting the threshold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def apply_schema_interceptor(
    df: DataFrame,
    pipeline_name: str,
    ts_key: str | None = "@timestamp",
    pipeline_key: str | None = "pipeline",
    source_key: str | None = "sourceName",
    source_col: str = "source",
    time_col: str | None = None,
    remap: dict[str, str] | None = None,
) -> DataFrame:
    """The `schema` interceptor (pkg/interceptor/schema/interceptor.go:
    79-96): expose meta (timestamp / pipelineName / sourceName) under
    configured keys, then ``remap`` renames arbitrary columns."""
    if ts_key:
        t = F.col(time_col) if time_col else F.current_timestamp()
        df = df.withColumn(ts_key, F.date_format(t, "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"))
    if pipeline_key:
        df = df.withColumn(pipeline_key, F.lit(pipeline_name))
    if source_key:
        df = df.withColumn(source_key, F.col(source_col))
    for old, new in (remap or {}).items():
        df = df.withColumnRenamed(old, new)
    return df


def broadcast_enrich(
    df: DataFrame,
    lookup: DataFrame,
    keys: list[str],
    how: str = "left",
) -> DataFrame:
    """addK8sMeta-shaped enrichment: broadcast left join on extracted
    keys. The broadcast hint keeps the big side shuffle-free regardless
    of autoBroadcastJoinThreshold estimation."""
    return df.join(F.broadcast(lookup), on=keys, how=how)
