"""Per-sink metric aggregation — loggie's `metric` interceptor contract.

The reference's metric interceptor posts per-(pipeline, source)
success/fail event counts after each sink consume
(pkg/interceptor/metric/interceptor.go:78-112); the eventbus sink
listener accumulates them and derives qps per export period
(pkg/eventbus/listener/sink/listener.go:59-118).

Batch equivalent: one map-side-combinable groupBy over the routed
frame. Partial aggregation means no full shuffle of the data — only
the tiny (pipeline, source, sink) key space moves.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from loggie_spark.sinks.router import FAILED_COL, SINK_COL
from loggie_spark.sqltext import ident, quote


def ok_fail_counts() -> list[Column]:
    """``success_count`` / ``fail_count`` aggregates over routed rows: a
    row is a failure iff the router flagged its route render
    (``_route_failed``, the 'fail' policy's quarantine)."""
    failed = ident(FAILED_COL)
    return [
        F.expr(f"count_if(NOT {failed}) AS success_count"),
        F.expr(f"count_if({failed}) AS fail_count"),
    ]


def sink_metrics(routed: DataFrame, pipeline_name: str, source_col: str = "source") -> DataFrame:
    """(pipeline, source, sink, success_count, fail_count) —
    FIXTURES.md §F4 metrics contract, exact counts."""
    return routed.groupBy(
        F.expr(f"{quote(pipeline_name)} AS pipeline"),
        F.expr(f"{ident(source_col)} AS source"),
        F.expr(ident(SINK_COL)),
    ).agg(*ok_fail_counts())
