"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship: the reference example pipeline end-to-end
                 (decode tokens → per-source parse programs → enrich →
                 route fan-out → per-sink metric counts) on sequences
                 derived from sf0.001 documents.
queries()      — one entry per implemented operator (SURVEY.md §2 +
                 training-data ops), keyed like loggie_spark.queries.
oracle_sql()   — DuckDB-equivalent SQL per query.

The driver's correctness gate checks only the first 50 queries, so both
maps come in ``driver_order`` over the tracked CORRECTNESS_r<N>.json
rounds: first every query with no driver row or whose latest row is not
green, then the rest by the round of their latest green row, oldest
first; ties keep registration order.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable, Iterable, Mapping
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SF1 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full parse→enrich→route→aggregate over a tokenized
    sequences table (no filesystem writes — pure transform + metrics)."""
    from loggie_spark.datagen import sequences_from_documents
    from loggie_spark.examples import reference_pipeline
    from loggie_spark.pipeline import Pipeline, PipelineConfig, SinkSpec, SourceSpec
    from loggie_spark.sinks.metrics import sink_metrics

    docs = spark.read.parquet(f"{SF1}/documents.parquet")
    seq = sequences_from_documents(docs).withColumn(
        "_ptime", F.lit("2024-03-01 00:00:00").cast("timestamp")
    )
    cfg = PipelineConfig(
        name="flagship",
        sources=[
            SourceSpec(
                "any",
                [
                    {"if": "less(n_tok, 40)", "then": [{"action": "dropEvent()"}]},
                    {
                        "action": "split(body, parts)",
                        "separator": " ",
                        "keys": ["w1"],
                        "max": 1,
                    },
                    {"action": "add(topic, kept)"},
                ],
            )
        ],
        sinks=[
            SinkSpec("kafka", "${topic}"),
            SinkSpec("es", "log-${source}-${+YYYY.MM.dd}"),
        ],
        time_col_name="_ptime",
    )
    routed = Pipeline(cfg).transform(seq)
    return sink_metrics(routed, "flagship").orderBy("pipeline", "source", "sink")


def driver_order(
    names: Iterable[str], rounds: Mapping[str, Mapping[str, Mapping]]
) -> list[str]:
    """``names`` reordered for the driver's window. ``rounds`` maps a
    CORRECTNESS_r<N>.json file name to its rows ({query: {rows_match,
    err, ...}}); N is read as an integer, so r10 comes after r9. A
    query sorts by the round of its latest row if that row is green
    (rows_match and no err), else 0; the sort is stable."""

    def round_no(fname: str) -> int:
        return int(re.search(r"_r(\d+)\.json$", fname).group(1))

    key: dict[str, int] = {}
    for fname in sorted(rounds, key=round_no):
        n = round_no(fname)
        for q, row in rounds[fname].items():
            key[q] = n if row.get("rows_match") and row.get("err") is None else 0
    return sorted(names, key=lambda q: key.get(q, 0))


def _rounds() -> dict[str, dict]:
    return {
        p.name: json.loads(p.read_text())
        for p in Path(__file__).parent.glob("CORRECTNESS_r*.json")
    }


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from loggie_spark.queries import QUERIES

    return {q: QUERIES[q] for q in driver_order(QUERIES, _rounds())}


def oracle_sql() -> dict[str, str]:
    from loggie_spark.queries import ORACLES

    return {q: ORACLES[q] for q in driver_order(ORACLES, _rounds())}
