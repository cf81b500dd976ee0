from __future__ import annotations

import re

from pyspark.sql import Row
from pyspark.sql import functions as F

from loggie_spark.functions.tokens import decode_tokens_arrow
from loggie_spark.sources.arrow_reader import read_sequences_arrow


def _collect_sorted(df):
    return sorted(
        (tuple(r) for r in df.select("doc_id", "n_tok", "source", "body").collect())
    )


def test_arrow_reader_matches_standard_decode(spark, tmp_path):
    """The pyarrow in-task reader is bit-exact with the default
    spark.read.parquet + decode_tokens_arrow path, including multi-byte
    UTF-8 and empty sequences."""
    lines = [
        "GET /index HTTP/1.1 200 123",
        "",
        "naïve café — ünïcode ✓",
        '{"level":"warn","msg":"x"}',
        "plain ascii line " * 10,
    ]
    rows = [
        Row(
            doc_id=f"doc-{i:04d}",
            tokens=[int(b) for b in t.encode("utf-8")],
            n_tok=len(t.encode("utf-8")),
            source=f"svc-{i % 3}",
        )
        for i, t in enumerate(lines * 40)
    ]
    path = str(tmp_path / "seq")
    spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    ).repartition(3).write.parquet(path)

    via_arrow = read_sequences_arrow(spark, path)
    via_jvm = decode_tokens_arrow(
        spark.read.parquet(path), "tokens", "body", keep_tokens=False
    ).select("doc_id", "n_tok", "source", "body")
    assert _collect_sorted(via_arrow) == _collect_sorted(via_jvm)


def test_arrow_reader_null_tokens_and_keep(spark, tmp_path):
    rows = [
        Row(doc_id="a", tokens=[104, 105], n_tok=2, source="s"),
        Row(doc_id="b", tokens=None, n_tok=0, source="s"),
        Row(doc_id="c", tokens=[], n_tok=0, source="t"),
    ]
    path = str(tmp_path / "seq2")
    spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    ).coalesce(1).write.parquet(path)

    got = {
        r.doc_id: r
        for r in read_sequences_arrow(spark, path, keep_tokens=True).collect()
    }
    assert got["a"].body == "hi" and got["a"].tokens == [104, 105]
    assert got["b"].body is None and got["b"].tokens is None
    assert got["c"].body == "" and got["c"].tokens == []


def test_decode_paths_agree_on_hostile_tokens(spark, tmp_path):
    """The in-plan decode and the in-task reader give the same strings
    on tokens that are not UTF-8 bytes, and an invalid row decodes the
    same whether or not a NULL row shares its Arrow batch."""
    bad = [104, 105, 255, 195]  # "hi" + a stray and a truncated byte
    alone = [Row(doc_id="bad", tokens=bad, n_tok=4, source="s")]
    mixed = alone + [
        Row(doc_id="null", tokens=None, n_tok=0, source="s"),
        Row(doc_id="empty", tokens=[], n_tok=0, source="s"),
        Row(doc_id="wide", tokens=[-1, 300, 65, -128], n_tok=4, source="s"),
        Row(doc_id="utf8", tokens=list("é✓".encode("utf-8")), n_tok=5, source="s"),
    ]
    want = {
        "bad": ("hi\ufffd\ufffd", 8),
        "null": (None, None),
        "empty": ("", 0),
        "wide": ("\ufffd,A\ufffd", 8),
        "utf8": ("é✓", 5),
    }
    for name, rows in (("alone", alone), ("mixed", mixed)):
        # One file, one row group, one partition: each fixture is one
        # Arrow batch on both paths.
        path = str(tmp_path / name)
        spark.createDataFrame(
            rows, "doc_id string, tokens array<int>, n_tok int, source string"
        ).coalesce(1).write.parquet(path)
        in_plan = decode_tokens_arrow(
            spark.read.parquet(path), "tokens", "body", keep_tokens=False
        )
        for df in (in_plan, read_sequences_arrow(spark, path)):
            got = {
                r.doc_id: (r.body, r.n)
                for r in df.select(
                    "doc_id", "body", F.octet_length("body").alias("n")
                ).collect()
            }
            assert got == {r.doc_id: want[r.doc_id] for r in rows}, (name, got)


def test_arrow_reader_runs_in_one_stage(spark, tmp_path):
    """The work list is a LocalTableScan that the reader's own stage
    runs: one MapInArrow, no Exchange, no PythonRDD in the lineage, and
    one work partition per requested slot up to the unit count."""
    rows = [Row(doc_id=f"d{i}", tokens=[104, 105], n_tok=2, source="s") for i in range(60)]
    schema = "doc_id string, tokens array<int>, n_tok int, source string"
    six, two = str(tmp_path / "six"), str(tmp_path / "two")
    spark.createDataFrame(rows, schema).repartition(6).write.parquet(six)
    spark.createDataFrame(rows, schema).repartition(2).write.parquet(two)

    df = read_sequences_arrow(spark, six)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert len(re.findall(r"\bMapInArrow\b", plan)) == 1, plan
    assert "PythonRDD" not in df._jdf.queryExecution().toRdd().toDebugString()

    slots = spark.sparkContext.defaultParallelism
    assert df.rdd.getNumPartitions() == min(6, slots)
    for path, units in ((six, 6), (two, 2)):
        for p in range(1, slots + 1):
            got = read_sequences_arrow(spark, path, parallelism=p).rdd.getNumPartitions()
            assert got == min(units, p), (units, p, got)
    assert read_sequences_arrow(spark, two, parallelism=slots).count() == 60
