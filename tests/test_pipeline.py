"""End-to-end pipeline tests: exact per-sink counts vs a pure-Python
oracle, routed-row token equality, and crash/resume exactly-once
(FIXTURES.md §F4 contracts)."""

from __future__ import annotations

import os
import re
import threading
from contextlib import contextmanager

import pyspark.sql.functions as F
import pytest

from loggie_spark.checkpoint import Manifest, read_json_marker, write_json_marker
from loggie_spark.datagen import generate_sequences
from loggie_spark.examples import reference_pipeline
from loggie_spark.pipeline import Pipeline

N = 2000
SOURCES = ["access", "container", "app", "audit"]
STATUSES = ["200", "404", "500", "302"]
LEVELS = ["DEBUG", "INFO", "WARN", "ERROR"]


def python_oracle(n: int):
    """Independent reimplementation of datagen + routing semantics:
    returns {(source, kafka_topic): count} for surviving rows and the
    per-source survivor counts."""
    topic_counts: dict[tuple[str, str], int] = {}
    survivors: dict[str, int] = {}
    for i in range(n):
        pct = i % 100
        src = (
            "access" if pct < 60 else "container" if pct < 85 else "app" if pct < 95 else "audit"
        )
        if src == "access":
            status = STATUSES[i % 4]
            if status == "500":
                continue
            topic = "not_found" if status == "404" else "common"
        elif src == "container":
            topic = "json"
        elif src == "app":
            level = LEVELS[i % 4]
            if level == "DEBUG":
                continue
            topic = "app"
        else:
            topic = "audit"
        topic_counts[(src, topic)] = topic_counts.get((src, topic), 0) + 1
        survivors[src] = survivors.get(src, 0) + 1
    return topic_counts, survivors


@pytest.fixture(scope="module")
def run_dirs(tmp_path_factory):
    d = tmp_path_factory.mktemp("pipe")
    return str(d / "out"), str(d / "manifest")


def _run(spark, out_dir, manifest_dir, run_id="r1"):
    seq = generate_sequences(spark, N).withColumn(
        "_ptime", F.lit("2024-03-01 00:00:00").cast("timestamp")
    )
    cfg = reference_pipeline(time_col_name="_ptime")
    metrics = Pipeline(cfg).run(
        spark, seq, out_dir, run_id=run_id, manifest_dir=manifest_dir
    )
    return seq, metrics


def test_e2e_counts_and_tokens(spark, run_dirs):
    out_dir, manifest_dir = run_dirs
    seq, metrics = _run(spark, out_dir, manifest_dir)
    topic_counts, survivors = python_oracle(N)
    total_survivors = sum(survivors.values())

    m = {(r.source, r.sink): (r.success_count, r.fail_count) for r in metrics.collect()}
    # Every source × sink pair has exact success counts, zero fails.
    for src, cnt in survivors.items():
        for sink in ("kafka", "es", "file"):
            assert m[(src, sink)] == (cnt, 0), (src, sink, m[(src, sink)])

    final = spark.read.parquet(out_dir)
    # kafka sink routes by ${topic} — exact per-topic counts.
    kafka = (
        final.filter(F.col("sink") == "kafka")
        .groupBy("source", "route_key")
        .count()
        .collect()
    )
    got = {(r.source, r.route_key): r["count"] for r in kafka}
    assert got == topic_counts

    # es sink routes by dated index from the deterministic time col.
    es_keys = {
        r.route_key
        for r in final.filter(F.col("sink") == "es").select("route_key").distinct().collect()
    }
    assert es_keys == {f"log-{s}-2024.03.01" for s in survivors}

    # Token-array equality per routed row (north-rule invariant).
    joined = (
        final.filter(F.col("sink") == "file")
        .select("doc_id", F.col("tokens").alias("out_tokens"))
        .join(seq.select("doc_id", "tokens"), "doc_id")
    )
    mismatches = joined.filter(F.col("out_tokens") != F.col("tokens")).count()
    assert mismatches == 0
    assert joined.count() == total_survivors


def test_resume_exactly_once(spark, run_dirs):
    """Simulate a crash after some buckets committed: wipe manifest
    rows for half the buckets (their output remains — worst case for
    duplication) and re-run. Output and metrics must be unchanged."""
    out_dir, manifest_dir = run_dirs
    final_before = spark.read.parquet(out_dir)
    count_before = final_before.count()
    kafka_before = sorted(
        (r.source, r.route_key, r["count"])
        for r in final_before.filter(F.col("sink") == "kafka")
        .groupBy("source", "route_key")
        .count()
        .collect()
    )

    # Crash simulation: the commit's lineage loses half its buckets
    # (their output remains), while its metric deltas keep their
    # now-stale rows — the rollup must ignore deltas of a bucket whose
    # lineage row is not in that commit, or resumed buckets double-count.
    commits = Manifest(manifest_dir).commits_path
    for name in sorted(n for n in os.listdir(commits) if n.endswith(".json")):
        commit = read_json_marker(spark, commits, name)
        commit["lineage"] = [row for row in commit["lineage"] if row["bucket"] % 2 == 0]
        write_json_marker(spark, commits, name, commit)

    _, metrics2 = _run(spark, out_dir, manifest_dir)

    # Exactly-once metrics across the resume: per-sink counts unchanged.
    _, survivors = python_oracle(N)
    m2 = {(r.source, r.sink): (r.success_count, r.fail_count) for r in metrics2.collect()}
    for src, cnt in survivors.items():
        for sink in ("kafka", "es", "file"):
            assert m2[(src, sink)] == (cnt, 0), (src, sink, m2[(src, sink)])

    final_after = spark.read.parquet(out_dir)
    assert final_after.count() == count_before  # no dupes, no loss
    kafka_after = sorted(
        (r.source, r.route_key, r["count"])
        for r in final_after.filter(F.col("sink") == "kafka")
        .groupBy("source", "route_key")
        .count()
        .collect()
    )
    assert kafka_after == kafka_before

    # Second resume with complete manifest = pure no-op.
    _, metrics3 = _run(spark, out_dir, manifest_dir)
    assert spark.read.parquet(out_dir).count() == count_before


def _assert_oracle_counts(metrics):
    _, survivors = python_oracle(N)
    m = {(r.source, r.sink): (r.success_count, r.fail_count) for r in metrics.collect()}
    assert len(m) == len(survivors) * 3, m
    for src, cnt in survivors.items():
        for sink in ("kafka", "es", "file"):
            assert m[(src, sink)] == (cnt, 0), (src, sink, m[(src, sink)])


def test_torn_commit_is_never_read(spark, tmp_path):
    """A crash between writing a commit object and renaming it into
    place leaves only ``<seq>.json.tmp``. The resume must neither take
    its seq as used nor count its deltas: it redoes the uncommitted
    buckets under that seq, and per-sink counts stay exact."""
    out_dir, manifest_dir = str(tmp_path / "out"), str(tmp_path / "manifest")
    _run(spark, out_dir, manifest_dir)
    count_before = spark.read.parquet(out_dir).count()

    commits = Manifest(manifest_dir).commits_path
    newest = max(n for n in os.listdir(commits) if n.endswith(".json"))
    for name in (newest, f".{newest}.crc"):  # the object and its Hadoop checksum
        if os.path.exists(os.path.join(commits, name)):
            os.remove(os.path.join(commits, name))
    with open(os.path.join(commits, newest + ".tmp"), "wb") as fh:
        fh.write(b'{"seq": 0, "run_id": "r1", "lineage": [{"bu')

    _, metrics = _run(spark, out_dir, manifest_dir)
    _assert_oracle_counts(metrics)
    assert spark.read.parquet(out_dir).count() == count_before
    assert sorted(n for n in os.listdir(commits) if n.endswith(".json")) == [newest]


def _snapshot(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.relpath(os.path.join(d, f), root)] = (st.st_size, st.st_mtime_ns)
    return out


def test_uri_paths(spark, tmp_path):
    """``file://`` URIs for the output and the manifest: the manifest
    and the written-bucket listing go through the same Hadoop filesystem
    as the write, so counts are exact and a rerun with the same run_id
    skips every bucket and writes nothing."""
    out_dir, manifest_dir = tmp_path / "out", tmp_path / "manifest"
    _, metrics = _run(spark, out_dir.as_uri(), manifest_dir.as_uri())
    _assert_oracle_counts(metrics)

    before = (_snapshot(str(out_dir)), _snapshot(str(manifest_dir)))
    assert before[1], "no commit written under the manifest URI"
    _, again = _run(spark, out_dir.as_uri(), manifest_dir.as_uri())
    _assert_oracle_counts(again)
    assert (_snapshot(str(out_dir)), _snapshot(str(manifest_dir))) == before


def test_render_fail_policies(spark, tmp_path):
    """kafka ifRenderTopicFailed policies: default / drop / fail
    (pkg/sink/kafka/sink.go:132-147)."""
    from loggie_spark.sinks.router import SinkSpec, explode_to_sinks

    df = spark.createDataFrame(
        [("a", "t1"), ("b", None)], "doc_id string, topic string"
    )
    out_default = explode_to_sinks(
        df, [SinkSpec("k", "${topic}", on_render_fail="default", default_route="dflt")]
    )
    got = {r.doc_id: r.route_key for r in out_default.collect()}
    assert got == {"a": "t1", "b": "dflt"}

    # drop = the event silently skips that sink: no row, no fail count
    # (kafka/sink.go:139-141 DropEvent semantics).
    out_drop = explode_to_sinks(df, [SinkSpec("k", "${topic}", on_render_fail="drop")])
    rows = out_drop.collect()
    assert {r.doc_id: r._route_failed for r in rows} == {"a": False}


def test_route_one_path_for_any_sink_count(spark):
    """One route path: for every render-fail policy and for a selector
    miss, a sink routed alone yields the same rows as the same sink
    routed beside a second sink."""
    from loggie_spark.sinks.router import SinkSpec, explode_to_sinks

    df = spark.createDataFrame(
        [("a", "t1", 1), ("b", None, 2), ("c", "", 3)], "doc_id string, topic string, n int"
    )
    want = {
        "default": {"a": ("t1", False), "b": ("dflt", False), "c": ("dflt", False)},
        "drop": {"a": ("t1", False)},
        "ignore": {"a": ("t1", False), "b": ("", False), "c": ("", False)},
        "fail": {"a": ("t1", False), "b": ("__failed__", True), "c": ("__failed__", True)},
    }
    cases = [
        (SinkSpec("k", "${topic}", on_render_fail=p, default_route="dflt"), w)
        for p, w in want.items()
    ]
    # selector miss: row a never reaches the sink
    cases.append(
        (SinkSpec("k", "r-${doc_id}", selector="greater(n, 1)"), {"b": ("r-b", False), "c": ("r-c", False)})
    )
    for sink, expected in cases:
        alone = explode_to_sinks(df, [sink])
        beside = explode_to_sinks(df, [sink, SinkSpec("other", "o")])
        assert alone.columns == beside.columns
        rows = alone.collect()
        assert {r.doc_id: (r.route_key, r._route_failed) for r in rows} == expected
        paired = beside.filter(F.col("sink") == "k").collect()
        assert {r.doc_id: tuple(r) for r in rows} == {r.doc_id: tuple(r) for r in paired}
        assert beside.filter(F.col("sink") == "other").count() == 3


def test_route_fail_quarantine_in_router(spark):
    """The 'fail' policy's quarantine comes straight from the router:
    the whole route, base dir included, becomes ``__failed__`` and the
    row counts as a failure. An input ``route_key`` column is replaced."""
    from loggie_spark.sinks.metrics import sink_metrics
    from loggie_spark.sinks.router import SinkSpec, explode_to_sinks

    df = spark.createDataFrame(
        [("a", "t1", "old"), ("b", None, "old")], "doc_id string, topic string, route_key string"
    )
    sink = SinkSpec("f", "${topic}.log", base_dirs=["/d1/", "/d2/"], dir_hash_key="${doc_id}")
    out = explode_to_sinks(df, [sink])
    assert out.columns.count("route_key") == 1
    got = {r.doc_id: (r.route_key, r._route_failed) for r in out.collect()}
    assert got["b"] == ("__failed__", True)
    assert got["a"] in {("/d1/t1.log", False), ("/d2/t1.log", False)}
    m = {r.source: (r.success_count, r.fail_count) for r in sink_metrics(out, "p", "doc_id").collect()}
    assert m == {"a": (1, 0), "b": (0, 1)}


def test_write_routed_rotation_analog(spark, tmp_path):
    """file/config.go:21-53 rotation analog: max_size_mb caps bytes per
    output file via maxRecordsPerFile; compress=True selects gzip."""
    import glob

    from loggie_spark.sinks.router import write_routed

    df = (
        spark.range(1000)
        .select(
            F.col("id"),
            F.lit("file").alias("sink"),
            (F.col("id") % 2).cast("string").alias("route_key"),
            F.sha2(F.col("id").cast("string"), 256).alias("body"),
        )
        .coalesce(1)
    )
    out = str(tmp_path / "routed")
    # avg_record_bytes chosen so the cap lands at 100 records/file:
    # 1000 rows / 2 routes / cap 100 → ≥5 files per route directory.
    write_routed(df, out, max_size_mb=1, avg_record_bytes=10486, compress=True)
    per_route = glob.glob(f"{out}/sink=file/route_key=0/*.parquet")
    assert len(per_route) >= 5, per_route
    assert all(".gz.parquet" in p for p in per_route), per_route[:2]
    back = spark.read.parquet(out)
    assert back.count() == 1000


def test_flagship_plan_shape(spark):
    """Lock the single-scan, single-dispatch plan: the flagship physical
    plan must contain exactly ONE shuffle Exchange (the metrics
    aggregate), ONE FileScan, ONE Python node (the token decode), ONE
    ``Generate inline`` (the per-source parse dispatch: every regex,
    grok and jsonDecode in one barrier), ONE route ``explode``, ZERO
    BroadcastExchange (static fields are literals, not a join) and ZERO
    SortMergeJoin / CartesianProduct — so later rounds can't silently
    regress to multi-pass. With a ``lookup`` the addK8sMeta-style join
    adds exactly one BroadcastExchange."""
    from loggie_spark.datagen import sequences_from_documents
    from loggie_spark.sinks.metrics import sink_metrics

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    seq = sequences_from_documents(docs).withColumn(
        "_ptime", F.lit("2024-03-01 00:00:00").cast("timestamp")
    )

    def shape(cfg) -> tuple[str, int]:
        df = sink_metrics(Pipeline(cfg).transform(seq), cfg.name)
        plan = df._jdf.queryExecution().executedPlan().toString()
        n_broadcast = plan.count("BroadcastExchange")
        n_shuffle = plan.count("Exchange") - n_broadcast
        assert n_shuffle == 1, f"expected 1 shuffle Exchange, got {n_shuffle}:\n{plan}"
        assert plan.count("FileScan") == 1, plan
        # One Python node, the token decode: CollapseProject and filter
        # pushdown must not copy the decode UDF into later operators.
        n_python = len(re.findall(r"\b(?:ArrowEvalPython|BatchEvalPython|MapInArrow)\b", plan))
        assert n_python == 1, f"expected 1 Python decode node, got {n_python}:\n{plan}"
        assert plan.count("Generate inline(") == 1, f"expected 1 parse Generate:\n{plan}"
        assert plan.count("Generate explode(") == 1, f"expected 1 route explode:\n{plan}"
        assert "SortMergeJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        return plan, n_broadcast

    cfg = reference_pipeline(time_col_name="_ptime")
    plan, n_broadcast = shape(cfg)
    assert n_broadcast == 0, f"expected no BroadcastExchange, got {n_broadcast}:\n{plan}"

    cfg.lookup = spark.createDataFrame(
        [("access", "edge-dc"), ("app", "svc-dc")], "source string, dc string"
    )
    cfg.lookup_keys = ["source"]
    plan, n_broadcast = shape(cfg)
    assert n_broadcast == 1, f"expected 1 BroadcastExchange (lookup), got {n_broadcast}:\n{plan}"


@contextmanager
def _round_trips(monkeypatch):
    """Count the py4j round trips this thread makes in the block. Wall
    time swings with host CPU steal, and py4j's finalizer thread frees
    JVM objects of earlier tests whenever it runs, so only this
    thread's calls are counted."""
    from py4j.clientserver import ClientServerConnection

    calls = [0]
    send = ClientServerConnection.send_command
    me = threading.get_ident()

    def counted(self, command):
        calls[0] += threading.get_ident() == me
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    try:
        yield calls
    finally:
        monkeypatch.undo()


def test_flagship_build_round_trips(spark, monkeypatch):
    """Building the flagship plan costs a few hundred py4j round trips,
    not thousands: the pipeline compiles to SQL text and Spark gets one
    string per output column, kernel slot, filter and sink entry. The
    input frame is built before counting starts."""
    from loggie_spark.sinks.metrics import sink_metrics

    seq = generate_sequences(spark, N).withColumn(
        "_ptime", F.lit("2024-03-01 00:00:00").cast("timestamp")
    )
    cfg = reference_pipeline(time_col_name="_ptime")
    sink_metrics(Pipeline(cfg).transform(seq), cfg.name)  # warm

    with _round_trips(monkeypatch) as calls:
        sink_metrics(Pipeline(cfg).transform(seq), cfg.name)
    assert calls[0] <= 300, f"flagship plan build made {calls[0]} py4j round trips"


def test_run_round_trips(spark, tmp_path, monkeypatch):
    """A whole ``Pipeline.run`` (build, routed write, accounting and
    manifest commit) stays within a few hundred py4j round trips: its
    per-bucket ``rows_in`` observation is one SQL string per bucket,
    where a Column expression per bucket cost about 41 (1,196 round
    trips for the reference pipeline's 16 buckets; 563 as SQL text).
    The metrics frame it returns is built from Arrow: no Python stage
    runs when it is read."""
    seq = generate_sequences(spark, N).withColumn(
        "_ptime", F.lit("2024-03-01 00:00:00").cast("timestamp")
    )
    cfg = reference_pipeline(time_col_name="_ptime")
    with _round_trips(monkeypatch) as calls:
        metrics = Pipeline(cfg).run(spark, seq, str(tmp_path / "out"), run_id="r")
    assert calls[0] <= 700, f"Pipeline.run made {calls[0]} py4j round trips"
    assert "PythonRDD" not in metrics._jdf.queryExecution().toRdd().toDebugString()
    assert metrics.count() == len(SOURCES) * len(("kafka", "es", "file"))


def test_iceberg_write_capability_gate(spark):
    """The Iceberg routed-append path is capability-gated: without the
    runtime jar (this container) it must fail with the documented
    actionable error, not an opaque ClassNotFound from deep inside the
    writer."""
    import pytest as _pytest

    from loggie_spark.sinks.router import iceberg_available, write_routed_iceberg

    assert iceberg_available(spark) is False
    df = spark.createDataFrame([("a", "t", "x")], ["_sink", "_route_key", "body"])
    with _pytest.raises(RuntimeError, match="Iceberg runtime not on the classpath"):
        write_routed_iceberg(df, "cat.db.routed")


def test_run_curation_job_end_to_end(spark, tmp_path):
    """The spark-submit curation entrypoint runs against real testdata:
    funnel counts are monotone non-increasing, the shard export
    verifies against its manifest, and the report lands next to it."""
    import json
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    import run_curation

    from loggie_spark.layout import verify_training_shards

    out = str(tmp_path / "curated")
    report = run_curation.main(
        [
            "--input", "/root/testdata/sf0.001/documents.parquet",
            "--output", out,
            "--n-shards", "4",
            "--master", "local[4]",
        ]
    )
    assert report["input_docs"] == 500
    assert (
        report["input_docs"]
        >= report["after_exact_dedup"]
        >= report["after_near_dedup"]
        >= report["after_quality_gates"]
        >= 1
    )
    assert report["exported_rows"] == report["after_quality_gates"]
    verify_training_shards(spark, out)
    on_disk = json.load(open(os.path.join(out, "_curation_report.json")))
    assert on_disk == report

    # optional stages: SemDeDup (embeddings keyed by doc_id) + DSIR
    # resample toward a target slice — funnel stays monotone and the
    # two new stage counts appear in order
    out2 = str(tmp_path / "curated2")
    report2 = run_curation.main(
        [
            "--input", "/root/testdata/sf0.001/documents.parquet",
            "--output", out2,
            "--n-shards", "4",
            "--master", "local[4]",
            "--embeddings", "/root/testdata/sf0.001/embeddings.parquet",
            "--semdedup-threshold", "0.4",
            "--dsir-target", "/root/testdata/sf0.001/documents.parquet",
            "--dsir-keep-fraction", "0.5",
        ]
    )
    assert (
        report2["after_near_dedup"]
        >= report2["after_semantic_dedup"]
        >= report2["after_quality_gates"]
        >= report2["after_dsir_resample"]
        >= 1
    )
    assert report2["after_semantic_dedup"] < report2["after_near_dedup"]
    assert report2["after_dsir_resample"] < report2["after_quality_gates"]
    assert report2["exported_rows"] == report2["after_dsir_resample"]
    verify_training_shards(spark, out2)
