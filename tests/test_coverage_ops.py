"""Coverage tests for the remaining SURVEY §2 surface: normalize
processors, sink codecs, logAlert, source readers, schema interceptor."""

from __future__ import annotations

import json

import pyspark.sql.functions as F
from pyspark.sql import Row


def test_normalize_processors_chain(spark):
    from loggie_spark.processors import apply_processors

    df = spark.createDataFrame([Row(body='{"level":"ERROR","n":"42"}')])
    processors = [
        {"jsonDecode": {"fields": ["level", "n"]}},
        {"convert": {"convert": [{"from": "n", "to": "int"}]}},
        {"add": {"fields": {"site": "eu"}}},
        {"rename": {"rename": [{"from": "level", "to": "severity"}]}},
        {"drop": {"targets": ["body"]}},
    ]
    out = apply_processors(df, processors)
    r = out.collect()[0]
    assert r.severity == "ERROR" and r.n == 42 and r.site == "eu"
    # jsonDecode can error per-row (default policy: abort + forward
    # as-is), so later del/move NULL the field for processed rows but
    # the column survives in the schema for potential errored rows.
    assert r.body is None and r.level is None

    # A chain with no error-capable step really drops the columns.
    df2 = spark.createDataFrame([Row(a="1", b="2")])
    out2 = apply_processors(
        df2,
        [
            {"rename": {"rename": [{"from": "a", "to": "c"}]}},
            {"drop": {"targets": ["b"]}},
        ],
    )
    assert out2.columns == ["c"]
    assert out2.collect()[0].c == "1"


def test_json_codec_beats_format(spark):
    from loggie_spark.sinks.codecs import json_codec, raw_codec

    df = spark.createDataFrame(
        [Row(body="hello", source="app", t="2024-03-01 10:00:00")]
    ).withColumn("t", F.col("t").cast("timestamp"))
    out = json_codec(df, time_col="t", beats_format=True, include=["body", "source"])
    payload = json.loads(out.collect()[0].payload)
    assert payload["message"] == "hello"
    assert payload["source"] == "app"
    assert payload["@timestamp"].startswith("2024-03-01T10:00:00")

    raw = raw_codec(df).collect()[0].payload
    assert raw == "hello"


def test_logalert_matchers(spark):
    from loggie_spark.operators.logalert import AdvancedRule, LogAlertConfig, alerts

    df = spark.createDataFrame(
        [
            Row(id=1, body="ERROR disk full on /dev/sda"),
            Row(id=2, body="WARN latency 950 ms"),
            Row(id=3, body="INFO all good"),
            Row(id=4, body="ERROR but ignorable heartbeat"),
        ]
    )
    cfg = LogAlertConfig(
        contains=["disk full"],
        advanced=[
            AdvancedRule(
                pattern=r"latency (?P<ms>\d+) ms",
                checks=[("ms", "gt", "900")],
            )
        ],
        ignore=["heartbeat"],
        additions={"alert_level": "crit"},
    )
    got = sorted(r.id for r in alerts(df, cfg).collect())
    assert got == [1, 2]
    assert alerts(df, cfg).collect()[0].alert_level == "crit"


def test_logalert_no_data(spark):
    from loggie_spark.operators.logalert import no_data_alerts

    df = spark.createDataFrame(
        [
            Row(source="a", t="2024-03-01 10:00:00"),
            Row(source="a", t="2024-03-01 10:20:00"),
            Row(source="b", t="2024-03-01 10:00:00"),
        ]
    ).withColumn("t", F.col("t").cast("timestamp"))
    gaps = no_data_alerts(df, "t", window="10 minutes")
    got = {(r.source, str(r.window.start)) for r in gaps.collect()}
    # b has no events in the 10:20 window.
    assert ("b", "2024-03-01 10:20:00") in got


def test_readers_and_addon_meta(spark, tmp_path):
    from loggie_spark.sources import (
        decode_json_codec,
        decode_regex_codec,
        read_table,
        with_addon_meta,
    )

    p = str(tmp_path / "t")
    spark.createDataFrame([Row(body='{"a":"1","b":"x"}', n=1)]).write.parquet(p)
    df = read_table(spark, p, include=["body"])
    assert df.columns == ["body"]

    meta = with_addon_meta(read_table(spark, p))
    r = meta.collect()[0]
    assert r.filename.endswith(".parquet") and r.hostname

    dec = decode_json_codec(read_table(spark, p), fields=["a", "b"], body_field="b")
    r = dec.collect()[0]
    assert r.a == "1" and r.body == "x"

    rx = decode_regex_codec(
        spark.createDataFrame([Row(body="user=joe id=7")]),
        pattern=r"user=(?<user>\w+) id=(?<uid>\d+)",
    )
    r = rx.collect()[0]
    assert r.user == "joe" and r.uid == "7"


def test_schema_interceptor(spark):
    from loggie_spark.enrich import apply_schema_interceptor

    df = spark.createDataFrame([Row(source="app", body="x", t="2024-03-01 00:00:00")]).withColumn(
        "t", F.col("t").cast("timestamp")
    )
    out = apply_schema_interceptor(
        df, "p1", time_col="t", remap={"body": "message"}
    )
    r = out.collect()[0]
    assert r.pipeline == "p1" and r.sourceName == "app"
    assert r["@timestamp"].startswith("2024-03-01T00:00:00")
    assert "message" in out.columns and "body" not in out.columns


def test_extract_pattern_inverse(spark):
    from loggie_spark.patterns import compile_pattern, extract_pattern

    df = spark.createDataFrame(
        [Row(ns="default", pod="api-1", uid="abc123"), Row(ns="kube", pod="db-0", uid="xyz")]
    )
    pat = "/var/log/pods/${ns}_${pod}_${uid}/app.log"
    rendered = df.withColumn("path", compile_pattern(pat))
    cols = extract_pattern("path", pat)
    back = rendered.select(
        "ns", "pod", "uid",
        cols["ns"].alias("ns2"), cols["pod"].alias("pod2"), cols["uid"].alias("uid2"),
    ).collect()
    for r in back:
        assert (r.ns, r.pod, r.uid) == (r.ns2, r.pod2, r.uid2)

    # non-matching strings extract nothing (marker guards single-field too)
    bad = spark.createDataFrame([Row(path="/not/a/pod/path")])
    one = extract_pattern("path", "/var/log/${only}/app.log")
    assert bad.select(one["only"].alias("v")).collect()[0].v is None


def test_aggregator_windowed(spark):
    from loggie_spark.operators.aggregator import aggregate

    df = spark.createDataFrame(
        [
            ("a", "2024-03-01 10:00:05", 1.0),
            ("a", "2024-03-01 10:00:07", 3.0),
            ("a", "2024-03-01 10:01:05", 5.0),
        ],
        "k string, t string, v double",
    ).withColumn("t", F.col("t").cast("timestamp"))
    out = aggregate(
        df,
        group_by=["k"],
        select=[("COUNT", "v", "cnt"), ("SUM", "v", "total")],
        window=("t", "1 minute"),
        round_to=2,
    ).collect()
    got = {str(r.window.start): (r.cnt, r.total) for r in out}
    assert got == {"2024-03-01 10:00:00": (2, 4.0), "2024-03-01 10:01:00": (1, 5.0)}


# -- multiline aggregation (pkg/source/file/multilines.go:115-150) ----------


def test_multiline_merge_stacktrace(spark):
    """Pattern marks record starts; continuation lines (stacktraces)
    join with newline; leading unmatched lines form their own record."""
    from loggie_spark.sources.readers import merge_multiline

    lines = [
        ("a.log", 1, "  at lonely.continuation(line)"),  # before any start
        ("a.log", 2, "2024-01-01 ERROR boom"),
        ("a.log", 3, "  at com.example.Foo(Foo.java:1)"),
        ("a.log", 4, "  at com.example.Bar(Bar.java:2)"),
        ("a.log", 5, "2024-01-01 INFO fine"),
        ("b.log", 1, "2024-01-02 WARN solo"),
    ]
    df = spark.createDataFrame(lines, "filename string, line_off long, body string")
    out = merge_multiline(
        df, r"^\d{4}-\d{2}-\d{2}", offset_col="line_off", max_lines=500
    )
    rows = {(r.filename, r.line_off): (r.body, r.n_lines) for r in out.collect()}
    assert rows[("a.log", 1)] == ("  at lonely.continuation(line)", 1)
    assert rows[("a.log", 2)] == (
        "2024-01-01 ERROR boom\n  at com.example.Foo(Foo.java:1)\n"
        "  at com.example.Bar(Bar.java:2)",
        3,
    )
    assert rows[("a.log", 5)] == ("2024-01-01 INFO fine", 1)
    assert rows[("b.log", 1)] == ("2024-01-02 WARN solo", 1)


def test_multiline_max_lines_flush(spark):
    """currentLines >= MaxLines force-flush (multilines.go:144-147):
    a 5-line record at maxLines=2 splits 2/2/1."""
    from loggie_spark.sources.readers import merge_multiline

    lines = [("f", i, "START" if i == 1 else f"cont{i}") for i in range(1, 6)]
    df = spark.createDataFrame(lines, "filename string, line_off long, body string")
    out = merge_multiline(df, r"^START", offset_col="line_off", max_lines=2)
    got = sorted((r.line_off, r.n_lines, r.body) for r in out.collect())
    assert got == [
        (1, 2, "START\ncont2"),
        (3, 2, "cont3\ncont4"),
        (5, 1, "cont5"),
    ]


def test_multiline_max_bytes_flush(spark):
    """maxBytes pre-check flush (multilines.go:117-121): the separator
    is not counted in the availability check, matching the reference."""
    from loggie_spark.sources.readers import merge_multiline

    # each body is 4 bytes; maxBytes=10: after two lines size=9 (4+1+4),
    # pre-check for the third: 10 - 4 - 9 <= 0 -> flush first.
    lines = [("f", i, f"l{i:03d}"[:4]) for i in range(1, 6)]
    df = spark.createDataFrame(lines, "filename string, line_off long, body string")
    out = merge_multiline(
        df, r"^NEVER", offset_col="line_off", max_lines=500, max_bytes=10
    )
    got = sorted((r.line_off, r.n_lines) for r in out.collect())
    assert got == [(1, 2), (3, 2), (5, 1)]


def test_aggregator_approx_distinct(spark):
    """The 100 TB COUNT-DISTINCT path: HLL++ sketch instead of exact
    key set. rsd=0.02 must land within 5% of truth on 5k distinct
    keys, and the exact path must be untouched by the new flag."""
    from pyspark.sql import functions as F

    from loggie_spark.operators.aggregator import aggregate

    df = spark.range(20_000).select(
        (F.col("id") % 4).cast("string").alias("g"),
        (F.col("id") % 5_000).cast("string").alias("user"),
    )
    select = [("COUNT-DISTINCT", "user", "users"), ("COUNT", "user", "n")]
    exact = {r.g: r.users for r in aggregate(df, ["g"], select).collect()}
    assert exact == {"0": 1250, "1": 1250, "2": 1250, "3": 1250}
    approx = {
        r.g: r.users
        for r in aggregate(df, ["g"], select, approx_distinct_rsd=0.02).collect()
    }
    for g, truth in exact.items():
        assert abs(approx[g] - truth) / truth < 0.05, (g, approx[g], truth)


def test_shared_persist_release_unpersists(spark):
    """sharing.py contract: shared frames are cached until the session
    loop releases them, then fully unpersisted (ADVICE r5: operator
    persists must not leak across a 109-query session)."""
    from loggie_spark.operators.sharing import release_shared, shared_persist

    release_shared()  # clean slate
    df = shared_persist(spark.range(10))
    assert df.storageLevel.useMemory
    df.count()
    assert release_shared() == 1
    assert not df.storageLevel.useMemory
    assert release_shared() == 0
