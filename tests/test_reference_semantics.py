"""Round-2 reference-parity semantics: default interceptor injection,
toStr Go float formatting (Go table tests), timestamp locations,
addMeta full meta, grok pattern files, fieldsFromEnv/Path,
bodyKey/timestampKey remaps, interceptor boundaries, the per-source
dispatch on hostile source values, file-source scan options."""

from __future__ import annotations

import os
import re

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Row

from loggie_spark.actions import apply_program


# -- default interceptor injection (sysconfig/config.go:58-88) --------------


def test_default_interceptor_injection_merge():
    """Mirrors test/configuration/pipeline_test.go:89-102: a configured
    list keeps its entries (settings preserved) and the missing
    defaults are appended in default order."""
    from loggie_spark.pipeline import PipelineConfig, SourceSpec

    cfg = PipelineConfig(
        name="p",
        sources=[SourceSpec("s")],
        sinks=[],
        interceptors=[{"type": "normalize", "processors": []}],
    )
    eff = cfg.effective_interceptors()
    assert [i["type"] for i in eff] == ["normalize", "metric", "maxbytes", "retry"]

    # a configured default keeps its own settings, default keys fill in
    cfg2 = PipelineConfig(
        name="p",
        sources=[SourceSpec("s")],
        sinks=[],
        interceptors=[{"type": "maxbytes", "maxBytes": 7}],
    )
    eff2 = cfg2.effective_interceptors()
    assert [i["type"] for i in eff2] == ["maxbytes", "metric", "retry"]
    assert eff2[0]["maxBytes"] == 7

    # empty config gets exactly the three defaults
    cfg3 = PipelineConfig(name="p", sources=[SourceSpec("s")], sinks=[])
    assert [i["type"] for i in cfg3.effective_interceptors()] == [
        "metric",
        "maxbytes",
        "retry",
    ]


def test_injected_maxbytes_truncates_in_transform(spark):
    from loggie_spark.pipeline import Pipeline, PipelineConfig, SourceSpec
    from loggie_spark.sinks.router import SinkSpec

    df = spark.createDataFrame(
        [("d1", "x" * 50, "s")], "doc_id string, body string, source string"
    )
    cfg = PipelineConfig(
        name="p",
        sources=[SourceSpec("s")],
        sinks=[SinkSpec("out", "fixed")],
        interceptors=[{"type": "maxbytes", "maxBytes": 10}],
    )
    out = Pipeline(cfg).transform(df).collect()
    assert all(len(r.body) == 10 for r in out)


# -- toStr Go 'g' formatting (tostr.go:123-152 + tostr_test.go table) -------


def test_tostr_go_table(spark):
    """Port of tostr_test.go's table (bool/int/float cases) plus the
    exponent-regime cases the Go formatter distinguishes."""
    df = spark.createDataFrame(
        [Row(b=True, i=200, f=200.1)],
    )
    out = apply_program(
        df,
        [
            {"action": "toStr(b)"},
            {"action": "toStr(i)"},
            {"action": "toStr(f)"},
        ],
    )
    r = out.collect()[0]
    assert (r.b, r.i, r.f) == ("true", "200", "200.1")

    cases = {
        100.0: "100",
        1234567.0: "1.234567e+06",
        0.0001: "0.0001",
        0.00001: "1e-05",
        1e21: "1e+21",
        -2.5e-08: "-2.5e-08",
    }
    df2 = spark.createDataFrame([(v,) for v in cases], "v double")
    out2 = apply_program(df2, [{"action": "toStr(v)"}])
    got = {r2.v for r2 in out2.collect()}
    assert got == set(cases.values())


# -- timestamp from/toLocation (timestamp.go:97-109) ------------------------


def test_timestamp_locations(spark):
    # 2021-01-15 12:00:00 in New York (EST, UTC-5) = 2021-01-16 01:00 in
    # Shanghai (UTC+8): 13 hours ahead.
    df = spark.createDataFrame([Row(t="2021-01-15 12:00:00")])
    out = apply_program(
        df,
        [
            {
                "action": "timestamp(t)",
                "fromLayout": "2006-01-02 15:04:05",
                "fromLocation": "America/New_York",
                "toLayout": "2006-01-02 15:04:05",
                "toLocation": "Asia/Shanghai",
            }
        ],
    )
    assert out.collect()[0].t == "2021-01-16 01:00:00"


# -- addMeta full semantics (addmeta.go:66-108) ------------------------------


def test_addmeta_includes_all_meta(spark):
    from loggie_spark.processors import apply_processors
    from loggie_spark.sources.readers import with_addon_meta

    df = with_addon_meta(
        spark.createDataFrame([Row(body="x", source="app")]), add_hostname=True
    )
    out = apply_processors(
        df, [{"addMeta": {"target": "meta", "pipelineName": "p9"}}]
    )
    r = out.collect()[0]
    assert r.meta.systemSourceName == "app"
    assert r.meta.systemPipelineName == "p9"
    assert r.meta.hostname
    assert r.meta.offset is not None
    assert r.meta.systemProductTime is not None
    # internal control columns are the @private analog — never exported
    assert "_dropped" not in r.meta.asDict()


# -- grok custom pattern files (grok.go:150-236) -----------------------------


def test_grok_pattern_files(spark, tmp_path):
    pdir = tmp_path / "patterns"
    pdir.mkdir()
    (pdir / "custom").write_text(
        "# comment line\nTICKET JIRA-[0-9]+\nSEVLVL (?:DEBUG|INFO|WARN|ERROR)\n"
    )
    df = spark.createDataFrame([Row(body="JIRA-421 ERROR something broke")])
    out = apply_program(
        df,
        [
            {
                "action": "grok(body)",
                "match": "^%{TICKET:ticket} %{SEVLVL:level} ",
                "patternPaths": [str(pdir)],
            }
        ],
    )
    r = out.collect()[0]
    assert r.ticket == "JIRA-421" and r.level == "ERROR"


# -- fieldsFromEnv / fieldsFromPath (pipeline.go:1006-1052) ------------------


def test_fields_from_env_and_path(spark, tmp_path):
    from loggie_spark.pipeline import SourceSpec

    os.environ["LOGGIE_TEST_ZONE"] = "zone-a"
    f = tmp_path / "rack"
    f.write_text("rack-42\n")
    too_big = tmp_path / "big"
    too_big.write_text("x" * 5000)  # over fieldsFromPathMaxBytes → skipped
    src = SourceSpec(
        "s",
        fields={"fleet": "edge"},
        fields_from_env={"zone": "LOGGIE_TEST_ZONE", "missing": "NO_SUCH_VAR_42"},
        fields_from_path={"rack": str(f), "huge": str(too_big), "gone": "/nope"},
    )
    got = src.resolved_fields()
    assert got == {"fleet": "edge", "zone": "zone-a", "rack": "rack-42"}


def test_fields_under_key_nesting(spark):
    """fieldsUnderKey (pipeline.go:1098-1123 AddSourceFields,
    core/source/config.go:35-36): fields nest inside one struct column
    instead of the under-root default — single-source and the
    multi-source broadcast-dim path."""
    from loggie_spark.pipeline import Pipeline, PipelineConfig, SourceSpec
    from loggie_spark.sinks.router import SinkSpec

    df = spark.createDataFrame(
        [("d1", "l1", "a"), ("d2", "l2", "b")],
        "doc_id string, body string, source string",
    )
    single = PipelineConfig(
        name="p",
        sources=[SourceSpec("a", fields={"fleet": "edge"}, fields_under_key="fields")],
        sinks=[SinkSpec("out", "fixed")],
    )
    r = Pipeline(single).transform(df.filter(F.col("source") == "a")).collect()[0]
    assert r.fields.fleet == "edge"

    multi = PipelineConfig(
        name="p",
        sources=[
            SourceSpec("a", fields={"fleet": "edge"}, fields_under_key="fields"),
            SourceSpec("b", fields={"zone": "eu"}, fields_under_key="fields"),
        ],
        sinks=[SinkSpec("out", "fixed")],
    )
    rows = {r.source: r for r in Pipeline(multi).transform(df).collect()}
    assert rows["a"].fields.fleet == "edge" and rows["a"].fields.zone == ""
    assert rows["b"].fields.zone == "eu" and rows["b"].fields.fleet == ""
    assert "fleet" not in Pipeline(multi).transform(df).columns

    import pytest as _pytest

    with _pytest.raises(ValueError, match="conflicting fields_under_key"):
        Pipeline(
            PipelineConfig(
                name="p",
                sources=[
                    SourceSpec("a", fields={"x": "1"}, fields_under_key="k1"),
                    SourceSpec("b", fields={"y": "2"}, fields_under_key="k2"),
                ],
                sinks=[SinkSpec("out", "fixed")],
            )
        ).transform(df)


# -- bodyKey / timestampKey (pipeline.go:1076-1095) --------------------------


def test_body_and_timestamp_key_remap(spark):
    from loggie_spark.pipeline import Pipeline, PipelineConfig, SourceSpec
    from loggie_spark.sinks.router import SinkSpec

    df = spark.createDataFrame(
        [("d1", "the line", "s")], "doc_id string, body string, source string"
    ).withColumn("_pt", F.lit("2024-03-01 08:00:00").cast("timestamp"))
    cfg = PipelineConfig(
        name="p",
        sources=[SourceSpec("s", body_key="log", timestamp_key="ts")],
        sinks=[SinkSpec("out", "fixed")],
        time_col_name="_pt",
    )
    r = Pipeline(cfg).transform(df).collect()[0]
    assert r.log == "the line"
    assert r.body == ""  # bodyKey blanks the body (pipeline.go:1092-1095)
    assert r.ts == "2024-03-01T08:00:00.000Z"


# -- interceptor boundaries (transformer.go:85-95) ----------------------------


def test_return_and_errors_end_only_their_interceptor(spark):
    """return() and a failed action stop the rest of their own program
    only; the next interceptor still runs on the event (Intercept
    invokes the next one, transformer.go:85-95), so a later transformer
    and maxbytes apply to every row that was not dropped."""
    from loggie_spark.pipeline import Pipeline, PipelineConfig, SourceSpec
    from loggie_spark.sinks.router import SinkSpec

    bodies = {
        "d1": "404 not found here",  # return()
        "d2": "no digits at all",  # regex fails: default policy
        "d3": "200 ok fine body",
        "d4": "500 drop me now",  # dropEvent()
    }
    program = [
        {"action": "regex(body)", "pattern": r"(?<code>\d+) (?<msg>.*)"},
        {"if": "equal(code, 404)", "then": [{"action": "return()"}]},
        {"if": "equal(code, 500)", "then": [{"action": "dropEvent()"}]},
        {"action": "add(kind, parsed)"},
    ]
    cfg = PipelineConfig(
        name="p",
        sources=[SourceSpec("s", program)],
        sinks=[SinkSpec("out", "fixed")],
        interceptors=[
            {"type": "transformer", "actions": [{"action": "add(seen, yes)"}]},
            {"type": "maxbytes", "maxBytes": 5},
        ],
    )
    df = spark.createDataFrame(
        [(k, v, "s") for k, v in bodies.items()], "doc_id string, body string, source string"
    )
    got = {
        r.doc_id: (r.body, r.code, r.kind, r.seen)
        for r in Pipeline(cfg).transform(df).collect()
    }

    def model(body: str) -> tuple | None:
        ev = {"body": body, "code": None, "kind": None}
        m = re.search(r"(\d+) (.*)", body)
        if m:  # a failed action would skip the rest of this program
            ev["code"] = m[1]
            if ev["code"] == "500":
                return None
            if ev["code"] != "404":  # return() ends the program here
                ev["kind"] = "parsed"
        ev["seen"] = "yes"  # the next interceptors run on every event
        ev["body"] = ev["body"].encode()[:5].decode()
        return (ev["body"], ev["code"], ev["kind"], ev["seen"])

    want = {k: model(v) for k, v in bodies.items() if model(v) is not None}
    assert got == want


# -- belongTo dispatch: hostile source values --------------------------------


def test_dispatch_hostile_sources_match_belongto_model(spark):
    """Each source's program runs only on its own rows (belongTo); a
    NULL source or one no SourceSpec names passes through unparsed with
    NULL fields; fields apply per source; two sources writing one column
    with different types meet in the last writer's type; bodyKey and
    timestampKey remap one source only. Checked against a pure-Python
    model of the reference's per-event chain."""
    from loggie_spark.pipeline import Pipeline, PipelineConfig, SourceSpec
    from loggie_spark.sinks.router import SinkSpec

    a_program = [
        {"action": "regex(body)", "pattern": r"(?<code>\d+) (?<msg>.*)"},
        {"if": "equal(code, 404)", "then": [{"action": "add(kind, nf)"}, {"action": "return()"}]},
        {"action": "add(kind, ok)"},
        {"action": "strconv(code, int)"},
    ]
    c_program = [
        {"if": "equal(body, drop me)", "then": [{"action": "dropEvent()"}]},
        {"action": "add(code, c-code)"},
    ]
    sources = [
        SourceSpec("a", a_program),
        SourceSpec("b", fields={"zone": "eu", "tier": 2}, body_key="raw"),
        SourceSpec("c", c_program, fields={"zone": "us"}, timestamp_key="ts"),
    ]
    rows = [
        ("1", "404 gone", "a"),
        ("2", "200 fine", "a"),
        ("3", "garbage", "a"),
        ("4", "b line", "b"),
        ("5", "c line", "c"),
        ("6", "drop me", "c"),
        ("7", "404 null source", None),
        ("8", "404 unknown", "zzz"),
        ("9", "404 empty", ""),
    ]
    df = spark.createDataFrame(rows, "doc_id string, body string, source string").withColumn(
        "_pt", F.lit("2024-03-01 08:00:00").cast("timestamp")
    )
    cfg = PipelineConfig(
        name="p", sources=sources, sinks=[SinkSpec("out", "fixed")], time_col_name="_pt"
    )
    out = Pipeline(cfg).transform(df)
    cols = ["body", "code", "msg", "kind", "raw", "ts", "tier", "zone"]
    assert dict(out.dtypes)["code"] == "string"
    got = {r.doc_id: tuple(r[c] for c in cols) for r in out.collect()}

    def model(body: str, source: str | None) -> dict | None:
        ev = {"body": body}
        if source == "a":
            m = re.search(r"(\d+) (.*)", body)
            if m:
                ev.update(code=m[1], msg=m[2])
                if m[1] == "404":
                    ev["kind"] = "nf"
                else:
                    ev["kind"] = "ok"
                    ev["code"] = str(int(m[1]))  # long, read back as the string type
        elif source == "b":
            ev.update(raw=body, body="")
        elif source == "c":
            if body == "drop me":
                return None
            ev.update(code="c-code", ts="2024-03-01T08:00:00.000Z")
        fields = {s.name: s.fields for s in sources}.get(source)
        if fields:  # sources declaring some fields carry "" for the rest
            ev.update({k: str(fields.get(k, "")) for k in ("tier", "zone")})
        return ev

    want = {}
    for doc_id, body, source in rows:
        ev = model(body, source)
        if ev is not None:
            want[doc_id] = tuple(ev.get(c) for c in cols)
    assert got == want

    # fields_under_key across sources: one struct, NULL members for rows
    # no source names; sources naming different keys conflict.
    for s in sources:
        s.fields_under_key = "fields" if s.fields else None
    nested = Pipeline(cfg).transform(df)
    assert "zone" not in nested.columns
    got = {r.doc_id: r.fields for r in nested.collect()}
    assert got["4"].asDict() == {"tier": "2", "zone": "eu"}
    assert got["5"].asDict() == {"tier": "", "zone": "us"}
    for doc_id in ("1", "7", "8", "9"):
        assert got[doc_id].asDict() == {"tier": None, "zone": None}
    sources[2].fields_under_key = "other"
    with pytest.raises(ValueError, match="conflicting fields_under_key"):
        Pipeline(cfg).transform(df)


def test_dispatch_string_and_map_writers_meet_as_json_string(spark):
    """One source copies the body to ``payload`` (a string), another
    jsonDecodes it there (a map). No try_cast takes a string to a map,
    so in either source order the merged column is a string and the map
    is rendered as JSON; a row no source names reads NULL."""
    from loggie_spark.pipeline import Pipeline, PipelineConfig, SourceSpec
    from loggie_spark.sinks.router import SinkSpec

    rows = [("1", '{"k":"v"}', "a"), ("2", '{"k":"w","n":3}', "b"), ("3", '{"k":"x"}', None)]
    df = spark.createDataFrame(rows, "doc_id string, body string, source string").withColumn(
        "_pt", F.lit("2024-03-01 08:00:00").cast("timestamp")
    )
    copy = SourceSpec("a", [{"action": "copy(body, payload)"}])
    decode = SourceSpec("b", [{"action": "jsonDecode(body, payload)"}])
    want = {"1": '{"k":"v"}', "2": '{"k":"w","n":"3"}', "3": None}
    for sources in ([copy, decode], [decode, copy]):
        cfg = PipelineConfig(
            name="p", sources=sources, sinks=[SinkSpec("out", "fixed")], time_col_name="_pt"
        )
        out = Pipeline(cfg).transform(df)
        assert dict(out.dtypes)["payload"] == "string", [s.name for s in sources]
        got = {r.doc_id: r.payload for r in out.collect()}
        assert got == want, ([s.name for s in sources], got)


# -- file-source scan options (glob / exclude / ignoreOlder) -----------------


def test_read_table_glob_exclude(spark, tmp_path):
    from loggie_spark.sources.readers import read_table

    d = tmp_path / "logs"
    d.mkdir()
    spark.createDataFrame([(1,)], "a long").write.parquet(str(d / "keep-1.parquet"))
    spark.createDataFrame([(2,)], "a long").write.parquet(str(d / "keep-2.parquet"))
    spark.createDataFrame([(3,)], "a long").write.parquet(str(d / "skip-3.parquet"))

    all_rows = read_table(spark, str(d / "*"), glob="*.parquet")
    assert all_rows.count() == 3
    kept = read_table(spark, str(d / "*"), exclude=r"skip-[0-9]+")
    assert sorted(r.a for r in kept.collect()) == [1, 2]
    none_recent = read_table(
        spark, str(d / "*"), ignore_older="2099-01-01T00:00:00", schema="a long"
    )
    assert none_recent.count() == 0
    recent = read_table(spark, str(d / "*"), ignore_older="2000-01-01T00:00:00")
    assert recent.count() == 3
