"""Round-2 reference-parity semantics: default interceptor injection,
toStr Go float formatting (Go table tests), timestamp locations,
addMeta full meta, grok pattern files, fieldsFromEnv/Path,
bodyKey/timestampKey remaps, file-source scan options."""

from __future__ import annotations

import os

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
    ).finish()
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
    out2 = apply_program(df2, [{"action": "toStr(v)"}]).finish()
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
    ).finish()
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
    ).finish()
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
    ).finish()
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
