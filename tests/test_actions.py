"""Action/condition compiler tests, porting the reference's table-driven
Go cases (SURVEY.md §5): grok extraction, regex parse, split, convert,
timestamp, control flow (return/dropEvent), if/then/else."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from loggie_spark.actions import apply_program
from loggie_spark.expr import compile_condition
from loggie_spark.patterns import expand_grok, go_layout_to_jvm, named_groups

ACCESS_PATTERN = (
    r"(?<ip>\S+) (?<id>\S+) (?<u>\S+) (?<time>\[.*?\]) "
    r'(?<url>".*?") (?<status>\S+) (?<size>\S+)'
)
ACCESS_LINE = '10.244.0.1 - - [13/Dec/2021:12:40:48 +0000] "GET / HTTP/1.1" 404 683'


def test_regex_parse_access_log(spark):
    df = spark.createDataFrame([Row(body=ACCESS_LINE)])
    out = apply_program(df, [{"action": "regex(body)", "pattern": ACCESS_PATTERN}])
    r = out.collect()[0]
    assert r.ip == "10.244.0.1"
    assert r.id == "-"
    assert r.u == "-"
    assert r.time == "[13/Dec/2021:12:40:48 +0000]"
    assert r.url == '"GET / HTTP/1.1"'
    assert r.status == "404"
    assert r.size == "683"


def test_example_pipeline_route(spark):
    """The reference's example pipeline verbatim
    (pkg/interceptor/transformer/example/pipeline.yml:2-15):
    404 → topic not_found; 500 → drop; else topic common."""
    lines = [ACCESS_LINE.replace(" 404 ", f" {s} ") for s in ("200", "404", "500", "302")]
    df = spark.createDataFrame([Row(body=line) for line in lines])
    program = [
        {"action": "regex(body)", "pattern": ACCESS_PATTERN},
        {
            "if": "equal(status, 404)",
            "then": [{"action": "add(topic, not_found)"}, {"action": "return()"}],
        },
        {
            "if": "equal(status, 500)",
            "then": [{"action": "dropEvent()"}],
            "else": [{"action": "add(topic, common)"}],
        },
    ]
    out = apply_program(df, program)
    got = {r.status: r.topic for r in out.collect()}
    assert got == {"200": "common", "404": "not_found", "302": "common"}  # 500 dropped


def test_grok_reference_case(spark):
    """grok_test.go:11-48 fixture line and match."""
    line = "2022/05/28 01:32:01 logTest.go:66: 192.168.0.1 /var/log/test.log 54ce5d87-b94c-c40a-74a7-9cd375289334"
    match = (
        "^%{DATESTAMP:datetime} (?P<file>[a-zA-Z0-9._-]+):%{INT:line}: "
        "%{IPV4:ip} %{PATH:path} %{UUID:uuid}"
    )
    df = spark.createDataFrame([Row(body=line)])
    out = apply_program(df, [{"action": "grok(body)", "match": match}])
    r = out.collect()[0]
    assert r.datetime == "2022/05/28 01:32:01"
    assert r.file == "logTest.go"
    assert r.line == "66"
    assert r.ip == "192.168.0.1"
    assert r.path == "/var/log/test.log"
    assert r.uuid == "54ce5d87-b94c-c40a-74a7-9cd375289334"


def test_split_action(spark):
    df = spark.createDataFrame([Row(body="a b c")])
    out = apply_program(
        df,
        [{"action": "split(body)", "separator": " ", "keys": ["x", "y", "z"]}],
    )
    r = out.collect()[0]
    assert (r.x, r.y, r.z) == ("a", "b", "c")


def test_split_arity_drop(spark):
    df = spark.createDataFrame([Row(body="a b"), Row(body="a b c")])
    out = apply_program(
        df,
        [
            {
                "action": "split(body)",
                "separator": " ",
                "keys": ["x", "y", "z"],
                "dropIfError": True,
            }
        ],
    )
    rows = out.collect()
    assert len(rows) == 1 and rows[0].x == "a"


def test_strconv_and_convert(spark):
    df = spark.createDataFrame([Row(v="42"), Row(v="oops")])
    out = apply_program(df, [{"action": "strconv(v, int)"}])
    got = sorted([r.v for r in out.collect()], key=lambda x: (x is None, x))
    assert got == [42, None]

    out2 = apply_program(
        spark.createDataFrame([Row(v="1.5"), Row(v="x")]),
        [{"action": "strconv(v, float)", "dropIfError": True}],
    )
    assert [r.v for r in out2.collect()] == [1.5]


def test_json_decode_schemaless(spark):
    df = spark.createDataFrame([Row(body='{"log":"hello", "stream":"stderr"}')])
    out = apply_program(
        df, [{"action": "jsonDecode(body)", "fields": ["log", "stream"]}]
    )
    r = out.collect()[0]
    assert r.log == "hello" and r.stream == "stderr"


def test_timestamp_action(spark):
    df = spark.createDataFrame([Row(t="2021-06-10T08:29:07Z")])
    out = apply_program(
        df,
        [
            {
                "action": "timestamp(t)",
                "fromLayout": "2006-01-02T15:04:05Z07:00",
                "toLayout": "unix",
            }
        ],
    )
    assert out.collect()[0].t == 1623313747


def test_copy_move_del_set(spark):
    df = spark.createDataFrame([Row(a="1", b="2")])
    program = [
        {"action": "copy(a, c)"},
        {"action": "move(b, d)"},
        {"action": "del(a)"},
        {"action": "setInt(n, 7)"},
        {"action": "setBool(f, true)"},
    ]
    out = apply_program(df, program)
    r = out.collect()[0]
    assert r.c == "1" and r.d == "2" and r.n == 7 and r.f is True
    assert "a" not in out.columns and "b" not in out.columns


def test_conditions(spark):
    df = spark.createDataFrame(
        [Row(s="hello", n="5"), Row(s="world", n="15")]
    )
    cases = {
        "equal(s, hello)": ["hello"],
        "contain(s, orl)": ["world"],
        "greater(n, 10)": ["world"],
        "less(n, 10)": ["hello"],
        "match(s, ^h.*o$)": ["hello"],
        "oneOf(s, world, xyz)": ["world"],
        "hasPrefix(s, he)": ["hello"],
        "NOT equal(s, hello)": ["world"],
        "equal(s, hello) AND less(n, 10)": ["hello"],
        "equal(s, nope) OR greater(n, 10)": ["world"],
        "exist(s)": ["hello", "world"],
    }
    for expr, expect in cases.items():
        got = sorted(r.s for r in df.filter(compile_condition(expr)).collect())
        assert got == sorted(expect), expr


def test_fmt_and_replace(spark):
    df = spark.createDataFrame([Row(a="x", b="y", t="hello world world")])
    program = [
        {"action": "fmt(k)", "pattern": "${a}-${b}"},
        {"action": "replace(t)", "old": "world", "new": "W", "max": 1},
    ]
    out = apply_program(df, program)
    r = out.collect()[0]
    assert r.k == "x-y"
    assert r.t == "hello W world"


def test_go_layout_translation():
    assert go_layout_to_jvm("2006-01-02 15:04:05") == "yyyy-MM-dd HH:mm:ss"
    assert go_layout_to_jvm("2006/01/02") == "yyyy/MM/dd"
    assert go_layout_to_jvm("02/Jan/2006:15:04:05") == "dd/MMM/yyyy:HH:mm:ss"


def test_grok_expand_and_groups():
    pat = expand_grok("%{IPV4:ip} %{INT:n}")
    groups = named_groups(pat)
    assert set(groups) == {"ip", "n"}
    import re

    m = re.match(pat.replace("(?<", "(?P<"), "1.2.3.4 42")
    assert m and m.group("ip") == "1.2.3.4" and m.group("n") == "42"


def test_null_condition_rows_survive(spark):
    """Regression: conditions over missing/unparsed fields are NULL in
    SQL; the reference treats them as false. NULL gates must not poison
    _dropped/_returned (rows were silently vanishing).

    Default error policy (action.go:110-128 + actions.go:56-63): a
    failed regex ABORTS the remaining program for that row and the
    event forwards as-is — so non-matching rows survive but never
    reach the add(topic) step."""
    df = spark.createDataFrame([Row(body="no match here"), Row(body=None)])
    program = [
        {"action": "regex(body)", "pattern": r"(?<status>\d{3})$"},
        {
            "if": "equal(status, 500)",
            "then": [{"action": "dropEvent()"}],
            "else": [{"action": "add(topic, common)"}],
        },
    ]
    out = apply_program(df, program)
    rows = out.collect()
    assert len(rows) == 2
    assert all(r.topic is None for r in rows)

    # With ignoreError the failure is swallowed and the program runs on.
    program[0]["ignoreError"] = True
    out2 = apply_program(df, program)
    rows2 = out2.collect()
    assert len(rows2) == 2
    assert all(r.topic == "common" for r in rows2)


def test_default_error_policy_aborts_program_per_row(spark):
    """Mixed batch: the failing row skips later steps; the matching row
    completes the whole program (per-row Actions.Exec abort)."""
    df = spark.createDataFrame([Row(v="42"), Row(v="oops")])
    program = [
        {"action": "strconv(v, int)"},
        {"action": "add(seen, yes)"},
    ]
    out = apply_program(df, program)
    got = {r.v: r.seen for r in out.collect()}
    assert got == {42: "yes", None: None}


def test_chained_kernels_and_long_programs(spark):
    """A parse step that reads another parse step's output runs in a
    second Generate after the first; a program that keeps rewriting one
    column under control state still compiles to a bounded plan (heavy
    values are computed once instead of inlined into every reader)."""
    df = spark.createDataFrame(
        [Row(id="1", body='x {"a": "b"}'), Row(id="2", body="nope")]
    )
    program = [
        {"action": "regex(body)", "pattern": r"(?<head>\S+) (?<payload>.*)"},
        {"action": "jsonDecode(payload)", "fields": ["a"]},
    ]
    out = apply_program(df, program)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Generate inline(") == 2, plan
    assert {r.id: (r.head, r.a) for r in out.collect()} == {
        "1": ("x", "b"),
        "2": (None, None),
    }

    # 40 gated rewrites each read `body` twice (value + fallback): inlined,
    # the expression would double per step.
    program = [{"action": "regex(body)", "pattern": r"(?<n>\d+)"}] + [
        {"action": "replace(body)", "old": "q", "new": "q"}
    ] * 40
    digits = spark.createDataFrame([Row(body="q1q"), Row(body="qq")])
    out = apply_program(digits, program)
    assert sorted((r.body, r.n) for r in out.collect()) == [("q1q", "1"), ("qq", None)]
