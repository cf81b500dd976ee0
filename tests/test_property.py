"""Property tests: hypothesis-generated inputs, checked row-by-row
against pure-Python oracles of the reference's Go semantics. Each
example is a BATCH of rows evaluated in one Spark job, so the suite
stays fast despite exercising hundreds of generated cases.

Oracled semantics (reference citations in each test):
* maxbytes subUtf8 truncation (interceptor/maxbytes/interceptor.go:107-115)
* transformer `replace` with max-N (action/replace.go:79-84 →
  strings.Replace)
* token encode/decode UTF-8 round-trip (the input_hint contract), and
  the batch decoder on arbitrary int32 lists
* file-source multiline merge (source/file/multilines.go:115-140)
"""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

SETTINGS = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

texty = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)),  # any non-surrogate
    max_size=24,
)


def _sub_utf8(s: str, max_bytes: int) -> str:
    """Pure-Python port of subUtf8 (maxbytes/interceptor.go:107-115):
    cut at the first rune START at/after max_bytes; if no rune start
    follows (straddling final rune), keep everything."""
    b = s.encode("utf-8")
    if len(b) <= max_bytes:
        return s
    for i in range(max_bytes, len(b)):
        if (b[i] & 0xC0) != 0x80:
            return b[:i].decode("utf-8")
    return s


@given(rows=st.lists(texty, min_size=1, max_size=40), max_bytes=st.integers(1, 9))
@settings(**SETTINGS)
def test_truncate_matches_go_subutf8(spark, rows, max_bytes):
    from loggie_spark.functions.truncate import truncate_utf8_bytes

    df = spark.createDataFrame([Row(i=i, s=s) for i, s in enumerate(rows)])
    got = {
        r.i: r.t
        for r in df.select("i", truncate_utf8_bytes("s", max_bytes).alias("t")).collect()
    }
    for i, s in enumerate(rows):
        assert got[i] == _sub_utf8(s, max_bytes), (s, max_bytes, got[i])


@given(
    rows=st.lists(st.text(alphabet="abXY-", max_size=16), min_size=1, max_size=40),
    old=st.text(alphabet="abX", min_size=1, max_size=3),
    new=st.text(alphabet="z_", max_size=2),
    max_n=st.integers(-1, 4),
)
@settings(**SETTINGS)
def test_replace_action_matches_strings_replace(spark, rows, old, new, max_n):
    """`replace` with max (action/replace.go:79-84) ≡ Go strings.Replace
    ≡ Python str.replace(old, new, n) — leftmost non-overlapping."""
    from loggie_spark.actions import apply_program

    df = spark.createDataFrame([Row(i=i, body=s) for i, s in enumerate(rows)])
    out = apply_program(
        df, [{"action": "replace(body)", "old": old, "new": new, "max": max_n}]
    )
    got = {r.i: r.body for r in out.collect()}
    for i, s in enumerate(rows):
        assert got[i] == s.replace(old, new, max_n), (s, old, new, max_n, got[i])


@given(rows=st.lists(texty, min_size=1, max_size=40))
@settings(**SETTINGS)
def test_token_roundtrip_any_unicode(spark, rows):
    from loggie_spark.functions.tokens import decode_tokens_arrow, encode_text_to_tokens

    df = spark.createDataFrame([Row(i=i, s=s) for i, s in enumerate(rows)])
    enc = df.withColumn("toks", encode_text_to_tokens(F.col("s")))
    out = decode_tokens_arrow(enc, "toks", "back").collect()
    for r in out:
        assert r.back == rows[r.i]
        assert r.toks == [int(b) for b in rows[r.i].encode("utf-8")]


def _decode_oracle(t: list | None) -> str | None:
    """Each token mod 256 is one byte (a NULL token is byte 0); bytes
    that are not UTF-8 become U+FFFD."""
    if t is None:
        return None
    return bytes((x or 0) & 0xFF for x in t).decode("utf-8", "replace")


token_lists = st.one_of(
    st.none(),
    texty.map(lambda s: list(s.encode("utf-8"))),
    st.lists(
        st.one_of(
            st.integers(0, 255),
            st.integers(-(2**31), 2**31 - 1),
            st.none(),
        ),
        max_size=12,
    ),
)


@given(
    rows=st.lists(token_lists, max_size=30),
    lo=st.integers(0, 30),
    n=st.integers(0, 30),
)
@settings(max_examples=300, deadline=None)
def test_decode_batch_matches_oracle(rows, lo, n):
    """The one batch decoder, on pyarrow arrays (no Spark): arbitrary
    int32 lists — negatives, > 255, invalid UTF-8, NULL lists and
    tokens, empty lists — whole and sliced, always give the oracle's
    strings as a valid UTF-8 StringArray."""
    import pyarrow as pa

    from loggie_spark.functions.tokens import decode_batch

    arr = pa.array(rows, pa.list_(pa.int32()))
    for batch in (arr, arr.slice(lo, n)):
        out = decode_batch(batch)
        out.validate(full=True)
        assert out.type == pa.string()
        assert out.to_pylist() == [_decode_oracle(t) for t in batch.to_pylist()]


def _multiline_oracle(
    lines: list[str], start_char: str, max_lines: int
) -> list[tuple[str, int]]:
    """Sequential fold of multilines.go:115-140: a start-marked line
    flushes; max_lines force-flushes; leading non-start lines form
    their own record. Returns (merged_body, first_offset) rows."""
    recs: list[tuple[str, int]] = []
    buf: list[str] = []
    first = 0
    for off, line in enumerate(lines):
        is_start = line.startswith(start_char)
        if buf and (is_start or len(buf) >= max_lines):
            recs.append(("\n".join(buf), first))
            buf = []
        if not buf:
            first = off
        buf.append(line)
    if buf:
        recs.append(("\n".join(buf), first))
    return recs


@given(
    lines=st.lists(st.text(alphabet="S.x", min_size=1, max_size=4), min_size=1, max_size=60),
    max_lines=st.integers(1, 5),
)
@settings(**SETTINGS)
def test_multiline_merge_matches_sequential_fold(spark, lines, max_lines):
    from loggie_spark.sources.readers import merge_multiline

    df = spark.createDataFrame(
        [Row(filename="f", offset=i, body=ln) for i, ln in enumerate(lines)]
    )
    out = merge_multiline(df, pattern="^S", max_lines=max_lines)
    got = sorted((r.offset, r.body, r.n_lines) for r in out.collect())
    want = sorted(
        (first, body, body.count("\n") + 1)
        for body, first in _multiline_oracle(lines, "S", max_lines)
    )
    assert got == want, (lines, max_lines)


@given(
    events=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50)), min_size=1, max_size=25
    ),
    dims=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50), st.integers(0, 9)),
        max_size=15,
    ),
)
@settings(**SETTINGS)
def test_asof_join_matches_bruteforce(spark, events, dims):
    """asof_join == per-row brute force: for each event, the dim row
    with max ts <= event ts for the same key wins (ties on dim ts:
    deterministic last-in-sort of the value struct)."""
    import datetime as dt

    from loggie_spark.operators.joins import asof_join

    base = dt.datetime(2024, 1, 1)
    t = lambda m: base + dt.timedelta(minutes=m)
    ev = spark.createDataFrame(
        [(i, k, t(m)) for i, (k, m) in enumerate(events)],
        "event_id long, k long, ts timestamp",
    )
    # collapse duplicate (k, ts) dim rows like the registered query does
    # (max value), so the expected answer is single-valued
    dd = {}
    for k, m, v in dims:
        dd[(k, m)] = max(dd.get((k, m), -1), v)
    dim_rows = [(k, t(m), v) for (k, m), v in sorted(dd.items())]
    if not dim_rows:
        dim_rows = [(99, t(0), 0)]  # non-matching placeholder key
    dim = spark.createDataFrame(dim_rows, "k long, ts timestamp, v long")

    got = {r.event_id: r.v for r in asof_join(ev, dim, key="k").collect()}

    for i, (k, m) in enumerate(events):
        cands = [(mm, vv) for (kk, mm), vv in dd.items() if kk == k and mm <= m]
        want = max(cands)[1] if cands else None
        assert got[i] == want, (i, k, m, cands)


@given(
    events=st.lists(st.integers(0, 600), min_size=1, max_size=25),
    windows=st.lists(
        st.tuples(st.integers(0, 600), st.integers(1, 200)), max_size=8
    ),
)
@settings(**SETTINGS)
def test_range_join_matches_bruteforce(spark, events, windows):
    """range_join == per-row brute force over half-open [start, end)
    containment, across arbitrary grain boundaries."""
    import datetime as dt

    from loggie_spark.operators.joins import range_join

    base = dt.datetime(2024, 1, 1)
    t = lambda m: base + dt.timedelta(minutes=m)
    ev = spark.createDataFrame(
        [(i, t(m)) for i, m in enumerate(events)], "event_id long, ts timestamp"
    )
    if not windows:
        windows = [(0, 1)]
    iv = spark.createDataFrame(
        [(j, t(s), t(s + d)) for j, (s, d) in enumerate(windows)],
        "w long, start_ts timestamp, end_ts timestamp",
    )
    got = sorted(
        (r.event_id, r.w) for r in range_join(ev, iv, bucket_sec=3600).collect()
    )
    want = sorted(
        (i, j)
        for i, m in enumerate(events)
        for j, (s, d) in enumerate(windows)
        if s <= m < s + d
    )
    assert got == want


@given(
    base=st.text(alphabet="abcd efg", min_size=25, max_size=60),
    prefix=st.text(alphabet="xyz w", max_size=20),
    suffix=st.text(alphabet="pq r", max_size=20),
)
@settings(**SETTINGS)
def test_winnowing_shared_substring_guarantee(spark, base, prefix, suffix):
    """The Schleimer winnowing theorem: two documents sharing a
    substring of length ≥ k+w-1 MUST share at least one winnowed
    fingerprint (k=12, w=8 → any shared 19-char run). doc_a = base,
    doc_b = base embedded in unrelated context."""
    from loggie_spark.operators.dedup import spread_small_input  # noqa: F401
    from loggie_spark.operators.textstats import winnow_fingerprints

    k, w = 12, 8
    if len(base) < k + w - 1:
        return
    docs = spark.createDataFrame(
        [(1, base), (2, prefix + base + suffix)], "doc_id long, text string"
    )
    out = {
        r.doc_id: set(r.fps)
        for r in docs.select(
            "doc_id", winnow_fingerprints(F.col("text"), k=k, w=w).alias("fps")
        ).collect()
    }
    assert out[1] & out[2], "shared 19+-char substring yielded no shared fingerprint"


@given(
    n=st.integers(50, 400),
    split_mod=st.integers(2, 5),
    p=st.integers(4, 7),
)
@settings(**SETTINGS)
def test_hll_shard_merge_equals_global_property(spark, n, split_mod, p):
    """Any shard partitioning merges back to the global register table,
    and estimates are permutation/shard-count invariant."""
    from loggie_spark.operators.sketches import hll_build, hll_estimate, hll_merge

    items = spark.range(n).select(F.col("id").cast("string").alias("v"))
    whole = hll_build(items, "v", p=p)
    merged = None
    for r in range(split_mod):
        shard = hll_build(
            items.filter(F.col("v").cast("long") % split_mod == r), "v", p=p
        )
        merged = shard if merged is None else hll_merge(merged, shard)
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, whole.collect()))
    e1 = hll_estimate(merged, p=p).collect()[0].estimate
    e2 = hll_estimate(whole, p=p).collect()[0].estimate
    assert e1 == e2


@given(kf=st.sampled_from([0.25, 0.5, 0.75]))
@settings(**SETTINGS)
def test_dsir_resample_rate_tracks_keep_fraction(spark, kf):
    """With weights pinned ≈ 1 (target == corpus), the deterministic
    Bernoulli keep rate lands near keep_fraction; and the SAME doc ids
    are kept every run (hash-draw determinism across sessions)."""
    from loggie_spark.operators.curation import dsir_resample

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta " * 4) for i in range(400)],
        "doc_id long, text string",
    )
    out = dsir_resample(docs, docs, keep_fraction=kf).collect()
    kept = [r.doc_id for r in out if r.keep]
    rate = len(kept) / len(out)
    assert abs(rate - kf) < 0.12
    again = [r.doc_id for r in dsir_resample(docs, docs, keep_fraction=kf).collect()
             if r.keep]
    assert sorted(again) == sorted(kept)


@given(
    n=st.integers(30, 300),
    split_mod=st.integers(2, 5),
    k=st.integers(8, 48),
)
@settings(**SETTINGS)
def test_kmv_shard_merge_equals_global_property(spark, n, split_mod, k):
    """Any shard partitioning of the input merges back to the global
    KMV sketch (k smallest distinct hashes), and the distinct estimate
    is shard-count invariant — the property that lets daily sketches
    roll up to monthly ones."""
    from loggie_spark.operators.sketches import kmv_build, kmv_estimate, kmv_merge

    items = spark.range(n).select(
        F.lit("g").alias("grp"), F.col("id").cast("string").alias("v")
    )
    whole = kmv_build(items, "v", "grp", k=k)
    merged = None
    for r in range(split_mod):
        shard = kmv_build(
            items.filter(F.col("v").cast("long") % split_mod == r), "v", "grp", k=k
        )
        merged = shard if merged is None else kmv_merge(merged, shard, k=k)
    assert [tuple(r.hs) for r in merged.collect()] == [
        tuple(r.hs) for r in whole.collect()
    ]
    e1 = kmv_estimate(merged, k=k).collect()[0].est_distinct
    e2 = kmv_estimate(whole, k=k).collect()[0].est_distinct
    assert e1 == e2


@given(overlap=st.integers(0, 20), only=st.integers(1, 20))
@settings(**SETTINGS)
def test_kmv_jaccard_exact_when_sets_fit_in_sketch(spark, overlap, only):
    """When both groups' distinct sets fit under k, the sketches ARE
    the sets and the Jaccard estimate equals the true Jaccard."""
    from loggie_spark.operators.sketches import kmv_build, kmv_jaccard

    rows = (
        [("a", f"s{i}") for i in range(overlap)]
        + [("b", f"s{i}") for i in range(overlap)]
        + [("a", f"x{i}") for i in range(only)]
        + [("b", f"y{i}") for i in range(only)]
    )
    df = spark.createDataFrame(rows, "grp string, v string")
    sk = kmv_build(df, "v", "grp", k=64)
    a = sk.filter(F.col("group") == "a").select(F.col("hs").alias("hs_a"))
    b = sk.filter(F.col("group") == "b").select(F.col("hs").alias("hs_b"))
    pairs = a.crossJoin(b)
    est = pairs.select(kmv_jaccard(pairs, k=64).alias("j")).collect()[0].j
    true_j = overlap / (overlap + 2 * only)
    assert abs(est - true_j) < 1e-12


# -- the SQL-text plan compiler (sqltext.py, actions.py) ---------------------

_QUOTE_ALPHABET = list("'\\$1{}`\"\n\r\t\x00\x01\x02\x03\x06\x7f .*+?()[]^|ab") + [
    "é",
    "\u2028",
    "\U0001F600",
    "\U00010348",
]
_QUOTE_SPECIALS = [
    "$1",
    "${env:HOME}",
    "${spark.app.name}",
    "\x01\x00\x02",  # patterns.split_groups separator
    "\x02\x06\x03",  # and marker
    "a''b",
    "\\'",
    "'\\",
    "\\u0041",
    "(?<n>\\S+) \\d{3}$",
    "`x``y`",
]
quoty = st.one_of(
    st.text(alphabet=st.sampled_from(_QUOTE_ALPHABET), max_size=16),
    st.sampled_from(_QUOTE_SPECIALS),
    texty,
)


@given(strings=st.lists(quoty, min_size=1, max_size=30))
@example(strings=_QUOTE_SPECIALS + ["\x00", "\U0001F600"])
@settings(**SETTINGS)
def test_sql_quote_reads_back_equal(spark, strings):
    """Every string the one escape helper quotes reads back equal from
    Spark's SQL parser — regex metacharacters, the split_groups
    sentinels, NUL, ``$1`` and ``${...}`` (the parser's variable
    substitution must not fire), non-BMP characters; every name it
    quotes as an identifier names the column it was given as an alias,
    a column reference and a struct field, ``${...}`` included."""
    from loggie_spark.sqltext import INT, ident, quote, sql_type

    row = spark.range(1).select(
        *[F.expr(quote(s)).alias(f"c{i}") for i, s in enumerate(strings)]
    ).collect()[0]
    assert list(row) == strings
    names = [f"{s}_{i}" for i, s in enumerate(strings)]
    frame = spark.range(1).selectExpr(*[f"{i} AS {ident(n)}" for i, n in enumerate(names)])
    assert frame.columns == names
    struct = T.StructType([T.StructField(n, INT) for n in names])
    fields = ", ".join(f"{quote(n)}, {ident(n)}" for n in names)
    out = frame.selectExpr(f"CAST(named_struct({fields}) AS {sql_type(struct)}) AS s")
    assert out.schema["s"].dataType == struct
    assert list(out.collect()[0].s) == list(range(len(names)))


@given(
    values=st.lists(st.one_of(texty, st.none()), min_size=1, max_size=20),
    seed=st.one_of(st.none(), st.integers(0, 99), st.sampled_from(["logs/a", "it's"])),
)
@settings(**SETTINGS)
def test_md5_60bit_text_equals_column(spark, values, seed):
    """The SQL-text spelling of the 60-bit hash (rendezvous dir choice)
    equals the Column one on any string, seeded or not."""
    from loggie_spark.functions.hashing import md5_60bit, md5_60bit_spark_sql
    from loggie_spark.sqltext import ident

    df = spark.createDataFrame([(v,) for v in values], "v string")
    rows = df.select(
        md5_60bit(F.col("v"), seed=seed).alias("col"),
        F.expr(md5_60bit_spark_sql(ident("v"), seed=seed)).alias("text"),
    ).collect()
    assert [r.col for r in rows] == [r.text for r in rows]


_TYPED_SCHEMA = (
    "src string, body string, s string, i int, l bigint, d double, f float, "
    "b boolean, ts timestamp, st struct<x:string,y:bigint>, m map<string,string>"
)

# One or more steps of every action family, over columns of every type.
_TYPED_STEPS = [
    {"action": "regex(body)", "pattern": r"(?<g1>\S+) (?<g2>.*)"},
    {"action": "regex(body, rx)", "pattern": r"(?<g1>\S+)"},
    {"action": "grok(body)", "match": "%{WORD:w} %{INT:n}"},
    {"action": "split(s)", "separator": ",", "keys": ["sa", "sb"]},
    {"action": "split(s, sp)", "separator": ",", "keys": ["sa", "sb"]},
    {"action": "jsonDecode(body, jm)"},
    {"action": "jsonDecode(body)", "fields": ["k"]},
    {"action": "jsonDecode(body, js)", "schema": "k string, n bigint"},
    {"action": "jsonDecode(body)", "schema": "k string, n bigint"},
    {"action": "strconv(s, int)"},
    {"action": "strconv(i, float)"},
    {"action": "strconv(d, bool)"},
    {"action": "strconv(s, float)", "keepOriginal": True},
    {"action": "strconv(l, bool)", "keepOriginal": True},
    {"action": "strconv(d, int)", "keepOriginal": True},
    {"action": "timestamp(s)", "fromLayout": "2006-01-02", "toLayout": "unix"},
    {"action": "timestamp(l)", "fromLayout": "unix", "toLayout": "2006-01-02"},
    {"action": "timestamp(i)", "fromLayout": "unix_ms", "toLayout": "unix_ms"},
    {"action": "toStr(d)"},
    {"action": "toStr(f)"},
    {"action": "toStr(i)"},
    {"action": "add(i, x)"},
    {"action": "set(new, y)"},
    {"action": "setInt(d, 3)"},
    {"action": "setInt(big, 9999999999)"},
    {"action": "setFloat(i, 2.5)"},
    {"action": "setBool(s, true)"},
    {"action": "copy(st.y, cy)"},
    {"action": "copy(m.k, s)"},
    {"action": "copy(d, i)"},
    {"action": "move(l, s)"},
    {"action": "move(m, m2)"},
    {"action": "del(f)"},
    {"action": "addMeta(meta)"},
    {"action": "underRoot(st)"},
]


@st.composite
def _typed_program(draw):
    """Steps of every family; some gated by an if/else (the gated write
    keeps the old value through a try_cast to the new type)."""
    steps = []
    for step in draw(st.lists(st.sampled_from(_TYPED_STEPS), min_size=1, max_size=5)):
        if step["action"].startswith("underRoot"):
            if not steps:  # underRoot runs only unconditionally
                steps.append(step)
        elif draw(st.booleans()):
            other = draw(st.sampled_from(_TYPED_STEPS[:-1]))
            steps.append({"if": "equal(b, true)", "then": [step], "else": [other]})
        else:
            steps.append(step)
    return steps


# Every family in one program (underRoot first: it runs only
# unconditionally), and every family gated.
_EVERY_STEP = [_TYPED_STEPS[-1]] + _TYPED_STEPS[:-1]
_EVERY_STEP_GATED = [{"if": "equal(b, true)", "then": [step]} for step in _TYPED_STEPS[:-1]]


@given(one=_typed_program(), two=_typed_program())
@example(one=_EVERY_STEP, two=_EVERY_STEP_GATED)
@settings(**{**SETTINGS, "max_examples": 3})
def test_compiler_types_match_analyzed_schema(spark, one, two):
    """Nothing is analysed to learn a type: the compiler infers every
    value's Spark type from the program and the input schema. For one
    program and for two per-source programs merged by ``dispatch``, each
    inferred output type equals the type Spark analyses (nullability
    aside)."""
    from datetime import datetime

    from loggie_spark.actions import Plan, dispatch
    from loggie_spark.sqltext import sql_type

    rows = [
        ("a", '{"k": "v", "n": 3}', "1,2", 7, 1700000000, 2.5, 0.5, True,
         datetime(2024, 3, 1), ("x", 1), {"k": "v"}),
        ("b", "hello 42", "2024-03-01", None, None, 1e21, None, False, None, None, None),
    ]
    df = spark.createDataFrame(rows, _TYPED_SCHEMA)

    def check(plan, ctx):
        inferred = {n: v.sql.dtype for n, v in ctx.cols.items()}
        out = plan.frame(ctx)
        for f in out.schema.fields:
            assert sql_type(f.dataType) == sql_type(inferred[f.name]), (f.name, one, two)

    plan = Plan(df)
    ctx = plan.root()
    ctx.run(one)
    check(plan, ctx)

    plan = Plan(df)
    root = plan.root()
    branches = []
    for name, program in (("a", one), ("b", two)):
        b = root.fork(f"(`src` = '{name}')")
        b.run(program)
        branches.append(b)
    check(plan, dispatch(root, branches))
