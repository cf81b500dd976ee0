"""Driver-contract query registry: every operator gets a Spark implementation
and a DuckDB oracle SQL string over the same parquet tables.

Column names are aliased identically on both sides (the driver's compare
sorts columns by name and hashes values). Doubles are rounded on both
sides to dodge representation drift; counts/keys stay integral.

Naming: ``pl_*`` = pipeline/interceptor operators (SURVEY.md §2),
``th_*`` = TPC-H-ish engine headliners, ``td_*`` = training-data ops
(dedup / similarity / text analysis).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from loggie_spark.actions import apply_program
from loggie_spark.examples import ACCESS_PATTERN, AUDIT_GROK
from loggie_spark.patterns import expand_grok, named_groups, DEFAULT_GROK_PATTERNS
from loggie_spark.session import local_frame

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        ORACLES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ===========================================================================
# pl_* — pipeline / interceptor operators
# ===========================================================================

# -- regex parse + route + aggregate (the reference example pipeline,
#    pkg/interceptor/transformer/example/pipeline.yml) --------------------

_SYNTH_LINE_SQL = (
    "'10.0.0.' || CAST(user_id % 250 AS VARCHAR) || ' - - "
    "[13/Dec/2021:12:40:48 +0000] \"GET /u/' || CAST(user_id AS VARCHAR) || "
    "' HTTP/1.1\" ' || CASE event_type WHEN 'error' THEN '500' "
    "WHEN 'purchase' THEN '404' ELSE '200' END || ' ' || "
    "CAST(CAST(floor(value) AS BIGINT) AS VARCHAR)"
)


def _synth_access_line(df: DataFrame) -> DataFrame:
    status = (
        F.when(F.col("event_type") == "error", "500")
        .when(F.col("event_type") == "purchase", "404")
        .otherwise("200")
    )
    line = F.concat(
        F.lit("10.0.0."),
        (F.col("user_id") % 250).cast("string"),
        F.lit(' - - [13/Dec/2021:12:40:48 +0000] "GET /u/'),
        F.col("user_id").cast("string"),
        F.lit(' HTTP/1.1" '),
        status,
        F.lit(" "),
        F.floor(F.col("value")).cast("long").cast("string"),
    )
    return df.withColumn("body", line)


@register(
    "pl_regex_route_metrics",
    oracle=f"""
    WITH lines AS (
      SELECT event_id, {_SYNTH_LINE_SQL} AS body FROM events
    ), parsed AS (
      SELECT event_id,
             regexp_extract(body, '{ACCESS_PATTERN.replace("(?<", "(?P<")}', 6) AS status
      FROM lines
    )
    SELECT CASE WHEN status = '404' THEN 'not_found' ELSE 'common' END AS topic,
           count(*) AS cnt
    FROM parsed WHERE status <> '500'
    GROUP BY 1
    """,
)
def pl_regex_route_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regex action + if/then/else routing + dropEvent + aggregate —
    the reference's access-log example end-to-end (normalize/regex.go,
    transformer actions, metric interceptor)."""
    events = _t(spark, sf_dir, "events")
    df = _synth_access_line(events)
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
    routed = apply_program(df, program)
    return routed.groupBy("topic").agg(F.count(F.lit(1)).alias("cnt"))


# -- grok parse (action/grok.go) ------------------------------------------

_AUDIT_LINE_SQL = (
    "'2022/05/28 01:32:01 logTest.go:' || CAST(event_id % 200 + 1 AS VARCHAR) || "
    "': 192.168.0.' || CAST(user_id % 200 AS VARCHAR) || "
    "' /var/log/test.log 54ce5d87-b94c-c40a-74a7-' || "
    "lpad(CAST(event_id AS VARCHAR), 12, '0')"
)

_GROK_EXPANDED = expand_grok(AUDIT_GROK, DEFAULT_GROK_PATTERNS)
_GROK_IDX = named_groups(_GROK_EXPANDED)


def _grok_oracle() -> str:
    pat = _GROK_EXPANDED.replace("(?<", "(?P<").replace("'", "''")
    cols = ", ".join(
        f"regexp_extract(body, '{pat}', {idx}) AS {name}"
        for name, idx in _GROK_IDX.items()
    )
    return f"""
    WITH lines AS (SELECT event_id, {_AUDIT_LINE_SQL} AS body FROM events)
    SELECT event_id, {cols} FROM lines
    """


@register("pl_grok_parse", oracle=_grok_oracle())
def pl_grok_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    line = F.concat(
        F.lit("2022/05/28 01:32:01 logTest.go:"),
        (F.col("event_id") % 200 + 1).cast("string"),
        F.lit(": 192.168.0."),
        (F.col("user_id") % 200).cast("string"),
        F.lit(" /var/log/test.log 54ce5d87-b94c-c40a-74a7-"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    df = events.withColumn("body", line)
    out = apply_program(
        df, [{"action": "grok(body)", "match": AUDIT_GROK, "ignoreBlank": False}]
    )
    return out.select("event_id", *list(_GROK_IDX))


# -- jsonDecode + strconv (normalize/jsondecode.go, action/strconv.go) -----


@register(
    "pl_json_decode",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_int
    FROM events
    """,
)
def pl_json_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    out = apply_program(
        events.withColumnRenamed("props", "body"),
        [
            {"action": "jsonDecode(body)", "fields": ["k"]},
            {"action": "copy(k, k_int)"},
            {"action": "strconv(k_int, int)"},
        ],
    )
    return out.select("event_id", F.col("k").alias("k_str"), "k_int")


# -- split (normalize/split.go) --------------------------------------------


@register(
    "pl_split",
    oracle="""
    SELECT doc_id,
           split_part(text, ' ', 1) AS w1,
           split_part(text, ' ', 2) AS w2,
           split_part(text, ' ', 3) AS w3
    FROM documents
    """,
)
def pl_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives the ACTUAL split action (split.go:72-100) through the
    action compiler — the arity contract needs an exact key count, so
    the first three words are pre-sliced into one field and the action
    splits that."""
    docs = _t(spark, sf_dir, "documents")
    first3 = F.array_join(F.slice(F.split(F.col("text"), " "), 1, 3), " ")
    out = apply_program(
        docs.withColumn("head", first3),
        [{"action": "split(head)", "separator": " ", "keys": ["w1", "w2", "w3"]}],
    )
    return out.select("doc_id", "w1", "w2", "w3")


# -- timestamp conversion (normalize/timestamp.go) -------------------------


@register(
    "pl_timestamp",
    oracle="""
    SELECT event_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS unix_ts,
           strftime(ts, '%Y.%m.%d') AS day
    FROM events
    """,
)
def pl_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives the ACTUAL timestamp action (timestamp.go:72-116): Go
    layout parse → unix, and a second conversion to a dotted date."""
    events = _t(spark, sf_dir, "events")
    t_str = F.date_format("ts", "yyyy-MM-dd HH:mm:ss")
    out = apply_program(
        events.withColumn("unix_ts", t_str).withColumn("day", t_str),
        [
            {
                "action": "timestamp(unix_ts)",
                "fromLayout": "2006-01-02 15:04:05",
                "toLayout": "unix",
            },
            {
                "action": "timestamp(day)",
                "fromLayout": "2006-01-02 15:04:05",
                "toLayout": "2006.01.02",
            },
        ],
    )
    return out.select("event_id", "unix_ts", "day")


@register(
    "pl_timestamp_loc",
    oracle="""
    SELECT event_id,
           strftime(timezone('Asia/Shanghai',
                    timezone('America/New_York', ts_wall)), '%Y-%m-%d %H:%M:%S') AS sh_time
    FROM (SELECT event_id,
                 CAST(strftime(ts, '%Y-%m-%d %H:%M:%S') AS TIMESTAMP) AS ts_wall
          FROM events)
    """,
)
def pl_timestamp_loc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """timestamp from/toLocation (timestamp.go:97-109): a zone-less
    wall time is interpreted in fromLocation and rendered in
    toLocation."""
    events = _t(spark, sf_dir, "events")
    out = apply_program(
        events.withColumn("sh_time", F.date_format("ts", "yyyy-MM-dd HH:mm:ss")),
        [
            {
                "action": "timestamp(sh_time)",
                "fromLayout": "2006-01-02 15:04:05",
                "fromLocation": "America/New_York",
                "toLayout": "2006-01-02 15:04:05",
                "toLocation": "Asia/Shanghai",
            }
        ],
    )
    return out.select("event_id", "sh_time")


# -- ${...} route render (pattern.go; fmt action) --------------------------


@register(
    "pl_route_render",
    oracle="""
    SELECT 'log-' || event_type || '-' || strftime(ts, '%Y.%m.%d') AS route_key,
           count(*) AS cnt
    FROM events GROUP BY 1
    """,
)
def pl_route_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    from loggie_spark.patterns import compile_pattern

    events = _t(spark, sf_dir, "events")
    route = compile_pattern("log-${event_type}-${+YYYY.MM.dd}", time_col="ts")
    return (
        events.withColumn("route_key", route)
        .groupBy("route_key")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# -- sink fan-out with selectors (Selector + kafka routing) ----------------


@register(
    "pl_sink_fanout",
    oracle="""
    WITH fanned AS (
      SELECT 'alert' AS sink, event_type AS route_key FROM events
        WHERE event_type = 'error' AND value > 150
      UNION ALL
      SELECT 'archive' AS sink, event_type AS route_key FROM events
    )
    SELECT sink, route_key, count(*) AS cnt FROM fanned GROUP BY 1, 2
    """,
)
def pl_sink_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from loggie_spark.sinks.router import SinkSpec, explode_to_sinks

    events = _t(spark, sf_dir, "events")
    sinks = [
        SinkSpec(
            "alert",
            "${event_type}",
            selector="equal(event_type, error) AND greater(value, 150)",
        ),
        SinkSpec("archive", "${event_type}"),
    ]
    routed = explode_to_sinks(events, sinks)
    return routed.groupBy("sink", "route_key").agg(F.count(F.lit(1)).alias("cnt"))


# -- metric interceptor contract (metric/interceptor.go:78-112) ------------


@register(
    "pl_metrics_contract",
    oracle="""
    SELECT 'docs' AS pipeline, source, 'file' AS sink,
           count(*) AS success_count, 0 AS fail_count
    FROM documents GROUP BY source
    """,
)
def pl_metrics_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from loggie_spark.sinks.metrics import sink_metrics
    from loggie_spark.sinks.router import SinkSpec, explode_to_sinks

    docs = _t(spark, sf_dir, "documents")
    routed = explode_to_sinks(docs, [SinkSpec("file", "docs/${source}")])
    m = sink_metrics(routed, "docs")
    return m.withColumn("fail_count", F.col("fail_count").cast("long"))


# -- broadcast enrich (addK8sMeta-shaped join) -----------------------------


@register(
    "pl_enrich_broadcast",
    oracle="""
    SELECT r.r_name AS region, count(*) AS cnt,
           round(avg(c.c_acctbal), 4) AS avg_bal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def pl_enrich_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    from loggie_spark.enrich import broadcast_enrich

    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_regionkey"
    )
    region = _t(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("n_regionkey"), "r_name"
    )
    df = broadcast_enrich(customer, nation, ["c_nationkey"])
    df = broadcast_enrich(df, region, ["n_regionkey"])
    return df.groupBy(F.col("r_name").alias("region")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.avg("c_acctbal"), 4).alias("avg_bal"),
    )


# -- README aggregator (COUNT/COUNT-DISTINCT/SUM/AVG/MAX/MIN + calculate) --


@register(
    "pl_aggregator",
    oracle="""
    SELECT event_type,
           count(*) AS cnt,
           count(DISTINCT user_id) AS users,
           round(sum(value), 4) AS total,
           round(avg(value), 4) AS mean,
           round(max(value), 4) AS mx,
           round(min(value), 4) AS mn,
           round(sum(value) / count(*), 4) AS per_event
    FROM events GROUP BY event_type
    """,
)
def pl_aggregator(spark: SparkSession, sf_dir: str) -> DataFrame:
    from loggie_spark.operators.aggregator import aggregate

    events = _t(spark, sf_dir, "events")
    return aggregate(
        events,
        group_by=["event_type"],
        select=[
            ("COUNT", "event_id", "cnt"),
            ("COUNT-DISTINCT", "user_id", "users"),
            ("SUM", "value", "total"),
            ("AVG", "value", "mean"),
            ("MAX", "value", "mx"),
            ("MIN", "value", "mn"),
        ],
        calculate=[("per_event", "${total}/${cnt}")],
        round_to=4,
    )


# -- maxbytes truncation (maxbytes/interceptor.go) -------------------------


@register(
    "pl_maxbytes",
    oracle="""
    SELECT doc_id, substring(text, 1, 100) AS body, length(substring(text, 1, 100)) AS blen
    FROM documents
    """,
)
def pl_maxbytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from loggie_spark.functions.truncate import truncate_utf8_bytes

    docs = _t(spark, sf_dir, "documents")
    # Corpus is ASCII so the UTF-8-safe byte truncation equals the
    # char-based oracle; non-ASCII safety is unit-tested separately.
    out = docs.withColumn("body", truncate_utf8_bytes("text", 100))
    return out.select("doc_id", "body", F.length("body").alias("blen"))


# -- logAlert (logalert/alerting.go matchers → alert rows) -----------------


@register(
    "pl_logalert",
    oracle="""
    SELECT event_id, user_id, round(value, 4) AS value
    FROM events WHERE event_type = 'error' AND value > 150
    """,
)
def pl_logalert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from loggie_spark.expr import compile_condition

    events = _t(spark, sf_dir, "events")
    cond = compile_condition("equal(event_type, error) AND greater(value, 150)")
    return events.filter(cond).select(
        "event_id", "user_id", F.round("value", 4).alias("value")
    )


# ===========================================================================
# th_* — engine headliners (joins + aggregates at scale)
# ===========================================================================


@register(
    "th_q1_pricing",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4) AS sum_qty,
           round(sum(l_extendedprice), 4) AS sum_base,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc,
           round(avg(l_quantity), 4) AS avg_qty,
           count(*) AS cnt
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def th_q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "sum_disc"
            ),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )


@register(
    "th_q3_revenue",
    oracle="""
    SELECT o.o_orderkey AS orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey
    HAVING sum(l.l_extendedprice * (1 - l.l_discount)) > 100000
    """,
)
def th_q3_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    joined = li.join(
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select("o_orderkey"),
        li.l_orderkey == F.col("o_orderkey"),
    )
    rev = joined.groupBy(F.col("o_orderkey").alias("orderkey")).agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("_rev")
    )
    return rev.filter(F.col("_rev") > 100000).select(
        "orderkey", F.round("_rev", 4).alias("revenue")
    )


@register(
    "th_q5_region_revenue",
    oracle="""
    SELECT n.n_name AS nation,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def th_q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    dim = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "n_name")
    )
    joined = li.join(o, li.l_orderkey == o.o_orderkey).join(
        F.broadcast(dim), o.o_custkey == dim.c_custkey
    )
    return joined.groupBy(F.col("n_name").alias("nation")).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
            "revenue"
        )
    )


# ===========================================================================
# td_* — training-data operators (dedup / similarity / text analysis)
# ===========================================================================

from loggie_spark.functions.hashing import md5_60bit_sql  # noqa: E402

# Shared SQL fragments (tokenizer parity: corpus is clean single-space
# ASCII, verified — string_split(lower(text),' ') ≡ split(lower, \s+)).
_WORDS_SQL = "list_filter(string_split(lower(text), ' '), w -> w <> '')"


@register(
    "td_dedup_exact",
    oracle="SELECT min(doc_id) AS doc_id FROM documents GROUP BY text",
)
def td_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from loggie_spark.operators.dedup import dedup_exact

    return dedup_exact(_t(spark, sf_dir, "documents"))


def _minhash_sig_band_sql(n_hashes: int, bands: int) -> tuple[str, str, str]:
    """(sig_cols, band_cols, band_match) SQL fragments of the Carter-
    Wegman minhash + banding — shared by the minhash-pairs oracle and
    the recall-report oracle."""
    rows = n_hashes // bands
    mod = 1 << 40
    sig_cols = ", ".join(
        "list_min([("
        "CAST('0x' || substring(md5(g), 1, 10) AS BIGINT) + "
        f"{i} * CAST('0x' || substring(md5(g), 11, 10) AS BIGINT)"
        f") % {mod} for g in grams]) AS s{i}"
        for i in range(n_hashes)
    )
    band_cols = ", ".join(
        "concat_ws(',', "
        + ", ".join(f"CAST(s{b * rows + j} AS VARCHAR)" for j in range(rows))
        + f") AS band{b}"
        for b in range(bands)
    )
    band_match = " OR ".join(f"l.band{b} = r.band{b}" for b in range(bands))
    return sig_cols, band_cols, band_match


def _minhash_oracle(n_hashes=8, shingle=3, bands=4, threshold=0.12) -> str:
    gram = "array_to_string(words[i:i+{}], ' ')".format(shingle - 1)
    # Carter-Wegman family from one md5 per gram (dedup.minhash_pair_terms)
    sig_cols, band_cols, band_match = _minhash_sig_band_sql(n_hashes, bands)
    return f"""
    WITH toks AS (
      SELECT doc_id, {_WORDS_SQL} AS words FROM documents
    ), shingled AS (
      SELECT doc_id,
             CASE WHEN len(words) >= {shingle}
                  THEN [{gram} for i in range(1, len(words) - {shingle - 2})]
                  ELSE [array_to_string(words, ' ')] END AS grams
      FROM toks
    ), sigs AS (
      SELECT doc_id, list_distinct(grams) AS gset, {sig_cols} FROM shingled
    ), banded AS (
      SELECT doc_id, gset, {band_cols} FROM sigs
    ), cand AS (
      SELECT l.doc_id AS id_a, r.doc_id AS id_b, l.gset AS ga, r.gset AS gb
      FROM banded l JOIN banded r
        ON l.doc_id < r.doc_id AND ({band_match})
    )
    SELECT id_a, id_b,
           round(CAST(len(list_intersect(ga, gb)) AS DOUBLE) /
                 len(list_distinct(ga || gb)), 4) AS jaccard
    FROM cand
    WHERE round(CAST(len(list_intersect(ga, gb)) AS DOUBLE) /
                len(list_distinct(ga || gb)), 4) >= {threshold}
    """


@register("td_dedup_minhash_lsh", oracle=_minhash_oracle())
def td_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from loggie_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"),
        n_hashes=8,
        shingle=3,
        bands=4,
        jaccard_threshold=0.12,
    )


def _simhash_oracle(bits=60) -> str:
    word_hash = md5_60bit_sql("w")
    terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> {b}) & 1 = 1 "
        f"THEN 1 ELSE -1 END)) >= 0 THEN (1::BIGINT << {b}) ELSE 0::BIGINT END)"
        for b in range(bits)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, list_transform({_WORDS_SQL}, w -> {word_hash}) AS hs
      FROM documents
    )
    SELECT doc_id, {terms} AS simhash FROM toks
    """


@register("td_dedup_simhash", oracle=_simhash_oracle())
def td_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from loggie_spark.operators.dedup import simhash, spread_small_input

    docs = spread_small_input(_t(spark, sf_dir, "documents"))
    return docs.select("doc_id", simhash(F.col("text")).alias("simhash"))


@register(
    "td_dedup_ngram_jaccard",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_distinct(list_filter(string_split(lower(text), ' '),
             w -> w <> '')) AS wset,
             array_to_string(list_filter(string_split(lower(text), ' '),
             w -> w <> '')[1:2], ' ') AS block
      FROM documents
    )
    SELECT l.doc_id AS id_a, r.doc_id AS id_b,
           round(CAST(len(list_intersect(l.wset, r.wset)) AS DOUBLE) /
                 len(list_distinct(l.wset || r.wset)), 4) AS jaccard
    FROM toks l JOIN toks r ON l.block = r.block AND l.doc_id < r.doc_id
    WHERE round(CAST(len(list_intersect(l.wset, r.wset)) AS DOUBLE) /
                len(list_distinct(l.wset || r.wset)), 4) >= 0.5
    """,
)
def td_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from loggie_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), block_words=2, threshold=0.5
    )


@register(
    "td_dup_clusters",
    oracle="""
    WITH RECURSIVE toks AS (
      SELECT doc_id, list_distinct(list_filter(string_split(lower(text), ' '),
             w -> w <> '')) AS wset,
             array_to_string(list_filter(string_split(lower(text), ' '),
             w -> w <> '')[1:2], ' ') AS block
      FROM documents
    ),
    pairs AS (
      SELECT l.doc_id AS id_a, r.doc_id AS id_b
      FROM toks l JOIN toks r ON l.block = r.block AND l.doc_id < r.doc_id
      WHERE round(CAST(len(list_intersect(l.wset, r.wset)) AS DOUBLE) /
                  len(list_distinct(l.wset || r.wset)), 4) >= 0.5
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(node, lab) AS (
      SELECT a, a FROM edges
      UNION
      SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.lab
    )
    SELECT node AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY node
    """,
)
def td_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs → connected components → cluster assignment: the KEEP/DROP
    step of the near-dup flow (survivor = doc_id == cluster_id). The
    oracle computes the same components via transitive closure
    (recursive CTE); Spark uses O(diameter)-round hash-min label
    propagation (dedup.dup_clusters) — the closure itself would be
    quadratic at scale."""
    from loggie_spark.operators.dedup import dup_clusters, ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), block_words=2, threshold=0.5
    )
    return dup_clusters(pairs)


_DECON_N = 5  # n-gram width (sf docs avg ~54 words; GPT-3 used 13 on web text)


def _decon_oracle(n: int = _DECON_N) -> str:
    return f"""
    WITH words AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    grams AS (
      SELECT doc_id, unnest(CASE WHEN len(w) >= {n}
        THEN [array_to_string(w[i:i+{n - 1}], ' ')
              for i in generate_series(1, len(w) - {n - 1})]
        ELSE [array_to_string(w, ' ')] END) AS gram
      FROM words
    ),
    bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0),
    hits AS (SELECT DISTINCT g.doc_id FROM grams g JOIN bench b USING (gram))
    SELECT d.doc_id, (h.doc_id IS NOT NULL) AS contaminated
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    """


@register("td_decontaminate", oracle=_decon_oracle())
def td_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any word
    n-gram with the benchmark subset (docs with doc_id % 97 == 0 stand
    in for an eval set). Benchmark grams are broadcast; the corpus side
    is a left-semi join — the corpus never shuffles."""
    from loggie_spark.operators.curation import contamination_flags

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return contamination_flags(docs, bench, n=_DECON_N)


def _boilerplate_oracle(n: int = 5, min_docs: int = 3) -> str:
    from loggie_spark.functions.hashing import md5_60bit_sql

    h = md5_60bit_sql("gram")
    return f"""
    WITH words AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    grams AS (
      SELECT doc_id, unnest(CASE WHEN len(w) >= {n}
        THEN [array_to_string(w[i:i+{n - 1}], ' ')
              for i in generate_series(1, len(w) - {n - 1})]
        ELSE [array_to_string(w, ' ')] END) AS gram
      FROM words
    ),
    g2 AS (SELECT DISTINCT doc_id, {h} AS gh FROM grams),
    common AS (SELECT gh FROM g2 GROUP BY gh HAVING count(*) >= {min_docs}),
    hits AS (SELECT doc_id, count(*) AS n_common
             FROM g2 JOIN common USING (gh) GROUP BY doc_id),
    totals AS (SELECT doc_id, count(*) AS n_grams FROM g2 GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(t.n_grams AS INTEGER) AS n_grams,
           CAST(COALESCE(h.n_common, 0) AS BIGINT) AS n_common,
           round(CAST(COALESCE(h.n_common, 0) AS DOUBLE) / t.n_grams, 4)
             AS boilerplate_frac
    FROM totals t LEFT JOIN hits h ON t.doc_id = h.doc_id
    """


@register("td_boilerplate", oracle=_boilerplate_oracle())
def td_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate signal: per-doc fraction of word
    5-grams occurring in ≥3 distinct documents (C4/CCNet-style —
    navbars and license headers repeat across pages, prose doesn't).
    Grams ride shuffles as 60-bit md5 ints only; two scalar shuffles
    total; no broadcast assumption on the common-gram side (web-scale
    boilerplate sets are huge — AQE broadcasts when small)."""
    from loggie_spark.operators.curation import boilerplate_fraction

    docs = _t(spark, sf_dir, "documents")
    return boilerplate_fraction(docs, n=5, min_docs=3)


_REP_SQL = """
    WITH t AS (SELECT doc_id, {words} AS w FROM documents),
    s AS (SELECT doc_id, w, len(w) AS n, list_distinct(w) AS d FROM t)
    SELECT doc_id,
      round(CASE WHEN n > 0 THEN 1 - CAST(len(d) AS DOUBLE) / n
            ELSE 0 END, 4) AS dup_word_frac,
      round(CASE WHEN n > 0 THEN CAST(list_max(list_transform(d,
            x -> len(list_filter(w, y -> y = x)))) AS DOUBLE) / n
            ELSE 0 END, 4) AS top_word_frac,
      abs(round(CASE WHEN n > 0 THEN -list_sum(list_transform(d,
            x -> (CAST(len(list_filter(w, y -> y = x)) AS DOUBLE) / n)
                 * log2(CAST(len(list_filter(w, y -> y = x)) AS DOUBLE) / n)))
            ELSE 0 END, 4)) AS word_entropy
    FROM s
    """


@register("td_repetition", oracle=_REP_SQL.format(words=_WORDS_SQL))
def td_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/diversity signals — duplicate-word
    fraction, top-word share, word-distribution entropy — one narrow
    codegen pass, no shuffle."""
    from loggie_spark.operators.textstats import (
        dup_word_fraction,
        top_word_fraction,
        word_entropy,
    )

    t = F.col("text")
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.round(dup_word_fraction(t), 4).alias("dup_word_frac"),
        F.round(top_word_fraction(t), 4).alias("top_word_frac"),
        F.abs(F.round(word_entropy(t), 4)).alias("word_entropy"),
    )


_PII_LINE = (
    "concat('uid ', CAST(user_id AS {str_t}), ' mail u', "
    "CAST(user_id AS {str_t}), '@example.com ip 10.0.', "
    "CAST(user_id % 250 AS {str_t}), '.', CAST(user_id % 199 AS {str_t}), "
    "' ssn 123-45-6789 tel +1 555 0100 123 end')"
)


def _pii_oracle() -> str:
    from loggie_spark.operators.curation import PII_PATTERNS

    line = _PII_LINE.format(str_t="VARCHAR")
    counts = ", ".join(
        f"len(regexp_extract_all({line}, '{pat}')) AS n_{name}"
        for name, pat, _ in PII_PATTERNS
    )
    redacted = line
    for _, pat, repl in PII_PATTERNS:
        redacted = f"regexp_replace({redacted}, '{pat}', '{repl}', 'g')"
    return f"SELECT event_id, {counts}, {redacted} AS redacted FROM events"


@register("td_pii_redact", oracle=_pii_oracle())
def td_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII masking over a synthesized log line (events carry no real
    PII, so the line embeds an email/IP/SSN/phone deterministically);
    pii_stats counts hits per kind and emits the redacted text — the
    whole chain is regexp_replace/extract_all in codegen, zero Python.
    The oracle replays the identical pattern list in DuckDB."""
    from loggie_spark.operators.curation import pii_stats
    from loggie_spark.operators.dedup import spread_small_input

    # 8 regex passes per row, IO-light — spread the single-split scan.
    ev = spread_small_input(_t(spark, sf_dir, "events"))
    df = ev.select(
        "event_id", F.expr(_PII_LINE.format(str_t="STRING")).alias("text")
    )
    return pii_stats(df).select(
        "event_id", "n_email", "n_ipv4", "n_phone", "n_ssn", "redacted"
    )


_COS_SQL = """
    round(
      list_sum([CAST(l.embedding[i] AS DOUBLE) * CAST(r.embedding[i] AS DOUBLE)
                for i in generate_series(1, len(l.embedding))]) /
      (sqrt(list_sum([CAST(l.embedding[i] AS DOUBLE) * CAST(l.embedding[i] AS DOUBLE)
                for i in generate_series(1, len(l.embedding))])) *
       sqrt(list_sum([CAST(r.embedding[i] AS DOUBLE) * CAST(r.embedding[i] AS DOUBLE)
                for i in generate_series(1, len(r.embedding))]))), 4)
"""


@register(
    "td_embed_dup_pairs",
    oracle=f"""
    SELECT l.vec_id AS id_a, r.vec_id AS id_b, {_COS_SQL} AS cos
    FROM embeddings l JOIN embeddings r ON l.vec_id < r.vec_id
    WHERE l.vec_id < 50 AND {_COS_SQL} >= 0.4
    """,
)
def td_embed_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Threshold 0.4 (not the 0.95 production default): the synthetic
    # corpus has no true near-dups (max pairwise cos ≈ 0.49), and the
    # oracle check needs a non-empty result to be meaningful.
    from loggie_spark.operators.dedup import embedding_cosine_pairs

    return embedding_cosine_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.4, sample_max_id=50
    )


def _embed_lsh_oracle(bands=2, ppb=4, dim=64, threshold=0.4) -> str:
    from loggie_spark.operators.similarity import plane_vector

    def dot_plane(alias: str, p: int) -> str:
        vec = plane_vector(p, dim)
        lits = ", ".join(repr(v) for v in vec)
        return (
            f"list_sum([CAST({alias}.embedding[i] AS DOUBLE) * ([{lits}])[i] "
            f"for i in generate_series(1, {dim})])"
        )

    def bucket(alias: str, offset: int) -> str:
        return " + ".join(
            f"(CASE WHEN {dot_plane(alias, offset + p)} >= 0 THEN {1 << p} ELSE 0 END)"
            for p in range(ppb)
        )

    bcols = ", ".join(
        f"({bucket('embeddings', b * ppb)}) AS b{b}" for b in range(bands)
    )
    any_band = " OR ".join(f"l.b{b} = r.b{b}" for b in range(bands))
    n_bands = " + ".join(
        f"(CASE WHEN l.b{b} = r.b{b} THEN 1 ELSE 0 END)" for b in range(bands)
    )
    return f"""
    WITH b AS (SELECT vec_id, embedding, {bcols} FROM embeddings)
    SELECT id_a, id_b, cos, n_bands FROM (
      SELECT l.vec_id AS id_a, r.vec_id AS id_b, {_COS_SQL} AS cos,
             CAST({n_bands} AS BIGINT) AS n_bands
      FROM b l JOIN b r ON l.vec_id < r.vec_id AND ({any_band})
    ) WHERE cos >= {threshold}
    """


@register("td_embed_dup_lsh", oracle=_embed_lsh_oracle())
def td_embed_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed embedding SELF-dedup (the 100 TB path): banded SRP
    equi-join, no cartesian anywhere. Threshold 0.4 (not the 0.95
    production default) because the synthetic corpus has no true
    near-dups — see td_embed_dup_pairs."""
    from loggie_spark.operators.dedup import embedding_lsh_pairs, spread_small_input

    return embedding_lsh_pairs(
        spread_small_input(_t(spark, sf_dir, "embeddings")),
        threshold=0.4,
        bands=2,
        planes_per_band=4,
        dim=64,
    )


@register(
    "td_sim_topk_brute",
    oracle=f"""
    SELECT * FROM (
      SELECT l.vec_id AS query_id, r.vec_id AS neighbor_id, {_COS_SQL} AS cos,
             CAST(row_number() OVER (PARTITION BY l.vec_id
                  ORDER BY {_COS_SQL} DESC, r.vec_id ASC) AS INT) AS rank
      FROM embeddings l JOIN embeddings r ON l.vec_id <> r.vec_id
      WHERE l.vec_id < 20
    ) WHERE rank <= 3
    """,
)
def td_sim_topk_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    from loggie_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    return brute_force_topk(emb.filter(F.col("vec_id") < 20), emb, k=3)


def _lsh_oracle(n_planes=4, dim=64, k=3) -> str:
    from loggie_spark.operators.similarity import plane_vector

    def dot_plane(alias: str, p: int) -> str:
        vec = plane_vector(p, dim)
        lits = ", ".join(repr(v) for v in vec)
        return (
            f"list_sum([CAST({alias}.embedding[i] AS DOUBLE) * ([{lits}])[i] "
            f"for i in generate_series(1, {dim})])"
        )

    def bucket(alias: str) -> str:
        return " + ".join(
            f"(CASE WHEN {dot_plane(alias, p)} >= 0 THEN {1 << p} ELSE 0 END)"
            for p in range(n_planes)
        )

    return f"""
    WITH b AS (
      SELECT vec_id, embedding, ({bucket('embeddings')}) AS bucket
      FROM embeddings
    )
    SELECT * FROM (
      SELECT l.vec_id AS query_id, r.vec_id AS neighbor_id, {_COS_SQL} AS cos,
             CAST(row_number() OVER (PARTITION BY l.vec_id
                  ORDER BY {_COS_SQL} DESC, r.vec_id ASC) AS INT) AS rank,
             l.bucket AS bucket
      FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id <> r.vec_id
      WHERE l.vec_id < 20
    ) WHERE rank <= {k}
    """


@register("td_sim_topk_lsh", oracle=_lsh_oracle())
def td_sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from loggie_spark.operators.similarity import lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    out = lsh_topk(emb.filter(F.col("vec_id") < 20), emb, k=3, n_planes=4, dim=64)
    return out.withColumnRenamed("_bucket", "bucket")


def _ivf_cos_sql(lv: str, rv: str) -> str:
    return f"""round(
      list_sum([CAST({lv}[i] AS DOUBLE) * CAST({rv}[i] AS DOUBLE)
                for i in generate_series(1, len({lv}))]) /
      (sqrt(list_sum([CAST({lv}[i] AS DOUBLE) * CAST({lv}[i] AS DOUBLE)
                for i in generate_series(1, len({lv}))])) *
       sqrt(list_sum([CAST({rv}[i] AS DOUBLE) * CAST({rv}[i] AS DOUBLE)
                for i in generate_series(1, len({rv}))]))), 4)"""


def _ivf_cells_sql(n_cells=8, nprobe=2) -> str:
    """Shared CTE body (cents / assign / qc) for the IVF oracles:
    hash-seeded centroids, corpus→nearest-cell assignment, per-query
    nprobe probed cells. Mirrors similarity.py:ivf_centroids +
    _cell_scores tie-breaking ((cos, cid) max) exactly."""
    from loggie_spark.functions.hashing import md5_60bit_sql

    cos = _ivf_cos_sql
    h = md5_60bit_sql("CAST(vec_id AS VARCHAR)")
    return f"""cents AS (
      SELECT CAST(row_number() OVER (ORDER BY {h}) AS INTEGER) - 1 AS cid,
             embedding AS cv
      FROM embeddings ORDER BY {h} LIMIT {n_cells}
    ),
    assign AS (
      SELECT vec_id AS neighbor_id, embedding AS cv2, cid FROM (
        SELECT e.vec_id, e.embedding, t.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {cos("e.embedding", "t.cv")} DESC, t.cid DESC) AS rn
        FROM embeddings e CROSS JOIN cents t
      ) WHERE rn = 1
    ),
    qc AS (
      SELECT vec_id AS query_id, embedding AS qv, cid FROM (
        SELECT e.vec_id, e.embedding, t.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {cos("e.embedding", "t.cv")} DESC, t.cid DESC) AS rn
        FROM embeddings e CROSS JOIN cents t WHERE e.vec_id < 20
      ) WHERE rn <= {nprobe}
    )"""


def _ivf_oracle(n_cells=8, nprobe=2, k=3) -> str:
    cos = _ivf_cos_sql
    return f"""
    WITH {_ivf_cells_sql(n_cells, nprobe)}
    SELECT query_id, neighbor_id, cos, rank, cell FROM (
      SELECT q.query_id, a.neighbor_id, {cos("q.qv", "a.cv2")} AS cos,
             CAST(a.cid AS INTEGER) AS cell,
             CAST(row_number() OVER (PARTITION BY q.query_id
               ORDER BY {cos("q.qv", "a.cv2")} DESC, a.neighbor_id ASC) AS INT)
               AS rank
      FROM qc q JOIN assign a ON q.cid = a.cid AND a.neighbor_id <> q.query_id
    ) WHERE rank <= {k}
    """


@register("td_sim_topk_ivf", oracle=_ivf_oracle())
def td_sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN (the third scale path next to brute force and SRP-
    LSH): deterministic hash-seeded coarse centroids, corpus assigned
    to cells in one narrow codegen pass (plan-time centroid literals —
    zero shuffle), queries probe their nprobe nearest cells, exact
    cosine inside. At 100 TB the corpus partitions by cell so probes
    scan nprobe/n_cells of the data."""
    from loggie_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_topk(emb.filter(F.col("vec_id") < 20), emb, k=3, n_cells=8, nprobe=2)


_PQ_RND = "CAST(round(CAST(CAST(adc AS VARCHAR) AS DECIMAL(30,17)), 4) AS DOUBLE)"


def _pq_sq(qv: str, cv: str, mi: str, sub: int = 16) -> str:
    """Squared-L2 between subspace ``mi`` slices — DuckDB's list_reduce
    is the sequential fold, matching Spark's F.aggregate element order
    bit-for-bit."""
    d = (
        f"(CAST({qv}[{mi}*{sub}+i] AS DOUBLE)"
        f" - CAST({cv}[{mi}*{sub}+i] AS DOUBLE))"
    )
    return (
        f"list_reduce([{d} * {d} "
        f"for i in generate_series(1, {sub})], (a, b) -> a + b)"
    )


def _pq_enc_sql(m=4, sub=16, n_centroids=16) -> str:
    """cb / mis / enc CTEs: prefix codebook and per-subspace argmin
    codes (tie -> lowest code). Mirrors similarity.py:pq_encode."""
    return f"""cb AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS code,
             embedding AS cv
      FROM (SELECT vec_id, embedding FROM embeddings
            ORDER BY vec_id LIMIT {n_centroids})
    ),
    mis AS (SELECT unnest(generate_series(0, {m - 1})) AS mi),
    enc AS (
      SELECT vec_id, mi, code FROM (
        SELECT e.vec_id, mis.mi, c.code,
               row_number() OVER (PARTITION BY e.vec_id, mis.mi
                 ORDER BY {_pq_sq('e.embedding', 'c.cv', 'mis.mi', sub)} ASC,
                          c.code ASC) AS rn
        FROM embeddings e CROSS JOIN mis CROSS JOIN cb c
      ) WHERE rn = 1
    )"""


def _pq_pair_sql(m=4, sub=16, n_centroids=16) -> str:
    """Shared CTE body for the flat PQ oracles: encode CTEs plus the
    all-candidates ADC pair distances (mi-ordered left fold)."""
    return f"""
    {_pq_enc_sql(m, sub, n_centroids)},
    pair AS (
      SELECT q.vec_id AS query_id, en.vec_id AS neighbor_id,
             list_reduce(
               list({_pq_sq('q.embedding', 'c.cv', 'en.mi', sub)} ORDER BY en.mi),
               (a, b) -> a + b) AS adc
      FROM embeddings q
      JOIN enc en ON en.vec_id <> q.vec_id
      JOIN cb c ON c.code = en.code
      WHERE q.vec_id < 20
      GROUP BY q.vec_id, en.vec_id
    )"""


def _pq_oracle(m=4, sub=16, n_centroids=16, k=3) -> str:
    return f"""
    WITH {_pq_pair_sql(m, sub, n_centroids)}
    SELECT query_id, neighbor_id, adc_dist, rank FROM (
      SELECT query_id, neighbor_id, {_PQ_RND} AS adc_dist,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY {_PQ_RND} ASC, neighbor_id ASC) AS INT) AS rank
      FROM pair
    ) WHERE rank <= {k}
    """


def _pq_rerank_oracle(m=4, sub=16, n_centroids=16, k=3, shortlist=10) -> str:
    cos = _COS_SQL.replace("l.embedding", "q.embedding").replace(
        "r.embedding", "n.embedding"
    )
    return f"""
    WITH {_pq_pair_sql(m, sub, n_centroids)},
    short AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY {_PQ_RND} ASC, neighbor_id ASC) AS rn
        FROM pair
      ) WHERE rn <= {shortlist}
    )
    SELECT query_id, neighbor_id, cos, rank FROM (
      SELECT s.query_id, s.neighbor_id, {cos} AS cos,
             CAST(row_number() OVER (PARTITION BY s.query_id
               ORDER BY {cos} DESC, s.neighbor_id ASC) AS INT) AS rank
      FROM short s
      JOIN embeddings q ON q.vec_id = s.query_id
      JOIN embeddings n ON n.vec_id = s.neighbor_id
    ) WHERE rank <= {k}
    """


@register("td_pq_topk", oracle=_pq_oracle())
def td_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jegou et al. 2011 ADC; the fourth
    scale path next to brute force, SRP-LSH, and IVF-flat): corpus
    vectors compress to m per-subspace centroid codes in one narrow
    codegen pass (codebook rides the plan as literals — zero shuffle),
    queries rank by broadcast lookup-table sums over the codes. At
    100 TB the (id, m-byte codes) index is ~250x smaller than the raw
    float vectors, so it broadcasts/caches at corpus scales where the
    vectors themselves cannot. Reference: loggie has no ANN surface;
    this extends SURVEY.md section 2's training-data additions."""
    from loggie_spark.operators.similarity import pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    return pq_topk(emb, query_ids=list(range(20)), k=3, m=4, n_centroids=16)


@register("td_pq_rerank", oracle=_pq_rerank_oracle())
def td_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN (the FAISS ``IndexPQ + refine`` production shape):
    PQ-ADC over the compact code index shortlists 10 candidates per
    query, then exact cosine reranks only that sliver — the final
    ranking is exact for every true neighbor the shortlist recalled.
    At 100 TB stage 1 touches ~m bytes/vector and stage 2 fetches
    |queries|*shortlist raw vectors via broadcast equi-join."""
    from loggie_spark.operators.similarity import pq_rerank_topk

    emb = _t(spark, sf_dir, "embeddings")
    return pq_rerank_topk(
        emb, query_ids=list(range(20)), k=3, shortlist=10, m=4, n_centroids=16
    )


def _ivfpq_oracle(n_cells=8, nprobe=2, m=4, sub=16, n_centroids=16, k=3) -> str:
    return f"""
    WITH {_ivf_cells_sql(n_cells, nprobe)},
    {_pq_enc_sql(m, sub, n_centroids)},
    pair AS (
      SELECT qc.query_id, a.neighbor_id, a.cid AS cell,
             list_reduce(
               list({_pq_sq('q.embedding', 'c.cv', 'en.mi', sub)} ORDER BY en.mi),
               (x, y) -> x + y) AS adc
      FROM qc
      JOIN assign a ON a.cid = qc.cid AND a.neighbor_id <> qc.query_id
      JOIN embeddings q ON q.vec_id = qc.query_id
      JOIN enc en ON en.vec_id = a.neighbor_id
      JOIN cb c ON c.code = en.code
      GROUP BY qc.query_id, a.neighbor_id, a.cid
    )
    SELECT query_id, neighbor_id, adc_dist, rank, cell FROM (
      SELECT query_id, neighbor_id, {_PQ_RND} AS adc_dist,
             CAST(cell AS INT) AS cell,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY {_PQ_RND} ASC, neighbor_id ASC) AS INT) AS rank
      FROM pair
    ) WHERE rank <= {k}
    """


@register("td_ivfpq_topk", oracle=_ivfpq_oracle())
def td_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (the FAISS IndexIVFPQ production shape,
    by_residual=False for engine-reproducible codes): coarse cells gate
    WHICH vectors are scored, PQ-ADC codes decide HOW CHEAPLY. The
    (id, cell, codes) index builds in one narrow codegen pass; at
    100 TB it partitions by cell so a probe scans nprobe/n_cells of an
    already ~250x-compressed table."""
    from loggie_spark.operators.similarity import ivfpq_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivfpq_topk(
        emb, query_ids=list(range(20)), k=3, n_cells=8, nprobe=2, m=4,
        n_centroids=16,
    )


def _langid_oracle(threshold=0.05) -> str:
    from loggie_spark.operators.textstats import STOPWORDS

    frac_cols = []
    for lg in sorted(STOPWORDS):
        lits = ", ".join(f"'{w}'" for w in STOPWORDS[lg])
        frac_cols.append(
            f"CASE WHEN len(words) > 0 THEN CAST(len(list_filter(words, "
            f"w -> list_contains([{lits}], w))) AS DOUBLE) / len(words) "
            f"ELSE 0.0 END AS s_{lg}"
        )
    langs = sorted(STOPWORDS)
    best = "greatest(" + ", ".join(f"s_{lg}" for lg in langs) + ")"
    case = " ".join(f"WHEN s_{lg} = best THEN '{lg}'" for lg in langs)
    return f"""
    WITH toks AS (SELECT doc_id, lang, {_WORDS_SQL} AS words FROM documents),
    scored AS (SELECT doc_id, lang, {', '.join(frac_cols)} FROM toks),
    ranked AS (SELECT doc_id, lang, {best} AS best, * FROM scored)
    SELECT doc_id, lang,
           CASE WHEN best >= {threshold} THEN CASE {case} END
                ELSE 'und' END AS lang_pred
    FROM ranked
    """


@register("td_langid", oracle=_langid_oracle())
def td_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from loggie_spark.operators.textstats import language_id

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", language_id(F.col("text")).alias("lang_pred"))


def _en_score_sql() -> str:
    from loggie_spark.operators.textstats import STOPWORDS

    lits = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    return (
        f"CASE WHEN len(words) > 0 THEN CAST(len(list_filter(words, "
        f"w -> list_contains([{lits}], w))) AS DOUBLE) / len(words) "
        f"ELSE 0.0 END"
    )


def _auc_oracle() -> str:
    rnd = (
        "CAST(round(CAST(CAST((R - CAST(P AS DOUBLE) * (CAST(P AS DOUBLE) + 1.0)"
        " / 2.0) / (CAST(P AS DOUBLE) * CAST(N AS DOUBLE)) AS VARCHAR)"
        " AS DECIMAL(30,17)), 4) AS DOUBLE)"
    )
    return f"""
    WITH s AS (
      SELECT {_en_score_sql()} AS sc,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM (SELECT lang, {_WORDS_SQL} AS words FROM documents)
    ),
    g AS (SELECT sc, count(*) AS n, sum(y) AS np FROM s GROUP BY sc),
    r AS (
      SELECT n, np,
             CAST(np AS DOUBLE) * (CAST(coalesce(sum(n) OVER (ORDER BY sc
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
               + CAST(n + 1 AS DOUBLE) / 2.0) AS rs
      FROM g
    ),
    t AS (SELECT CAST(sum(np) AS BIGINT) AS P,
                 CAST(sum(n - np) AS BIGINT) AS N,
                 sum(rs) AS R FROM r)
    SELECT P AS n_pos, N AS n_neg, {rnd} AS auc FROM t
    """


@register("td_langid_auc", oracle=_auc_oracle())
def td_langid_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scorer-evaluation report: exact ROC-AUC (Mann-Whitney rank-sum
    with tied-rank averaging — what sklearn.roc_auc_score computes) of
    the en-stopword-fraction langid score against the corpus's ground
    truth labels. The 100 TB shape is one groupBy(score) shuffle plus
    a window over DISTINCT scores (cardinality-bounded); rank terms
    are exact halves, so partial-agg order can't perturb the value."""
    from loggie_spark.operators.corpusstats import binary_auc
    from loggie_spark.operators.dedup import spread_small_input
    from loggie_spark.operators.textstats import stopword_fraction

    docs = spread_small_input(_t(spark, sf_dir, "documents"))
    return binary_auc(
        docs, stopword_fraction(F.col("text"), "en"), F.col("lang") == "en"
    )


def _calibration_oracle(n_bins=10) -> str:
    frac = (
        "CAST(round(CAST(CAST(CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE)"
        " AS VARCHAR) AS DECIMAL(30,17)), 4) AS DOUBLE)"
    )
    return f"""
    WITH s AS (
      SELECT {_en_score_sql()} AS sc,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM (SELECT lang, {_WORDS_SQL} AS words FROM documents)
    ),
    g AS (
      SELECT CAST(least(CAST(floor(sc * {float(n_bins)}) AS INT),
                        {n_bins - 1}) AS INT) AS bin,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(y) AS BIGINT) AS n_pos
      FROM s GROUP BY 1
    )
    SELECT bin, n_docs, n_pos, {frac} AS frac_pos FROM g
    """


@register("td_score_calibration", oracle=_calibration_oracle())
def td_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram buckets for the langid en-score: equal-width
    bins, per-bin doc count and positive fraction — the calibration
    audit a quality-scorer pipeline runs before trusting thresholds.
    One partial-combine groupBy on the bin id; exact integer ratios."""
    from loggie_spark.operators.corpusstats import score_calibration
    from loggie_spark.operators.dedup import spread_small_input
    from loggie_spark.operators.textstats import stopword_fraction

    docs = spread_small_input(_t(spark, sf_dir, "documents"))
    return score_calibration(
        docs, stopword_fraction(F.col("text"), "en"), F.col("lang") == "en"
    )


@register(
    "td_quality_score",
    # Rounding parity subtlety: Spark's round(double) goes through
    # BigDecimal.valueOf — it rounds the SHORTEST decimal repr
    # (0.66075 → 0.6608, HALF_UP) — while DuckDB's round(DOUBLE)
    # rounds the exact binary value (0.66074999… → 0.6607). Routing
    # the oracle through VARCHAR→DECIMAL reproduces Spark's
    # shortest-repr HALF_UP exactly (first bit at sf0.1: 5/5000 docs
    # land on the .xxxx5 boundary; sf0.01 had none).
    oracle=f"""
    WITH toks AS (SELECT doc_id, text, {_WORDS_SQL} AS words FROM documents)
    SELECT doc_id,
           CAST(round(CAST(CAST(
             0.4 * least(CAST(len(words) AS DOUBLE) / 100.0, 1.0)
               + 0.3 * (CASE WHEN len(words) > 0
                        THEN CAST(len(list_distinct(words)) AS DOUBLE) / len(words)
                        ELSE 0.0 END)
               + 0.3 * (1.0 - (CASE WHEN length(text) > 0
                        THEN CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
                             / length(text) ELSE 0.0 END))
             AS VARCHAR) AS DECIMAL(30,17)), 4) AS DOUBLE) AS quality
    FROM toks
    """,
)
def td_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from loggie_spark.operators.textstats import quality_score

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", F.round(quality_score(F.col("text")), 4).alias("quality"))


@register(
    "td_token_counts",
    oracle=f"""
    SELECT doc_id,
           len(list_filter(string_split(text, ' '), w -> w <> '')) AS n_words,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_tokens_bpe
    FROM documents
    """,
)
def td_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from loggie_spark.operators.textstats import token_count_bpe, token_count_ws

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count_ws(F.col("text")).cast("long").alias("n_words"),
        token_count_bpe(F.col("text")).cast("long").alias("n_tokens_bpe"),
    )


@register(
    "td_fingerprint",
    oracle=f"""
    WITH toks AS (SELECT doc_id, text, {_WORDS_SQL} AS words FROM documents)
    SELECT doc_id,
           {md5_60bit_sql('text')} AS fp_md5,
           list_reduce(list_prepend(0::BIGINT,
             list_transform(words, w -> {md5_60bit_sql('w')} % 2147483647)),
             (acc, h) -> (acc * 31 + h) % 2147483647) AS fp_rolling
    FROM toks
    """,
)
def td_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from loggie_spark.operators.textstats import fingerprint_md5, fingerprint_rolling

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        fingerprint_md5(F.col("text")).alias("fp_md5"),
        fingerprint_rolling(F.col("text")).alias("fp_rolling"),
    )


# -- addK8sMeta: pattern-extract keys from a path + broadcast lookup -------


@register(
    "pl_k8s_extract_enrich",
    oracle="""
    WITH paths AS (
      SELECT doc_id,
             '/var/log/pods/ns' || CAST(doc_id % 4 AS VARCHAR) || '_pod-' ||
             source || '_' || CAST(doc_id AS VARCHAR) || '/app.log' AS path,
             source
      FROM documents
    ), extracted AS (
      SELECT doc_id, source,
             regexp_extract(path, '^/var/log/pods/(.*?)_(.*?)_(.*?)/app\\.log$', 1) AS namespace,
             regexp_extract(path, '^/var/log/pods/(.*?)_(.*?)_(.*?)/app\\.log$', 2) AS podname
      FROM paths
    )
    SELECT namespace, count(*) AS cnt, count(DISTINCT podname) AS pods
    FROM extracted GROUP BY namespace
    """,
)
def pl_k8s_extract_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """addK8sMeta semantics (addk8smeta/interceptor.go:88-121): pull
    indexer parts out of a pattern-shaped path (pattern.go Extract),
    then aggregate per workload."""
    from loggie_spark.patterns import extract_pattern

    docs = _t(spark, sf_dir, "documents")
    path = F.concat(
        F.lit("/var/log/pods/ns"),
        (F.col("doc_id") % 4).cast("string"),
        F.lit("_pod-"),
        F.col("source"),
        F.lit("_"),
        F.col("doc_id").cast("string"),
        F.lit("/app.log"),
    )
    df = docs.withColumn("path", path)
    cols = extract_pattern("path", "/var/log/pods/${namespace}_${podname}_${poduid}/app.log")
    df = df.withColumn("namespace", cols["namespace"]).withColumn(
        "podname", cols["podname"]
    )
    return df.groupBy("namespace").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.countDistinct("podname").alias("pods"),
    )


# -- schema interceptor (schema/interceptor.go:79-96) ----------------------


@register(
    "pl_schema_interceptor",
    oracle="""
    SELECT doc_id,
           'p1' AS pipeline,
           source AS sourceName,
           strftime(TIMESTAMP '2024-03-01 00:00:00', '%Y-%m-%dT%H:%M:%S.000Z') AS ts,
           text AS message
    FROM documents
    """,
)
def pl_schema_interceptor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from loggie_spark.enrich import apply_schema_interceptor

    docs = _t(spark, sf_dir, "documents").withColumn(
        "_t", F.lit("2024-03-01 00:00:00").cast("timestamp")
    )
    out = apply_schema_interceptor(
        docs, "p1", ts_key="ts", time_col="_t", remap={"text": "message"}
    )
    return out.select("doc_id", "pipeline", "sourceName", "ts", "message")


# -- normalize processor dialect end-to-end (normalize/interceptor.go) -----


# -- ${_k8s.*} routing tokens (k8meta.go:28-31,85-130) ----------------------


@register(
    "pl_k8s_route",
    oracle="""
    SELECT 'logs/ns' || CAST(length(source) % 3 AS VARCHAR) || '/p-' || source
             AS route_key,
           count(*) AS cnt
    FROM documents GROUP BY 1
    """,
)
def pl_k8s_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A route pattern using ${_k8s.pod.namespace}/${_k8s.pod.name}
    renders after the addK8sMeta-shaped broadcast enrich lands the
    k8s_* columns (k8s_token_column convention)."""
    from loggie_spark.enrich import broadcast_enrich
    from loggie_spark.patterns import compile_pattern

    docs = _t(spark, sf_dir, "documents")
    lookup = (
        docs.select("source")
        .distinct()
        .select(
            "source",
            F.concat(F.lit("ns"), (F.length("source") % 3).cast("string")).alias(
                "k8s_pod_namespace"
            ),
            F.concat(F.lit("p-"), F.col("source")).alias("k8s_pod_name"),
        )
    )
    enriched = broadcast_enrich(docs, lookup, ["source"])
    route = compile_pattern("logs/${_k8s.pod.namespace}/${_k8s.pod.name}")
    return (
        enriched.withColumn("route_key", route)
        .groupBy("route_key")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# -- file sink consistent-hash dirs + ES documentId -------------------------

_FS_DIRS = ["/data/a/", "/data/b/", "/data/c/"]


def _filesink_oracle() -> str:
    hs = [md5_60bit_sql(f"'{d}|' || source") for d in _FS_DIRS]
    pick = (
        f"CASE WHEN {hs[0]} >= {hs[1]} AND {hs[0]} >= {hs[2]} THEN '{_FS_DIRS[0]}' "
        f"WHEN {hs[1]} >= {hs[2]} THEN '{_FS_DIRS[1]}' ELSE '{_FS_DIRS[2]}' END"
    )
    return f"""
    SELECT doc_id,
           {pick} || 'logs/' || source || '.log' AS route_key,
           CAST(doc_id AS VARCHAR) || '-' || source AS es_doc_id
    FROM documents
    """


@register("pl_filesink_hash", oracle=_filesink_oracle())
def pl_filesink_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """file sink baseDirs consistent hashing (file/sink.go:81-92,
    153-177; rendezvous over the md5-60bit family) + ES documentId
    pattern (elasticsearch/client.go:209-216) in one routed pass."""
    from loggie_spark.sinks.router import DOCID_COL, SinkSpec, explode_to_sinks

    docs = _t(spark, sf_dir, "documents")
    routed = explode_to_sinks(
        docs,
        [
            SinkSpec(
                "file",
                route_pattern="logs/${source}.log",
                base_dirs=list(_FS_DIRS),
                dir_hash_key="${source}",
                document_id="${doc_id}-${source}",
            )
        ],
    )
    return routed.select(
        "doc_id", "route_key", F.col(DOCID_COL).alias("es_doc_id")
    )


# -- addMeta full semantics (addmeta.go:66-108) ------------------------------


@register(
    "pl_addmeta",
    oracle="""
    SELECT doc_id,
           source AS src_name,
           'p1' AS pl,
           '2024-03-01 00:00:00' AS ptime
    FROM documents
    """,
)
def pl_addmeta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").withColumn(
        "_t", F.lit("2024-03-01 00:00:00").cast("timestamp")
    )
    out = apply_program(
        docs,
        [{"action": "addMeta(meta)", "pipelineName": "p1"}],
        time_col="_t",
    )
    return out.select(
        "doc_id",
        F.col("meta.systemSourceName").alias("src_name"),
        F.col("meta.systemPipelineName").alias("pl"),
        F.date_format("meta.systemProductTime", "yyyy-MM-dd HH:mm:ss").alias("ptime"),
    )


@register(
    "pl_normalize_chain",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k') AS k,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num,
           'eu' AS site
    FROM events
    """,
)
def pl_normalize_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from loggie_spark.processors import apply_processors

    events = _t(spark, sf_dir, "events").withColumnRenamed("props", "body")
    out = apply_processors(
        events,
        [
            {"jsonDecode": {"fields": ["k"]}},
            {"copy": {"copy": [{"from": "k", "to": "k_num"}]}},
            {"convert": {"convert": [{"from": "k_num", "to": "int"}]}},
            {"add": {"fields": {"site": "eu"}}},
        ],
    )
    return out.select("event_id", "k", "k_num", "site")


@register(
    "pl_convert_keep",
    oracle="""
    WITH raw AS (
      SELECT event_id,
             CASE event_id % 4 WHEN 0 THEN CAST(user_id AS VARCHAR)
                  WHEN 1 THEN 'abc' WHEN 2 THEN CAST(user_id AS VARCHAR) || '.5'
                  ELSE '' END AS i_raw,
             CASE event_id % 3 WHEN 0 THEN '1e2'
                  WHEN 1 THEN CAST(user_id AS VARCHAR) || '.50'
                  ELSE 'nan?' END AS f_raw,
             CASE event_id % 3 WHEN 0 THEN 'TRUE'
                  WHEN 1 THEN '0' ELSE 'xx' END AS b_raw
      FROM events
    )
    SELECT event_id,
           CASE WHEN regexp_matches(i_raw, '^[+-]?[0-9]+$')
                THEN CAST(CAST(i_raw AS BIGINT) AS VARCHAR) ELSE i_raw END AS i_conv,
           CASE WHEN TRY_CAST(f_raw AS DOUBLE) IS NULL THEN f_raw
                ELSE regexp_replace(CAST(TRY_CAST(f_raw AS DOUBLE) AS VARCHAR),
                                    '\\.0$', '') END AS f_conv,
           CASE WHEN TRY_CAST(b_raw AS BOOLEAN) IS NULL THEN b_raw
                WHEN TRY_CAST(b_raw AS BOOLEAN) THEN 'true' ELSE 'false' END AS b_conv
    FROM raw
    """,
)
def pl_convert_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """normalize ``convert`` keep-original-on-failure
    (normalize/convert.go:101-131): with ``keepOriginal: true`` a failed
    parse keeps the original bytes while successes render canonically
    (ints base-10, floats Go-'g' so '1e2'→'100' and '.50'→'.5', bools
    lowercased). The oracle emulates Go ParseInt strictness with an
    integer-regex guard (DuckDB's BIGINT cast would round '7.5'→8)."""
    from loggie_spark.operators.dedup import spread_small_input
    from loggie_spark.processors import apply_processors

    # Per-row parse/render compute on a single-split scan — spread it
    # (no-op at real scale, see spread_small_input).
    ev = spread_small_input(_t(spark, sf_dir, "events"))
    uid = F.col("user_id").cast("string")
    raw = ev.select(
        "event_id",
        F.when(F.col("event_id") % 4 == 0, uid)
        .when(F.col("event_id") % 4 == 1, F.lit("abc"))
        .when(F.col("event_id") % 4 == 2, F.concat(uid, F.lit(".5")))
        .otherwise(F.lit(""))
        .alias("i_conv"),
        F.when(F.col("event_id") % 3 == 0, F.lit("1e2"))
        .when(F.col("event_id") % 3 == 1, F.concat(uid, F.lit(".50")))
        .otherwise(F.lit("nan?"))
        .alias("f_conv"),
        F.when(F.col("event_id") % 3 == 0, F.lit("TRUE"))
        .when(F.col("event_id") % 3 == 1, F.lit("0"))
        .otherwise(F.lit("xx"))
        .alias("b_conv"),
    )
    out = apply_processors(
        raw,
        [
            {
                "convert": {
                    "keepOriginal": True,
                    "convert": [
                        {"from": "i_conv", "to": "int"},
                        {"from": "f_conv", "to": "float"},
                        {"from": "b_conv", "to": "bool"},
                    ],
                }
            }
        ],
    )
    return out.select("event_id", "i_conv", "f_conv", "b_conv")


# ===========================================================================
# td_* — multimodal columns (binary payload plumbing)
# ===========================================================================

_HEX_NIBBLE = "(strpos('0123456789abcdef', substr(md5(text),{i},1))-1)"


def _hex4_to_int_sql() -> str:
    """int(md5(text)[pos:pos+4], 16) in portable SQL (DuckDB lacks a
    hex-string→int cast)."""
    def at(i: int, mul: int) -> str:
        return f"{_HEX_NIBBLE.format(i=i)}*{mul}"

    return {
        "w": " + ".join([at(1, 4096), at(2, 256), at(3, 16), at(4, 1)]),
        "h": " + ".join([at(5, 4096), at(6, 256), at(7, 16), at(8, 1)]),
    }


@register(
    "td_multimodal_featurize",
    oracle=f"""
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           CASE CAST(length(text) % 3 AS INTEGER)
             WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
           CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
           md5(text) AS feat_hash,
           CAST(({_hex4_to_int_sql()['w']}) % 1024 AS INTEGER) AS width,
           CAST(({_hex4_to_int_sql()['h']}) % 1024 AS INTEGER) AS height
    FROM documents
    """,
)
def td_multimodal_featurize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode/featurize plumbing end-to-end: an opaque
    ``binary`` payload column rides a narrow Arrow-batched mapInPandas
    stage (operators/multimodal.py) and never shuffles. These payloads
    hit the deterministic fallback codec (md5-derived pseudo-features),
    so DuckDB reproduces it bit-exactly — certifying batch shape,
    schema and byte handling; the REAL pure-numpy PPM/WAV codecs are
    exercised in tests/test_training_ops.py."""
    from loggie_spark.operators.multimodal import decode_and_featurize

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.length("text") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        (F.length("text") % 5000).cast("int").alias("duration_ms"),
    )
    return decode_and_featurize(media).select(
        "media_id", "kind", "n_bytes", "feat_hash", "width", "height"
    )


@register(
    "td_frame_sample",
    oracle="""
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           CAST(unnest(generate_series(0, CAST(length(text) % 5000 AS INTEGER), 1000))
                AS INTEGER) AS frame_ts_ms
    FROM documents
    WHERE length(text) % 3 = 2
    """,
)
def td_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sample *plan*: per-video timestamp explosion is
    metadata-only (payload column pruned before the Generate), so the
    heavy bytes never ride the explode."""
    from loggie_spark.operators.multimodal import frame_sample_plan

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.length("text") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        (F.length("text") % 5000).cast("int").alias("duration_ms"),
    )
    return frame_sample_plan(media, every_ms=1000).select(
        "media_id", F.col("frame_ts_ms").cast("int").alias("frame_ts_ms")
    )


# ===========================================================================
# pl_* — source/sink codecs, kafka wire, string/type actions, grammar
# (upgrading pytest-only components to oracle-backed driver rows)
# ===========================================================================


@register(
    "pl_source_codec",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k') AS body,
           json_extract_string(props, '$.k') AS k
    FROM events
    """,
)
def pl_source_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source codec json with bodyFields (codec/json/json.go:28-37,61):
    the named field REPLACES the body before the interceptor chain."""
    from loggie_spark.sources.readers import decode_json_codec

    events = _t(spark, sf_dir, "events").withColumnRenamed("props", "body")
    out = decode_json_codec(events, fields=["k"], body_field="k")
    return out.select("event_id", "body", "k")


@register(
    "pl_source_codec_regex",
    oracle="""
    SELECT event_id,
           regexp_extract(event_type || ':' || CAST(user_id AS VARCHAR),
                          '^([a-z]+):([0-9]+)$', 1) AS etype,
           regexp_extract(event_type || ':' || CAST(user_id AS VARCHAR),
                          '^([a-z]+):([0-9]+)$', 2) AS uid,
           regexp_extract(event_type || ':' || CAST(user_id AS VARCHAR),
                          '^([a-z]+):([0-9]+)$', 1) AS body
    FROM events
    """,
)
def pl_source_codec_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source codec regex (codec/regex/regex.go:12-24,56): named groups
    → columns, bodyFields lift."""
    from loggie_spark.sources.readers import decode_regex_codec

    events = _t(spark, sf_dir, "events").withColumn(
        "body", F.concat_ws(":", "event_type", "user_id")
    )
    out = decode_regex_codec(
        events, r"^(?<etype>[a-z]+):(?<uid>\d+)$", body_field="etype"
    )
    return out.select("event_id", "etype", "uid", "body")


@register(
    "pl_sink_codec",
    oracle="""
    SELECT event_id,
           '{"message":"' || event_type || '","@timestamp":"' ||
             strftime(ts, '%Y-%m-%dT%H:%M:%S.') || substr(strftime(ts, '%f'), 1, 3)
             || 'Z"}' AS payload,
           event_type AS raw_payload
    FROM events
    """,
)
def pl_sink_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink codecs: json + beatsFormat (sink/codec/json/json.go:63-108 —
    body → ``message``, event time → ``@timestamp``) and raw
    (raw.go:49-54). The oracle reproduces the exact serialized JSON
    string, certifying field order, key names and millisecond time
    format."""
    from loggie_spark.sinks.codecs import json_codec, raw_codec

    events = _t(spark, sf_dir, "events").withColumn("body", F.col("event_type"))
    out = json_codec(
        events, body_col="body", time_col="ts", beats_format=True, include=["body"]
    )
    out = raw_codec(out, body_col="body", out_col="raw_payload")
    return out.select("event_id", "payload", "raw_payload")


@register(
    "pl_replace",
    oracle="""
    SELECT doc_id,
           regexp_replace(regexp_replace(text, ' ', '_'), ' ', '_') AS under2,
           regexp_replace(text, '[aeiou]', '*', 'g') AS novowel
    FROM documents
    """,
)
def pl_replace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """replace with max-N (replace.go: first N occurrences only) and
    replaceRegex global substitution, both through the action engine;
    the oracle emulates max=2 by two single-shot regexp_replace calls."""
    docs = _t(spark, sf_dir, "documents")
    out = apply_program(
        docs.withColumn("under2", F.col("text")).withColumn("novowel", F.col("text")),
        [
            {"action": "replace(under2)", "old": " ", "new": "_", "max": 2},
            {"action": "replaceRegex(novowel)", "expression": "[aeiou]", "replace": "*"},
        ],
    )
    return out.select("doc_id", "under2", "novowel")


@register(
    "pl_tostr",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           regexp_replace(CAST(l_quantity AS VARCHAR), '\\.0$', '') AS qty_s,
           regexp_replace(CAST(l_extendedprice AS VARCHAR), '\\.0$', '') AS price_s,
           CAST(l_linenumber AS VARCHAR) AS line_s,
           CASE WHEN l_quantity > 25 THEN 'true' ELSE 'false' END AS big_s
    FROM lineitem
    """,
)
def pl_tostr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """toStr (tostr.go:123-152): floats render as Go
    strconv.FormatFloat(v,'g',-1,64) shortest digits, ints base-10,
    bools "true"/"false". DuckDB's shortest-round-trip cast equals the
    Go form on this value range once the integral ``.0`` is stripped."""
    from loggie_spark.operators.dedup import spread_small_input

    # Per-row string assembly, not IO — spread the single-split scan
    # (no-op at real scale, see spread_small_input).
    li = spread_small_input(_t(spark, sf_dir, "lineitem"))
    out = apply_program(
        li.withColumn("qty_s", F.col("l_quantity"))
        .withColumn("price_s", F.col("l_extendedprice"))
        .withColumn("line_s", F.col("l_linenumber"))
        .withColumn("big_s", F.col("l_quantity") > 25),
        [
            {"action": "toStr(qty_s)"},
            {"action": "toStr(price_s)"},
            {"action": "toStr(line_s)"},
            {"action": "toStr(big_s)"},
        ],
    )
    return out.select("l_orderkey", "l_linenumber", "qty_s", "price_s", "line_s", "big_s")


@register(
    "pl_conditions",
    oracle="""
    SELECT event_id,
           CASE WHEN event_type = 'error' AND value > 10 THEN 'hot' ELSE '' END AS sev,
           CASE WHEN NOT event_type = 'error' OR value > 99.9 THEN 'calm' ELSE '' END
             AS calm
    FROM events
    """,
)
def pl_conditions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Condition grammar end-to-end (transformer/condition.go:116-161):
    AND chains, OR chains, NOT atoms, greater() over numeric strings —
    driving if/then/else branch gating in the action engine."""
    events = _t(spark, sf_dir, "events")
    out = apply_program(
        events.withColumn("sev", F.lit("")).withColumn("calm", F.lit("")),
        [
            {
                "if": "equal(event_type, error) AND greater(value, 10)",
                "then": [{"action": "add(sev, hot)"}],
            },
            {
                "if": "NOT equal(event_type, error) OR greater(value, 99.9)",
                "then": [{"action": "add(calm, calm)"}],
            },
        ],
    )
    return out.select("event_id", "sev", "calm")


@register(
    "pl_kafka_roundtrip",
    oracle="""
    SELECT event_id,
           props AS body,
           'ev-' || CAST(event_id % 3 AS VARCHAR) AS topic,
           CAST(event_id AS VARCHAR) AS key_s,
           strftime(ts, '%Y-%m-%dT%H:%M:%S') || 'Z' AS kafka_ts
    FROM events
    """,
)
def pl_kafka_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka connector wire round-trip: producer encode (sink side —
    value/key bytes, topic render) through consumer decode (source side
    — kafka.go:221-236 addonMeta struct). Certifies lossless
    binary⇄string body transport and the RFC3339 record timestamp."""
    from loggie_spark.sources.kafka import decode_kafka_records, kafka_records_from_table

    events = _t(spark, sf_dir, "events").withColumn(
        "_topic", F.concat(F.lit("ev-"), (F.col("event_id") % 3).cast("string"))
    )
    wire = kafka_records_from_table(
        events.select(
            F.col("props").alias("body"),
            F.col("event_id").cast("string").alias("k"),
            "_topic",
            "ts",
            "event_id",
        ),
        body_col="body",
        topic=F.col("_topic"),
        key_col="k",
        time_col="ts",
    ).withColumn("event_id", F.col("key").cast("string").cast("long"))
    dec = decode_kafka_records(wire)
    return dec.select(
        "event_id",
        "body",
        "topic",
        F.col("event_id").cast("string").alias("key_s"),
        F.col("kafka.timestamp").alias("kafka_ts"),
    )


@register(
    "pl_multiline",
    oracle="""
    WITH lines AS (
      SELECT 'f' || CAST(doc_id % 8 AS VARCHAR) AS filename,
             doc_id * 1000 + w.pos AS line_off,
             w.word AS body
      FROM documents,
           LATERAL (SELECT unnest(string_split(text, ' ')) AS word,
                           generate_subscripts(string_split(text, ' '), 1) AS pos) w
    ), marked AS (
      SELECT *, CASE WHEN regexp_matches(body, '^[a-h]') THEN 1 ELSE 0 END AS s
      FROM lines
    ), recs AS (
      SELECT *, sum(s) OVER (PARTITION BY filename ORDER BY line_off) AS rec
      FROM marked
    ), subs AS (
      SELECT *, CAST(floor((row_number() OVER (PARTITION BY filename, rec
                             ORDER BY line_off) - 1) / 4) AS BIGINT) AS sub
      FROM recs
    )
    SELECT filename,
           string_agg(body, chr(10) ORDER BY line_off) AS body,
           min(line_off) AS line_off,
           count(*) AS n_lines
    FROM subs GROUP BY filename, rec, sub
    """,
)
def pl_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiline record aggregation (multilines.go:115-150): pattern
    marks record starts, non-matching lines append with newline joins,
    maxLines=4 force-flushes. One shuffle: hash(filename) satisfies the
    window and the merge groupBy."""
    from loggie_spark.sources.readers import merge_multiline

    docs = _t(spark, sf_dir, "documents")
    lines = docs.select(
        F.concat(F.lit("f"), (F.col("doc_id") % 8).cast("string")).alias("filename"),
        F.posexplode(F.split("text", " ")).alias("pos", "body"),
        F.col("doc_id"),
    ).select(
        "filename",
        (F.col("doc_id") * 1000 + F.col("pos") + 1).alias("line_off"),
        "body",
    )
    out = merge_multiline(
        lines, r"^[a-h]", file_col="filename", offset_col="line_off", max_lines=4
    )
    return out.select("filename", "body", "line_off", F.col("n_lines"))


@register(
    "pl_default_injection",
    oracle="""
    SELECT 'definj' AS pipeline, source, 'k' AS sink,
           count(*) AS success_count,
           CAST(sum(least(octet_length(encode(text)), 64)) AS BIGINT) AS trunc_bytes
    FROM documents GROUP BY source
    """,
)
def pl_default_injection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Default interceptor injection (sysconfig/config.go:58-88 +
    MergeInterceptorList, core/interceptor/config.go:72-102): the user
    configures ONLY maxbytes; metric is silently injected, so per-sink
    exact counts exist without being asked for — and the configured
    maxBytes=64 override actually truncates the body (observable as the
    per-source truncated byte sum; ASCII corpus, so the UTF-8 boundary
    scan lands exactly at 64)."""
    from loggie_spark.pipeline import Pipeline, PipelineConfig, SourceSpec
    from loggie_spark.sinks.router import SINK_COL, SinkSpec

    docs = (
        _t(spark, sf_dir, "documents")
        .withColumn("body", F.col("text"))
    )
    cfg = PipelineConfig(
        name="definj",
        sources=[SourceSpec(f"src{i}") for i in range(20)],
        sinks=[SinkSpec("k", route_pattern="t-${source}")],
        interceptors=[{"type": "maxbytes", "maxBytes": 64}],
    )
    routed = Pipeline(cfg).transform(docs)
    return routed.groupBy(
        F.lit("definj").alias("pipeline"),
        F.col("source"),
        F.col(SINK_COL).alias("sink"),
    ).agg(
        F.count(F.lit(1)).alias("success_count"),
        F.sum(F.octet_length("body")).alias("trunc_bytes"),
    )


# ===========================================================================
# td_* — token-sequence shaping (context-window chunking, packing)
# ===========================================================================


@register(
    "td_token_chunk",
    oracle="""
    WITH d AS (
      SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents
    ), s AS (
      SELECT doc_id, text, n,
             unnest(generate_series(1, greatest(n, 1), 16)) AS start
      FROM d
    )
    SELECT doc_id,
           CAST(floor((start - 1) / 16) AS INTEGER) AS chunk_idx,
           substr(text, start, 32) AS chunk_str,
           CAST(least(32, n - start + 1) AS INTEGER) AS chunk_len
    FROM s WHERE least(32, n - start + 1) >= 1
    """,
)
def td_token_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking over token arrays (max_len=32,
    stride=16 → 50% overlap): narrow sequence()+slice() Generate, zero
    shuffle. Tokens are the UTF-8 bytes of the text (BASELINE input
    shape), so the DuckDB oracle reproduces each chunk with substr on
    the ASCII corpus."""
    from loggie_spark.functions.tokens import encode_text_to_tokens
    from loggie_spark.operators.packing import chunk_sequences

    docs = _t(spark, sf_dir, "documents").withColumn(
        "tokens", encode_text_to_tokens(F.col("text"))
    )
    out = chunk_sequences(docs, max_len=32, stride=16)
    return out.select(
        "doc_id",
        "chunk_idx",
        F.expr("array_join(transform(chunk, x -> char(x)), '')").alias("chunk_str"),
        "chunk_len",
    )


@register(
    "td_seq_pack",
    oracle="""
    SELECT doc_id, source,
           CAST(floor(COALESCE(sum(n_chars) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048)
             AS BIGINT) AS pack_id,
           CAST(COALESCE(sum(n_chars) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) % 2048
             AS INTEGER) AS pack_offset
    FROM documents
    """,
)
def td_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous sequence packing into max_len=2048 training bins
    (straddle-allowed packed-attention variant): one window shuffle on
    source, token arrays never ride it."""
    from loggie_spark.operators.packing import pack_sequences_binned

    docs = _t(spark, sf_dir, "documents")
    out = pack_sequences_binned(docs, len_col="n_chars", max_len=2048)
    return out.select("doc_id", "source", "pack_id", "pack_offset")


def _sample_mix_oracle() -> str:
    from loggie_spark.operators.sampling import sample_rates_sql

    n_expr = sample_rates_sql(
        {"src0": 3.2, "src1": 0.4, "src2": 0.0}, default_rate=1.0, seed=7
    )
    return f"""
    WITH n AS (SELECT doc_id, source, {n_expr} AS n FROM documents)
    SELECT doc_id, source,
           CAST(unnest(generate_series(0, n - 1)) AS INTEGER) AS mix_epoch
    FROM n WHERE n > 0
    """


@register("td_sample_mix", oracle=_sample_mix_oracle())
def td_sample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-mix sampling: per-source epoch rates
    (3.2 = upsample, 0.4 = downsample, 0 = exclude) decided by the
    engine-agnostic md5 family — a single narrow Generate, identical
    mix on rerun/resume/other engines."""
    from loggie_spark.operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    out = stratified_sample(
        docs, {"src0": 3.2, "src1": 0.4, "src2": 0.0}, default_rate=1.0, seed=7
    )
    return out.select("doc_id", "source", F.col("mix_epoch").cast("int").alias("mix_epoch"))


# ===========================================================================
# pl_arrow_ingest — in-task pyarrow ingest reader (sources/arrow_reader.py)
# ===========================================================================


@register(
    "pl_arrow_ingest",
    oracle="""
    SELECT 'doc-' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS doc_id,
           source,
           CAST(length(text) AS INTEGER) AS n_tok,
           md5(text) AS body_hash
    FROM documents
    """,
)
def pl_arrow_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certify the in-task pyarrow ingest reader end-to-end: documents
    → tokenized sequences parquet → read_sequences_arrow (row-group
    tasks, in-task token→body decode, no JVM→Python token transfer) →
    md5(body) — DuckDB reproduces the hash from the original text, so
    a single corrupted byte anywhere in the encode/write/read/decode
    chain fails the row (loggie parallel: file source reader pool,
    pkg/source/file/read.go)."""
    import hashlib

    from loggie_spark.datagen import sequences_from_documents
    from loggie_spark.sources.arrow_reader import read_sequences_arrow

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    path = f"/tmp/loggie_arrow_ingest_{key}"
    sequences_from_documents(_t(spark, sf_dir, "documents")).write.mode(
        "overwrite"
    ).parquet(path)
    seq = read_sequences_arrow(spark, path)
    return seq.select(
        "doc_id",
        "source",
        "n_tok",
        F.md5(F.encode(F.col("body"), "utf-8")).alias("body_hash"),
    )


# ===========================================================================
# pl_error_policy — per-action error policies drive the program gate
# ===========================================================================


@register(
    "pl_error_policy",
    oracle="""
    WITH pre AS (
      SELECT event_id,
             CASE WHEN event_id % 3 = 0
                  THEN CAST(CAST(floor(value) AS BIGINT) AS VARCHAR)
                  ELSE event_type END AS s
      FROM events
    )
    SELECT event_id,
           TRY_CAST(s AS DOUBLE) AS s,
           CASE WHEN TRY_CAST(s AS DOUBLE) IS NOT NULL
                THEN 'ok' ELSE NULL END AS tag
    FROM pre
    """,
)
def pl_error_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Default per-action error policy end-to-end (action.go:110-128 +
    Actions.Exec, actions.go:56-63): a failing ``strconv`` without
    ignoreError/dropIfError ABORTS the remaining program for that row
    and the event forwards as-is — so the later ``add(tag, ok)`` must
    not fire on errored rows. DuckDB reproduces both the try-cast
    result and the gate."""
    ev = _t(spark, sf_dir, "events")
    pre = ev.select(
        "event_id",
        F.when(
            F.col("event_id") % 3 == 0,
            F.floor("value").cast("long").cast("string"),
        )
        .otherwise(F.col("event_type"))
        .alias("s"),
    )
    out = apply_program(
        pre,
        [
            {"action": "strconv(s, float)"},
            {"action": "add(tag, ok)"},
        ],
    )
    return out.select("event_id", "s", "tag")


# ===========================================================================
# td_curation_pipeline — the end-to-end training-data curation pass
# ===========================================================================


@register(
    "td_curation_v2",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    grams AS (
      SELECT doc_id, unnest(CASE WHEN len(w) >= {_DECON_N}
        THEN [array_to_string(w[i:i+{_DECON_N - 1}], ' ')
              for i in generate_series(1, len(w) - {_DECON_N - 1})]
        ELSE [array_to_string(w, ' ')] END) AS gram
      FROM w
    ),
    bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0),
    hits AS (SELECT DISTINCT g.doc_id FROM grams g JOIN bench b USING (gram)),
    scored AS (
      SELECT d.doc_id, d.source, d.text,
             len({_WORDS_SQL}) AS n_words,
             round(0.4 * least(CAST(len({_WORDS_SQL}) AS DOUBLE) / 100.0, 1.0)
                 + 0.3 * (CASE WHEN len({_WORDS_SQL}) > 0
                          THEN CAST(len(list_distinct({_WORDS_SQL})) AS DOUBLE)
                               / len({_WORDS_SQL}) ELSE 0.0 END)
                 + 0.3 * (1.0 - (CASE WHEN length(text) > 0
                          THEN CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
                               / length(text) ELSE 0.0 END)), 4) AS q,
             round(CASE WHEN len({_WORDS_SQL}) > 0
                   THEN 1 - CAST(len(list_distinct({_WORDS_SQL})) AS DOUBLE)
                        / len({_WORDS_SQL}) ELSE 0 END, 4) AS rep
      FROM documents d
      WHERE d.doc_id NOT IN (SELECT doc_id FROM hits)
    ),
    filtered AS (SELECT * FROM scored WHERE q >= 0.5 AND rep <= 0.3),
    keep AS (SELECT min(doc_id) AS doc_id FROM filtered GROUP BY text)
    SELECT f.source,
           COUNT(*) AS kept_docs,
           CAST(SUM(f.n_words) AS BIGINT) AS total_words
    FROM filtered f JOIN keep k ON f.doc_id = k.doc_id
    GROUP BY f.source
    """,
)
def td_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation pass v2 — the round-2 operators composed into the
    nightly plan: benchmark DECONTAMINATION (broadcast-gram anti-join,
    the corpus side never shuffles) → quality + REPETITION gates (one
    narrow codegen projection) → exact dedup via min_by (shuffles
    (digest, scalars) only) → per-source stats. One plan, two data
    shuffles, same shape at 100 TB."""
    from loggie_spark.operators.curation import contamination_flags
    from loggie_spark.operators.dedup import tokenize, word_ngrams
    from loggie_spark.operators.textstats import (
        dup_word_fraction,
        quality_score,
        token_count_ws,
    )

    from loggie_spark.operators.dedup import spread_small_input

    docs = spread_small_input(_t(spark, sf_dir, "documents"))
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    grams = lambda df: df.select(  # noqa: E731
        "doc_id",
        F.explode(word_ngrams(tokenize(F.col("text")), _DECON_N)).alias("gram"),
    )
    hits = (
        grams(docs)
        .join(
            F.broadcast(grams(bench).select("gram").distinct()), "gram", "left_semi"
        )
        .select("doc_id")
        .distinct()
    )
    # hits is contamination-rate-sized (usually tiny → AQE broadcasts
    # it); no explicit hint, so a pathological corpus-wide hit set
    # degrades to a safe shuffle anti-join instead of an OOM.
    clean = docs.join(hits, "doc_id", "left_anti")
    t = F.col("text")
    scored = clean.select(
        "doc_id",
        "source",
        F.sha2(t, 256).alias("_digest"),
        token_count_ws(t).alias("n_words"),
        F.round(quality_score(t), 4).alias("q"),
        F.round(dup_word_fraction(t), 4).alias("rep"),
    ).filter((F.col("q") >= 0.5) & (F.col("rep") <= 0.3))
    kept = scored.groupBy("_digest").agg(
        F.min_by(F.struct("source", "n_words"), F.col("doc_id")).alias("r")
    )
    return kept.groupBy(F.col("r.source").alias("source")).agg(
        F.count(F.lit(1)).alias("kept_docs"),
        F.sum("r.n_words").cast("long").alias("total_words"),
    )


@register(
    "td_curation_pipeline",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source, text,
             len({_WORDS_SQL}) AS n_words,
             round(0.4 * least(CAST(len({_WORDS_SQL}) AS DOUBLE) / 100.0, 1.0)
                 + 0.3 * (CASE WHEN len({_WORDS_SQL}) > 0
                          THEN CAST(len(list_distinct({_WORDS_SQL})) AS DOUBLE)
                               / len({_WORDS_SQL}) ELSE 0.0 END)
                 + 0.3 * (1.0 - (CASE WHEN length(text) > 0
                          THEN CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
                               / length(text) ELSE 0.0 END)), 4) AS q
      FROM documents
    ),
    filtered AS (SELECT * FROM scored WHERE q >= 0.5),
    keep AS (SELECT min(doc_id) AS doc_id FROM filtered GROUP BY text)
    SELECT f.source,
           COUNT(*) AS kept_docs,
           CAST(SUM(f.n_words) AS BIGINT) AS total_words,
           round(AVG(f.q), 2) AS avg_quality
    FROM filtered f JOIN keep k ON f.doc_id = k.doc_id
    GROUP BY f.source
    """,
)
def td_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation pass a training-data pipeline runs nightly,
    as ONE plan: quality-score filter → exact dedup (digest groupBy —
    the shuffle moves 64-byte digests, never documents) → id semi-join
    → per-source corpus stats. Certifies that the individually-oracled
    operators compose without drift."""
    from loggie_spark.operators.dedup import spread_small_input
    from loggie_spark.operators.textstats import quality_score, token_count_ws

    docs = spread_small_input(_t(spark, sf_dir, "documents"))
    scored = docs.select(
        "doc_id",
        "source",
        F.sha2(F.col("text"), 256).alias("_digest"),
        token_count_ws(F.col("text")).alias("n_words"),
        F.round(quality_score(F.col("text")), 4).alias("q"),
    ).filter(F.col("q") >= 0.5)
    # min_by carries the kept row's stats THROUGH the dedup groupBy, so
    # there is no join-back at all: exactly two shuffles total (digest
    # dedup, then the tiny per-source rollup), and the shuffle rows are
    # (digest, 3 scalars) — never documents. A join-back would AQE-
    # broadcast at test SF but become a sort-merge join at 100 TB.
    kept = scored.groupBy("_digest").agg(
        F.min_by(F.struct("source", "n_words", "q"), F.col("doc_id")).alias("r")
    )
    return kept.groupBy(F.col("r.source").alias("source")).agg(
        F.count(F.lit(1)).alias("kept_docs"),
        F.sum("r.n_words").cast("long").alias("total_words"),
        F.round(F.avg("r.q"), 2).alias("avg_quality"),
    )


# ===========================================================================
# td_span_dedup — C4-style repeated-span removal with reconstruction
# ===========================================================================

_SPAN_K = 20


def _span_dedup_oracle(k: int = _SPAN_K) -> str:
    h = md5_60bit_sql("span")
    return f"""
    WITH w AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    spans AS (
      SELECT doc_id,
             unnest([CAST((i-1)/{k} AS INT)
                     for i in generate_series(1, len(w), {k})]) AS pos,
             unnest([array_to_string(list_slice(w, i, i+{k - 1}), ' ')
                     for i in generate_series(1, len(w), {k})]) AS span
      FROM w
    ),
    occ AS (SELECT doc_id, pos, span, {h} AS h FROM spans),
    keeper AS (
      SELECT h, min(struct_pack(doc_id := doc_id, pos := pos)) AS k
      FROM occ GROUP BY h
    ),
    kept AS (
      SELECT o.doc_id, o.pos, o.span FROM occ o JOIN keeper g
      ON o.h = g.h AND o.doc_id = g.k.doc_id AND o.pos = g.k.pos
    ),
    recon AS (
      SELECT doc_id, count(*) AS n_kept,
             md5(string_agg(span, ' ' ORDER BY pos)) AS clean_hash
      FROM kept GROUP BY doc_id
    )
    SELECT w.doc_id, CAST(ceil(len(w.w)/{k}.0) AS INT) AS n_spans,
           CAST(coalesce(r.n_kept, 0) AS INT) AS n_kept,
           coalesce(r.clean_hash, md5('')) AS clean_hash
    FROM w LEFT JOIN recon r USING (doc_id)
    """


@register("td_span_dedup", oracle=_span_dedup_oracle())
def td_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style span dedup (see operators/curation.py:span_dedup):
    corpus-global removal of repeated fixed-width word spans, keeping
    the first occurrence by (doc_id, pos) and rebuilding each document
    from its surviving spans. The dedup decision shuffles only
    (doc_id, pos, 60-bit md5 hash) scalars; the text is rebuilt by
    re-slicing the original word array after a single co-located join.
    DuckDB reproduces the md5-hash keeper choice bit-exactly."""
    from loggie_spark.operators.curation import span_dedup

    return span_dedup(_t(spark, sf_dir, "documents"), span_words=_SPAN_K)


# ===========================================================================
# td_vocab_topk / td_bigram_lm — corpus-level statistics operators
# ===========================================================================

_VOCAB_K = 50


@register(
    "td_vocab_topk",
    oracle=f"""
    WITH w AS (SELECT doc_id, unnest({_WORDS_SQL}) AS word FROM documents),
    perdoc AS (SELECT doc_id, word, count(*) AS cnt FROM w GROUP BY doc_id, word)
    SELECT word, CAST(sum(cnt) AS BIGINT) AS tf, CAST(count(*) AS BIGINT) AS df
    FROM perdoc GROUP BY word ORDER BY tf DESC, word LIMIT {_VOCAB_K}
    """,
)
def td_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary top-k (term + document frequency). The per-doc
    word counting happens IN-ROW (sorted run-length pass,
    operators/corpusstats.py:word_run_counts), so the global agg
    shuffles one (word, cnt) row per distinct word per doc and the
    top-k compiles to TakeOrdered, not a global sort."""
    from loggie_spark.operators.corpusstats import vocab_stats

    return vocab_stats(_t(spark, sf_dir, "documents"), top_k=_VOCAB_K)


_QUALITY_SQL = """
    CAST(round(CAST(CAST(
      0.4 * least(CAST(len(words) AS DOUBLE) / 100.0, 1.0)
        + 0.3 * (CASE WHEN len(words) > 0
                 THEN CAST(len(list_distinct(words)) AS DOUBLE) / len(words)
                 ELSE 0.0 END)
        + 0.3 * (1.0 - (CASE WHEN length(text) > 0
                 THEN CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
                      / length(text) ELSE 0.0 END))
      AS VARCHAR) AS DECIMAL(30,17)), 4) AS DOUBLE)
"""

_CURVE_GRID = "[0.0, 0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]"


@register(
    "td_quality_curve",
    oracle=f"""
    WITH s AS (
      SELECT {_QUALITY_SQL} AS q, CAST(len(words) AS BIGINT) AS n
      FROM (SELECT text, {_WORDS_SQL} AS words FROM documents)
    ),
    tot AS (SELECT count(*) AS nd, sum(n) AS nt FROM s),
    grid AS (SELECT unnest(CAST({_CURVE_GRID} AS DOUBLE[])) AS threshold),
    agg AS (
      SELECT g.threshold,
             CAST(count(*) FILTER (WHERE s.q >= g.threshold) AS BIGINT)
               AS docs_kept,
             CAST(coalesce(sum(s.n) FILTER (WHERE s.q >= g.threshold), 0)
               AS BIGINT) AS tokens_kept
      FROM grid g CROSS JOIN s GROUP BY g.threshold
    )
    SELECT threshold, docs_kept, tokens_kept,
           CAST(round(CAST(CAST(CAST(docs_kept AS DOUBLE) / nd AS VARCHAR)
                AS DECIMAL(30,17)), 4) AS DOUBLE) AS frac_docs,
           CAST(round(CAST(CAST(CAST(tokens_kept AS DOUBLE) / nt AS VARCHAR)
                AS DECIMAL(30,17)), 4) AS DOUBLE) AS frac_tokens
    FROM agg, tot
    """,
)
def td_quality_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-cutoff planning curve
    (operators/corpusstats.py:quality_threshold_curve): docs/tokens
    surviving each candidate threshold, from ONE narrow pass + ONE
    aggregation whose state is |grid|·2 conditional sums — the table a
    data team reads before freezing a filter cutoff."""
    from loggie_spark.operators.corpusstats import quality_threshold_curve

    return quality_threshold_curve(_t(spark, sf_dir, "documents"))


@register(
    "td_source_drift",
    oracle=f"""
    WITH wx AS (SELECT source, unnest({_WORDS_SQL}) AS word FROM documents),
    cnt AS (SELECT source, word, CAST(count(*) AS BIGINT) AS c
            FROM wx GROUP BY source, word),
    vocab AS (SELECT word, CAST(sum(c) AS BIGINT) AS tf FROM cnt
              GROUP BY word ORDER BY tf DESC, word LIMIT 100),
    nv AS (SELECT sum(tf) AS nv FROM vocab),
    pw AS (SELECT word, CAST(tf AS DOUBLE) / nv AS p FROM vocab, nv),
    ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens_v
           FROM cnt JOIN vocab USING (word) GROUP BY source),
    terms AS (
      SELECT g.source, g.n_tokens_v, g.word,
             ((CAST(coalesce(c.c, 0) AS DOUBLE) / g.n_tokens_v - g.p)
              * (CAST(coalesce(c.c, 0) AS DOUBLE) / g.n_tokens_v - g.p)
              / g.p) AS term
      FROM (SELECT ns.source, ns.n_tokens_v, pw.word, pw.p
            FROM ns CROSS JOIN pw) g
      LEFT JOIN cnt c ON c.source = g.source AND c.word = g.word
    )
    SELECT source, n_tokens_v,
           CAST(round(CAST(CAST(
             list_reduce(list(term ORDER BY word), (a, b) -> a + b)
             AS VARCHAR) AS DECIMAL(30,17)), 4) AS DOUBLE) AS chi2
    FROM terms GROUP BY source, n_tokens_v
    """,
)
def td_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source chi² token-distribution drift vs the corpus over the
    top-100 vocab (operators/corpusstats.py:source_token_drift) — the
    wrong-language/spam/template-storm monitor. Chi-squared instead of
    KL so no logarithm enters: every term and the word-ordered fold
    are IEEE-exact in both engines."""
    from loggie_spark.operators.corpusstats import source_token_drift

    return source_token_drift(_t(spark, sf_dir, "documents"), top_v=100)


@register(
    "td_bigram_lm",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    bg AS (
      SELECT doc_id,
             unnest([w[i] for i in generate_series(1, len(w)-1)]) AS w1,
             unnest([w[i+1] for i in generate_series(1, len(w)-1)]) AS w2
      FROM w WHERE len(w) >= 2
    ),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
    c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
    model AS (SELECT w1, w2, CAST(c12 AS DOUBLE)/c1 AS p FROM c12 JOIN c1 USING (w1)),
    scored AS (
      SELECT doc_id, CAST(count(*) AS INT) AS n_bigrams,
             round(list_reduce(list_sort(list(p)), (a,b) -> a+b)
                   / count(*), 4) AS lm_score
      FROM bg JOIN model USING (w1, w2) GROUP BY doc_id
    )
    SELECT d.doc_id, coalesce(s.n_bigrams, 0) AS n_bigrams, s.lm_score
    FROM documents d LEFT JOIN scored s USING (doc_id)
    """,
)
def td_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-trained bigram-LM fluency score per document (CCNet's LM
    quality filter without the external KenLM artifact; see
    operators/corpusstats.py:bigram_lm_scores). Mean conditional
    bigram probability, folded over the SORTED probability list so
    Spark and DuckDB sum in the same order — bit-identical doubles."""
    from loggie_spark.operators.corpusstats import bigram_lm_scores

    return bigram_lm_scores(_t(spark, sf_dir, "documents"))


_TARGET_SRCS = "('src0', 'src1', 'src2', 'src3')"


@register(
    "td_target_lm_score",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    bg AS (
      SELECT doc_id,
             unnest([w[i] for i in generate_series(1, len(w)-1)]) AS w1,
             unnest([w[i+1] for i in generate_series(1, len(w)-1)]) AS w2
      FROM w WHERE len(w) >= 2
    ),
    mw AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents
           WHERE source IN {_TARGET_SRCS}),
    mbg AS (
      SELECT unnest([w[i] for i in generate_series(1, len(w)-1)]) AS w1,
             unnest([w[i+1] for i in generate_series(1, len(w)-1)]) AS w2
      FROM mw WHERE len(w) >= 2
    ),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM mbg GROUP BY w1, w2),
    c1 AS (SELECT w1, count(*) AS c1 FROM mbg GROUP BY w1),
    model AS (
      SELECT w1, w2, CAST(c12 AS DOUBLE)/c1 AS p
      FROM c12 JOIN c1 USING (w1) WHERE c12 >= 2
    ),
    scored AS (
      SELECT doc_id, CAST(count(*) AS INT) AS n_bigrams,
             round(list_reduce(list_sort(list(p)), (a,b) -> a+b)
                   / count(*), 4) AS lm_score
      FROM bg JOIN model USING (w1, w2) GROUP BY doc_id
    )
    SELECT d.doc_id, coalesce(s.n_bigrams, 0) AS n_bigrams, s.lm_score
    FROM documents d LEFT JOIN scored s USING (doc_id)
    """,
)
def td_target_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's ACTUAL LM recipe (vs td_bigram_lm's self-trained form):
    the bigram model trains on a trusted target-domain slice (4 of the
    20 sources stand in for Wikipedia) with the min_count=2 vocab
    floor — exercising the floored bounded-broadcast path — and the
    WHOLE corpus scores against it; crawl docs whose bigrams never
    appear in the target domain score NULL, the out-of-domain signal
    CCNet buckets on."""
    from loggie_spark.operators.corpusstats import bigram_lm_scores

    docs = _t(spark, sf_dir, "documents")
    model = docs.filter(F.col("source").isin("src0", "src1", "src2", "src3"))
    return bigram_lm_scores(docs, min_count=2, model_docs=model)


# ===========================================================================
# td_token_window_dedup — span dedup in the TOKEN domain (no decode)
# ===========================================================================

_TOKWIN = 64


def _token_window_oracle(k: int = _TOKWIN) -> str:
    # documents.text is ASCII, so token == byte == char: window j of the
    # token array is substring(text, j*k+1, k) re-expressed as decimal
    # code points — reproduces the Spark-side hash input exactly.
    tokstr = (
        "array_to_string([CAST(unicode(c) AS VARCHAR) "
        "for c in string_split({w}, '')], ' ')"
    )
    h = md5_60bit_sql("win")
    return f"""
    WITH base AS (
      SELECT 'doc-' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS doc_id,
             text, length(text) AS n FROM documents
    ),
    occ AS (
      SELECT doc_id,
             unnest([CAST((i-1)/{k} AS INT)
                     for i in generate_series(1, n, {k})]) AS pos,
             unnest([{tokstr.format(w=f"substring(text, i, {k})")}
                     for i in generate_series(1, n, {k})]) AS win
      FROM base
    ),
    hashed AS (SELECT doc_id, pos, win, {h} AS h FROM occ),
    keeper AS (
      SELECT h, min(struct_pack(doc_id := doc_id, pos := pos)) AS k
      FROM hashed GROUP BY h
    ),
    kept AS (
      SELECT o.doc_id, o.pos, o.win FROM hashed o JOIN keeper g
      ON o.h = g.h AND o.doc_id = g.k.doc_id AND o.pos = g.k.pos
    ),
    recon AS (
      SELECT doc_id, count(*) AS n_kept,
             CAST(sum(len(string_split(win, ' '))) AS INT) AS kept_tok,
             md5(string_agg(win, ' ' ORDER BY pos)) AS clean_hash
      FROM kept GROUP BY doc_id
    )
    SELECT b.doc_id, CAST(ceil(b.n/{k}.0) AS INT) AS n_windows,
           CAST(coalesce(r.n_kept, 0) AS INT) AS n_kept,
           CAST(coalesce(r.kept_tok, 0) AS INT) AS kept_tok,
           coalesce(r.clean_hash, md5('')) AS clean_hash
    FROM base b LEFT JOIN recon r USING (doc_id)
    """


@register("td_token_window_dedup", oracle=_token_window_oracle())
def td_token_window_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window dedup directly over the pre-tokenized sequences table
    (doc_id, tokens:array<int32>, n_tok, source) — the token-payload
    twin of td_span_dedup, operating on token arrays without decoding
    to text (operators/dedup.py:token_window_dedup). The oracle
    re-derives the token windows from the source text (ASCII: token ==
    code point) and reproduces the 60-bit keeper decision exactly."""
    from loggie_spark.datagen import sequences_from_documents
    from loggie_spark.operators.dedup import token_window_dedup

    seq = sequences_from_documents(_t(spark, sf_dir, "documents"))
    return token_window_dedup(seq, window=_TOKWIN)


# ===========================================================================
# td_corpus_report — per-source corpus health report (exact percentiles)
# ===========================================================================


@register(
    "td_corpus_report",
    oracle=f"""
    WITH n AS (SELECT source, len({_WORDS_SQL}) AS _n FROM documents)
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(_n) AS BIGINT) AS total_words,
           round(avg(_n), 2) AS avg_words,
           CAST(quantile_disc(_n, 0.5) AS BIGINT) AS p50_words,
           CAST(quantile_disc(_n, 0.9) AS BIGINT) AS p90_words,
           CAST(quantile_disc(_n, 0.99) AS BIGINT) AS p99_words
    FROM n GROUP BY source
    """,
)
def td_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus dashboard (operators/corpusstats.py:
    corpus_report): counts, word totals, mean and exact p50/p90/p99
    length percentiles — percentile_disc on Spark, quantile_disc in
    DuckDB, value-identical by the discrete inverse-distribution
    definition (verified across boundary fractions)."""
    from loggie_spark.operators.corpusstats import corpus_report

    # exact=True pins the oracle-checkable percentile_disc path; the
    # operator DEFAULT is the bounded-memory t-digest plan.
    return corpus_report(_t(spark, sf_dir, "documents"), exact=True)


# ===========================================================================
# td_dedup_incremental — new shard vs existing corpus index
# ===========================================================================


def _incremental_oracle(n_hashes=8, shingle=3, bands=4) -> str:
    rows = n_hashes // bands
    gram = "array_to_string(words[i:i+{}], ' ')".format(shingle - 1)
    mod = 1 << 40
    sig_cols = ", ".join(
        "list_min([("
        "CAST('0x' || substring(md5(g), 1, 10) AS BIGINT) + "
        f"{i} * CAST('0x' || substring(md5(g), 11, 10) AS BIGINT)"
        f") % {mod} for g in grams]) AS s{i}"
        for i in range(n_hashes)
    )
    band_cols = ", ".join(
        "concat_ws(',', "
        + ", ".join(f"CAST(s{b * rows + j} AS VARCHAR)" for j in range(rows))
        + f") AS band{b}"
        for b in range(bands)
    )
    band_match = " OR ".join(f"l.band{b} = r.band{b}" for b in range(bands))
    return f"""
    WITH toks AS (
      SELECT doc_id, doc_id % 10 = 0 AS is_shard, text,
             {_WORDS_SQL} AS words FROM documents
    ), shingled AS (
      SELECT doc_id, is_shard, text,
             CASE WHEN len(words) >= {shingle}
                  THEN [{gram} for i in range(1, len(words) - {shingle - 2})]
                  ELSE [array_to_string(words, ' ')] END AS grams
      FROM toks
    ), banded AS (
      SELECT doc_id, is_shard, text, {sig_cols} FROM shingled
    ), banded2 AS (
      SELECT doc_id, is_shard, text, {band_cols} FROM banded
    ), exact AS (
      SELECT DISTINCT s.doc_id FROM toks s JOIN toks c
      ON s.is_shard AND NOT c.is_shard AND s.text = c.text
    ), near AS (
      SELECT DISTINCT l.doc_id FROM banded2 l JOIN banded2 r
      ON l.is_shard AND NOT r.is_shard AND ({band_match})
    )
    SELECT t.doc_id,
           e.doc_id IS NOT NULL AS dup_exact,
           n.doc_id IS NOT NULL AS dup_near,
           NOT (e.doc_id IS NOT NULL OR n.doc_id IS NOT NULL) AS keep
    FROM toks t
    LEFT JOIN exact e ON t.doc_id = e.doc_id
    LEFT JOIN near n ON t.doc_id = n.doc_id
    WHERE t.is_shard
    """


@register("td_dedup_incremental", oracle=_incremental_oracle())
def td_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental shard-vs-corpus dedup (dedup.dedup_incremental):
    the nightly growing-corpus shape — the new slice (doc_id % 10 == 0
    here) probes the accumulated corpus's digest and minhash-band
    indexes with semi-joins; history is never re-self-joined. Same
    band family as td_dedup_minhash_lsh, so dup_near == 'would have
    been an LSH candidate in the batch run'."""
    from loggie_spark.operators.dedup import dedup_incremental

    docs = _t(spark, sf_dir, "documents")
    shard = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    return dedup_incremental(shard, corpus)


# ===========================================================================
# td_curation_v3 — round-3 composite: decontaminate → span-dedup →
# gates on the CLEANED text → exact dedup → per-source stats
# ===========================================================================


def _curation_v3_oracle(k: int = _SPAN_K, n: int = _DECON_N) -> str:
    cw = "list_filter(string_split(lower(clean_text), ' '), w -> w <> '')"
    return f"""
    WITH w AS (SELECT doc_id, source, text, {_WORDS_SQL} AS w FROM documents),
    grams AS (
      SELECT doc_id, unnest(CASE WHEN len(w) >= {n}
        THEN [array_to_string(w[i:i+{n - 1}], ' ')
              for i in generate_series(1, len(w) - {n - 1})]
        ELSE [array_to_string(w, ' ')] END) AS gram
      FROM w
    ),
    bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0),
    hits AS (SELECT DISTINCT g.doc_id FROM grams g JOIN bench b USING (gram)),
    clean AS (SELECT * FROM w WHERE doc_id NOT IN (SELECT doc_id FROM hits)),
    occ AS (
      SELECT doc_id,
             unnest([CAST((i-1)/{k} AS INT)
                     for i in generate_series(1, len(w), {k})]) AS pos,
             unnest([array_to_string(list_slice(w, i, i+{k - 1}), ' ')
                     for i in generate_series(1, len(w), {k})]) AS span
      FROM clean
    ),
    keeper AS (
      SELECT span, min(struct_pack(doc_id := doc_id, pos := pos)) AS kk
      FROM occ GROUP BY span
    ),
    kept AS (
      SELECT g.kk.doc_id AS doc_id, g.kk.pos AS pos, o.span
      FROM keeper g JOIN occ o
      ON o.doc_id = g.kk.doc_id AND o.pos = g.kk.pos AND o.span = g.span
    ),
    recon AS (
      SELECT doc_id, string_agg(span, ' ' ORDER BY pos) AS clean_text
      FROM kept GROUP BY doc_id
    ),
    scored AS (
      SELECT c.doc_id, c.source, r.clean_text,
             len({cw}) AS n_words,
             round(0.4 * least(CAST(len({cw}) AS DOUBLE) / 100.0, 1.0)
                 + 0.3 * (CASE WHEN len({cw}) > 0
                          THEN CAST(len(list_distinct({cw})) AS DOUBLE)
                               / len({cw}) ELSE 0.0 END)
                 + 0.3 * (1.0 - (CASE WHEN length(clean_text) > 0
                          THEN CAST(len(regexp_extract_all(clean_text, '[^\\w\\s]')) AS DOUBLE)
                               / length(clean_text) ELSE 0.0 END)), 4) AS q,
             round(CASE WHEN len({cw}) > 0
                   THEN 1 - CAST(len(list_distinct({cw})) AS DOUBLE)
                        / len({cw}) ELSE 0 END, 4) AS rep
      FROM clean c JOIN recon r USING (doc_id)
    ),
    filtered AS (SELECT * FROM scored WHERE q >= 0.5 AND rep <= 0.3),
    keep2 AS (SELECT clean_text, min(doc_id) AS doc_id FROM filtered GROUP BY clean_text)
    SELECT f.source, COUNT(*) AS kept_docs,
           CAST(SUM(f.n_words) AS BIGINT) AS total_words,
           round(avg(f.q), 2) AS avg_quality
    FROM filtered f JOIN keep2 k2 ON f.doc_id = k2.doc_id
    GROUP BY f.source
    """


@register("td_curation_v3", oracle=_curation_v3_oracle())
def td_curation_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-3 nightly pass, ONE plan: benchmark decontamination
    (broadcast-gram anti-join) → C4-style span dedup with in-place
    reconstruction → quality + repetition gates ON THE CLEANED TEXT →
    exact dedup of the cleaned text → per-source stats. Certifies the
    round-3 operators compose without drift: the gates see the
    post-dedup documents, not the originals. Shuffle inventory: gram
    semi-join probe, span-hash keeper agg, kept-position fold, one
    corpus join to rebuild text, digest dedup, source rollup — every
    shuffled row is scalars or an int array; raw text rides only the
    rebuild join."""
    from loggie_spark.functions.hashing import md5_60bit
    from loggie_spark.operators.dedup import (
        _materialize,
        spread_small_input,
        tokenize,
        word_ngrams,
    )
    from loggie_spark.operators.textstats import (
        dup_word_fraction,
        quality_score,
        token_count_ws,
    )

    k = _SPAN_K
    docs = spread_small_input(_t(spark, sf_dir, "documents"))
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    grams = lambda df: df.select(  # noqa: E731
        "doc_id",
        F.explode(word_ngrams(tokenize(F.col("text")), _DECON_N)).alias("gram"),
    )
    hits = (
        grams(docs)
        .join(
            F.broadcast(grams(bench).select("gram").distinct()), "gram", "left_semi"
        )
        .select("doc_id")
        .distinct()
    )
    clean = docs.join(hits, "doc_id", "left_anti")

    words = tokenize(F.col("text"))
    n_spans = F.ceil(F.size(words) / F.lit(k)).cast("int")
    pos_seq = F.when(F.size(words) > 0, F.sequence(F.lit(0), n_spans - 1)).otherwise(
        F.array().cast("array<int>")
    )
    occ = clean.select(
        "doc_id", words.alias("_w"), F.explode(pos_seq).alias("pos")
    ).select(
        "doc_id",
        "pos",
        md5_60bit(
            F.array_join(F.slice("_w", F.col("pos") * k + 1, F.lit(k)), " ")
        ).alias("h"),
    )
    kept_pos = (
        occ.groupBy("h")
        .agg(F.min(F.struct("doc_id", "pos")).alias("kk"))
        .select(F.col("kk.doc_id").alias("doc_id"), F.col("kk.pos").alias("pos"))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("kp"))
    )
    rebuilt = clean.join(kept_pos, "doc_id")
    words2 = tokenize(F.col("text"))
    rebuilt = _materialize(
        rebuilt,
        {
            "clean_text": F.array_join(
                F.flatten(
                    F.transform(F.col("kp"), lambda j: F.slice(words2, j * k + 1, F.lit(k)))
                ),
                " ",
            )
        },
    )
    t = F.col("clean_text")
    scored = rebuilt.select(
        "doc_id",
        "source",
        F.sha2(t, 256).alias("_digest"),
        token_count_ws(t).alias("n_words"),
        F.round(quality_score(t), 4).alias("q"),
        F.round(dup_word_fraction(t), 4).alias("rep"),
    ).filter((F.col("q") >= 0.5) & (F.col("rep") <= 0.3))
    kept = scored.groupBy("_digest").agg(
        F.min_by(F.struct("source", "n_words", "q"), F.col("doc_id")).alias("r")
    )
    return kept.groupBy(F.col("r.source").alias("source")).agg(
        F.count(F.lit(1)).alias("kept_docs"),
        F.sum("r.n_words").cast("long").alias("total_words"),
        F.round(F.avg("r.q"), 2).alias("avg_quality"),
    )


# ===========================================================================
# td_epoch_order — deterministic per-epoch training order
# ===========================================================================

_EPOCH = 3
_EPOCH_SHARDS = 16


@register(
    "td_epoch_order",
    oracle=f"""
    WITH k AS (
      SELECT doc_id,
             {md5_60bit_sql(f"'{_EPOCH}|' || CAST(doc_id AS VARCHAR)")} AS _k
      FROM documents
    )
    SELECT doc_id,
           CAST(_k % {_EPOCH_SHARDS} AS INT) AS shard,
           CAST(row_number() OVER (PARTITION BY _k % {_EPOCH_SHARDS}
                                   ORDER BY _k, doc_id) - 1 AS INT) AS pos
    FROM k
    """,
)
def td_epoch_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible epoch-N dataloader order (operators/sampling.py:
    epoch_order): shard by md5(epoch|id), rank within shard — one
    scalar shuffle + in-partition sort, never a global corpus sort.
    DuckDB reproduces the exact permutation."""
    from loggie_spark.operators.sampling import epoch_order

    return epoch_order(
        _t(spark, sf_dir, "documents"), epoch=_EPOCH, n_shards=_EPOCH_SHARDS
    )


# ===========================================================================
# td_cluster_survivors — quality-aware survivor per near-dup cluster
# ===========================================================================


@register(
    "td_cluster_survivors",
    oracle=f"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, list_distinct({_WORDS_SQL}) AS wset,
             array_to_string({_WORDS_SQL}[1:2], ' ') AS block
      FROM documents
    ),
    pairs AS (
      SELECT l.doc_id AS id_a, r.doc_id AS id_b
      FROM toks l JOIN toks r ON l.block = r.block AND l.doc_id < r.doc_id
      WHERE round(CAST(len(list_intersect(l.wset, r.wset)) AS DOUBLE) /
                  len(list_distinct(l.wset || r.wset)), 4) >= 0.5
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(node, lab) AS (
      SELECT a, a FROM edges
      UNION
      SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.lab
    ),
    clusters AS (
      SELECT node AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY node
    ),
    q AS (
      SELECT doc_id,
             round(0.4 * least(CAST(len({_WORDS_SQL}) AS DOUBLE) / 100.0, 1.0)
                 + 0.3 * (CASE WHEN len({_WORDS_SQL}) > 0
                          THEN CAST(len(list_distinct({_WORDS_SQL})) AS DOUBLE)
                               / len({_WORDS_SQL}) ELSE 0.0 END)
                 + 0.3 * (1.0 - (CASE WHEN length(text) > 0
                          THEN CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
                               / length(text) ELSE 0.0 END)), 4) AS q
      FROM documents
    )
    SELECT cluster_id, survivor_id, cluster_size FROM (
      SELECT c.cluster_id, c.doc_id AS survivor_id,
             CAST(count(*) OVER (PARTITION BY c.cluster_id) AS BIGINT) AS cluster_size,
             row_number() OVER (PARTITION BY c.cluster_id
                                ORDER BY q.q DESC, c.doc_id) AS rn
      FROM clusters c JOIN q USING (doc_id)
    ) WHERE rn = 1
    """,
)
def td_cluster_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup survivor per near-dup cluster
    (dedup.cluster_survivors): the highest-quality_score member wins,
    min-id on ties — composed on the same pairs→components flow as
    td_dup_clusters, with the same recursive-CTE oracle."""
    from loggie_spark.operators.dedup import (
        cluster_survivors,
        dup_clusters,
        ngram_jaccard_pairs,
    )
    from loggie_spark.operators.textstats import quality_score

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, block_words=2, threshold=0.5)
    clusters = dup_clusters(pairs)
    scores = docs.select(
        "doc_id", F.round(quality_score(F.col("text")), 4).alias("q")
    )
    return cluster_survivors(clusters, scores)


# ===========================================================================
# th_sessionize — gap-based sessions over the events table
# ===========================================================================

_SESSION_GAP = 1800


@register(
    "th_sessionize",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > {_SESSION_GAP}
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    idx AS (
      SELECT user_id, ts,
             CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) - 1 AS INT) AS session_idx
      FROM flagged
    )
    SELECT user_id, session_idx,
           CAST(count(*) AS BIGINT) AS n_events,
           min(ts) AS start_ts,
           max(ts) AS end_ts,
           CAST(floor(epoch(max(ts))) - floor(epoch(min(ts))) AS BIGINT) AS duration_sec
    FROM idx GROUP BY user_id, session_idx
    """,
)
def th_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the events table
    (operators/sessionize.py): one hash(user) shuffle with
    in-partition sort carries the boundary flags, the cumulative
    session index AND the rollup — Catalyst reuses the exchange across
    the windows and the final aggregate."""
    from loggie_spark.operators.sessionize import sessionize

    return sessionize(_t(spark, sf_dir, "events"), gap_sec=_SESSION_GAP)


# ===========================================================================
# td_tokenize_ids — text → token ids against the corpus vocab
# ===========================================================================

_VOCAB_V = 25


@register(
    "td_tokenize_ids",
    oracle=f"""
    WITH allw AS (
      SELECT doc_id, unnest({_WORDS_SQL}) AS word FROM documents
    ),
    vocab AS (
      SELECT word, CAST(row_number() OVER (ORDER BY count(*) DESC, word) AS INT) AS id
      FROM allw GROUP BY word
      ORDER BY count(*) DESC, word LIMIT {_VOCAB_V}
    ),
    pos_words AS (
      SELECT doc_id,
             unnest(generate_series(0, len({_WORDS_SQL}) - 1)) AS pos,
             unnest({_WORDS_SQL}) AS word
      FROM documents WHERE len({_WORDS_SQL}) > 0
    ),
    encoded AS (
      SELECT p.doc_id, p.pos, coalesce(v.id, -1) AS tid
      FROM pos_words p LEFT JOIN vocab v USING (word)
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(count(*) AS INT) AS n_tok,
             CAST(sum(CASE WHEN tid = -1 THEN 1 ELSE 0 END) AS INT) AS n_oov,
             md5(string_agg(CAST(tid AS VARCHAR), ' ' ORDER BY pos)) AS ids_hash
      FROM encoded GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(p.n_tok, 0) AS n_tok,
           coalesce(p.n_oov, 0) AS n_oov,
           coalesce(p.ids_hash, md5('')) AS ids_hash
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
)
def td_tokenize_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text → token-id encoding against the corpus's own top-V vocab
    (operators/corpusstats.py:tokenize_to_ids): broadcast vocab
    lookup, OOV = -1, per-doc id-sequence hash. Closes the loop from
    curated text back to the pre-tokenized table shape the engine's
    token-domain operators consume."""
    from loggie_spark.operators.corpusstats import tokenize_to_ids

    return tokenize_to_ids(_t(spark, sf_dir, "documents"), vocab_size=_VOCAB_V)


# ===========================================================================
# td_kmeans_refine — Lloyd-refined IVF quantizer assignment
# ===========================================================================


def _kmeans_cos_sql(lv: str, rv: str) -> str:
    return f"""round(
      list_sum([CAST({lv}[i] AS DOUBLE) * CAST({rv}[i] AS DOUBLE)
                for i in generate_series(1, len({lv}))]) /
      (sqrt(list_sum([CAST({lv}[i] AS DOUBLE) * CAST({lv}[i] AS DOUBLE)
                for i in generate_series(1, len({lv}))])) *
       sqrt(list_sum([CAST({rv}[i] AS DOUBLE) * CAST({rv}[i] AS DOUBLE)
                for i in generate_series(1, len({rv}))]))), 4)"""


def _kmeans_ctes(n_cells=8, dim=64) -> str:
    """CTE chain ending in ``afin(vec_id, cell, cos)`` — the one-Lloyd-
    iteration assignment shared by the kmeans and semdedup oracles."""
    cos = _kmeans_cos_sql

    h = md5_60bit_sql("CAST(vec_id AS VARCHAR)")
    return f"""
    c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY {h}) AS INTEGER) - 1 AS cid,
             embedding AS cv
      FROM embeddings ORDER BY {h} LIMIT {n_cells}
    ),
    a0 AS (
      SELECT vec_id, embedding, cid FROM (
        SELECT e.vec_id, e.embedding, t.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {cos("e.embedding", "t.cv")} DESC, t.cid DESC) AS rn
        FROM embeddings e CROSS JOIN c0 t
      ) z0 WHERE rn = 1
    ),
    mem AS (
      SELECT cid, vec_id,
             unnest(generate_series(1, {dim})) AS p,
             unnest(embedding) AS val
      FROM a0
    ),
    sums AS (
      SELECT cid, p,
             list_reduce(list(CAST(val AS DOUBLE) ORDER BY vec_id),
                         (x, y) -> x + y) AS s,
             count(*) AS n
      FROM mem GROUP BY cid, p
    ),
    c1 AS (
      SELECT cid, list(s / n ORDER BY p) AS cv FROM sums GROUP BY cid
    ),
    c1f AS (
      SELECT c0.cid, coalesce(c1.cv, CAST(c0.cv AS DOUBLE[])) AS cv
      FROM c0 LEFT JOIN c1 USING (cid)
    ),
    afin AS (
      SELECT vec_id, CAST(cell AS INTEGER) AS cell, cos FROM (
        SELECT e.vec_id, t.cid AS cell, {cos("e.embedding", "t.cv")} AS cos,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {cos("e.embedding", "t.cv")} DESC, t.cid DESC) AS rn
        FROM embeddings e CROSS JOIN c1f t
      ) z WHERE rn = 1
    )"""


def _kmeans_oracle(n_cells=8, dim=64) -> str:
    return f"WITH {_kmeans_ctes(n_cells, dim)} SELECT vec_id, cell, cos FROM afin"


def _semdedup_oracle(n_cells=8, threshold=0.4, dim=64) -> str:
    pc = _kmeans_cos_sql("l.embedding", "r.embedding")
    return f"""
    WITH RECURSIVE {_kmeans_ctes(n_cells, dim)},
    av AS (
      SELECT a.vec_id, a.cell, e.embedding
      FROM afin a JOIN embeddings e USING (vec_id)
    ),
    p AS (
      SELECT l.vec_id AS id_a, r.vec_id AS id_b
      FROM av l JOIN av r ON l.cell = r.cell AND l.vec_id < r.vec_id
      WHERE {pc} >= {threshold}
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p
    ),
    reach(node, lab) AS (
      SELECT a, a FROM edges
      UNION
      SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.lab
    ),
    cl AS (SELECT node, MIN(lab) AS lab FROM reach GROUP BY node)
    SELECT a.vec_id, a.cell, a.cos,
           coalesce(cl.lab, a.vec_id) AS cluster_id,
           (row_number() OVER (PARTITION BY coalesce(cl.lab, a.vec_id)
              ORDER BY a.cos ASC, a.vec_id ASC) = 1) AS keep
    FROM afin a LEFT JOIN cl ON cl.node = a.vec_id
    """


_HTML_WRAP_PRE = (
    '<html><head><style>p{color:red}</style>'
    '<script type="text/javascript">var x = 1 < 2;</script></head>'
    '<body><!-- nav\nbar --><p class="lead">'
)
_HTML_WRAP_POST = (
    '</p><div id="f">&amp;co &lt;raw&gt; &quot;q&#39;s&quot;&nbsp;end</div>'
    "</body></html>"
)


@register(
    "td_html_strip",
    oracle=f"""
    SELECT doc_id,
           trim(regexp_replace(
             replace(replace(replace(replace(replace(replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       '{_HTML_WRAP_PRE.replace("'", "''")}' || text ||
                       '{_HTML_WRAP_POST.replace("'", "''")}',
                       '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                     '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                   '(?s)<!--.*?-->', ' ', 'g'),
                 '(?s)<[^>]+>', ' ', 'g'),
               '&nbsp;', ' '), '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
               '&quot;', '"'), '&#39;', ''''),
             '\\s+', ' ', 'g')) AS clean
    FROM documents
    """,
)
def td_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML→text extraction (operators/curation.py:html_to_text — the
    CommonCrawl first step): script/style subtrees dropped, tags
    stripped, dominant entities decoded, whitespace collapsed — all
    regexp_replace in codegen, RE2-compatible so the oracle runs the
    IDENTICAL patterns. Input synthesizes a page around each doc's
    text (head with script+style, comment, entity-laden footer)."""
    from loggie_spark.operators.curation import html_to_text
    from loggie_spark.operators.dedup import spread_small_input

    docs = spread_small_input(_t(spark, sf_dir, "documents"))
    page = F.concat(F.lit(_HTML_WRAP_PRE), F.col("text"), F.lit(_HTML_WRAP_POST))
    return docs.select("doc_id", html_to_text(page).alias("clean"))


@register(
    "td_image_dup_pairs",
    oracle="""
    WITH hsh AS (
      SELECT CAST(doc_id AS VARCHAR) AS media_id,
             CAST('0x' || substring(md5('img-' || CAST(doc_id % 50 AS VARCHAR)),
                  1, 15) AS BIGINT) AS dh
      FROM documents
    )
    SELECT a.media_id AS id_a, b.media_id AS id_b,
           CAST(bit_count(xor(a.dh, b.dh)) AS INT) AS hamming
    FROM hsh a JOIN hsh b ON a.media_id < b.media_id
    WHERE bit_count(xor(a.dh, b.dh)) <= 3
    """,
)
def td_image_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pairs: perceptual dHash (multimodal.image_dhash)
    into the SAME banded hamming join text simhash uses
    (dedup.fingerprint_hamming_pairs). These synthetic payloads are
    non-PPM so they take the md5 fallback hash — SQL-replicable, and
    grouped (doc_id % 50) so exact-dup groups yield hamming-0 pairs;
    the oracle verifies against ALL-pairs xor+bit_count, certifying
    the banded search loses nothing at hamming ≤ bands-1. The REAL
    integer-PPM dHash path (brightness-invariant collision, noise
    separation) is pytest-certified in test_image_dhash_real_ppm."""
    from loggie_spark.operators.dedup import fingerprint_hamming_pairs
    from loggie_spark.operators.multimodal import image_dhash

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.encode(
            F.concat(F.lit("img-"), (F.col("doc_id") % 50).cast("string")), "utf-8"
        ).alias("payload"),
    )
    return fingerprint_hamming_pairs(
        image_dhash(media), fp_col="dhash", id_col="media_id", max_hamming=3
    )


@register(
    "td_winnow_pairs",
    oracle=f"""
    WITH H AS (
      SELECT doc_id,
             CASE WHEN length(text) >= 12 THEN
               [{md5_60bit_sql("substring(text, i, 12)")}
                for i in generate_series(1, length(text) - 11)]
             ELSE [] END AS h
      FROM documents
    ),
    fp AS (
      SELECT doc_id, unnest(list_distinct(
        CASE WHEN len(h) = 0 THEN []
             WHEN len(h) < 8 THEN [list_min(h)]
             ELSE [list_min(h[j:j+7]) for j in generate_series(1, len(h) - 7)]
        END)) AS f
      FROM H
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id HAVING count(*) >= 5
    """,
)
def td_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) copy-detection pairs
    (operators/dedup.py:winnow_pairs): k=12-char-gram md5 hashes,
    window w=8 minima, docs sharing ≥5 winnowed fingerprints. Catches
    a long verbatim passage inside an otherwise-different document —
    the axis minhash/simhash (whole-doc similarity) miss."""
    from loggie_spark.operators.dedup import winnow_pairs

    return winnow_pairs(_t(spark, sf_dir, "documents"))


@register("td_semdedup", oracle=_semdedup_oracle())
def td_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/dedup.py:semdedup): k-means cells scope the
    within-cluster cosine pair search; threshold pairs group
    transitively; each group keeps its least-centroid-similar member.
    Threshold 0.4 (not the paper's ~0.95) because the synthetic
    embeddings carry no true semantic dups — same calibration note as
    td_embed_dup_lsh. The oracle replays the full chain: the shared
    Lloyd-assignment CTEs, an exact within-cell pair join, a recursive
    transitive closure, and the (cos, id) survivor window."""
    from loggie_spark.operators.dedup import semdedup, spread_small_input

    return semdedup(
        spread_small_input(_t(spark, sf_dir, "embeddings")),
        n_cells=8,
        threshold=0.4,
        iters=1,
    )


def _standing_quantizer(spark, sf_dir: str, tag: str, train) -> list:
    """Load a persisted quantizer for this (tag, sf) — training it
    first if absent. This is the nightly production shape: the corpus
    is scanned for centroids ONCE per standing index, and every later
    query/shard pays only the few-KB (cell, centroid) parquet read.
    Scratch lives under the repo (gitignored); the path keys on the sf
    dir so scale factors never share a quantizer."""
    import os

    from loggie_spark.operators.similarity import load_centroids, save_centroids

    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    # cache-bust on data change WITHOUT scanning it: the path keys on
    # the source parquet's (size, mtime) — regenerated testdata (or a
    # different corpus behind the same sf basename) trains fresh
    # centroids instead of silently serving stale ones that the inline
    # oracle (which always re-derives) would diverge from
    src = os.path.join(sf_dir, "embeddings.parquet")
    try:
        st = os.stat(src)
        fp = f"{st.st_size}_{int(st.st_mtime)}"
    except OSError:
        fp = "nofp"
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".scratch",
        f"{tag}_{sf_tag}_{fp}",
    )
    try:
        return load_centroids(spark, path)
    except Exception:
        cents = train()
        save_centroids(spark, cents, path)
        return cents


@register("td_sim_topk_ivf_standing", oracle=_ivf_oracle())
def td_sim_topk_ivf_standing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN against a STANDING quantizer
    (similarity.py:save_centroids/load_centroids + ivf_topk
    ``centroids=``): the production nightly path — train the coarse
    quantizer once into a persisted (cell, centroid) table, then every
    query (and every new shard) loads it and runs assignment + probe
    only, never rescanning the corpus for centroids. The hash-seeded
    quantizer is deterministic, so results are bit-identical to
    td_sim_topk_ivf and the oracle is shared."""
    from loggie_spark.operators.similarity import ivf_centroids, ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    cents = _standing_quantizer(
        spark, sf_dir, "ivf_quantizer", lambda: ivf_centroids(emb, 8)
    )
    return ivf_topk(
        emb.filter(F.col("vec_id") < 20), emb, k=3, n_cells=8, nprobe=2,
        centroids=cents,
    )


@register("td_semdedup_standing", oracle=_semdedup_oracle())
def td_semdedup_standing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup against a STANDING k-means quantizer (semdedup
    ``centroids=`` + ``iters=0``): the incremental nightly shape — the
    Lloyd pass runs once when the index is built; each later shard is
    pure assignment + within-cell dedup. Training (kmeans_refine,
    iters=1 off the hash-seeded init) is engine-deterministic, so the
    persisted centroids equal the ones td_semdedup derives inline and
    the oracle is shared."""
    from loggie_spark.operators.dedup import semdedup, spread_small_input
    from loggie_spark.operators.similarity import kmeans_refine

    emb = spread_small_input(_t(spark, sf_dir, "embeddings"))
    cents = _standing_quantizer(
        spark,
        sf_dir,
        "semdedup_quantizer",
        lambda: kmeans_refine(emb, n_cells=8, iters=1)[1],
    )
    return semdedup(emb, n_cells=8, threshold=0.4, iters=0, centroids=cents)


@register("td_kmeans_refine", oracle=_kmeans_oracle())
def td_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration over the hash-seeded IVF quantizer
    (operators/similarity.py:kmeans_refine): engine-deterministic
    centroid means (members folded in vec_id order) reproduced
    bit-exactly by DuckDB's ordered list_reduce."""
    from loggie_spark.operators.similarity import kmeans_refine

    assigned, _ = kmeans_refine(_t(spark, sf_dir, "embeddings"), n_cells=8, iters=1)
    return assigned


# ===========================================================================
# td_group_sample — deterministic k-per-group eyeball sample
# ===========================================================================


@register(
    "td_group_sample",
    oracle=f"""
    SELECT source, doc_id, rank FROM (
      SELECT source, doc_id,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY {md5_60bit_sql("CAST(doc_id AS VARCHAR)")}, doc_id)
               AS INT) AS rank
      FROM documents
    ) t WHERE rank <= 5
    """,
)
def td_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-per-source sample (operators/sampling.py:
    group_sample): smallest md5(id) per group — reproducible across
    reruns and engines, no rand()."""
    from loggie_spark.operators.sampling import group_sample

    return group_sample(_t(spark, sf_dir, "documents"), k=5)


# ===========================================================================
# th_heavy_hitters — per-type top-k users by event count
# ===========================================================================


@register(
    "th_heavy_hitters",
    oracle="""
    SELECT event_type, user_id, n, rnk FROM (
      SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS n,
             CAST(row_number() OVER (PARTITION BY event_type
               ORDER BY count(*) DESC, user_id) AS INT) AS rnk
      FROM events GROUP BY event_type, user_id
    ) t WHERE rnk <= 5
    """,
)
def th_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter identification: top-5 users by event count per
    event type — the query that FINDS the skewed keys the pipeline's
    salted writes defuse. Count aggregation first (map-side combined,
    shuffles (type, user, count) scalars), then a rank window over the
    group-count frame — cardinality |types × users|, a fraction of the
    event stream; never a sort of raw events."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("n").desc(), F.col("user_id")
    )
    return counts.withColumn(
        "rnk", F.row_number().over(w).cast("int")
    ).filter(F.col("rnk") <= 5)


# ===========================================================================
# td_url_filter — domain extraction + blocklist gating
# ===========================================================================

_URL_BLOCK = ["bad7.example.com", "bad13.example.com"]


@register(
    "td_url_filter",
    oracle=f"""
    WITH synth AS (
      SELECT event_id AS doc_id,
             'visit http://site' || CAST(user_id % 20 AS VARCHAR)
               || '.example.com/p/' || CAST(event_id % 7 AS VARCHAR)
               || ' and ' ||
             CASE WHEN event_id % 7 = 0
                  THEN 'https://bad' || CAST(CASE WHEN event_id % 2 = 0
                       THEN 7 ELSE 13 END AS VARCHAR) || '.example.com/x'
                  ELSE 'plain text no link' END AS text
      FROM events
    ),
    ex AS (
      SELECT doc_id, text,
             list_sort(list_distinct(
               regexp_extract_all(text, 'https?://([A-Za-z0-9.-]+)(/[^\\s]*)?', 1))) AS domains,
             len(regexp_extract_all(text, 'https?://([A-Za-z0-9.-]+)(/[^\\s]*)?', 0)) AS n_urls
      FROM synth
    )
    SELECT doc_id, CAST(n_urls AS INT) AS n_urls,
           array_to_string(domains, ',') AS domains,
           len(list_intersect(domains,
               {_URL_BLOCK!r})) > 0 AS blocked
    FROM ex
    """,
)
def td_url_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain extraction + blocklist gating (operators/curation.py:
    domain_filter) over URL-bearing text synthesized from events (the
    same fixture pattern the pl_* parse queries use). One
    regexp_extract_all per row + an in-row literal-array overlap — no
    join, no Python."""
    from loggie_spark.operators.curation import domain_filter

    ev = _t(spark, sf_dir, "events")
    bad = (
        F.when(F.col("event_id") % 2 == 0, F.lit("7")).otherwise(F.lit("13"))
    )
    synth = ev.select(
        F.col("event_id").alias("doc_id"),
        F.concat(
            F.lit("visit http://site"),
            (F.col("user_id") % 20).cast("string"),
            F.lit(".example.com/p/"),
            (F.col("event_id") % 7).cast("string"),
            F.lit(" and "),
            F.when(
                F.col("event_id") % 7 == 0,
                F.concat(F.lit("https://bad"), bad, F.lit(".example.com/x")),
            ).otherwise(F.lit("plain text no link")),
        ).alias("text"),
    )
    return domain_filter(synth, _URL_BLOCK).withColumn(
        "domains", F.array_join("domains", ",")
    )


# ===========================================================================
# td_containment — overlap-coefficient (near-subset) duplicate pairs
# ===========================================================================


@register(
    "td_containment",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, list_distinct({_WORDS_SQL}) AS wset,
             array_to_string({_WORDS_SQL}[1:2], ' ') AS block
      FROM documents
    )
    SELECT l.doc_id AS id_a, r.doc_id AS id_b,
           round(CAST(len(list_intersect(l.wset, r.wset)) AS DOUBLE) /
                 least(len(l.wset), len(r.wset)), 4) AS overlap
    FROM toks l JOIN toks r ON l.block = r.block AND l.doc_id < r.doc_id
    WHERE round(CAST(len(list_intersect(l.wset, r.wset)) AS DOUBLE) /
                least(len(l.wset), len(r.wset)), 4) >= 0.8
    """,
)
def td_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlap-coefficient near-subset pairs (dedup.containment_pairs):
    |A∩B| / min(|A|,|B|) catches a short doc quoted inside a long one
    (overlap 1.0) that Jaccard scores near zero."""
    from loggie_spark.operators.dedup import containment_pairs

    return containment_pairs(
        _t(spark, sf_dir, "documents"), block_words=2, threshold=0.8
    )



# ===========================================================================
# Round-4 additions: CCNet buckets, TF-IDF keywords, n-gram novelty,
# conversion funnel, parse dead-letter routing
# ===========================================================================

_BIGRAM_CTES = f"""
    w AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    bg AS (
      SELECT doc_id,
             unnest([w[i] for i in generate_series(1, len(w)-1)]) AS w1,
             unnest([w[i+1] for i in generate_series(1, len(w)-1)]) AS w2
      FROM w WHERE len(w) >= 2
    ),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
    c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
    model AS (SELECT w1, w2, CAST(c12 AS DOUBLE)/c1 AS p
              FROM c12 JOIN c1 USING (w1)),
    lm AS (
      SELECT doc_id,
             round(list_reduce(list_sort(list(p)), (a,b) -> a+b)
                   / count(*), 4) AS lm_score
      FROM bg JOIN model USING (w1, w2) GROUP BY doc_id
    )"""


@register(
    "td_ccnet_buckets",
    oracle=f"""
    WITH {_BIGRAM_CTES},
    scored AS (
      SELECT d.doc_id, d.source, coalesce(s.lm_score, -1) AS sc
      FROM documents d LEFT JOIN lm s USING (doc_id)
    ),
    ranked AS (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
               ORDER BY sc DESC, doc_id) AS r,
             count(*) OVER (PARTITION BY source) AS n
      FROM scored
    )
    SELECT doc_id, source,
           CASE WHEN r*3 <= n THEN 'head'
                WHEN r*3 <= n*2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM ranked
    """,
)
def td_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail quality terciles per source, ranked by
    the self-trained bigram-LM fluency score (operators/
    corpusstats.py:ccnet_buckets). Bucket edges are integer rank
    arithmetic (r*3 <= n), not float quantiles — deterministic and
    engine-agnostic; DuckDB reproduces rank and bucket exactly."""
    from loggie_spark.operators.corpusstats import ccnet_buckets

    return ccnet_buckets(_t(spark, sf_dir, "documents"))


@register(
    "td_idf_keywords",
    oracle=f"""
    WITH w AS (SELECT doc_id, unnest({_WORDS_SQL}) AS word FROM documents),
    tf AS (SELECT doc_id, word, count(*) AS cnt FROM w GROUP BY doc_id, word),
    dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
    ranked AS (
      SELECT doc_id, word, CAST(cnt AS DOUBLE)/df AS sc,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY CAST(cnt AS DOUBLE)/df DESC, word) AS rank
      FROM tf JOIN dfreq USING (word)
    )
    SELECT doc_id, CAST(rank AS INT) AS rank, word,
           round(CAST(CAST(sc AS VARCHAR) AS DECIMAL(30,17)), 4) AS score
    FROM ranked WHERE rank <= 3
    """,
)
def td_idf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF keywords (operators/
    corpusstats.py:tfidf_keywords): rational tf/df score (no log —
    same ranking, bit-reproducible); uncapped df table joins hash-wise
    (no forced broadcast — see td_idf_keywords_capped for the bounded
    broadcast path); per-doc window top-k. Oracle rounds through the
    decimal-cast spelling to reproduce Spark's shortest-repr HALF_UP
    round."""
    from loggie_spark.operators.corpusstats import tfidf_keywords

    return tfidf_keywords(_t(spark, sf_dir, "documents"), k=3)


@register(
    "td_ngram_novelty",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    grams AS (
      SELECT doc_id, unnest(list_distinct(CASE WHEN len(w) >= 3
        THEN [array_to_string(w[i:i+2], ' ')
              for i in generate_series(1, len(w) - 2)]
        ELSE [array_to_string(w, ' ')] END)) AS gram
      FROM w
    ),
    hashed AS (SELECT doc_id, {md5_60bit_sql("gram")} AS h FROM grams),
    freq AS (SELECT h, count(*) AS docs FROM hashed GROUP BY h)
    SELECT doc_id, CAST(count(*) AS INT) AS n_grams,
           round(CAST(CAST(
             sum(CASE WHEN docs = 1 THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE) AS VARCHAR) AS DECIMAL(30,17)), 4
           ) AS novelty
    FROM hashed JOIN freq USING (h) GROUP BY doc_id
    """,
)
def td_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-global 3-gram novelty per document (operators/
    corpusstats.py:ngram_novelty): the fraction of a doc's distinct
    word trigrams that occur in no other document. Grams hash to
    60-bit integers in-row (md5 family), so both wide ops carry
    scalars and DuckDB reproduces the hash — and any collision —
    exactly."""
    from loggie_spark.operators.corpusstats import ngram_novelty

    return ngram_novelty(_t(spark, sf_dir, "documents"), n=3)


@register(
    "th_funnel",
    oracle="""
    WITH s1 AS (
      SELECT user_id, min(ts) AS t FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY e.user_id
    )
    SELECT 1 AS stage, 'view' AS event_type, CAST(count(*) AS BIGINT) AS users FROM s1
    UNION ALL
    SELECT 2, 'click', CAST(count(*) AS BIGINT) FROM s2
    UNION ALL
    SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM s3
    """,
)
def th_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view -> click -> purchase with
    first-touch semantics (operators/sessionize.py:funnel_counts):
    stage i+1 counts only events strictly after the user's earliest
    qualifying stage-i event. All stage joins/aggs share the
    hash(user) partitioning."""
    from loggie_spark.operators.sessionize import funnel_counts

    return funnel_counts(
        _t(spark, sf_dir, "events"), ["view", "click", "purchase"]
    )


@register(
    "pl_parse_dlq",
    oracle="""
    WITH parsed AS (
      SELECT event_id,
             CASE WHEN event_id % 5 = 0 THEN NULL
                  WHEN event_type = 'error' THEN '500'
                  WHEN event_type = 'purchase' THEN '404'
                  ELSE '200' END AS status
      FROM events
    ),
    fanned AS (
      SELECT 'kafka' AS sink, 'acc-' || status AS route_key
      FROM parsed WHERE status IS NOT NULL
      UNION ALL
      SELECT 'dlq' AS sink, 'unparsed' AS route_key
      FROM parsed WHERE status IS NULL
    )
    SELECT sink, route_key, CAST(count(*) AS BIGINT) AS cnt
    FROM fanned GROUP BY sink, route_key
    """,
)
def pl_parse_dlq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter routing of parse failures: rows whose access-log
    regex does not match carry the default error policy (the rest of
    the program is skipped, the row forwards as-is), and the sink
    selectors split the stream — parsed rows fan out to kafka by
    status, unparsed rows route to the 'dlq' sink. The production
    contract for untrusted input: a bad line never kills the job and
    never silently disappears. Every 5th row is corrupted (no
    bracketed time / quoted url, so the regex cannot match)."""
    from loggie_spark.sinks.router import SinkSpec, explode_to_sinks

    ev = _synth_access_line(_t(spark, sf_dir, "events"))
    ev = ev.withColumn(
        "body",
        F.when(
            F.col("event_id") % 5 == 0,
            F.concat(F.lit("corrupt payload id="), F.col("event_id").cast("string")),
        ).otherwise(F.col("body")),
    )
    program = [
        {"action": "regex(body)", "pattern": ACCESS_PATTERN},
        {"action": "add(topic, parsed)"},
    ]
    out = apply_program(ev, program)
    sinks = [
        SinkSpec("kafka", "acc-${status}", selector="exist(topic)"),
        SinkSpec("dlq", "unparsed", selector="NOT exist(topic)"),
    ]
    routed = explode_to_sinks(out, sinks)
    return routed.groupBy("sink", "route_key").agg(
        F.count(F.lit(1)).alias("cnt")
    )



_DSIR_CTES = f"""
    w AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    bg AS (
      SELECT doc_id,
             unnest([w[i] || ' ' || w[i+1]
                     for i in generate_series(1, len(w)-1)]) AS bgs
      FROM w WHERE len(w) >= 2
    ),
    pairs AS (SELECT doc_id, {md5_60bit_sql("bgs")} % 1024 AS b FROM bg),
    tpairs AS (SELECT * FROM pairs WHERE doc_id % 97 = 0),
    cr AS (SELECT b, count(*) AS cr FROM pairs GROUP BY b),
    ct AS (SELECT b, count(*) AS ct FROM tpairs GROUP BY b),
    tot AS (SELECT (SELECT count(*) FROM pairs) AS nr,
                   (SELECT count(*) FROM tpairs) AS nt),
    model AS (
      SELECT b,
             (CAST(coalesce(ct, 0) + 1 AS DOUBLE) * (nr + 1024)) /
             (CAST(coalesce(cr, 0) + 1 AS DOUBLE) * (nt + 1024)) AS r
      FROM cr FULL OUTER JOIN ct USING (b), tot
    ),
    scored AS (
      SELECT doc_id, CAST(count(*) AS INT) AS n_feats,
             round(CAST(CAST(
               list_reduce(list_sort(list(r)), (a, x) -> a + x) / count(*)
               AS VARCHAR) AS DECIMAL(30,17)), 4) AS dsir_score
      FROM pairs JOIN model USING (b) GROUP BY doc_id
    )"""


@register(
    "td_dsir_weights",
    oracle=f"""
    WITH {_DSIR_CTES}
    SELECT d.doc_id, coalesce(s.n_feats, 0) AS n_feats, s.dsir_score
    FROM documents d LEFT JOIN scored s USING (doc_id)
    """,
)
def td_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights toward a target domain
    (operators/curation.py:dsir_weights; Xie et al. 2023): hashed-
    bigram bucket features, add-one smoothing, rational probability-
    ratio mean (exact-integer products + one IEEE division — DuckDB
    reproduces it bit-for-bit where ln would drift). Target set =
    docs with doc_id %% 97 == 0, the same convention as
    td_decontaminate's benchmark split."""
    from loggie_spark.operators.curation import dsir_weights

    docs = _t(spark, sf_dir, "documents")
    return dsir_weights(docs, docs.filter(F.col("doc_id") % 97 == 0))


@register(
    "td_dsir_resample",
    oracle=f"""
    WITH {_DSIR_CTES}
    SELECT d.doc_id, coalesce(s.n_feats, 0) AS n_feats, s.dsir_score,
           CASE WHEN s.dsir_score IS NULL THEN FALSE ELSE
             ({md5_60bit_sql("'dsir:' || CAST(d.doc_id AS VARCHAR)")}
              / 1152921504606846976.0) < least(1.0, 0.5 * s.dsir_score)
           END AS keep
    FROM documents d LEFT JOIN scored s USING (doc_id)
    """,
)
def td_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR's importance-RESAMPLING selection step
    (operators/curation.py:dsir_resample): Bernoulli keep with
    p = min(1, 0.5·w) against a salted-md5 uniform draw — no RNG, no
    corpus-order-dependent normalizing sum; every row's verdict is an
    IEEE-exact multiply + compare both engines reproduce bit-for-bit
    (2⁶⁰ is a power of two, so the u-draw division is exact)."""
    from loggie_spark.operators.curation import dsir_resample

    docs = _t(spark, sf_dir, "documents")
    return dsir_resample(docs, docs.filter(F.col("doc_id") % 97 == 0))


# ===========================================================================
# th_asof_join / th_range_join — temporal joins (operators/joins.py)
# ===========================================================================


@register(
    "th_asof_join",
    oracle="""
    WITH dim AS (
      SELECT user_id, ts, max(value) AS last_purchase
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    ),
    views AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
    )
    SELECT v.event_id, v.user_id, d.last_purchase
    FROM views v ASOF LEFT JOIN dim d
      ON v.user_id = d.user_id AND v.ts >= d.ts
    """,
)
def th_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time enrichment (operators/joins.py:asof_join): every
    'view' event picks up the user's LATEST purchase value at-or-before
    its timestamp — the feature-store lookup an equi-join would leak
    future values into. The union + last(ignorenulls) window
    construction pays ONE hash(user) shuffle; DuckDB's native ASOF
    JOIN is the oracle."""
    from loggie_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    dim = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("last_purchase"))
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    return asof_join(views, dim, key="user_id", ts="ts", dim_ts="ts").select(
        "event_id", "user_id", "last_purchase"
    )


@register(
    "th_range_join",
    oracle="""
    WITH windows AS (
      SELECT w,
             TIMESTAMP '2024-01-01 00:00:00' + w * INTERVAL 6 HOUR AS start_ts,
             TIMESTAMP '2024-01-01 00:00:00' + w * INTERVAL 6 HOUR
               + INTERVAL 90 MINUTE AS end_ts
      FROM generate_series(0, 59) t(w)
    )
    SELECT w.w AS window_id, CAST(count(e.event_id) AS BIGINT) AS n_events
    FROM windows w LEFT JOIN events e
      ON e.ts >= w.start_ts AND e.ts < w.end_ts
    GROUP BY w.w
    """,
)
def th_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval containment (operators/joins.py:range_join): events
    inside 90-minute maintenance windows spaced every 6 hours. The
    operator buckets BOTH sides to an hour grain and equi-joins on the
    grain (intervals explode to their covered grains), so the plan is
    a hash join — never the BroadcastNestedLoopJoin a naive inequality
    join compiles to (forbidden by the registry plan guard)."""
    from loggie_spark.operators.joins import range_join

    ev = _t(spark, sf_dir, "events")
    win = spark.range(60).select(
        F.col("id").cast("int").alias("window_id"),
        F.expr(
            "timestampadd(HOUR, 6 * id, TIMESTAMP_NTZ'2024-01-01 00:00:00')"
        ).alias("start_ts"),
        F.expr(
            "timestampadd(MINUTE, 90 + 360 * id, TIMESTAMP_NTZ'2024-01-01 00:00:00')"
        ).alias("end_ts"),
    )
    hits = range_join(ev, win, ts="ts", bucket_sec=3600)
    counts = hits.groupBy("window_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    return win.select("window_id").join(counts, "window_id", "left").select(
        "window_id", F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events")
    )


# ===========================================================================
# td_countmin — mergeable count-min frequency sketch
# ===========================================================================


@register(
    "td_countmin",
    oracle=f"""
    WITH w AS (SELECT unnest({_WORDS_SQL}) AS word FROM documents),
    seeds AS (SELECT unnest(generate_series(0, 3)) AS seed),
    cells AS (
      SELECT seed,
             CAST({md5_60bit_sql("CAST(seed AS VARCHAR) || '|' || word")} % 256
                  AS INT) AS bucket,
             count(*) AS cnt
      FROM w, seeds GROUP BY 1, 2
    ),
    top AS (
      SELECT word, count(*) AS tf FROM w
      GROUP BY word ORDER BY tf DESC, word LIMIT 20
    ),
    probes AS (
      SELECT t.word, t.tf, s.seed,
             CAST({md5_60bit_sql("CAST(s.seed AS VARCHAR) || '|' || t.word")} % 256
                  AS INT) AS bucket
      FROM top t, seeds s
    )
    SELECT p.word, CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS est,
           CAST(min(p.tf) AS BIGINT) AS tf
    FROM probes p LEFT JOIN cells c USING (seed, bucket)
    GROUP BY p.word
    """,
)
def td_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (operators/sketches.py): the depth=4, width=256
    sketch built over every word occurrence, probed with the exact
    top-20 vocabulary — est ≥ tf one-sided by construction, and the
    sketch state is 1024 counters no matter the corpus size (the
    bounded-memory heavy-hitter path where the item domain is
    unbounded). Hashing is the seeded md5 family, so DuckDB rebuilds
    the identical sketch, collisions and all."""
    from loggie_spark.operators.dedup import spread_small_input, tokenize
    from loggie_spark.operators.sketches import cms_build, cms_estimate

    docs = _t(spark, sf_dir, "documents")
    words = spread_small_input(docs).select(
        F.explode(tokenize(F.col("text"))).alias("word")
    )
    sketch = cms_build(words, "word", depth=4, width=256)
    top = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .orderBy(F.desc("tf"), F.asc("word"))
        .limit(20)
    )
    est = cms_estimate(sketch, top.select("word"), "word", depth=4, width=256)
    return est.join(top, "word").select("word", "est", "tf")


# ===========================================================================
# td_bloom_decontaminate — Bloom-gated membership (sketches.py)
# ===========================================================================

_BLOOM_BITS = 4096
_BLOOM_K = 4


def _bloom_oracle(n: int = _DECON_N, bits: int = _BLOOM_BITS, k: int = _BLOOM_K) -> str:
    pos = md5_60bit_sql("CAST(seed AS VARCHAR) || '|' || gram")
    return f"""
    WITH w AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    grams AS (
      SELECT DISTINCT doc_id, gram FROM (
        SELECT doc_id, unnest(CASE WHEN len(w) >= {n}
          THEN [array_to_string(w[i:i+{n - 1}], ' ')
                for i in generate_series(1, len(w) - {n - 1})]
          ELSE [array_to_string(w, ' ')] END) AS gram
        FROM w
      ) z
    ),
    bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0),
    seeds AS (SELECT unnest(generate_series(0, {k - 1})) AS seed),
    bloom AS (SELECT DISTINCT {pos} % {bits} AS pos FROM bench, seeds),
    probe AS (SELECT DISTINCT gram FROM grams),
    phash AS (SELECT gram, seed, {pos} % {bits} AS pos FROM probe, seeds),
    gver AS (
      SELECT gram,
             count(*) = sum(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS mm
      FROM phash p LEFT JOIN bloom b USING (pos) GROUP BY gram
    ),
    hits AS (
      SELECT DISTINCT g.doc_id FROM grams g JOIN gver v
      ON g.gram = v.gram AND v.mm
    )
    SELECT d.doc_id, (h.doc_id IS NOT NULL) AS flagged
    FROM documents d LEFT JOIN hits h USING (doc_id)
    """


@register("td_bloom_decontaminate", oracle=_bloom_oracle())
def td_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-gated decontamination (operators/sketches.py:bloom_build /
    bloom_maybe_contains): the benchmark's 13-grams populate a
    4096-bit / 4-hash Bloom filter, and every corpus gram probes it —
    flagged docs are a GUARANTEED SUPERSET of td_decontaminate's exact
    hits (no false negatives), at a filter size independent of the
    benchmark's. This is the cheap first gate production dedup puts
    before the exact digest join; the deterministic seeded-md5
    positions let DuckDB rebuild the identical filter, false positives
    and all."""
    from loggie_spark.operators.dedup import spread_small_input, tokenize, word_ngrams
    from loggie_spark.operators.sketches import bloom_build, bloom_maybe_contains

    docs = _t(spark, sf_dir, "documents")
    grams = spread_small_input(docs).select(
        "doc_id",
        F.explode(
            F.array_distinct(word_ngrams(tokenize(F.col("text")), _DECON_N))
        ).alias("gram"),
    )
    bench = grams.filter(F.col("doc_id") % 97 == 0).select("gram").distinct()
    bloom = bloom_build(bench, "gram", n_bits=_BLOOM_BITS, k=_BLOOM_K)
    probe = grams.select("gram").distinct()
    hits = bloom_maybe_contains(
        bloom, probe, "gram", n_bits=_BLOOM_BITS, k=_BLOOM_K
    ).filter(F.col("maybe_member"))
    flagged = grams.join(hits.select("gram"), "gram", "left_semi").select(
        "doc_id"
    ).distinct()
    return docs.select("doc_id").join(
        flagged.withColumn("flagged", F.lit(True)), "doc_id", "left"
    ).select("doc_id", F.coalesce("flagged", F.lit(False)).alias("flagged"))


# ===========================================================================
# td_embed_quantize — int8 embedding storage quantization
# ===========================================================================


@register(
    "td_embed_quantize",
    oracle="""
    WITH x AS (
      SELECT vec_id, len(embedding) AS dim,
             [CAST(e AS DOUBLE) for e in embedding] AS v
      FROM embeddings
    ),
    s AS (SELECT vec_id, dim, v,
                 list_max([abs(e) for e in v]) AS scale FROM x)
    SELECT vec_id, CAST(dim AS INT) AS dim,
           round(CAST(CAST(scale AS VARCHAR) AS DECIMAL(30,17)), 6) AS scale,
           md5(array_to_string(
             CASE WHEN scale > 0
               THEN [CAST(CAST(floor(e * 127 / scale) AS INT) AS VARCHAR)
                     for e in v]
               ELSE [CAST(0 AS VARCHAR) for e in v] END, ' ')) AS q_hash
    FROM s
    """,
)
def td_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 max-abs quantization of the embeddings table
    (operators/similarity.py:quantize_embeddings) — the 4× storage
    shrink before the ANN layout. The oracle compares the md5 of the
    space-joined int sequence (arrays don't ride the driver compare)
    plus the per-vector scale; floor-based quantization makes every
    int bit-identical across engines."""
    from loggie_spark.operators.similarity import quantize_embeddings

    out = quantize_embeddings(_t(spark, sf_dir, "embeddings"))
    return out.select(
        "vec_id",
        "dim",
        F.round(F.col("scale"), 6).alias("scale"),
        F.md5(
            F.array_join(F.transform("q", lambda v: v.cast("string")), " ")
        ).alias("q_hash"),
    )


# ===========================================================================
# td_split_leakage_safe — near-dup-cluster train/val split
# ===========================================================================


@register(
    "td_split_leakage_safe",
    oracle=f"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, list_distinct({_WORDS_SQL}) AS wset,
             array_to_string({_WORDS_SQL}[1:2], ' ') AS block
      FROM documents
    ),
    pairs AS (
      SELECT l.doc_id AS id_a, r.doc_id AS id_b
      FROM toks l JOIN toks r ON l.block = r.block AND l.doc_id < r.doc_id
      WHERE round(CAST(len(list_intersect(l.wset, r.wset)) AS DOUBLE) /
                  len(list_distinct(l.wset || r.wset)), 4) >= 0.5
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(node, lab) AS (
      SELECT a, a FROM edges
      UNION
      SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.lab
    ),
    clusters AS (SELECT node AS doc_id, MIN(lab) AS cluster_id
                 FROM reach GROUP BY node),
    units AS (
      SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS split_unit
      FROM documents d LEFT JOIN clusters c USING (doc_id)
    )
    SELECT doc_id, split_unit,
           CASE WHEN {md5_60bit_sql("'split|' || CAST(split_unit AS VARCHAR)")}
                     % 100 < 10
                THEN 'val' ELSE 'train' END AS split
    FROM units
    """,
)
def td_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-cluster train/val split (operators/sampling.py:
    leakage_safe_split): the assignment unit is the connected dup
    component, so a validation doc's near-copy can never sit in train
    — the eval-contamination bug a doc-level hash split has by
    construction. Same jaccard pairs as td_dup_clusters; the oracle
    re-derives components by transitive closure and reproduces the
    salted md5 side assignment exactly."""
    from loggie_spark.operators.dedup import ngram_jaccard_pairs
    from loggie_spark.operators.sampling import leakage_safe_split

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, block_words=2, threshold=0.5)
    return leakage_safe_split(docs, pairs, val_pct=10)


# ===========================================================================
# Round-5 additions: boilerplate line dedup, Gopher filter, sketch-gated
# heavy hitters, hot-key-safe asof, capped tf-idf
# ===========================================================================

_LINE_K = 8


@register(
    "td_line_dedup",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    lines AS (
      -- greatest(len,1): a zero-word doc still reassembles to ONE
      -- empty line (split('', nl) = ['']) on the Spark side — keep the
      -- invariant structural, not corpus-dependent
      SELECT doc_id,
             unnest([CAST((i-1)/{_LINE_K} AS INT)
                     for i in generate_series(1, greatest(len(w), 1), {_LINE_K})]) AS pos,
             unnest([array_to_string(list_slice(w, i, i+{_LINE_K - 1}), ' ')
                     for i in generate_series(1, greatest(len(w), 1), {_LINE_K})]) AS line
      FROM w
    ),
    occ AS (SELECT doc_id, pos, line, {md5_60bit_sql("line")} AS h FROM lines),
    boiler AS (
      SELECT h FROM (SELECT DISTINCT doc_id, h FROM occ)
      GROUP BY h HAVING count(*) >= 2
    ),
    kept AS (SELECT doc_id, pos, line FROM occ
             WHERE h NOT IN (SELECT h FROM boiler)),
    recon AS (
      SELECT doc_id, count(*) AS n_kept,
             md5(string_agg(line, chr(10) ORDER BY pos)) AS clean_hash
      FROM kept GROUP BY doc_id
    )
    SELECT w.doc_id,
           CAST(ceil(greatest(len(w.w), 1)/{_LINE_K}.0) AS INT) AS n_lines,
           CAST(coalesce(r.n_kept, 0) AS INT) AS n_kept,
           coalesce(r.clean_hash, md5('')) AS clean_hash
    FROM w LEFT JOIN recon r USING (doc_id)
    """,
)
def td_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-global boilerplate line removal (operators/
    curation.py:line_dedup, CCNet/Dolma-style): every line occurring in
    ≥2 DISTINCT documents is dropped from ALL of them (no keeper —
    boilerplate carries no signal anywhere), and documents rebuild
    from their surviving lines. The corpus has no newlines, so 'lines'
    here are the deterministic {_LINE_K}-word chunks (the same
    construction the span-dedup oracle uses); the dedup decision
    shuffles only (doc, pos, 60-bit hash) scalars."""
    from loggie_spark.operators.curation import line_dedup
    from loggie_spark.operators.dedup import _materialize, tokenize

    docs = _t(spark, sf_dir, "documents")
    base = _materialize(
        docs.select("doc_id", "text"), {"_w": tokenize(F.col("text"))}
    )
    w = F.col("_w")
    chunks = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(w), F.lit(1)), F.lit(_LINE_K)),
        lambda i: F.array_join(F.slice(w, i, _LINE_K), " "),
    )
    lined = base.select(
        "doc_id", F.array_join(chunks, "\n").alias("text")
    )
    return line_dedup(lined, min_docs=2)


@register(
    "td_gopher_filter",
    oracle=f"""
    WITH w AS (SELECT doc_id, text, {_WORDS_SQL} AS w FROM documents),
    sig AS (
      SELECT doc_id,
        CAST(len(w) AS INT) AS n_words,
        CASE WHEN len(w) > 0 THEN round(CAST(CAST(
          CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w)
          AS VARCHAR) AS DECIMAL(30,17)), 4) ELSE 0.0 END AS mean_word_len,
        CASE WHEN len(w) > 0 THEN round(CAST(CAST(
          (length(text) - length(replace(text, '#', ''))
           + (length(text) - length(replace(text, '...', ''))) / 3.0)
          / len(w) AS VARCHAR) AS DECIMAL(30,17)), 4) ELSE 0.0 END
          AS symbol_ratio,
        CASE WHEN len(w) > 0 THEN round(CAST(CAST(
          CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
          / len(w) AS VARCHAR) AS DECIMAL(30,17)), 4) ELSE 0.0 END
          AS alpha_frac,
        CAST(len(list_intersect(list_distinct(w),
          ['the','be','to','of','and','that','have','with'])) AS INT)
          AS stop_hits
      FROM w
    )
    SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_frac,
           stop_hits,
           (n_words BETWEEN 20 AND 100000
            AND mean_word_len BETWEEN 3.0 AND 10.0
            AND symbol_ratio <= 0.1
            AND alpha_frac >= 0.8
            AND stop_hits >= 2) AS passes
    FROM sig
    """,
)
def td_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-rule battery (operators/curation.py:
    gopher_quality_flags; Rae et al. 2021 A1): word-count bounds, mean
    word length, symbol-to-word ratio, letter-bearing word fraction,
    stopword presence — every signal a narrow codegen expression,
    ratios one exact IEEE division rounded to 4 (DuckDB reproduces via
    the decimal-cast spelling). min_words lowered to 20 for this
    corpus' ~50-word docs."""
    from loggie_spark.operators.curation import gopher_quality_flags

    return gopher_quality_flags(_t(spark, sf_dir, "documents"), min_words=20)


# p=5 (m=32) keeps BOTH test SFs (≈150 / ≈1.5k distinct users) inside
# the raw estimator's n ≳ 2.5·m regime — the operator default (p=12)
# targets production cardinalities; see hll_estimate's docstring for
# why the small-range LinearCounting correction is deliberately absent.
_HLL_P = 5
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / (1 << _HLL_P))


@register(
    "th_hll_users",
    oracle=f"""
    WITH h AS (
      SELECT {md5_60bit_sql("CAST(user_id AS VARCHAR)")} AS h FROM events
    ),
    reg AS (
      -- integer shift to match Spark's shiftright (h > 2^53: float
      -- division would be lossy near register boundaries)
      SELECT CAST(h >> {60 - _HLL_P} AS INT) AS idx,
             max(CASE WHEN h % {1 << (60 - _HLL_P)} = 0 THEN {60 - _HLL_P + 1}
                 ELSE {60 - _HLL_P} - length(bin(h % {1 << (60 - _HLL_P)})) + 1
                 END) AS rho
      FROM h GROUP BY idx
    )
    SELECT CAST({1 << _HLL_P} AS BIGINT) AS m,
           CAST(count(*) AS BIGINT) AS n_filled,
           CAST(round(CAST(CAST(
             CAST({_HLL_ALPHA!r} AS DOUBLE) * {float((1 << _HLL_P) ** 2)} /
             (list_reduce(
                list(1.0 / CAST(CAST(1 AS BIGINT) << rho AS DOUBLE)
                     ORDER BY idx),
                (a, b) -> a + b)
              + ({1 << _HLL_P} - count(*)))
             AS VARCHAR) AS DECIMAL(30,17)), 2) AS DOUBLE) AS estimate
    FROM reg
    """,
)
def th_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user estimate, certified MERGEABLE: the
    sketch builds as two independent shard sketches (error vs
    non-error events — shards that at scale would be different days or
    streams) merged by register max, and the oracle builds ONE global
    sketch — equality proves merge ≡ global, the property that lets
    per-day parquet sketches answer cross-period cardinality without
    rescanning (operators/sketches.py:hll_build/merge/estimate)."""
    from loggie_spark.operators.sketches import hll_build, hll_estimate, hll_merge

    ev = _t(spark, sf_dir, "events")
    a = hll_build(ev.filter(F.col("event_type") == "error"), "user_id", p=_HLL_P)
    b = hll_build(ev.filter(F.col("event_type") != "error"), "user_id", p=_HLL_P)
    return hll_estimate(hll_merge(a, b), p=_HLL_P)


@register(
    "th_cms_hitters",
    oracle="""
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(count(*) AS BIGINT) AS cnt
    FROM events GROUP BY user_id HAVING count(*) >= 80
    """,
)
def th_cms_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-gated exact heavy hitters (operators/sketches.py:
    cms_heavy_hitters): count-min candidates (one-sided, so no true
    hitter missed) verified by an exact count over candidate rows only
    — the result EQUALS plain GROUP BY ... HAVING, which is the
    oracle; sketch error moves cost, never the answer. width=64 over
    150 users forces real collisions, so the driver row certifies the
    verify stage too."""
    from loggie_spark.operators.sketches import cms_heavy_hitters

    return cms_heavy_hitters(
        _t(spark, sf_dir, "events"), "user_id", min_count=80, depth=4, width=64
    )


@register(
    "th_asof_join_bucketed",
    oracle="""
    WITH dim AS (
      SELECT user_id, ts, max(value) AS last_purchase
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    ),
    views AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
    )
    SELECT v.event_id, v.user_id, d.last_purchase
    FROM views v ASOF LEFT JOIN dim d
      ON v.user_id = d.user_id AND v.ts >= d.ts
    """,
)
def th_asof_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-key-safe as-of join (operators/joins.py:asof_join with
    bucket_sec): per-(key, time-bucket) dim states + a per-key window
    over BUCKETS seed the carry, and the final window partitions by
    (key, bucket) — one hot key's history splits across
    timespan/bucket tasks instead of serializing into one. Same
    DuckDB ASOF oracle as th_asof_join: identical answers, different
    (skew-immune) plan."""
    from loggie_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    dim = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("last_purchase"))
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    return asof_join(
        views, dim, key="user_id", ts="ts", dim_ts="ts", bucket_sec=3600
    ).select("event_id", "user_id", "last_purchase")


@register(
    "td_idf_keywords_capped",
    oracle=f"""
    WITH w AS (SELECT doc_id, unnest({_WORDS_SQL}) AS word FROM documents),
    tf AS (SELECT doc_id, word, count(*) AS cnt FROM w GROUP BY doc_id, word),
    dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY word
              HAVING count(*) >= 2),
    ranked AS (
      SELECT doc_id, word, CAST(cnt AS DOUBLE)/df AS sc,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY CAST(cnt AS DOUBLE)/df DESC, word) AS rank
      FROM tf JOIN dfreq USING (word)
    )
    SELECT doc_id, CAST(rank AS INT) AS rank, word,
           round(CAST(CAST(sc AS VARCHAR) AS DECIMAL(30,17)), 4) AS score
    FROM ranked WHERE rank <= 3
    """,
)
def td_idf_keywords_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BOUNDED tf-idf path (operators/corpusstats.py:
    tfidf_keywords with min_df=2): the document-frequency table is
    floored, so it is vocab-bounded and broadcast — the plan the
    operator runs at 100 TB (the uncapped default keeps a shuffle
    join; plan guard: tests/test_plan_shapes.py). Words below the
    floor drop out of scoring — exactly the singleton noise idf
    discounts to near-zero anyway."""
    from loggie_spark.operators.corpusstats import tfidf_keywords

    return tfidf_keywords(_t(spark, sf_dir, "documents"), k=3, min_df=2)


# ===========================================================================
# td_bpe_train / td_bpe_encode — distributed BPE (operators/bpe.py)
# ===========================================================================
# The oracle unrolls one CTE stage per merge (generated below): pair
# counts via parallel unnest of the two shifted symbol slices, argmax by
# (count DESC, l, r), then the SAME left-to-right greedy fold the Spark
# operator runs — as a list_reduce over a chr(31)-joined string
# accumulator (list_prepend('') seeds the type-stable fold; no word
# character can contain the unit separator, so the suffix test is an
# exact last-symbol test).

_BPE_N = 6
_BPE_TOP = 4096


def _bpe_stage_sql(k: int) -> str:
    prev = f"s{k - 1}"
    return f"""
    p{k} AS (
      SELECT l, r, sum(cnt) AS c FROM (
        SELECT unnest(syms[1:len(syms)-1]) AS l,
               unnest(syms[2:len(syms)]) AS r, cnt
        FROM {prev} WHERE len(syms) >= 2
      ) GROUP BY 1, 2
    ),
    b{k} AS (SELECT l AS l{k}, r AS r{k}, l || r AS m{k}, c
             FROM p{k} ORDER BY c DESC, l, r LIMIT 1),
    s{k} AS (
      SELECT string_split(list_reduce(list_prepend('', syms), (acc, x) ->
          CASE WHEN acc = '' THEN x
               WHEN ends_with(acc, chr(31) || b.l{k}) AND x = b.r{k}
                 THEN substr(acc, 1, length(acc) - length(b.l{k})) || b.m{k}
               WHEN acc = b.l{k} AND x = b.r{k} THEN b.m{k}
               ELSE acc || chr(31) || x END), chr(31)) AS syms, cnt
      FROM {prev}, b{k} b
    )"""


_BPE_PREFIX_SQL = f"""
    WITH w0 AS (
      SELECT word, count(*) AS cnt FROM (
        SELECT unnest({_WORDS_SQL}) AS word FROM documents
      ) GROUP BY word ORDER BY cnt DESC, word LIMIT {_BPE_TOP}
    ),
    s0 AS (SELECT [word[i] for i in generate_series(1, length(word))] AS syms,
                  cnt FROM w0),
    {",".join(_bpe_stage_sql(k) for k in range(1, _BPE_N + 1))}
"""


def _bpe_encode_fold_sql(k: int, inner: str) -> str:
    return f"""string_split(list_reduce(list_prepend('', {inner}), (acc, x) ->
      CASE WHEN acc = '' THEN x
           WHEN ends_with(acc, chr(31) || l{k}) AND x = r{k}
             THEN substr(acc, 1, length(acc) - length(l{k})) || m{k}
           WHEN acc = l{k} AND x = r{k} THEN m{k}
           ELSE acc || chr(31) || x END), chr(31))"""


def _bpe_encode_expr_sql() -> str:
    expr = "[word[i] for i in generate_series(1, length(word))]"
    for k in range(1, _BPE_N + 1):
        expr = _bpe_encode_fold_sql(k, expr)
    return expr


@register(
    "td_bpe_train",
    oracle=_BPE_PREFIX_SQL
    + f"""
    SELECT * FROM (
    {" UNION ALL ".join(
        f"SELECT {k} AS rank, l{k} AS lhs, r{k} AS rhs, m{k} AS merged,"
        f" CAST(c AS BIGINT) AS pair_count FROM b{k}"
        for k in range(1, _BPE_N + 1)
    )})
    """,
)
def td_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge training (operators/bpe.py:bpe_train,
    Sennrich et al. 2016): one corpus scan builds word counts (map-side
    combine), every merge iteration runs on the top-4096-word table —
    vocab-bounded, corpus-size-independent state, localCheckpoint-flat
    plans — and the driver collects exactly one argmax row per merge.
    Ties break by (count DESC, left, right); the within-word merge is a
    left-to-right greedy fold. The oracle unrolls the identical six
    stages as CTEs."""
    from loggie_spark.operators.bpe import bpe_train

    docs = _t(spark, sf_dir, "documents")
    merges = bpe_train(docs, n_merges=_BPE_N, top_words=_BPE_TOP)
    return local_frame(
        spark,
        [
            (m["rank"], m["left"], m["right"], m["merged"], m["pair_count"])
            for m in merges
        ],
        "rank INT, lhs STRING, rhs STRING, merged STRING, pair_count BIGINT",
    )


@register(
    "td_bpe_encode",
    oracle=_BPE_PREFIX_SQL
    + f""",
    docw AS (
      SELECT doc_id, unnest(ws) AS word,
             unnest(generate_series(1, len(ws))) AS pos
      FROM (SELECT doc_id, {_WORDS_SQL} AS ws FROM documents)
    ),
    wt AS (
      SELECT doc_id, pos, {_bpe_encode_expr_sql()} AS toks
      FROM docw, {", ".join(f"b{k}" for k in range(1, _BPE_N + 1))}
    ),
    agg AS (
      SELECT doc_id, flatten(list(toks ORDER BY pos)) AS all_toks
      FROM wt GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(len(a.all_toks), 0) AS INT) AS n_tokens,
           coalesce(array_to_string(a.all_toks, ' '), '') AS tokens
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
)
def td_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword tokenization with the corpus-trained merge table
    (operators/bpe.py:bpe_encode): the six learned merges broadcast
    into ONE Arrow-batched pandas UDF pass — narrow, zero shuffle,
    byte-identical greedy-fold semantics to training. The oracle
    re-derives the merges (shared CTE prefix with td_bpe_train) and
    applies the same six folds per word, reassembled in word order."""
    from loggie_spark.operators.bpe import bpe_encode, bpe_train

    docs = _t(spark, sf_dir, "documents")
    merges = bpe_train(docs, n_merges=_BPE_N, top_words=_BPE_TOP)
    return bpe_encode(docs, merges)


@register(
    "th_retention",
    oracle="""
    WITH a AS (
      SELECT user_id AS u, CAST(date_trunc('day', ts) AS DATE) AS p FROM events
    ),
    f AS (SELECT u, min(p) AS cohort FROM a GROUP BY u),
    d AS (SELECT DISTINCT u, p FROM a)
    SELECT CAST(f.cohort AS VARCHAR) AS cohort,
           CAST(date_diff('day', f.cohort, d.p) AS INT) AS period_offset,
           CAST(count(*) AS BIGINT) AS users
    FROM d JOIN f USING (u) GROUP BY 1, 2
    """,
)
def th_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohort retention matrix (operators/sessionize.py:
    retention_cohorts): users bucketed by first-activity day, counted
    at each day offset they return. ONE hash(user) shuffle computes
    first day + the calendar-bounded distinct-day set per user in a
    single groupBy; the (cohort, offset) aggregate then runs on
    already-distinct scalar rows, so no second corpus-wide distinct."""
    from loggie_spark.operators.sessionize import retention_cohorts

    ev = _t(spark, sf_dir, "events")
    out = retention_cohorts(ev, grain="day")
    return out.select(
        F.col("cohort").cast("string").alias("cohort"),
        F.col("offset").alias("period_offset"),
        "users",
    )


@register(
    "td_token_budget_plan",
    oracle=f"""
    WITH s AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len({_WORDS_SQL})) AS BIGINT) AS tokens
      FROM documents GROUP BY source
    ),
    w AS (SELECT *, pow(CAST(tokens AS DOUBLE), 0.5) AS wgt FROM s),
    d AS (SELECT list_reduce(list_prepend(0.0, list_sort(list(wgt))),
                             (a, x) -> a + x) AS denom FROM w)
    SELECT source, n_docs, tokens,
           round(CAST(CAST(wgt / denom AS VARCHAR) AS DECIMAL(30,17)), 4)
             AS share,
           least(tokens,
                 CAST(floor(wgt / denom * 1000000.0) AS BIGINT))
             AS alloc_tokens,
           round(CAST(CAST(
             CASE WHEN tokens > 0 THEN
               least(tokens, CAST(floor(wgt / denom * 1000000.0) AS BIGINT))
                 / CAST(tokens AS DOUBLE)
             ELSE 0.0 END AS VARCHAR) AS DECIMAL(30,17)), 4) AS sample_rate
    FROM w, d
    """,
)
def td_token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted token-budget allocation (operators/
    sampling.py:token_budget_plan, alpha=0.5, budget 1M tokens): the
    planning step before stratified_sample. One corpus scan feeds the
    per-source aggregate; the share denominator is a SORTED sequential
    fold over the source-bounded weight list, so the float sum is
    bit-reproducible cross-engine (the list_reduce pattern); oracle
    rounds through the decimal-cast spelling."""
    from loggie_spark.operators.sampling import token_budget_plan

    return token_budget_plan(
        _t(spark, sf_dir, "documents"), budget_tokens=1_000_000, alpha=0.5
    )


@register(
    "td_hashed_linear_score",
    oracle=f"""
    WITH wt AS (
      SELECT b, {md5_60bit_sql("CAST(b AS VARCHAR)", seed=7)} % 201 - 100 AS w
      FROM generate_series(0, 1023) t(b)
    ),
    ww AS (SELECT doc_id, unnest({_WORDS_SQL}) AS word FROM documents),
    j AS (SELECT doc_id, wt.w AS w
          FROM ww JOIN wt ON wt.b = {md5_60bit_sql("word")} % 1024),
    agg AS (SELECT doc_id, CAST(count(*) AS INT) AS n_words,
                   CAST(sum(w) AS BIGINT) AS score FROM j GROUP BY doc_id)
    SELECT d.doc_id, CAST(coalesce(a.n_words, 0) AS INT) AS n_words,
           CAST(coalesce(a.score, 0) AS BIGINT) AS score,
           round(CAST(CAST(CASE WHEN a.n_words > 0
             THEN a.score / CAST(a.n_words AS DOUBLE) ELSE 0.0 END
             AS VARCHAR) AS DECIMAL(30,17)), 4) AS score_per_token
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
)
def td_hashed_linear_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-feature linear quality scoring (operators/textstats.py:
    hashed_linear_score): fasttext-style classifier inference with
    int-quantized weights. The 1024-int model rides the plan as ONE
    array literal (quantized-model broadcast), each doc folds its
    md5-hashed words through element_at in-row — zero joins, zero
    shuffles, exact integer score (no float-sum ordering). The oracle
    derives the identical md5 pseudo-weights and reproduces the score
    via an explode + bucket join."""
    from loggie_spark.operators.textstats import hashed_linear_score

    return hashed_linear_score(_t(spark, sf_dir, "documents"))


_BURST_VAR_SQL = (
    "(CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)"
    " / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)"
)
_BURST_Z_SQL = (
    "(CAST(cnt AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
    f" / sqrt({_BURST_VAR_SQL})"
)


@register(
    "th_burst_detect",
    oracle=f"""
    WITH b AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    st AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cnt) AS BIGINT) AS s,
             CAST(sum(cnt * cnt) AS BIGINT) AS s2
      FROM b GROUP BY 1
    )
    SELECT b.event_type, b.bucket, b.cnt,
           round(CAST(CAST(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
             AS VARCHAR) AS DECIMAL(30,17)), 4) AS mean_cnt,
           round(CAST(CAST({_BURST_Z_SQL}
             AS VARCHAR) AS DECIMAL(30,17)), 4) AS zscore
    FROM b JOIN st USING (event_type)
    WHERE n >= 2 AND {_BURST_VAR_SQL} > 0 AND {_BURST_Z_SQL} >= 3.0
    """,
)
def th_burst_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type volume-burst detection (operators/sessionize.py:
    burst_detect): hourly count z-scores against each event type's own
    bucket distribution, flagging cells ≥3σ. One corpus shuffle
    (groupBy type,hour with map-side combine); the per-type moment
    table is |types| rows and broadcasts back. All moments are EXACT
    integer sums, so Spark and DuckDB derive bit-identical floats
    through the same expression shape — no float accumulation order
    anywhere."""
    from loggie_spark.operators.sessionize import burst_detect

    return burst_detect(_t(spark, sf_dir, "events"), grain="hour")


@register(
    "td_source_overlap",
    oracle=f"""
    WITH toks AS (
      SELECT source, {_WORDS_SQL} AS ws FROM documents
    ),
    grams AS (
      SELECT source, unnest(CASE WHEN len(ws) >= 3
          THEN [array_to_string(ws[i:i+2], ' ')
                for i in generate_series(1, len(ws) - 2)]
          ELSE [array_to_string(ws, ' ')] END) AS g
      FROM toks
    ),
    gset AS (SELECT DISTINCT source, {md5_60bit_sql("g")} AS h FROM grams),
    sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n
              FROM gset GROUP BY source),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(count(*) AS BIGINT) AS n_common
      FROM gset a JOIN gset b ON a.h = b.h AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT src_a, src_b, n_common, sa.n AS n_a, sb.n AS n_b,
           round(CAST(CAST(CAST(n_common AS DOUBLE)
             / (sa.n + sb.n - n_common)
             AS VARCHAR) AS DECIMAL(30,17)), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.source = src_a
    JOIN sizes sb ON sb.source = src_b
    """,
)
def td_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix (operators/corpusstats.py:
    source_overlap): pairwise 3-gram Jaccard between sources. Grams
    hash to 60-bit ints in-row; only DISTINCT (source, hash) scalars
    shuffle; the self-join fans out at most |sources|²/2 rows per gram
    (label-bounded, never corpus-bounded). The oracle reproduces the
    md5 gram hashes exactly, collisions included."""
    from loggie_spark.operators.corpusstats import source_overlap

    return source_overlap(_t(spark, sf_dir, "documents"), shingle=3)


@register(
    "td_tokenizer_fertility",
    oracle=_BPE_PREFIX_SQL
    + f""",
    docw AS (
      SELECT source, unnest(ws) AS word
      FROM (SELECT source, {_WORDS_SQL} AS ws FROM documents)
    ),
    wt AS (
      SELECT source, len({_bpe_encode_expr_sql()}) AS ntok
      FROM docw, {", ".join(f"b{k}" for k in range(1, _BPE_N + 1))}
    ),
    wagg AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(ntok) AS BIGINT) AS n_subwords
      FROM wt GROUP BY source
    ),
    dcount AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
               FROM documents GROUP BY source)
    SELECT d.source, d.n_docs,
           CAST(coalesce(w.n_words, 0) AS BIGINT) AS n_words,
           CAST(coalesce(w.n_subwords, 0) AS BIGINT) AS n_subwords,
           round(CAST(CAST(CASE WHEN w.n_words > 0
             THEN CAST(w.n_subwords AS DOUBLE) / w.n_words ELSE 0.0 END
             AS VARCHAR) AS DECIMAL(30,17)), 4) AS fertility
    FROM dcount d LEFT JOIN wagg w USING (source)
    """,
)
def td_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source tokenizer-fertility audit (operators/bpe.py:
    tokenizer_fertility): subword tokens per word under the corpus-
    trained BPE merge table (shared CTE prefix with td_bpe_train).
    One Arrow-batched UDF pass with per-batch word memoization; the
    only shuffle is the |sources|-row aggregate."""
    from loggie_spark.operators.bpe import bpe_train, tokenizer_fertility

    docs = _t(spark, sf_dir, "documents")
    merges = bpe_train(docs, n_merges=_BPE_N, top_words=_BPE_TOP)
    return tokenizer_fertility(docs, merges)


_SUB_L = 20  # substring-dedup minimum duplicated length (chars)


@register(
    "td_substring_dedup",
    oracle=f"""
    WITH pos AS (
      SELECT doc_id,
             unnest(generate_series(1, greatest(length(text)-{_SUB_L - 1}, 0))) AS p,
             unnest([{md5_60bit_sql(f"substring(text, i, {_SUB_L})")}
                     for i in generate_series(1, greatest(length(text)-{_SUB_L - 1}, 0))]) AS h
      FROM documents
    ),
    cov AS (
      SELECT doc_id, p FROM (
        SELECT doc_id, p, count(*) OVER (PARTITION BY h) AS c FROM pos
      ) WHERE c >= 2
    ),
    isl AS (
      SELECT doc_id, p,
             sum(CASE WHEN prev_e IS NULL OR p > prev_e + 1 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY p) AS island
      FROM (
        SELECT doc_id, p,
               max(p + {_SUB_L - 1}) OVER (PARTITION BY doc_id ORDER BY p
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_e
        FROM cov
      )
    ),
    spans AS (
      SELECT doc_id, island, min(p) AS s, max(p) + {_SUB_L - 1} AS e
      FROM isl GROUP BY doc_id, island
    ),
    segs AS (
      SELECT doc_id, s, e,
             lag(e, 1, CAST(0 AS BIGINT))
               OVER (PARTITION BY doc_id ORDER BY s) AS prev_e
      FROM spans
    ),
    recon AS (
      SELECT g.doc_id,
             CAST(count(*) AS INT) AS n_spans,
             CAST(sum(g.e - g.s + 1) AS INT) AS dup_chars,
             string_agg(substring(d.text, g.prev_e + 1, g.s - g.prev_e - 1),
                        '' ORDER BY g.s)
               || substring(d.text, max(g.e) + 1) AS clean
      FROM segs g JOIN documents d USING (doc_id)
      GROUP BY g.doc_id, d.text
    )
    SELECT d.doc_id, coalesce(r.n_spans, 0) AS n_spans,
           coalesce(r.dup_chars, 0) AS dup_chars,
           md5(coalesce(r.clean, d.text)) AS clean_hash
    FROM documents d LEFT JOIN recon r USING (doc_id)
    """,
)
def td_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup (operators/dedup.py:substring_dedup, the
    Lee et al. 2022 suffix-array semantics re-expressed Spark-first):
    maximal character spans covered by any ≥{_SUB_L}-char substring
    occurring twice anywhere in the corpus are cut from the text. Only
    (doc_id, pos, hash) scalars shuffle; the rebuild is one narrow
    F.aggregate fold over each doc's sorted span list."""
    from loggie_spark.operators.dedup import substring_dedup

    return substring_dedup(_t(spark, sf_dir, "documents"), min_len=_SUB_L)


@register(
    "td_substring_decontaminate",
    oracle=f"""
    WITH pos AS (
      SELECT doc_id,
             unnest(generate_series(1, greatest(length(text)-{_SUB_L - 1}, 0))) AS p,
             unnest([{md5_60bit_sql(f"substring(text, i, {_SUB_L})")}
                     for i in generate_series(1, greatest(length(text)-{_SUB_L - 1}, 0))]) AS h
      FROM documents
    ),
    bench_h AS (
      SELECT DISTINCT unnest([{md5_60bit_sql(f"substring(text, i, {_SUB_L})")}
                     for i in generate_series(1, greatest(length(text)-{_SUB_L - 1}, 0))]) AS h
      FROM documents WHERE doc_id % 97 = 0
    ),
    cov AS (
      SELECT doc_id, p FROM pos WHERE h IN (SELECT h FROM bench_h)
    ),
    isl AS (
      SELECT doc_id, p,
             sum(CASE WHEN prev_e IS NULL OR p > prev_e + 1 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY p) AS island
      FROM (
        SELECT doc_id, p,
               max(p + {_SUB_L - 1}) OVER (PARTITION BY doc_id ORDER BY p
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_e
        FROM cov
      )
    ),
    spans AS (
      SELECT doc_id, island, min(p) AS s, max(p) + {_SUB_L - 1} AS e
      FROM isl GROUP BY doc_id, island
    ),
    segs AS (
      SELECT doc_id, s, e,
             lag(e, 1, CAST(0 AS BIGINT))
               OVER (PARTITION BY doc_id ORDER BY s) AS prev_e
      FROM spans
    ),
    recon AS (
      SELECT g.doc_id,
             CAST(count(*) AS INT) AS n_spans,
             CAST(sum(g.e - g.s + 1) AS INT) AS contam_chars,
             string_agg(substring(d.text, g.prev_e + 1, g.s - g.prev_e - 1),
                        '' ORDER BY g.s)
               || substring(d.text, max(g.e) + 1) AS clean
      FROM segs g JOIN documents d USING (doc_id)
      GROUP BY g.doc_id, d.text
    )
    SELECT d.doc_id, coalesce(r.n_spans, 0) AS n_spans,
           coalesce(r.contam_chars, 0) AS contam_chars,
           md5(coalesce(r.clean, d.text)) AS clean_hash
    FROM documents d LEFT JOIN recon r USING (doc_id)
    """,
)
def td_substring_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-granularity benchmark decontamination
    (operators/dedup.py:substring_decontaminate): training-doc spans
    covered by any ≥{_SUB_L}-char substring of the benchmark (the
    doc_id % 97 == 0 stand-in split, same fixture as td_decontaminate)
    are surgically cut out rather than flagging the whole document.
    The benchmark side reduces to distinct gram hashes (config-sized →
    AQE broadcasts it); the corpus side never shuffles."""
    from loggie_spark.operators.dedup import substring_decontaminate

    docs = _t(spark, sf_dir, "documents")
    return substring_decontaminate(
        docs, docs.filter(F.col("doc_id") % 97 == 0), min_len=_SUB_L
    )


@register(
    "td_unicode_nfc",
    oracle="""
    WITH synth AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 3 = 0
                          THEN ' cafe' || chr(769) || ' no' || chr(776) || 'el'
                          ELSE '' END AS t
      FROM documents
    )
    SELECT doc_id,
           nfc_normalize(t) <> t AS changed,
           CAST(length(t) AS INT) AS n_before,
           CAST(length(nfc_normalize(t)) AS INT) AS n_after,
           md5(nfc_normalize(t)) AS norm_hash
    FROM synth
    """,
)
def td_unicode_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization audit (operators/curation.py:
    nfc_normalize): every third doc gets decomposed combining
    sequences appended (e+U+0301, o+U+0308) — the normalized hash
    composes them, codepoint counts shrink, the rest pass through
    unchanged. Python unicodedata vs DuckDB utf8proc — two independent
    NFC implementations certifying each other."""
    from loggie_spark.operators.curation import nfc_normalize
    from loggie_spark.operators.dedup import spread_small_input

    docs = spread_small_input(_t(spark, sf_dir, "documents"))
    synth = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                # DECOMPOSED on purpose: e+U+0301, o+U+0308 — the exact
                # bytes the oracle synthesizes with chr(769)/chr(776)
                F.lit(" cafe\u0301 no\u0308el"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return nfc_normalize(synth)


def _ann_recall_oracle(k=3) -> str:
    """Compose the existing brute (truth) and IVF (approx) oracle
    SELECTs as CTE bodies; hit counts stay integral until the final
    divisions, with PER-QUERY exact-row denominators (matching
    ann_recall_report's engine-stable arithmetic)."""
    brute = ORACLES["td_sim_topk_brute"]
    ivf = ORACLES["td_sim_topk_ivf"]
    rnd = lambda x: f"round(CAST(CAST({x} AS VARCHAR) AS DECIMAL(30,17)), 4)"  # noqa: E731
    return f"""
    WITH exact AS ({brute}),
    approx AS ({ivf}),
    hits AS (
      SELECT e.query_id, count(*) AS h
      FROM exact e SEMI JOIN approx a
        ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
      GROUP BY e.query_id
    ),
    per_q AS (
      SELECT q.query_id, q.n, coalesce(h.h, 0) AS h
      FROM (SELECT query_id, count(*) AS n FROM exact GROUP BY query_id) q
      LEFT JOIN hits h USING (query_id)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           CAST({k} AS INT) AS k,
           CAST(sum(h) AS BIGINT) AS n_hits,
           {rnd("sum(h) / CAST(sum(n) AS DOUBLE)")} AS mean_recall,
           min({rnd("h / CAST(n AS DOUBLE)")}) AS min_recall
    FROM per_q
    """


@register("td_ann_recall_ivf", oracle=_ann_recall_oracle())
def td_ann_recall_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall@k self-certification (operators/similarity.py:
    ann_recall_report): the SHIPPED IVF configuration (8 cells,
    nprobe=2) scored against brute-force truth on the same bounded
    query sample both td_sim_topk_* queries use — the report that
    justifies an (n_cells, nprobe) choice before a 100 TB index build.
    Oracle composes the two existing certified oracles as CTEs."""
    from loggie_spark.operators.similarity import (
        ann_recall_report,
        brute_force_topk,
        ivf_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    exact = brute_force_topk(q, emb, k=3)
    approx = ivf_topk(q, emb, k=3, n_cells=8, nprobe=2)
    return ann_recall_report(exact, approx, k=3)


def _minhash_recall_oracle(
    n_hashes=8, shingle=3, bands=4, threshold=0.12, max_id=2000
) -> str:
    sig_cols, band_cols, band_match = _minhash_sig_band_sql(n_hashes, bands)
    gram = "array_to_string(words[i:i+{}], ' ')".format(shingle - 1)
    rnd = lambda x: f"round(CAST(CAST({x} AS VARCHAR) AS DECIMAL(30,17)), 4)"  # noqa: E731
    return f"""
    WITH toks AS (
      SELECT doc_id, {_WORDS_SQL} AS words FROM documents WHERE doc_id < {max_id}
    ), shingled AS (
      SELECT doc_id,
             CASE WHEN len(words) >= {shingle}
                  THEN [{gram} for i in range(1, len(words) - {shingle - 2})]
                  ELSE [array_to_string(words, ' ')] END AS grams
      FROM toks
    ), sigs AS (
      SELECT doc_id, list_distinct(grams) AS gset, {sig_cols} FROM shingled
      WHERE len(list_distinct(grams)) > 0
    ), banded AS (
      SELECT doc_id, {band_cols} FROM sigs
    ), true_pairs AS (
      SELECT l.doc_id AS id_a, r.doc_id AS id_b
      FROM sigs l JOIN sigs r ON l.doc_id < r.doc_id
      WHERE {rnd("CAST(len(list_intersect(l.gset, r.gset)) AS DOUBLE) / len(list_distinct(l.gset || r.gset))")} >= {threshold}
    ), cand AS (
      SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
      FROM banded l JOIN banded r
        ON l.doc_id < r.doc_id AND ({band_match})
    ), found AS (
      SELECT t.* FROM true_pairs t SEMI JOIN cand c
        ON t.id_a = c.id_a AND t.id_b = c.id_b
    )
    SELECT (SELECT count(*) FROM sigs) AS n_docs,
           (SELECT count(*) FROM true_pairs) AS n_true,
           (SELECT count(*) FROM cand) AS n_cand,
           (SELECT count(*) FROM found) AS n_found,
           CASE WHEN (SELECT count(*) FROM true_pairs) > 0
                THEN {rnd("(SELECT count(*) FROM found) / CAST((SELECT count(*) FROM true_pairs) AS DOUBLE)")}
                END AS recall,
           CASE WHEN (SELECT count(*) FROM cand) > 0
                THEN {rnd("(SELECT count(*) FROM found) / CAST((SELECT count(*) FROM cand) AS DOUBLE)")}
                END AS precision
    """


@register("td_minhash_recall", oracle=_minhash_recall_oracle())
def td_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH self-certification (operators/dedup.py:minhash_recall_report):
    banded-minhash recall/precision against exact all-pairs Jaccard
    truth on a bounded audit sample (doc_id < 2000 — the whole table at
    sf≤0.01), with the SAME (8 hashes, 4 bands, 0.12) configuration
    td_dedup_minhash_lsh ships. The truth side is a bounded-broadcast
    BNLJ by contract (embed_dup_pairs precedent); the LSH side is the
    production banded equi-join, so the measured recall transfers."""
    from loggie_spark.operators.dedup import minhash_recall_report

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    return minhash_recall_report(
        docs, n_hashes=8, shingle=3, bands=4, jaccard_threshold=0.12
    )


_V4_SYNTH_T = (
    "nfc_normalize(text || CASE WHEN doc_id % 3 = 0 "
    "THEN ' cafe' || chr(769) || ' no' || chr(776) || 'el' ELSE '' END)"
)


@register(
    "td_curation_v4",
    oracle=f"""
    WITH synth AS (
      SELECT doc_id, source, {_V4_SYNTH_T} AS t FROM documents
    ),
    pos AS (
      SELECT doc_id,
             unnest(generate_series(1, greatest(length(t)-{_SUB_L - 1}, 0))) AS p,
             unnest([{md5_60bit_sql(f"substring(t, i, {_SUB_L})")}
                     for i in generate_series(1, greatest(length(t)-{_SUB_L - 1}, 0))]) AS h
      FROM synth
    ),
    bench_h AS (
      SELECT DISTINCT unnest([{md5_60bit_sql(f"substring(t, i, {_SUB_L})")}
                     for i in generate_series(1, greatest(length(t)-{_SUB_L - 1}, 0))]) AS h
      FROM synth WHERE doc_id % 97 = 0
    ),
    cov AS (
      SELECT doc_id, p FROM pos WHERE h IN (SELECT h FROM bench_h)
    ),
    isl AS (
      SELECT doc_id, p,
             sum(CASE WHEN prev_e IS NULL OR p > prev_e + 1 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY p) AS island
      FROM (
        SELECT doc_id, p,
               max(p + {_SUB_L - 1}) OVER (PARTITION BY doc_id ORDER BY p
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_e
        FROM cov
      )
    ),
    spans AS (
      SELECT doc_id, island, min(p) AS s, max(p) + {_SUB_L - 1} AS e
      FROM isl GROUP BY doc_id, island
    ),
    segs AS (
      SELECT doc_id, s, e,
             lag(e, 1, CAST(0 AS BIGINT))
               OVER (PARTITION BY doc_id ORDER BY s) AS prev_e
      FROM spans
    ),
    recon AS (
      SELECT g.doc_id,
             CAST(count(*) AS INT) AS n_spans,
             CAST(sum(g.e - g.s + 1) AS INT) AS contam_chars,
             string_agg(substring(d.t, g.prev_e + 1, g.s - g.prev_e - 1),
                        '' ORDER BY g.s)
               || substring(d.t, max(g.e) + 1) AS clean
      FROM segs g JOIN synth d USING (doc_id)
      GROUP BY g.doc_id, d.t
    ),
    cleaned AS (
      SELECT s.doc_id, s.source,
             coalesce(r.clean, s.t) AS ct,
             coalesce(r.contam_chars, 0) AS cc,
             coalesce(r.n_spans, 0) AS ns
      FROM synth s LEFT JOIN recon r USING (doc_id)
    ),
    ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY md5(ct) ORDER BY doc_id) AS rn,
             len(list_filter(string_split(lower(ct), ' '), w -> w <> '')) AS ntok
      FROM cleaned
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (ns > 0) AS BIGINT) AS n_contaminated,
           CAST(sum(cc) AS BIGINT) AS contam_chars,
           CAST(count(*) FILTER (rn = 1 AND ntok >= 10) AS BIGINT) AS n_kept,
           CAST(coalesce(sum(ntok) FILTER (rn = 1 AND ntok >= 10), 0) AS BIGINT)
             AS kept_tokens
    FROM ranked GROUP BY source
    """,
)
def td_curation_v4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-6 nightly pass, ONE plan, chaining this round's new
    operators end-to-end: Unicode NFC normalization (decomposed
    sequences synthesized onto every 3rd doc, composed before any
    hashing) → substring-granularity benchmark decontamination
    (doc_id % 97 bench split; overlapping spans CUT, not flagged) →
    exact dedup of the cleaned text (benchmark stand-ins collapse to
    one empty doc) → token-count gate (≥10, which that empty survivor
    then fails) → per-source report. Certifies the round-6 operators
    compose without drift: dedup and the gate see post-decontamination
    text. Raw text rides only the NFC pass and the rebuild join;
    every other shuffled row is scalars."""
    from pyspark.sql import Window

    from loggie_spark.operators.curation import nfc_text_udf
    from loggie_spark.operators.dedup import (
        spread_small_input,
        substring_decontaminate,
    )
    from loggie_spark.operators.textstats import token_count_ws

    docs = spread_small_input(_t(spark, sf_dir, "documents"))
    synth = docs.select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit(" cafe\u0301 no\u0308el")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    nfc = synth.withColumn("text", nfc_text_udf()(F.col("text")))
    # the bench branch filters BEFORE the UDF re-executes (doc_id is
    # independent of the normalized column, so Catalyst pushes the
    # filter below the projection — NFC runs over 1% of docs there);
    # the source join reads the PRE-NFC frame (source is untouched by
    # normalization) — text-bearing lineages are recomputed, never
    # cached, by the same 100 TB policy substring_dedup documents
    bench = nfc.filter(F.col("doc_id") % 97 == 0)
    dec = substring_decontaminate(nfc, bench, min_len=_SUB_L, keep_text=True)
    frame = dec.join(docs.select("doc_id", "source"), "doc_id")
    w = Window.partitionBy(F.md5("clean")).orderBy("doc_id")
    ranked = frame.select(
        "source",
        "n_spans",
        "contam_chars",
        F.row_number().over(w).alias("_rn"),
        token_count_ws(F.col("clean")).alias("_ntok"),
    )
    kept = (F.col("_rn") == 1) & (F.col("_ntok") >= 10)
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("n_spans") > 0).cast("int")).cast("long").alias("n_contaminated"),
        F.sum("contam_chars").cast("long").alias("contam_chars"),
        F.sum(kept.cast("int")).cast("long").alias("n_kept"),
        F.sum(F.when(kept, F.col("_ntok")).otherwise(0)).cast("long").alias("kept_tokens"),
    )


# Messy-URL fixture shared by td_url_canonical / td_host_dedup: mixed
# case, www, default port, trailing slash, unsorted + tracking params,
# fragment — every axis canonical_url normalizes, synthesized
# identically on both engines (the td_url_filter fixture pattern).
_URL_SYNTH_SQL = """
      SELECT event_id AS url_id,
             'HTTP://WWW.Site' || CAST(user_id % 20 AS VARCHAR)
               || '.Example.COM'
               || CASE WHEN event_id % 2 = 0 THEN ':80' ELSE '' END
               || '/Path/p' || CAST(event_id % 7 AS VARCHAR)
               || CASE WHEN event_id % 3 = 0 THEN '/' ELSE '' END
               || '?utm_source=feed&z=26&a=1'
               || CASE WHEN event_id % 5 = 0 THEN '&fbclid=abc' ELSE '' END
               || '#sec' || CAST(event_id % 4 AS VARCHAR) AS url
      FROM events
"""

_URL_CANON_SQL = """
      SELECT url_id,
             CASE WHEN scheme = '' THEN '' ELSE
               scheme || '://' || host || path ||
               CASE WHEN q = '' THEN '' ELSE '?' || q END
             END AS canon,
             host
      FROM (
        SELECT url_id, scheme,
               CASE WHEN scheme = 'http' THEN regexp_replace(h1, ':80$', '')
                    WHEN scheme = 'https' THEN regexp_replace(h1, ':443$', '')
                    ELSE h1 END AS host,
               regexp_replace(rawpath, '/+$', '') AS path,
               array_to_string(list_sort(list_filter(str_split(rawq, '&'),
                 p -> p <> '' AND NOT regexp_matches(p,
                   '^(utm_[^=]*|fbclid|gclid|msclkid|ref|ref_src)(=.*)?$'))),
                 '&') AS q
        FROM (
          SELECT url_id,
                 lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                 regexp_replace(lower(regexp_extract(url,
                   '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)), '^www\\.', '') AS h1,
                 regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS rawpath,
                 regexp_extract(url, '^[^#]*?\\?([^#]*)', 1) AS rawq
          FROM synth
        )
      )
"""


def _url_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from loggie_spark.operators.dedup import spread_small_input

    # regex-heavy per-row normalization: spread the single-row-group
    # local scan (no-op at real scale — see spread_small_input)
    ev = spread_small_input(_t(spark, sf_dir, "events"))
    url = F.concat(
        F.lit("HTTP://WWW.Site"),
        (F.col("user_id") % 20).cast("string"),
        F.lit(".Example.COM"),
        F.when(F.col("event_id") % 2 == 0, ":80").otherwise(""),
        F.lit("/Path/p"),
        (F.col("event_id") % 7).cast("string"),
        F.when(F.col("event_id") % 3 == 0, "/").otherwise(""),
        F.lit("?utm_source=feed&z=26&a=1"),
        F.when(F.col("event_id") % 5 == 0, "&fbclid=abc").otherwise(""),
        F.lit("#sec"),
        (F.col("event_id") % 4).cast("string"),
    )
    return ev.select(F.col("event_id").alias("url_id"), url.alias("url"))


@register(
    "td_url_canonical",
    oracle=f"""
    WITH synth AS ({_URL_SYNTH_SQL}),
    norm AS ({_URL_CANON_SQL})
    SELECT url_id, canon, host,
           (row_number() OVER (PARTITION BY
              CASE WHEN canon = '' THEN chr(0) || 'raw:' || CAST(url_id AS VARCHAR)
                   ELSE canon END
              ORDER BY url_id) = 1) AS keep
    FROM norm
    """,
)
def td_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + canonical-exact dedup
    (operators/curation.py:canonical_url/url_dedup): scheme/host case,
    www, default ports, fragments, tracking params, param order and
    trailing slashes all collapse; one survivor (smallest id) per
    canonical URL. Pure codegen normalization; only (id, canon, host)
    strings shuffle, keyed by the canonical URL."""
    from loggie_spark.operators.curation import url_dedup

    return url_dedup(_url_fixture(spark, sf_dir), url_col="url", id_col="url_id")


@register(
    "td_host_dedup",
    oracle=f"""
    WITH synth AS ({_URL_SYNTH_SQL}),
    norm AS ({_URL_CANON_SQL})
    SELECT host, CAST(count(*) AS BIGINT) AS n_urls,
           CAST(count(DISTINCT CASE WHEN canon = ''
                 THEN chr(0) || 'raw:' || CAST(url_id AS VARCHAR)
                 ELSE canon END) AS BIGINT) AS n_canonical,
           round(CAST(CAST(1.0 - count(DISTINCT CASE WHEN canon = ''
                 THEN chr(0) || 'raw:' || CAST(url_id AS VARCHAR)
                 ELSE canon END) / CAST(count(*) AS DOUBLE)
                 AS VARCHAR) AS DECIMAL(30,17)), 4) AS dup_ratio
    FROM norm GROUP BY host
    """,
)
def td_host_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host crawl dedup report (operators/curation.py:
    host_dedup_stats): raw URL count, distinct canonical pages and the
    duplicate ratio per host — the mirror-host / session-id-factory
    audit a crawl runs before committing fetch budget. One two-level
    aggregation, map-side combined on host."""
    from loggie_spark.operators.curation import host_dedup_stats

    return host_dedup_stats(_url_fixture(spark, sf_dir), url_col="url", id_col="url_id")


# ===========================================================================
# Round-6 continuation: C4 page rules, quality-signal bundle, script mix,
# length-bucket planner
# ===========================================================================

# The corpus text is bare lowercase words (no newlines, no punctuation),
# so the C4 page fixture decorates the deterministic 8-word chunk lines
# (same construction as td_line_dedup) with punctuation / javascript /
# curly-brace / lorem-ipsum markers keyed off (doc_id, line pos) — every
# C4 rule fires on a known subset.  Spark and DuckDB build the IDENTICAL
# page string.
_PAGE_SYNTH_SQL = f"""
      SELECT doc_id,
        array_to_string(
          [array_to_string(list_slice(w, i, i + 7), ' ')
             || CASE WHEN (doc_id + (i - 1) // 8) % 7 = 0
                     THEN ' javascript framework' ELSE '' END
             || CASE ((doc_id * 31 + (i - 1) // 8) % 4)
                  WHEN 0 THEN '.' WHEN 1 THEN '!' WHEN 3 THEN '?'
                  ELSE '' END
           for i in generate_series(1, greatest(len(w), 1), 8)]
          || CASE WHEN doc_id % 41 = 0
                  THEN ['function() {{ return }}'] ELSE [] END
          || CASE WHEN doc_id % 43 = 0
                  THEN ['lorem ipsum dolor sit amet.'] ELSE [] END,
          chr(10)) AS page
      FROM (SELECT doc_id, {_WORDS_SQL} AS w FROM documents)
"""


def _page_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4 page fixture, Spark side — must mirror _PAGE_SYNTH_SQL
    string-for-string."""
    from loggie_spark.operators.dedup import _materialize, tokenize

    docs = _t(spark, sf_dir, "documents")
    base = _materialize(
        docs.select("doc_id", "text"), {"_w": tokenize(F.col("text"))}
    )
    w = F.col("_w")
    did = F.col("doc_id")

    def _line(i):
        pos = F.floor((i - 1) / 8).cast("long")
        sel = (did * 31 + pos) % 4
        return F.concat(
            F.array_join(F.slice(w, i, 8), " "),
            F.when((did + pos) % 7 == 0, " javascript framework").otherwise(""),
            F.when(sel == 0, ".")
            .when(sel == 1, "!")
            .when(sel == 3, "?")
            .otherwise(""),
        )

    lines = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(w), F.lit(1)), F.lit(8)), _line
    )
    empty = F.array().cast("array<string>")
    extra41 = F.when(
        did % 41 == 0, F.array(F.lit("function() { return }"))
    ).otherwise(empty)
    extra43 = F.when(
        did % 43 == 0, F.array(F.lit("lorem ipsum dolor sit amet."))
    ).otherwise(empty)
    return base.select(
        "doc_id",
        F.array_join(F.concat(lines, extra41, extra43), "\n").alias("page"),
    )


@register(
    "td_c4_filter",
    oracle=f"""
    WITH synth AS ({_PAGE_SYNTH_SQL}),
    split AS (
      SELECT doc_id, page, str_split(page, chr(10)) AS ls FROM synth
    ),
    kept AS (
      SELECT doc_id, page, len(ls) AS n_lines,
             list_filter(ls, l ->
               regexp_matches(l, '[.!?"]$')
               AND len(list_filter(str_split(l, ' '), x -> x <> '')) >= 3
               AND NOT regexp_matches(lower(l), '\\bjavascript\\b')) AS ks
      FROM split
    )
    SELECT doc_id,
           CAST(n_lines AS INT) AS n_lines,
           CAST(len(ks) AS INT) AS n_kept,
           (NOT contains(page, '{{')
            AND NOT contains(lower(page), 'lorem ipsum')
            AND len(ks) >= 3) AS page_pass,
           -- array_to_string([]) is NULL in DuckDB; Spark hashes ''
           md5(coalesce(array_to_string(ks, chr(10)), '')) AS clean_hash
    FROM kept
    """,
)
def td_c4_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 page/line cleaning rules (operators/curation.py:
    c4_page_filter; Raffel et al. 2020 §2.2): terminal-punctuation +
    min-words + javascript line rules, curly-brace / lorem-ipsum /
    min-kept-lines page rules. One narrow codegen pass, ZERO shuffles —
    the shape-rule complement of the corpus-frequency line filters. The
    fixture decorates the deterministic 8-word chunk lines so every
    rule fires on a known subset of (doc, line) positions."""
    from loggie_spark.operators.curation import c4_page_filter

    return c4_page_filter(_page_fixture(spark, sf_dir), text_col="page")


_DEC4 = "round(CAST(CAST({x} AS VARCHAR) AS DECIMAL(30,17)), 4)"


@register(
    "td_quality_signals",
    oracle=f"""
    WITH w AS (SELECT doc_id, text, {_WORDS_SQL} AS w FROM documents),
    g AS (
      SELECT doc_id, text, w, len(w) AS n,
        CASE WHEN len(w) >= 2 THEN [w[i] || ' ' || w[i+1]
             for i in generate_series(1, len(w) - 1)]
             ELSE [] END AS g2,
        CASE WHEN len(w) >= 3 THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
             for i in generate_series(1, len(w) - 2)]
             ELSE [] END AS g3
      FROM w
    ),
    h AS (SELECT *, list_distinct(g2) AS dg2 FROM g),
    c AS (
      SELECT *,
        list_transform(dg2, t -> len(list_filter(g2, x -> x = t))) AS c2,
        list_transform(g3, t -> len(list_filter(g3, x -> x = t)) >= 2) AS d3,
        list_transform(w, x -> length(x)) AS lens
      FROM h
    ),
    s AS (
      SELECT *,
        CAST(coalesce(list_sum(lens), 0) AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
        CAST(coalesce(list_sum(list_transform(lens, x -> x * x)), 0) AS DOUBLE)
          / CAST(n AS DOUBLE) AS meansq,
        list_max(c2) AS maxc
      FROM c
    )
    SELECT doc_id,
      CAST(n AS INT) AS n_words,
      CAST(length(text) AS INT) AS n_chars,
      CASE WHEN n > 0
           THEN {_DEC4.format(x="sqrt(greatest(meansq - mean * mean, 0.0))")}
           ELSE 0.0 END AS std_word_len,
      CASE WHEN n > 0 THEN CAST(list_max(lens) AS INT) ELSE 0 END
        AS max_word_len,
      CASE WHEN n >= 2 THEN {_DEC4.format(x='''
           CAST(maxc * length(list_min(list_filter(
             [CASE WHEN c2[j] = maxc THEN dg2[j] END
              for j in generate_series(1, len(dg2))],
             x -> x IS NOT NULL))) AS DOUBLE) / length(text)''')}
           ELSE 0.0 END AS top2gram_frac,
      CASE WHEN n >= 3 THEN {_DEC4.format(x='''
           CAST(len(list_filter(generate_series(1, n), i ->
             len(list_filter(list_slice(d3, greatest(i - 2, 1),
                                        least(i, len(g3))),
                 b -> b)) > 0)) AS DOUBLE) / n''')}
           ELSE 0.0 END AS dupe3_word_frac
    FROM s
    """,
)
def td_quality_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RedPajama-V2 / Gopher quality-signal bundle (operators/
    textstats.py:quality_signals): word/char counts, word-length
    std+max, most-frequent-2-gram char share, duplicated-3-gram word
    coverage — ONE narrow codegen pass, zero shuffles. The in-row
    n-gram counting is O(G²) per doc (bounded by upstream maxbytes
    truncation), which beats any shuffle-based formulation at corpus
    scale."""
    from loggie_spark.operators.textstats import quality_signals

    return quality_signals(_t(spark, sf_dir, "documents"))


# Multiscript fixture: the corpus is ASCII English, so append
# deterministic Cyrillic / Han / Greek / Arabic / digit snippets keyed
# off doc_id — both engines build the IDENTICAL string.
_SCRIPT_SYNTH_SQL = f"""
      SELECT doc_id,
        array_to_string(list_slice({_WORDS_SQL}, 1, 5), ' ')
        || CASE WHEN doc_id % 3 = 0 THEN ' привет мир' ELSE '' END
        || CASE WHEN doc_id % 5 = 0 THEN ' 你好世界' ELSE '' END
        || CASE WHEN doc_id % 7 = 1 THEN ' γειά κόσμε' ELSE '' END
        || CASE WHEN doc_id % 11 = 2 THEN ' مرحبا بالعالم' ELSE '' END
        || CASE WHEN doc_id % 2 = 0 THEN ' 42' ELSE '' END AS text
      FROM documents
"""


def _script_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from loggie_spark.operators.dedup import tokenize

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    text = F.concat(
        F.array_join(F.slice(tokenize(F.col("text")), 1, 5), " "),
        F.when(did % 3 == 0, " привет мир").otherwise(""),
        F.when(did % 5 == 0, " 你好世界").otherwise(""),
        F.when(did % 7 == 1, " γειά κόσμε").otherwise(""),
        F.when(did % 11 == 2, " مرحبا بالعالم").otherwise(""),
        F.when(did % 2 == 0, " 42").otherwise(""),
    )
    return docs.select("doc_id", text.alias("text"))


def _script_mix_oracle() -> str:
    from loggie_spark.operators.textstats import SCRIPT_CLASSES

    cnt = {
        name: f"len(regexp_extract_all(text, '{re2}'))"
        for name, _, re2 in SCRIPT_CLASSES
    }
    cnt["digit"] = "len(regexp_extract_all(text, '[0-9]'))"
    fracs = ",\n      ".join(
        f"CASE WHEN n > 0 THEN {_DEC4.format(x=f'CAST({cnt[name]} AS DOUBLE) / n')}"
        f" ELSE 0.0 END AS {name}_frac"
        for name in [*[n for n, _, _ in SCRIPT_CLASSES], "digit"]
    )
    m = "greatest(" + ", ".join(cnt[n] for n, _, _ in SCRIPT_CLASSES) + ")"
    dom = f"CASE WHEN {m} = 0 THEN 'none' " + " ".join(
        f"WHEN {cnt[name]} = {m} THEN '{name}'" for name, _, _ in SCRIPT_CLASSES
    ) + " END"
    return f"""
    WITH synth AS ({_SCRIPT_SYNTH_SQL}),
    t AS (SELECT doc_id, text,
                 length(regexp_replace(text, '\\s+', '', 'g')) AS n
          FROM synth)
    SELECT doc_id, CAST(n AS INT) AS n_chars,
      {fracs},
      {dom} AS dominant
    FROM t
    """


@register("td_script_mix", oracle=_script_mix_oracle())
def td_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode script composition (operators/textstats.py:
    script_profile): per-doc character fractions for Latin / Cyrillic /
    Han / Greek / Arabic / digits and the dominant script — the cheap
    unambiguous prefilter before stopword langid. One regexp_count per
    class, narrow codegen, zero shuffles; the fixture appends
    deterministic multiscript snippets so every class fires."""
    from loggie_spark.operators.textstats import script_profile

    return script_profile(_script_fixture(spark, sf_dir))


_LB_B = 4


@register(
    "td_length_buckets",
    oracle=f"""
    WITH w AS (SELECT len({_WORDS_SQL}) AS l FROM documents),
    c AS (SELECT l AS _len, count(*) AS _cnt FROM w GROUP BY l),
    r AS (SELECT _len, _cnt,
            coalesce(sum(_cnt) OVER (ORDER BY _len
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS _before,
            sum(_cnt) OVER () AS _n
          FROM c),
    assigned AS (
      SELECT least(CAST(floor((_before * {_LB_B}) / _n) AS INT), {_LB_B - 1})
               AS bucket, _len, _cnt
      FROM r)
    SELECT bucket,
           CAST(sum(_cnt) AS BIGINT) AS n_docs,
           CAST(min(_len) AS INT) AS min_len,
           CAST(max(_len) AS INT) AS max_len,
           CAST(sum(_len * _cnt) AS BIGINT) AS sum_len,
           CASE WHEN max(_len) > 0 THEN {_DEC4.format(
             x="1.0 - CAST(sum(_len * _cnt) AS DOUBLE)"
               " / (CAST(sum(_cnt) AS DOUBLE) * max(_len))")}
           ELSE 0.0 END AS pad_waste_frac
    FROM assigned GROUP BY bucket
    """,
)
def td_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth length-bucket plan (operators/sampling.py:
    length_bucket_plan): rank-exact quantile buckets over per-doc word
    counts with per-bucket padding-waste — the batching plan that makes
    similar-length sequences share a batch. One map-side-combinable
    (length, count) aggregation; the window/rollup run on the bounded
    distinct-length frame, never on the corpus."""
    from loggie_spark.operators.dedup import tokenize
    from loggie_spark.operators.sampling import length_bucket_plan

    lens = _t(spark, sf_dir, "documents").select(
        F.size(tokenize(F.col("text"))).alias("n_tok")
    )
    return length_bucket_plan(lens, len_col="n_tok", n_buckets=_LB_B)


# -- physical-layout planning (operators/filelayout.py) --------------------

_CP_TARGET = 4096
_CP_BYTES_SQL = (
    "(64 + ((sum(CAST(floor(value) AS BIGINT)) % 4000) + 4000) % 4000)"
    " * CASE WHEN user_id % 7 = 0 THEN 3 ELSE 1 END"
)


@register(
    "td_compaction_plan",
    oracle=f"""
    WITH files AS (
      SELECT event_type AS part, user_id AS file_id,
             {_CP_BYTES_SQL} AS bytes
      FROM events GROUP BY event_type, user_id),
    cand AS (SELECT * FROM files WHERE bytes < {_CP_TARGET}),
    binned AS (
      SELECT part, bytes,
        CAST(floor(coalesce(sum(bytes) OVER (
          PARTITION BY part ORDER BY bytes DESC, file_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          / {_CP_TARGET}) AS INT) AS bin
      FROM cand)
    SELECT part, bin,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(bytes) AS BIGINT) AS total_bytes,
           CAST(max(bytes) AS BIGINT) AS max_file_bytes
    FROM binned GROUP BY part, bin
    """,
)
def td_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning (operators/filelayout.py:
    compaction_plan — Iceberg rewrite_data_files/binpack shape): per
    table partition, largest-first rolling-offset bins of target size
    over a file manifest; at-or-over-target files pass through. The
    plan runs on METADATA (1 row per file) with one window per
    partition key — never on data. The fixture derives a deterministic
    manifest from events (per-(type,user) pseudo-files with scale-free
    byte sizes so every SF exercises multi-file bins AND the large-file
    pass-through)."""
    from loggie_spark.operators.filelayout import compaction_plan, compaction_summary

    files = (
        _t(spark, sf_dir, "events")
        .groupBy(
            F.col("event_type").alias("part"), F.col("user_id").alias("file_id")
        )
        .agg(
            (
                (F.lit(64) + F.pmod(F.sum(F.floor("value").cast("long")), F.lit(4000)))
                * F.when(F.col("file_id") % 7 == 0, 3).otherwise(1)
            ).alias("bytes")
        )
    )
    return compaction_summary(compaction_plan(files, _CP_TARGET))


def _zorder_oracle() -> str:
    from loggie_spark.operators.filelayout import zorder_sql

    z = zorder_sql("x", "y")
    return f"""
    WITH base AS (
      SELECT ((event_id % 256) + 256) % 256 AS x,
             ((CAST(floor(value) AS BIGINT) % 256) + 256) % 256 AS y
      FROM events),
    tagged AS (
      SELECT 'linear' AS layout, ((x << 8) | y) >> 10 AS fid, x, y FROM base
      UNION ALL
      SELECT 'zorder' AS layout, {z} >> 10 AS fid, x, y FROM base),
    pf AS (SELECT layout, fid, count(*) AS n,
                  min(x) AS mnx, max(x) AS mxx,
                  min(y) AS mny, max(y) AS mxy
           FROM tagged GROUP BY layout, fid)
    SELECT layout,
           CAST(count(*) AS BIGINT) AS files_total,
           CAST(sum(CASE WHEN mny <= 79 AND mxy >= 64 THEN 1 ELSE 0 END)
                AS BIGINT) AS files_hit,
           {_DEC4.format(x="avg(CAST(mxx - mnx AS DOUBLE))")} AS avg_x_span,
           {_DEC4.format(x="avg(CAST(mxy - mny AS DOUBLE))")} AS avg_y_span,
           CAST(sum(n) AS BIGINT) AS n_rows
    FROM pf GROUP BY layout
    """


@register("td_zorder_layout", oracle=_zorder_oracle())
def td_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering audit (operators/filelayout.py:
    zorder_audit — Morton interleave via magic-mask bit spreads, the
    rewrite_sort_order decision input): value-range file binning on a
    linear vs z-order key, per-file min/max spans, and the file count a
    range probe on the SECOND dimension must open. Linear layouts keep
    the full y-range in every file (probe touches ~all); z-order bounds
    both spans (probe touches ~√F). One narrow scan, a 2×-explode, and
    a ≤2^(log2F+1)-group aggregate — no global sort at any scale."""
    from loggie_spark.operators.filelayout import zorder_audit

    ev = _t(spark, sf_dir, "events")
    x = F.pmod(F.col("event_id"), F.lit(256)).cast("int")
    y = F.pmod(F.floor("value").cast("long"), F.lit(256)).cast("int")
    return zorder_audit(ev, x, y)


@register(
    "td_pmi_collocations",
    oracle=f"""
    WITH toks AS (SELECT {_WORDS_SQL} AS ws FROM documents),
    uni AS (SELECT w, count(*) AS c_w
            FROM toks, unnest(ws) AS t(w) GROUP BY w),
    nu AS (SELECT sum(c_w) AS n_uni FROM uni),
    bi AS (SELECT x, y, count(*) AS c_xy FROM (
             SELECT ws[i] AS x, ws[i + 1] AS y
             FROM toks, unnest(range(1, len(ws))) AS r(i))
           GROUP BY x, y),
    nb AS (SELECT sum(c_xy) AS n_bi FROM bi),
    j AS (SELECT b.x, b.y, b.c_xy,
                 CAST(b.c_xy AS DOUBLE) * n_uni / ux.c_w * n_uni / uy.c_w
                   / n_bi AS lift
          FROM bi b, nu, nb, uni ux, uni uy
          WHERE ux.w = b.x AND uy.w = b.y AND b.c_xy >= 3)
    SELECT x, y, CAST(c_xy AS BIGINT) AS c_xy,
           {_DEC4.format(x="ln(lift)")} AS pmi
    FROM j WHERE lift >= 2.0
    ORDER BY c_xy DESC, x, y LIMIT 50
    """,
)
def td_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-word collocations by PMI (operators/corpusstats.py:
    pmi_collocations; Church & Hanks 1990, word2vec phrase pass): the
    phrase-mining step that finds multi-word units worth protecting
    from tokenizer splits. Two map-side-combinable corpus scans onto
    vocab-bounded model frames; corpus totals via the bounded-frame
    window idiom; topk = distributed TakeOrdered. The lift cut compares
    doubles built with the identical left-associative expression on
    both engines, so the threshold is bit-deterministic."""
    from loggie_spark.operators.corpusstats import pmi_collocations

    return pmi_collocations(_t(spark, sf_dir, "documents"))


@register(
    "td_zipf_fit",
    oracle=f"""
    WITH toks AS (SELECT {_WORDS_SQL} AS ws FROM documents),
    vocab AS (SELECT w, count(*) AS c
              FROM toks, unnest(ws) AS t(w) GROUP BY w
              ORDER BY c DESC, w LIMIT 100),
    ranked AS (SELECT row_number() OVER (ORDER BY c DESC, w) AS r, c
               FROM vocab),
    lists AS (SELECT count(*) AS v,
                     list(ln(CAST(r AS DOUBLE)) ORDER BY r) AS xs,
                     list(ln(CAST(c AS DOUBLE)) ORDER BY r) AS ys,
                     list(ln(CAST(r AS DOUBLE)) * ln(CAST(c AS DOUBLE))
                          ORDER BY r) AS ps
              FROM ranked),
    sums AS (SELECT CAST(v AS DOUBLE) AS n,
      list_reduce(list_prepend(CAST(0.0 AS DOUBLE), xs),
                  (a, b) -> a + b) AS sx,
      list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ys),
                  (a, b) -> a + b) AS sy,
      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                  list_transform(xs, e -> e * e)), (a, b) -> a + b) AS sxx,
      list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ps),
                  (a, b) -> a + b) AS sxy,
      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                  list_transform(ys, e -> e * e)), (a, b) -> a + b) AS syy
    FROM lists)
    SELECT CAST(n AS BIGINT) AS n_ranks,
      {_DEC4.format(x="(n * sxy - sx * sy) / (n * sxx - sx * sx)")} AS slope,
      {_DEC4.format(x="(sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n")}
        AS intercept,
      {_DEC4.format(
        x="(n * sxy - sx * sy) * (n * sxy - sx * sy)"
          " / ((n * sxx - sx * sx) * (n * syy - sy * sy))")} AS r2
    FROM sums
    """,
)
def td_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law corpus diagnostic (operators/corpusstats.py: zipf_fit):
    least-squares slope/intercept/R² of ln(freq) on ln(rank) over the
    top-100 vocabulary — natural text sits near slope −1, boilerplate
    drifts off it. One corpus scan → distributed TakeOrdered top-V →
    regression sums as SEQUENTIAL rank-ordered folds (F.aggregate ≡
    list_reduce) so float accumulation order matches DuckDB exactly."""
    from loggie_spark.operators.corpusstats import zipf_fit

    return zipf_fit(_t(spark, sf_dir, "documents"))


_WF_FRAC, _WF_EPOCHS = 2.96, 3.0


@register(
    "td_mixture_waterfill",
    oracle=f"""
    WITH per AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len({_WORDS_SQL})) AS BIGINT) AS tokens
      FROM documents GROUP BY source),
    base AS (SELECT *, pow(CAST(tokens AS DOUBLE), 0.5) AS w,
                    CAST(tokens AS DOUBLE) * {_WF_EPOCHS} AS cap
             FROM per),
    b2 AS (SELECT *, cap / w AS r FROM base),
    tot AS (SELECT
      list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list(w))),
                  (a, x) -> a + x) AS tot_w,
      {_WF_FRAC} * CAST(sum(tokens) AS DOUBLE) AS b
      FROM b2),
    pre AS (SELECT b2.*,
      coalesce(sum(cap) OVER (ORDER BY r, source
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS pre_cap,
      coalesce(sum(w) OVER (ORDER BY r, source
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS pre_w
      FROM b2),
    flag AS (SELECT p.*, t.tot_w, t.b,
                    (p.r * (t.tot_w - p.pre_w) <= t.b - p.pre_cap) AS capped
             FROM pre p, tot t),
    agg AS (SELECT
      sum(CASE WHEN capped THEN cap ELSE 0.0 END) AS cap_sum,
      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        list_sort(coalesce(list(w) FILTER (WHERE capped),
                           CAST([] AS DOUBLE[])))), (a, x) -> a + x)
        AS capw_sum
      FROM flag),
    fin AS (SELECT f.*,
              CAST(floor(CASE WHEN f.capped THEN f.cap
                         ELSE f.w * ((f.b - a.cap_sum)
                                     / (f.tot_w - a.capw_sum)) END)
                   AS BIGINT) AS alloc_tokens
            FROM flag f, agg a)
    SELECT source, n_docs, tokens,
           {_DEC4.format(x="w")} AS weight,
           alloc_tokens,
           CASE WHEN tokens > 0 THEN {_DEC4.format(
             x="CAST(alloc_tokens AS DOUBLE) / tokens")}
           ELSE 0.0 END AS epochs,
           capped
    FROM fin
    """,
)
def td_mixture_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-capped mixture water-filling (operators/sampling.py:
    mixture_waterfill — the Gopher/Llama "cap small sources at ~N
    epochs" allocation): alloc_i = min(cap_i, t·tokens_i^α) with the
    water level t chosen so allocations sum to the budget — surplus
    from capped sources FLOWS to uncapped ones (token_budget_plan's
    missing half). Closed form via prefix sums over the source-bounded
    frame after one corpus scan; the scale-free budget (2.96× corpus
    tokens) exercises the mixed capped/uncapped cut at every SF with
    ≥0.1% margin at the threshold."""
    from loggie_spark.operators.sampling import mixture_waterfill

    return mixture_waterfill(
        _t(spark, sf_dir, "documents"),
        budget_frac=_WF_FRAC,
        max_epochs=_WF_EPOCHS,
    )


# -- crawl-graph centrality (operators/graph.py) ----------------------------

_PR_I = "((event_id % 40) + 40) % 40"


def _pagerank_oracle() -> str:
    from loggie_spark.operators.graph import pagerank_unrolled_sql

    body, fin = pagerank_unrolled_sql("edges", iters=4)
    mk = "'h' || CAST({e} AS VARCHAR)"
    src = mk.format(e="i")
    return f"""
    WITH raw AS (SELECT {_PR_I} AS i FROM events
                 WHERE ({_PR_I}) % 10 <> 0),
    edges AS (
      SELECT DISTINCT {src} AS src,
             {mk.format(e="(i * 7 + 3) % 40")} AS dst FROM raw
      UNION SELECT {src}, {mk.format(e="(i * 3 + 11) % 40")} FROM raw
      UNION SELECT {src}, {mk.format(e="(i * i + 1) % 40")} FROM raw),
    {body}
    SELECT node AS host, CAST(out_deg AS BIGINT) AS out_deg,
           {_DEC4.format(x="rank")} AS rank
    FROM {fin}
    """


@register("td_host_pagerank", oracle=_pagerank_oracle())
def td_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-graph PageRank quality prior (operators/graph.py: pagerank
    — the link-centrality signal crawl-based curation uses to gate
    hosts, CommonCrawl-ranking shape): 4 fixed power iterations with
    dangling-mass redistribution; EVERY float reduction is an ordered
    sequential fold so the oracle's unrolled CTEs reproduce the ranks
    bit-exactly. One corpus-scale distinct-edge pass, then host-bounded
    joins only; job count independent of data. The fixture derives a
    deterministic 40-host multigraph from events (three affine/quadratic
    edge families; hosts ≡ 0 mod 10 emit nothing — dangling)."""
    from loggie_spark.operators.graph import pagerank

    ev = _t(spark, sf_dir, "events")
    i = F.pmod(F.col("event_id"), F.lit(40))
    h = lambda c: F.concat(F.lit("h"), c.cast("string"))  # noqa: E731
    edges = (
        ev.where(F.pmod(i, F.lit(10)) != 0)
        .select(
            F.explode(
                F.array(
                    F.struct(
                        h(i).alias("src"),
                        h(F.pmod(i * 7 + 3, F.lit(40))).alias("dst"),
                    ),
                    F.struct(
                        h(i).alias("src"),
                        h(F.pmod(i * 3 + 11, F.lit(40))).alias("dst"),
                    ),
                    F.struct(
                        h(i).alias("src"),
                        h(F.pmod(i * i + 1, F.lit(40))).alias("dst"),
                    ),
                )
            ).alias("_e")
        )
        .select("_e.src", "_e.dst")
    )
    out = pagerank(edges, iters=4)
    return out.select(
        F.col("node").alias("host"),
        F.col("out_deg").cast("long").alias("out_deg"),
        F.round("rank", 4).alias("rank"),
    )


# -- manifest snapshot diff (operators/filelayout.py) -----------------------

_MD_BYTES_SQL = "64 + ((sum(CAST(floor(value) AS BIGINT)) % 4000) + 4000) % 4000"


@register(
    "td_manifest_diff",
    oracle=f"""
    WITH old AS (
      SELECT event_type AS part, user_id AS file_id,
             {_MD_BYTES_SQL} AS bytes
      FROM events WHERE ((user_id % 5) + 5) % 5 <> 4
      GROUP BY event_type, user_id),
    new AS (
      SELECT part, file_id,
             b0 * CASE WHEN ((file_id % 3) + 3) % 3 = 0 THEN 2 ELSE 1 END
               AS bytes
      FROM (SELECT event_type AS part, user_id AS file_id,
                   {_MD_BYTES_SQL} AS b0
            FROM events WHERE ((user_id % 7) + 7) % 7 <> 6
            GROUP BY event_type, user_id)),
    j AS (SELECT coalesce(o.part, n.part) AS part,
                 o.bytes AS ob, n.bytes AS nb
          FROM old o FULL OUTER JOIN new n
            ON o.part = n.part AND o.file_id = n.file_id)
    SELECT part,
      CAST(sum(CASE WHEN ob IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
      CAST(sum(CASE WHEN nb IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
      CAST(sum(CASE WHEN ob IS NOT NULL AND nb IS NOT NULL AND ob <> nb
               THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
      CAST(sum(CASE WHEN ob IS NOT NULL AND nb IS NOT NULL AND ob = nb
               THEN 1 ELSE 0 END) AS BIGINT) AS n_same,
      CAST(sum(coalesce(nb, 0)) - sum(coalesce(ob, 0)) AS BIGINT)
        AS bytes_delta
    FROM j GROUP BY part
    """,
)
def td_manifest_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest snapshot diff (operators/filelayout.py: manifest_diff —
    the Iceberg snapshot-compare audit run after every compaction /
    incremental-append cycle): per partition, files added / removed /
    rewritten / untouched between two snapshots plus the net byte
    delta. One full-outer metadata join + rollup; never touches data.
    The fixture derives two deterministic manifests from events (old
    drops user%5==4 → 'added' in new; new drops user%7==6 →
    'removed'; user%3==0 doubles → 'changed')."""
    from loggie_spark.operators.filelayout import manifest_diff

    ev = _t(spark, sf_dir, "events")

    def manifest(drop_mod: int, drop_val: int) -> DataFrame:
        return (
            ev.where(F.pmod(F.col("user_id"), F.lit(drop_mod)) != drop_val)
            .groupBy(
                F.col("event_type").alias("part"),
                F.col("user_id").alias("file_id"),
            )
            .agg(
                (
                    F.lit(64)
                    + F.pmod(F.sum(F.floor("value").cast("long")), F.lit(4000))
                ).alias("bytes")
            )
        )

    old = manifest(5, 4)
    new = manifest(7, 6).withColumn(
        "bytes",
        F.col("bytes")
        * F.when(F.pmod(F.col("file_id"), F.lit(3)) == 0, 2).otherwise(1),
    )
    return manifest_diff(old, new)


# ===========================================================================
# Log analytics: template mining + histogram quantiles
# ===========================================================================

# Varied app-log bodies (one shape per event_type) so template mining
# has real structure to discover — the same deterministic synthesis
# trick as _SYNTH_LINE_SQL, spelled identically on both engines.
_APPLOG_LINE_SQL = (
    "CASE event_type "
    "WHEN 'view' THEN 'GET /page/' || CAST(event_id % 97 AS VARCHAR) || "
    "' 200 ' || CAST(CAST(floor(value * 10) AS BIGINT) AS VARCHAR) || "
    "'ms from 10.0.' || CAST(user_id % 16 AS VARCHAR) || '.' || "
    "CAST(user_id % 250 AS VARCHAR) "
    "WHEN 'click' THEN 'POST /u/' || CAST(user_id AS VARCHAR) || "
    "'/click 204 ' || CAST(CAST(floor(value * 10) AS BIGINT) AS VARCHAR) || 'ms' "
    "WHEN 'purchase' THEN 'POST /checkout/' || CAST(event_id AS VARCHAR) || "
    "' amount=' || CAST(CAST(floor(value) AS BIGINT) AS VARCHAR) || ' status=ok' "
    "ELSE 'ERR timeout user=' || CAST(user_id AS VARCHAR) || ' after ' || "
    "CAST(CAST(floor(value * 10) AS BIGINT) AS VARCHAR) || 'ms retry=' || "
    "CAST(event_id % 3 AS VARCHAR) END"
)


def _synth_applog_line(df: DataFrame) -> DataFrame:
    ms = F.floor(F.col("value") * 10).cast("long").cast("string")
    body = (
        F.when(
            F.col("event_type") == "view",
            F.concat(
                F.lit("GET /page/"),
                (F.col("event_id") % 97).cast("string"),
                F.lit(" 200 "),
                ms,
                F.lit("ms from 10.0."),
                (F.col("user_id") % 16).cast("string"),
                F.lit("."),
                (F.col("user_id") % 250).cast("string"),
            ),
        )
        .when(
            F.col("event_type") == "click",
            F.concat(
                F.lit("POST /u/"),
                F.col("user_id").cast("string"),
                F.lit("/click 204 "),
                ms,
                F.lit("ms"),
            ),
        )
        .when(
            F.col("event_type") == "purchase",
            F.concat(
                F.lit("POST /checkout/"),
                F.col("event_id").cast("string"),
                F.lit(" amount="),
                F.floor(F.col("value")).cast("long").cast("string"),
                F.lit(" status=ok"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("ERR timeout user="),
                F.col("user_id").cast("string"),
                F.lit(" after "),
                ms,
                F.lit("ms retry="),
                (F.col("event_id") % 3).cast("string"),
            )
        )
    )
    return df.withColumn("body", body)


def _log_templates_oracle() -> str:
    from loggie_spark.operators.logmine import masks_to_sql

    return f"""
    WITH lines AS (
      SELECT event_id, {_APPLOG_LINE_SQL} AS body FROM events
    )
    SELECT {masks_to_sql("body")} AS template,
           CAST(count(*) AS BIGINT) AS cnt,
           min(event_id) AS example_id
    FROM lines GROUP BY 1
    """


@register("th_log_templates", oracle=_log_templates_oracle())
def th_log_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log template mining (operators/logmine.py:mine_templates): mask
    variable fields (IPv4 before digit-runs, hex ids, numbers) with a
    deterministic regexp_replace chain, then count lines per template —
    the discovery pass run BEFORE a layout exists for the reference's
    normalize/regex parser (reference pkg/interceptor/normalize/
    regex.go parses known shapes; this finds the shapes). One codegen
    pass + one bounded-cardinality aggregation; no text survives the
    shuffle."""
    from loggie_spark.operators.logmine import mine_templates

    lines = _synth_applog_line(_t(spark, sf_dir, "events"))
    return mine_templates(lines, col="body", id_col="event_id")


@register(
    "th_latency_quantiles",
    oracle=f"""
    WITH bounds AS (
      SELECT min(CAST(value AS DOUBLE)) AS lo, max(CAST(value AS DOUBLE)) AS hi
      FROM events
    ),
    bins AS (
      SELECT event_type, lo, hi,
             CASE WHEN hi = lo THEN CAST(0 AS BIGINT)
                  ELSE least(CAST(floor((CAST(value AS DOUBLE) - lo)
                                        / ((hi - lo) / 64.0)) AS BIGINT),
                             CAST(63 AS BIGINT)) END AS bin
      FROM events, bounds
    ),
    counts AS (
      SELECT event_type, lo, hi, bin, count(*) AS c
      FROM bins GROUP BY event_type, lo, hi, bin
    ),
    edged AS (
      SELECT event_type,
             lo + (CAST(bin AS DOUBLE) + 1.0) * ((hi - lo) / 64.0) AS edge,
             CAST(sum(c) OVER (PARTITION BY event_type ORDER BY bin)
                  AS DOUBLE) AS cum,
             CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM counts
    )
    SELECT event_type, n,
           {_DEC4.format(x="min(CASE WHEN cum >= CAST(ceil(0.5 * CAST(n AS DOUBLE)) AS DOUBLE) THEN edge END)")} AS p50,
           {_DEC4.format(x="min(CASE WHEN cum >= CAST(ceil(0.9 * CAST(n AS DOUBLE)) AS DOUBLE) THEN edge END)")} AS p90,
           {_DEC4.format(x="min(CASE WHEN cum >= CAST(ceil(0.99 * CAST(n AS DOUBLE)) AS DOUBLE) THEN edge END)")} AS p99
    FROM edged GROUP BY event_type, n
    """,
)
def th_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width-histogram p50/p90/p99 per event type (operators/
    sketches.py:binned_quantiles) — the mergeable, deterministic
    percentile summary for latency dashboards: (group, bin) partial
    counts are the only shuffled state (map-side combined, merge =
    addition, same shard-safety argument as count-min/HLL in the
    module), the answer is the first bin upper edge reaching
    ceil(q*n). Values never sort globally; edges/bins/ranks are pure
    IEEE arithmetic both engines reproduce bit-for-bit."""
    from loggie_spark.operators.sketches import binned_quantiles

    return binned_quantiles(
        _t(spark, sf_dir, "events"), "value", "event_type", (0.5, 0.9, 0.99), 64
    )


def _bm25_ctes(n_query_terms=3, k1=1.2, b=0.75) -> str:
    """The BM25 scoring chain as a reusable WITH-body (ends at
    ``scored`` = (doc_id, n_terms, score)) — shared by the td_bm25_topk
    oracle and the RRF hybrid's lexical leg."""
    # Constants injected from the SAME Python floats the Spark side
    # uses (repr round-trips exactly, so both engines parse the same
    # doubles); the per-doc sum folds in word order per the repo rule.
    return f"""w AS (SELECT doc_id, {_WORDS_SQL} AS words FROM documents),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(len(words)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
      FROM w
    ),
    dfreq AS (
      SELECT word, CAST(count(*) AS BIGINT) AS df
      FROM (SELECT doc_id, unnest(list_distinct(words)) AS word FROM w)
      GROUP BY word
    ),
    q AS (SELECT word, df FROM dfreq ORDER BY df DESC, word LIMIT {n_query_terms}),
    qidf AS (
      SELECT word,
             ln((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                / (CAST(df AS DOUBLE) + 0.5) + 1.0) AS idf
      FROM q, tot
    ),
    tf AS (
      SELECT doc_id, dl, word, idf, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, len(words) AS dl, unnest(words) AS word FROM w)
      JOIN qidf USING (word)
      GROUP BY doc_id, dl, word, idf
    ),
    terms AS (
      SELECT doc_id, word,
             idf * ((CAST(tf AS DOUBLE) * {k1 + 1.0!r})
               / (CAST(tf AS DOUBLE) + {k1!r}
                  * ({1.0 - b!r} + {b!r} * (CAST(dl AS DOUBLE) / avgdl)))) AS s
      FROM tf, tot
    ),
    scored AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
             list_reduce(list_prepend(0.0, list(s ORDER BY word)),
                         (a, x) -> a + x) AS score
      FROM terms GROUP BY doc_id
    )"""


def _bm25_oracle(n_query_terms=3, k=10, k1=1.2, b=0.75) -> str:
    return f"""
    WITH {_bm25_ctes(n_query_terms, k1, b)},
    top AS (SELECT * FROM scored ORDER BY score DESC, doc_id LIMIT {k})
    SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank,
           doc_id, n_terms, {_DEC4.format(x="score")} AS score
    FROM top
    """


_JS_TERM = (
    "0.5 * (a.qs[i] * ln((2.0 * a.qs[i]) / (a.qs[i] + b.qs[i]))) "
    "+ 0.5 * (b.qs[i] * ln((2.0 * b.qs[i]) / (a.qs[i] + b.qs[i])))"
)


@register(
    "td_source_js",
    oracle=f"""
    WITH wx AS (SELECT source, unnest({_WORDS_SQL}) AS word FROM documents),
    cnt AS (SELECT source, word, CAST(count(*) AS BIGINT) AS c
            FROM wx GROUP BY source, word),
    vocab AS (SELECT word FROM (
      SELECT word, CAST(sum(c) AS BIGINT) AS tf FROM cnt
      GROUP BY word ORDER BY tf DESC, word LIMIT 50)),
    vc AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM vocab),
    ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n
           FROM cnt JOIN vocab USING (word) GROUP BY source),
    qv AS (
      SELECT g.source,
             list((CAST(coalesce(c.c, 0) AS DOUBLE) + 0.5)
                  / (CAST(g.n AS DOUBLE) + 0.5 * g.v)
                  ORDER BY g.word) AS qs
      FROM (SELECT ns.source, ns.n, vocab.word, vc.v
            FROM ns CROSS JOIN vocab CROSS JOIN vc) g
      LEFT JOIN cnt c ON c.source = g.source AND c.word = g.word
      GROUP BY g.source
    )
    SELECT a.source AS src_a, b.source AS src_b,
           {_DEC4.format(x=f'''list_reduce(list_prepend(0.0,
             [{_JS_TERM} for i in generate_series(1, len(a.qs))]),
             (x, y) -> x + y)''')} AS js
    FROM qv a JOIN qv b ON a.source < b.source
    """,
)
def td_source_js(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence matrix between source token
    distributions over the shared top-50 vocab with add-0.5 smoothing
    (operators/corpusstats.py:source_js_matrix) — the symmetric
    source-similarity audit beside drift's one-vs-mixture chi².
    One text scan to (source, word, c) scalars (persist-shared across
    the vocab/totals/grid branches), V-double vectors per source, a
    label-bounded pairwise join; the per-pair sum zips identically
    word-ordered vectors and folds left (ln is cross-engine-stable per
    the PMI/Zipf precedent)."""
    from loggie_spark.operators.corpusstats import source_js_matrix

    return source_js_matrix(_t(spark, sf_dir, "documents"), top_v=50)


def _template_novelty_oracle() -> str:
    from loggie_spark.operators.logmine import masks_to_sql

    batch_body = (
        f"CASE WHEN event_id % 20 = 0 THEN 'PANIC code=' || "
        f"CAST(event_id % 17 AS VARCHAR) || ' module=mod-' || "
        f"CAST(user_id % 5 AS VARCHAR) ELSE {_APPLOG_LINE_SQL} END"
    )
    return f"""
    WITH hist AS (
      SELECT DISTINCT {masks_to_sql(_APPLOG_LINE_SQL)} AS template
      FROM events WHERE event_id % 10 <> 0
    ),
    batch AS (
      SELECT event_id, {batch_body} AS body
      FROM events WHERE event_id % 10 = 0
    ),
    mined AS (
      SELECT {masks_to_sql("body")} AS template,
             CAST(count(*) AS BIGINT) AS cnt,
             min(event_id) AS example_id
      FROM batch GROUP BY 1
    )
    SELECT m.* FROM mined m ANTI JOIN hist h ON m.template = h.template
    """


@register("td_template_novelty", oracle=_template_novelty_oracle())
def td_template_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-log-shape alert (operators/logmine.py:template_novelty):
    mine the incoming batch's templates and anti-join the template set
    ever seen in history — here history is 90% of events with the four
    known app-log shapes and the batch smuggles in a PANIC format, so
    exactly that template surfaces. Incremental contract: history
    collapses to its bounded distinct-template table (store it; never
    re-scan the archive)."""
    from loggie_spark.operators.logmine import template_novelty

    ev = _t(spark, sf_dir, "events")
    hist = _synth_applog_line(ev.filter(F.col("event_id") % 10 != 0))
    batch = _synth_applog_line(ev.filter(F.col("event_id") % 10 == 0))
    batch = batch.withColumn(
        "body",
        F.when(
            F.col("event_id") % 20 == 0,
            F.concat(
                F.lit("PANIC code="),
                (F.col("event_id") % 17).cast("string"),
                F.lit(" module=mod-"),
                (F.col("user_id") % 5).cast("string"),
            ),
        ).otherwise(F.col("body")),
    )
    return template_novelty(hist, batch, col="body", id_col="event_id")


@register(
    "td_hard_negatives",
    oracle=f"""
    WITH top AS (
      SELECT * FROM (
        SELECT l.vec_id AS query_id, r.vec_id AS neighbor_id, {_COS_SQL} AS cos,
               CAST(row_number() OVER (PARTITION BY l.vec_id
                    ORDER BY {_COS_SQL} DESC, r.vec_id ASC) AS INT) AS rank
        FROM embeddings l JOIN embeddings r ON l.vec_id <> r.vec_id
        WHERE l.vec_id < 20
      ) WHERE rank <= 4
    ),
    pos AS (SELECT query_id, max(CASE WHEN rank = 1 THEN cos END) AS pos_cos
            FROM top GROUP BY query_id)
    SELECT t.query_id AS anchor_id, t.neighbor_id AS neg_id, t.cos, t.rank
    FROM top t JOIN pos USING (query_id)
    WHERE t.rank > 1 AND t.cos <= pos_cos - 0.05
    """,
)
def td_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for retriever training (operators/
    similarity.py:hard_negative_mine): rank-1 = presumed positive,
    ranks 2-4 emitted as negatives unless within gamma=0.05 of the
    positive's cosine (the RocketQA/ANCE false-negative filter).
    Bounded-broadcast top-k contract, one window pass, scalar
    filter."""
    from loggie_spark.operators.similarity import hard_negative_mine

    emb = _t(spark, sf_dir, "embeddings")
    return hard_negative_mine(
        emb.filter(F.col("vec_id") < 20), emb, n_neg=3, gamma=0.05
    )


def _bitext_oracle(k=4, max_q=40) -> str:
    fold_mean = (
        "list_reduce(list_prepend(0.0, list(cos ORDER BY rank)), "
        f"(a, b) -> a + b) / {float(k)!r}"
    )
    topk = """
      SELECT * FROM (
        SELECT l.vec_id AS query_id, r.vec_id AS neighbor_id, {cos} AS cos,
               CAST(row_number() OVER (PARTITION BY l.vec_id
                    ORDER BY {cos} DESC, r.vec_id ASC) AS INT) AS rank
        FROM {left} l JOIN {right} r ON l.vec_id <> r.vec_id
      ) WHERE rank <= {k}
    """
    return f"""
    WITH src AS (SELECT * FROM embeddings WHERE vec_id % 2 = 0),
    tgt AS (SELECT * FROM embeddings WHERE vec_id % 2 = 1),
    srcq AS (SELECT * FROM src WHERE vec_id < {max_q}),
    fwd AS ({topk.format(cos=_COS_SQL, left="srcq", right="tgt", k=k)}),
    dx AS (SELECT query_id, {fold_mean} AS d FROM fwd GROUP BY query_id),
    cand AS (SELECT DISTINCT neighbor_id FROM fwd),
    candv AS (SELECT e.* FROM embeddings e JOIN cand c
              ON e.vec_id = c.neighbor_id),
    bwd AS ({topk.format(cos=_COS_SQL, left="candv", right="src", k=k)}),
    dy AS (SELECT query_id AS tgt_id, {fold_mean} AS d
           FROM bwd GROUP BY query_id),
    scored AS (
      SELECT f.query_id AS src_id, f.neighbor_id AS tgt_id, f.cos,
             f.cos / ((dx.d + dy.d) / 2.0) AS margin
      FROM fwd f
      JOIN dx ON dx.query_id = f.query_id
      JOIN dy ON dy.tgt_id = f.neighbor_id
    )
    SELECT src_id, tgt_id, cos, {_DEC4.format(x="margin")} AS margin
    FROM (SELECT *, row_number() OVER (PARTITION BY src_id
            ORDER BY margin DESC, tgt_id) AS rn FROM scored)
    WHERE rn = 1
    """


@register("td_bitext_mine", oracle=_bitext_oracle())
def td_bitext_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (operators/similarity.py:
    bitext_margin_mine — the LASER/CCMatrix ratio-margin recipe): the
    even-id embeddings play the source language, odd-id the target;
    each bounded source query keeps its best forward candidate by
    cos(x,y) normalized by the mean of both sides' k-NN neighborhood
    densities (hubness correction). Forward stage = bounded-broadcast
    brute top-k (swap ivf_topk at scale); backward stage scores only
    the distinct forward candidates."""
    from loggie_spark.operators.similarity import bitext_margin_mine

    emb = _t(spark, sf_dir, "embeddings")
    src = emb.filter(F.col("vec_id") % 2 == 0)
    tgt = emb.filter(F.col("vec_id") % 2 == 1)
    return bitext_margin_mine(
        src.filter(F.col("vec_id") < 40), tgt, src, k=4
    )


@register("td_bm25_topk", oracle=_bm25_oracle())
def td_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 retrieval (operators/retrieval.py:bm25_topk) for the
    deterministic self-query (the 3 highest-df corpus words): the
    Lucene ranking function as stock DataFrame ops — term stats
    broadcast, the scoring shuffle carries only matched (doc, term)
    scalars, top-k is TakeOrderedAndProject (no global sort). idf via
    ln (cross-engine-stable); per-doc sums fold in word order."""
    from loggie_spark.operators.retrieval import bm25_topk

    return bm25_topk(_t(spark, sf_dir, "documents"), n_query_terms=3, k=10)


# -- exact triangle counting / local clustering (operators/graph.py) --------


def _triangles_oracle() -> str:
    from loggie_spark.operators.graph import triangle_stats_sql

    body, fin = triangle_stats_sql("edges")
    mk = "'h' || CAST({e} AS VARCHAR)"
    src = mk.format(e="i")
    return f"""
    WITH raw AS (SELECT {_PR_I} AS i FROM events
                 WHERE ({_PR_I}) % 10 <> 0),
    edges AS (
      SELECT {src} AS src, {mk.format(e="(i + 1) % 40")} AS dst FROM raw
      UNION ALL SELECT {src}, {mk.format(e="(i + 2) % 40")} FROM raw
      UNION ALL SELECT {src}, {mk.format(e="(i * 7 + 3) % 40")} FROM raw),
    {body}
    SELECT node AS host, deg, triangles, clustering FROM {fin}
    """


@register("td_graph_triangles", oracle=_triangles_oracle())
def td_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count + local clustering coefficient per host
    (operators/graph.py:triangle_stats — the link-farm/near-clique
    detector that complements the PageRank prior): degree-ordered edge
    orientation bounds every wedge-join key's fan by the oriented
    out-degree (O(√m) even on power-law graphs — Suri & Vassilvitskii
    2011), so no hub node can explode the self-join. All-integer until
    the final single-division coefficient. The fixture derives a
    deterministic 40-host graph from events (ring +1/+2 families — a
    guaranteed triangle lattice — plus an affine scrambler for
    irregular degrees; hosts ≡ 0 mod 10 emit nothing)."""
    from loggie_spark.operators.graph import triangle_stats

    ev = _t(spark, sf_dir, "events")
    i = F.pmod(F.col("event_id"), F.lit(40))
    h = lambda c: F.concat(F.lit("h"), c.cast("string"))  # noqa: E731
    edges = (
        ev.where(F.pmod(i, F.lit(10)) != 0)
        .select(
            F.explode(
                F.array(
                    F.struct(
                        h(i).alias("src"),
                        h(F.pmod(i + 1, F.lit(40))).alias("dst"),
                    ),
                    F.struct(
                        h(i).alias("src"),
                        h(F.pmod(i + 2, F.lit(40))).alias("dst"),
                    ),
                    F.struct(
                        h(i).alias("src"),
                        h(F.pmod(i * 7 + 3, F.lit(40))).alias("dst"),
                    ),
                )
            ).alias("_e")
        )
        .select("_e.src", "_e.dst")
    )
    out = triangle_stats(edges)
    return out.select(
        F.col("node").alias("host"), "deg", "triangles", "clustering"
    )


# -- weighted sampling without replacement (operators/sampling.py) ----------

_DEC8 = "round(CAST(CAST({x} AS VARCHAR) AS DECIMAL(30,17)), 8)"


@register(
    "td_weighted_sample",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source,
             CAST(len({_WORDS_SQL}) + 1 AS BIGINT) AS weight
      FROM documents),
    q AS (SELECT *,
      (CAST({md5_60bit_sql("CAST(doc_id AS VARCHAR)", seed=7)} + 1 AS DOUBLE)
        / 1152921504606846976.0) / CAST(weight AS DOUBLE) AS _q
      FROM d),
    r AS (SELECT *, CAST(row_number() OVER (
            PARTITION BY source ORDER BY _q, doc_id) AS INT) AS rank
          FROM q)
    SELECT source, doc_id, weight,
           {_DEC8.format(x="_q")} AS priority, rank
    FROM r WHERE rank <= 5
    """,
)
def td_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, 5 per source, by
    sequential Poisson / priority order sampling (operators/
    sampling.py:weighted_sample — Ohlsson 1998): rank by
    ``q = u / w`` with ``u`` the exact dyadic ``(md5+1)/2^60`` and
    ``w`` the doc's token count + 1 — a size-biased eyeball/validation
    sample with zero RNG state, idempotent under retry/backfill.  No
    transcendentals (the A-ES ``ln`` form would drift cross-engine),
    so ranks are bit-identical in the oracle.  One hash(source)
    shuffle + per-group window."""
    from loggie_spark.operators.dedup import tokenize
    from loggie_spark.operators.sampling import weighted_sample

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        (F.size(tokenize(F.col("text"))) + 1).cast("long").alias("weight"),
    )
    return weighted_sample(docs, k=5)


# -- KMV distinct sketch + pairwise source Jaccard (operators/sketches.py) --

# k=16 < the fixture's ~31 distinct tokens per source, so the driver
# row exercises the (k-1)/u_k ESTIMATOR branch at every SF; the exact
# small-set branch is covered by the property tests.
_KMV_K = 16


def _kmv_oracle(k: int = _KMV_K) -> str:
    h = md5_60bit_sql("w")
    est = (
        f"CASE WHEN len(hs) < {k} THEN CAST(len(hs) AS DOUBLE) "
        f"ELSE {float(k - 1)!r} * 1152921504606846976.0 "
        f"/ CAST(hs[{k}] AS DOUBLE) END"
    )
    return f"""
    WITH toks AS (
      SELECT DISTINCT source AS grp, {h} AS h FROM (
        SELECT source, unnest({_WORDS_SQL}) AS w FROM documents)),
    rk AS (SELECT grp, h,
             row_number() OVER (PARTITION BY grp ORDER BY h) AS r
           FROM toks),
    sk AS (SELECT grp, list_sort(list(h)) AS hs
           FROM rk WHERE r <= {k} GROUP BY grp),
    est AS (SELECT grp, {_DEC4.format(x=est)} AS est FROM sk),
    pr AS (
      SELECT a.grp AS src_a, b.grp AS src_b,
             list_sort(list_distinct(a.hs || b.hs))[1:{k}] AS u,
             a.hs AS ha, b.hs AS hb
      FROM sk a JOIN sk b ON a.grp < b.grp),
    j AS (SELECT src_a, src_b,
            CAST(len(list_filter(u, x -> list_contains(ha, x)
                                 AND list_contains(hb, x))) AS DOUBLE)
              / CAST(len(u) AS DOUBLE) AS jac
          FROM pr)
    SELECT j.src_a, j.src_b, ea.est AS est_a, eb.est AS est_b,
           {_DEC4.format(x="jac")} AS jaccard_est
    FROM j
    JOIN est ea ON ea.grp = j.src_a
    JOIN est eb ON eb.grp = j.src_b
    """


@register("td_source_kmv", oracle=_kmv_oracle())
def td_source_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-token sketches per source + pairwise Jaccard
    estimates (operators/sketches.py:kmv_build/kmv_jaccard — Beyer et
    al. 2007): the SKETCHED counterpart of the exact
    td_source_overlap. The exact matrix shuffles every distinct
    (group, hash) scalar per comparison run; the KMV path persists 64
    longs per group and compares any number of shards/days later in
    O(k) — the nightly cross-snapshot contamination monitor at 100 TB.
    Build = one map-side-combinable distinct + per-group bottom-k
    window; the pair grid is one row per SOURCE on both axes (bounded
    by the label set, the td_source_js contract)."""
    from loggie_spark.operators.dedup import spread_small_input, tokenize
    from loggie_spark.operators.sharing import shared_persist
    from loggie_spark.operators.sketches import kmv_build, kmv_estimate, kmv_jaccard

    docs = _t(spark, sf_dir, "documents")
    toks = spread_small_input(docs.select("source", "text")).select(
        "source", F.explode(tokenize(F.col("text"))).alias("w")
    )
    # the sketch frame feeds FOUR consumers (both pair-join sides +
    # both estimate joins) — one row per source, cache-safe, so share
    # it per the DataFrame-reuse rule.
    sk = shared_persist(kmv_build(toks, "w", "source", k=_KMV_K))
    est = kmv_estimate(sk, k=_KMV_K).select(
        F.col("group").alias("grp"), F.col("est_distinct").alias("est")
    )
    a = sk.select(F.col("group").alias("src_a"), F.col("hs").alias("hs_a"))
    b = sk.select(F.col("group").alias("src_b"), F.col("hs").alias("hs_b"))
    pairs = a.join(b, F.col("src_a") < F.col("src_b"))
    jac = kmv_jaccard(pairs, k=_KMV_K)
    return (
        pairs.select("src_a", "src_b", F.round(jac, 4).alias("jaccard_est"))
        .join(est.select(F.col("grp").alias("src_a"), F.col("est").alias("est_a")), "src_a")
        .join(est.select(F.col("grp").alias("src_b"), F.col("est").alias("est_b")), "src_b")
        .select("src_a", "src_b", "est_a", "est_b", "jaccard_est")
    )


# -- skip-gram co-occurrence counts (operators/corpusstats.py) --------------

_SG_WINDOW, _SG_MIN, _SG_K = 3, 2, 50


@register(
    "td_skipgram_cooc",
    oracle=f"""
    WITH w AS (SELECT {_WORDS_SQL} AS ws FROM documents),
    pg AS (SELECT unnest(flatten([
             [ least(ws[i], ws[q]) || ' ' || greatest(ws[i], ws[q])
               for q in generate_series(i + 1,
                                        least(i + {_SG_WINDOW}, len(ws)))]
             for i in generate_series(1, len(ws) - 1)])) AS pr
           FROM w),
    c AS (SELECT pr, CAST(count(*) AS BIGINT) AS cnt FROM pg
          GROUP BY pr HAVING count(*) >= {_SG_MIN})
    SELECT string_split(pr, ' ')[1] AS x, string_split(pr, ' ')[2] AS y, cnt
    FROM c ORDER BY cnt DESC, x, y LIMIT {_SG_K}
    """,
)
def td_skipgram_cooc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 skip-gram co-occurrence pairs in a ±3 token window
    (operators/corpusstats.py:skipgram_cooc — the word2vec/GloVe
    co-occurrence-matrix construction): canonical unordered pairs, the
    symmetric-window convention. Pair generation is IN-ROW (nested
    transform over the materialized token array — zero shuffle, no
    positional self-join); counting is one map-side-combinable groupBy
    onto a vocab-bounded frame; ranking is TakeOrdered. Complements
    td_pmi_collocations (adjacent bigrams only)."""
    from loggie_spark.operators.corpusstats import skipgram_cooc

    return skipgram_cooc(
        _t(spark, sf_dir, "documents"),
        window=_SG_WINDOW,
        min_count=_SG_MIN,
        k=_SG_K,
    )


# -- hybrid retrieval: reciprocal rank fusion (operators/retrieval.py) ------


def _rrf_oracle(n_lex=20, n_dense=20, k=10, c=60) -> str:
    return f"""
    WITH {_bm25_ctes(n_query_terms=3)},
    lex AS (
      SELECT doc_id, CAST(row_number() OVER (
               ORDER BY score DESC, doc_id) AS INT) AS rank
      FROM (SELECT * FROM scored ORDER BY score DESC, doc_id
            LIMIT {n_lex})),
    dense AS (
      SELECT doc_id, rank FROM (
        SELECT r.vec_id AS doc_id,
               CAST(row_number() OVER (
                 ORDER BY {_COS_SQL} DESC, r.vec_id) AS INT) AS rank
        FROM embeddings l JOIN embeddings r ON r.vec_id <> l.vec_id
        WHERE l.vec_id = 0)
      WHERE rank <= {n_dense}),
    fused AS (
      SELECT coalesce(lx.doc_id, dn.doc_id) AS doc_id,
             0.0 + coalesce(1.0 / (lx.rank + {c}), 0.0)
                 + coalesce(1.0 / (dn.rank + {c}), 0.0) AS s,
             CAST((CASE WHEN lx.rank IS NULL THEN 0 ELSE 1 END)
                + (CASE WHEN dn.rank IS NULL THEN 0 ELSE 1 END)
                  AS BIGINT) AS n_lists
      FROM lex lx FULL JOIN dense dn ON dn.doc_id = lx.doc_id),
    top AS (SELECT * FROM fused ORDER BY s DESC, doc_id LIMIT {k})
    SELECT CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS INT) AS rank,
           doc_id, n_lists, {_DEC8.format(x="s")} AS rrf_score
    FROM top
    """


@register("td_rrf_hybrid", oracle=_rrf_oracle())
def td_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal rank fusion (operators/
    retrieval.py:rrf_fuse — Cormack et al. 2009, the combiner behind
    production lexical+dense hybrid search): the BM25 top-20 for the
    deterministic self-query fuses with the cosine top-20 around the
    doc-0 embedding (vec_id ≡ doc_id in the fixture corpus) via
    Σ 1/(60+rank). No score calibration — only ranks — so the fusion
    is bit-exact cross-engine (fixed-order integer-division sums).
    Both legs are bounded top-N frames; the fusion is a small outer
    join + TakeOrdered."""
    from loggie_spark.operators.retrieval import bm25_topk, rrf_fuse
    from loggie_spark.operators.similarity import brute_force_topk

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    lex = bm25_topk(docs, n_query_terms=3, k=20).select("doc_id", "rank")
    dense = brute_force_topk(
        emb.filter(F.col("vec_id") == 0), emb, k=20
    ).select(F.col("neighbor_id").alias("doc_id"), "rank")
    return rrf_fuse([lex, dense], k=10)


# -- per-source entropy / KL and OOV coverage (operators/corpusstats.py) ----

_ENT_FOLD = (
    "list_reduce(list_prepend(0.0, list({t} ORDER BY word)), (a, x) -> a + x)"
)


@register(
    "td_token_entropy",
    oracle=f"""
    WITH wx AS (SELECT source, unnest({_WORDS_SQL}) AS word FROM documents),
    cnt AS (SELECT source, word, CAST(count(*) AS BIGINT) AS c
            FROM wx GROUP BY source, word),
    ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY source),
    cw AS (SELECT word, CAST(sum(c) AS BIGINT) AS cw FROM cnt GROUP BY word),
    nc AS (SELECT CAST(sum(cw) AS BIGINT) AS nc FROM cw),
    terms AS (
      SELECT cnt.source, cnt.word, ns.n,
             (CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
               * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) AS th,
             (CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
               * ln((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                    / (CAST(cw AS DOUBLE) / CAST(nc AS DOUBLE))) AS tk
      FROM cnt JOIN cw USING (word) JOIN ns USING (source), nc)
    SELECT source, CAST(n AS BIGINT) AS n_tokens,
           {_DEC4.format(x="-" + _ENT_FOLD.format(t="th"))} AS entropy,
           {_DEC4.format(x=_ENT_FOLD.format(t="tk"))} AS kl
    FROM terms GROUP BY source, n
    """,
)
def td_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram Shannon entropy + KL(source ‖ corpus)
    (operators/corpusstats.py:source_token_entropy — the
    lexical-diversity / distribution-shift pair next to the chi² drift
    test): one corpus scan to (source, word, c) scalars, then
    vocab-bounded model-frame arithmetic only; both reductions fold in
    word order so the oracle reproduces them bit-exactly. KL needs no
    smoothing — source vocabularies are subsets of the corpus's."""
    from loggie_spark.operators.corpusstats import source_token_entropy

    return source_token_entropy(_t(spark, sf_dir, "documents"))


_OOV_V = 20


@register(
    "td_oov_rate",
    oracle=f"""
    WITH wx AS (SELECT source, unnest({_WORDS_SQL}) AS word FROM documents),
    cnt AS (SELECT source, word, CAST(count(*) AS BIGINT) AS c
            FROM wx GROUP BY source, word),
    vocab AS (SELECT word FROM (
      SELECT word, CAST(sum(c) AS BIGINT) AS tf FROM cnt
      GROUP BY word ORDER BY tf DESC, word LIMIT {_OOV_V})),
    agg AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN v.word IS NULL THEN c ELSE 0 END)
                  AS BIGINT) AS oov_tokens
      FROM cnt LEFT JOIN vocab v ON v.word = cnt.word
      GROUP BY source)
    SELECT source, n_tokens, oov_tokens,
           {_DEC4.format(
             x="CAST(oov_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE)")}
             AS oov_rate
    FROM agg
    """,
)
def td_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary token share per source against the corpus
    top-20 vocabulary (operators/corpusstats.py:oov_rate — the
    vocab-coverage audit run before fixing a tokenizer vocabulary):
    one shared corpus scan, TakeOrdered vocab, broadcast left join on
    the bounded model frame, all-integer until the final division.
    top_v=20 < the fixture's 31-word vocabulary, so every SF exercises
    genuinely nonzero OOV mass."""
    from loggie_spark.operators.corpusstats import oov_rate

    return oov_rate(_t(spark, sf_dir, "documents"), top_v=_OOV_V)


# -- windowed HLL / event-path mining / CDC chunk dedup ---------------------


def _hll_sliding_oracle(p=5) -> str:
    tb = 60 - p
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    est = f"""CAST(round(CAST(CAST(
             CAST({alpha!r} AS DOUBLE) * {float(m * m)!r} /
             (list_reduce(
                list(1.0 / CAST(CAST(1 AS BIGINT) << rho AS DOUBLE)
                     ORDER BY idx),
                (a, b) -> a + b)
              + ({m} - count(*)))
             AS VARCHAR) AS DECIMAL(30,17)), 2) AS DOUBLE)"""
    return f"""
    WITH h AS (
      SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS grp,
             {md5_60bit_sql("CAST(user_id AS VARCHAR)")} AS h
      FROM events),
    reg AS (
      SELECT grp, CAST(h >> {tb} AS INT) AS idx,
             max(CASE WHEN h % {1 << tb} = 0 THEN {tb + 1}
                 ELSE {tb} - length(bin(h % {1 << tb})) + 1 END) AS rho
      FROM h GROUP BY grp, idx),
    merged AS (SELECT 'ALL' AS grp, idx, max(rho) AS rho
               FROM reg GROUP BY idx),
    allreg AS (SELECT * FROM reg UNION ALL SELECT * FROM merged)
    SELECT grp AS window_day, CAST(count(*) AS BIGINT) AS n_filled,
           {est} AS estimate
    FROM allreg GROUP BY grp
    """


@register("th_hll_sliding", oracle=_hll_sliding_oracle(p=_HLL_P))
def th_hll_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-windowed HLL distinct users: one register table PER DAY
    (operators/sketches.py:hll_build_by) answers the daily-uniques
    report, and the all-time row comes from register-max MERGE of the
    daily sketches — never a second data pass.  This is the pattern
    that replaces nightly count-distinct rescans at 100 TB: persist
    ≤ 2^p rows per window as parquet, answer any coarser window by
    merge (weekly/monthly/all-time).  Estimates use the raw
    bit-reproducible estimator (hll_estimate's contract)."""
    from loggie_spark.operators.sharing import shared_persist
    from loggie_spark.operators.sketches import hll_build_by, hll_estimate_by

    ev = _t(spark, sf_dir, "events").withColumn(
        "_day", F.date_trunc("day", F.col("ts")).cast("date").cast("string")
    )
    # the daily register table feeds the per-day estimates AND the
    # all-time merge — register-bounded, so share it.
    sk = shared_persist(hll_build_by(ev, "user_id", "_day", p=_HLL_P))
    per_day = hll_estimate_by(sk, p=_HLL_P)
    merged = (
        sk.groupBy("idx")
        .agg(F.max("rho").alias("rho"))
        .select(F.lit("ALL").alias("group"), "idx", "rho")
    )
    out = per_day.unionByName(hll_estimate_by(merged, p=_HLL_P))
    return out.select(
        F.col("group").alias("window_day"), "n_filled", "estimate"
    )


@register(
    "th_path_trigrams",
    oracle="""
    WITH s AS (
      SELECT event_type AS step_1,
             lead(event_type, 1) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS step_2,
             lead(event_type, 2) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS step_3
      FROM events)
    SELECT step_1, step_2, step_3, CAST(count(*) AS BIGINT) AS cnt
    FROM s WHERE step_3 IS NOT NULL
    GROUP BY 1, 2, 3
    ORDER BY cnt DESC, step_1, step_2, step_3 LIMIT 25
    """,
)
def th_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 three-step user journeys (operators/sessionize.py:
    path_ngrams — the path-mining report next to funnel/retention):
    per-user time-ordered event-type trigrams via a window of two
    leads (one hash(user) shuffle, no positional self-join), counted
    map-side onto an |event_types|³-bounded frame, ranked by
    TakeOrdered. Timestamp ties break by event_id on both engines."""
    from loggie_spark.operators.sessionize import path_ngrams

    return path_ngrams(_t(spark, sf_dir, "events"), n=3, k=25)


_CDC_W, _CDC_DIV, _CDC_MIN, _CDC_K = 3, 8, 2, 40


@register(
    "td_cdc_dedup",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_WORDS_SQL} AS ws FROM documents),
    b AS (SELECT doc_id, ws,
        list_sort(list_distinct(list_filter(generate_series({_CDC_W}, len(ws)),
          p -> {md5_60bit_sql(
            f"array_to_string(ws[p-{_CDC_W - 1}:p], ' ')")}
               % {_CDC_DIV} = 0)
        || [len(ws)])) AS bounds
      FROM w WHERE len(ws) > 0),
    c AS (SELECT doc_id, unnest([
        array_to_string(ws[CASE WHEN i = 1 THEN 1
                            ELSE bounds[i-1] + 1 END : bounds[i]], ' ')
        for i in generate_series(1, len(bounds))]) AS chunk FROM b),
    g AS (SELECT chunk,
                 CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                 CAST(count(*) AS BIGINT) AS n_occ
          FROM c GROUP BY chunk)
    SELECT chunk, CAST(len(string_split(chunk, ' ')) AS BIGINT) AS n_words,
           n_docs, n_occ
    FROM g WHERE n_occ >= {_CDC_MIN}
    ORDER BY n_occ DESC, chunk LIMIT {_CDC_K}
    """,
)
def td_cdc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup (operators/dedup.py:
    cdc_dedup_chunks — the LBFS/FastCDC rolling-boundary idea at word
    granularity): chunk boundaries land where the w-gram hash ≡ 0 mod
    8, so shared passages between near-duplicates align on identical
    chunks regardless of where insertions shifted them; the top
    duplicated chunks quantify the corpus's duplicate mass at chunk
    granularity. Boundary detection + chunk assembly are in-row array
    ops (zero shuffle); the only shuffle is the chunk count."""
    from loggie_spark.operators.dedup import cdc_dedup_chunks

    return cdc_dedup_chunks(
        _t(spark, sf_dir, "documents"),
        w=_CDC_W,
        divisor=_CDC_DIV,
        min_occ=_CDC_MIN,
        k=_CDC_K,
    )


# ===========================================================================
# Round-6 wrap-up: SRE/observability face (SLO burn rate, rate limiting,
# seasonal baselines, CUSUM changepoints, co-occurrence lift) + embedding
# label-cohesion QA + per-host crawl quotas
# ===========================================================================

_R4 = "round(CAST(CAST({} AS VARCHAR) AS DECIMAL(30,17)), 4)"


@register(
    "th_burn_rate",
    oracle=f"""
    WITH h AS (
      SELECT date_trunc('hour', ts) AS bucket,
             CAST(count(*) AS BIGINT) AS tot,
             CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS err
      FROM events GROUP BY 1
    ),
    r AS (
      SELECT bucket,
             CAST(sum(tot) OVER w_s AS BIGINT) AS tot_s,
             CAST(sum(err) OVER w_s AS BIGINT) AS err_s,
             CAST(sum(tot) OVER w_l AS BIGINT) AS tot_l,
             CAST(sum(err) OVER w_l AS BIGINT) AS err_l
      FROM h
      WINDOW
        w_s AS (ORDER BY CAST(epoch(bucket) AS BIGINT)
                RANGE BETWEEN 0 PRECEDING AND CURRENT ROW),
        w_l AS (ORDER BY CAST(epoch(bucket) AS BIGINT)
                RANGE BETWEEN 18000 PRECEDING AND CURRENT ROW)
    )
    SELECT bucket, tot_s, err_s, tot_l, err_l,
           {_R4.format("CAST(err_s AS DOUBLE) / CAST(tot_s AS DOUBLE) / 0.2")}
             AS burn_short,
           {_R4.format("CAST(err_l AS DOUBLE) / CAST(tot_l AS DOUBLE) / 0.2")}
             AS burn_long,
           (err_s * 5 >= 2 * 1 * tot_s AND err_l * 5 >= 1 * 1 * tot_l) AS alert
    FROM r
    """,
)
def th_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window SLO error-budget burn rate (operators/
    observability.py:burn_rate): per hourly bucket, trailing 1h and 6h
    error rates as multiples of a 20% budget; the alert fires only when
    the short window burns ≥2× AND the long window ≥1× (the SRE-
    workbook fast+slow pattern). Both alert legs are exact int64
    cross-multiplications — no float thresholds anywhere; one
    groupBy(hour) collapses the corpus before the range windows run
    over the scalar bucket series."""
    from loggie_spark.operators.observability import burn_rate

    return burn_rate(_t(spark, sf_dir, "events"))


@register(
    "th_rate_limit",
    oracle="""
    WITH c AS (
      SELECT user_id, date_trunc('hour', ts) AS bucket, event_id,
             row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                ORDER BY ts, event_id) AS rn
      FROM events
    )
    SELECT user_id, bucket,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(greatest(count(*) - 2, 0) AS BIGINT) AS n_throttled,
           CAST(coalesce(min(CASE WHEN rn = 3 THEN event_id END), -1) AS BIGINT)
             AS first_throttled
    FROM c GROUP BY 1, 2
    """,
)
def th_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window per-key rate-limiter accounting (operators/
    observability.py:rate_limit_report): quota 2/user/hour; each cell
    reports traffic, would-be-throttled count, and the first throttled
    event id ((ts, event_id)-ranked — tie-stable). The rank window and
    the rollup share ONE (user, bucket) hash shuffle."""
    from loggie_spark.operators.observability import rate_limit_report

    return rate_limit_report(_t(spark, sf_dir, "events"), limit=2)


@register(
    "th_seasonal_baseline",
    oracle=f"""
    WITH cells AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(hour(ts) AS INTEGER) AS hod,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2, 3
    ),
    slot AS (
      SELECT event_type, hod, CAST(sum(cnt) AS BIGINT) AS s
      FROM cells GROUP BY 1, 2
    ),
    dd AS (SELECT CAST(count(DISTINCT d) AS BIGINT) AS n_days FROM cells)
    SELECT c.event_type, CAST(c.d AS VARCHAR) AS d, c.hod, c.cnt, s.s, dd.n_days,
           {_R4.format("CAST(s.s AS DOUBLE) / CAST(dd.n_days AS DOUBLE)")}
             AS baseline,
           {_R4.format(
               "CAST(c.cnt AS DOUBLE) * CAST(dd.n_days AS DOUBLE)"
               " / CAST(s.s AS DOUBLE)")} AS ratio,
           (c.cnt * dd.n_days * 1 >= 2 * s.s) AS hot
    FROM cells c JOIN slot s USING (event_type, hod) CROSS JOIN dd
    """,
)
def th_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonal baselines (operators/observability.py:
    seasonal_baseline): each (type, date, hour-of-day) cell vs that
    slot's mean daily count over ALL corpus dates (zero-traffic days
    included via the distinct-date scalar). The hot flag is the exact
    integer test cnt·D ≥ 2·s — what burst detection should have asked
    at 3am. One cell aggregation; everything downstream re-aggregates
    the tiny cell frame and joins back broadcast."""
    from loggie_spark.operators.observability import seasonal_baseline

    out = seasonal_baseline(_t(spark, sf_dir, "events"))
    return out.withColumn("d", F.col("d").cast("string"))


@register(
    "th_cusum_change",
    oracle="""
    WITH b AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    st AS (
      SELECT event_type, bucket,
             CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
             CAST(row_number() OVER (PARTITION BY event_type ORDER BY bucket)
               AS BIGINT) AS t,
             CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS total,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_buckets
      FROM b
    ),
    sc AS (
      SELECT event_type, bucket, total, n_buckets,
             CAST(n_buckets * cum - t * total AS BIGINT) AS stat
      FROM st
    )
    SELECT event_type, bucket AS change_bucket, stat AS peak_stat,
           CAST(abs(stat) AS BIGINT) AS abs_stat, n_buckets, total
    FROM (
      SELECT *, row_number() OVER (PARTITION BY event_type
               ORDER BY abs(stat) DESC, bucket ASC) AS rk
      FROM sc
    ) z WHERE rk = 1
    """,
)
def th_cusum_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint locator (operators/observability.py:
    cusum_changepoint): per event type, the peak of the n-scaled
    cumulative-sum statistic n·cumsum_t − t·total over hourly counts —
    kept EXACTLY integral so the peak location and magnitude are
    bit-identical across engines. One groupBy collapse; both windows
    partition on the same type key (one shuffle)."""
    from loggie_spark.operators.observability import cusum_changepoint

    return cusum_changepoint(_t(spark, sf_dir, "events"))


@register(
    "th_cooccur_lift",
    oracle=f"""
    WITH bk AS (
      SELECT DISTINCT user_id AS u, date_trunc('hour', ts) AS b,
             event_type AS t
      FROM events
    ),
    tt AS (SELECT t, CAST(count(*) AS BIGINT) AS n_t FROM bk GROUP BY 1),
    nb AS (SELECT CAST(count(*) AS BIGINT) AS n_baskets
           FROM (SELECT DISTINCT u, b FROM bk) z),
    p AS (
      SELECT l.t AS type_a, r.t AS type_b, CAST(count(*) AS BIGINT) AS n_ab
      FROM bk l JOIN bk r ON l.u = r.u AND l.b = r.b AND l.t < r.t
      GROUP BY 1, 2
    )
    SELECT type_a, type_b, n_ab, ta.n_t AS n_a, tb.n_t AS n_b, nb.n_baskets,
           {_R4.format(
               "CAST(n_ab AS DOUBLE) * CAST(nb.n_baskets AS DOUBLE)"
               " / (CAST(ta.n_t AS DOUBLE) * CAST(tb.n_t AS DOUBLE))")} AS lift,
           (n_ab * nb.n_baskets >= ta.n_t * tb.n_t) AS positive
    FROM p JOIN tt ta ON ta.t = type_a JOIN tt tb ON tb.t = type_b CROSS JOIN nb
    """,
)
def th_cooccur_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type co-occurrence lift within (user, hour) baskets
    (operators/observability.py:cooccur_lift) — market-basket mining on
    logs: which alerts fire together beyond chance. The corpus
    collapses to DISTINCT (user, bucket, type) first (persisted once,
    three consumers); the self-join fans out ≤|types|²/2 pairs per
    basket. The positive flag is the exact integer test
    n_ab·B ≥ n_a·n_b."""
    from loggie_spark.operators.observability import cooccur_lift

    return cooccur_lift(_t(spark, sf_dir, "events"))


@register(
    "td_domain_quota",
    oracle="""
    WITH d AS (
      SELECT 'site' || CAST(doc_id % 29 AS VARCHAR) AS host, doc_id, n_chars,
             row_number() OVER (PARTITION BY doc_id % 29
               ORDER BY n_chars DESC, doc_id ASC) AS rk
      FROM documents
    )
    SELECT host, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (rk <= 5) AS BIGINT) AS n_kept,
           CAST(count(*) FILTER (rk > 5) AS BIGINT) AS n_dropped,
           CAST(coalesce(sum(n_chars) FILTER (rk <= 5), 0) AS BIGINT)
             AS kept_chars,
           CAST(coalesce(sum(n_chars) FILTER (rk > 5), 0) AS BIGINT)
             AS dropped_chars,
           CAST(min(n_chars) FILTER (rk <= 5) AS BIGINT) AS cutoff_chars
    FROM d GROUP BY host
    """,
)
def td_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host document-quota report (operators/curation.py:
    domain_quota): cap every host at 5 docs keeping the largest by
    n_chars (id tiebreak) and report kept/dropped volume per host —
    the anti-template-farm step of crawl curation (hosts synthesized
    deterministically from doc_id, the td_url_filter fixture pattern).
    Rank window and rollup share one hash(host) shuffle; all columns
    exact int64."""
    from loggie_spark.operators.curation import domain_quota

    docs = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("site"), (F.col("doc_id") % 29).cast("string")).alias(
            "host"
        ),
        "doc_id",
        "n_chars",
    )
    return domain_quota(docs, quota=5)


@register(
    "td_label_cohesion",
    oracle=f"""
    WITH mem AS (
      SELECT label, vec_id,
             unnest(generate_series(1, 64)) AS p,
             unnest(embedding) AS val
      FROM embeddings
    ),
    comp AS (
      SELECT label, p, CAST(count(*) AS BIGINT) AS n,
             list_reduce(list_prepend(0.0,
               list(CAST(val AS DOUBLE) ORDER BY vec_id)),
               (x, y) -> x + y) AS s
      FROM mem GROUP BY 1, 2
    ),
    compm AS (SELECT label, p, n, s / n AS m FROM comp),
    cents AS (
      SELECT label, CAST(max(n) AS BIGINT) AS n,
             list(m ORDER BY p) AS cent,
             sqrt(list_reduce(list_prepend(0.0, list(m * m ORDER BY p)),
               (x, y) -> x + y)) AS cnorm
      FROM compm GROUP BY label
    ),
    top AS (
      SELECT label, CAST(p - 1 AS INTEGER) AS top_dim, m AS top_w
      FROM (
        SELECT label, p, m, row_number() OVER (PARTITION BY label
                 ORDER BY abs(m) DESC, p ASC) AS rk
        FROM compm
      ) z WHERE rk = 1
    ),
    sc AS (
      SELECT e.label, e.vec_id,
             list_reduce(list_prepend(0.0,
               [CAST(e.embedding[i] AS DOUBLE) * c.cent[i]
                for i in generate_series(1, 64)]), (x, y) -> x + y)
             / (sqrt(list_reduce(list_prepend(0.0,
                 [CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)
                  for i in generate_series(1, 64)]), (x, y) -> x + y))
                * c.cnorm) AS cos
      FROM embeddings e JOIN cents c USING (label)
    ),
    coh AS (
      SELECT label,
             list_reduce(list_prepend(0.0, list(cos ORDER BY vec_id)),
               (x, y) -> x + y) AS cos_sum,
             CAST(count(*) AS BIGINT) AS nc,
             min(cos) AS mc
      FROM sc GROUP BY label
    )
    SELECT c.label, c.n,
           {_R4.format("c.cnorm")} AS centroid_norm,
           {_R4.format("cos_sum / CAST(nc AS DOUBLE)")} AS avg_cos,
           {_R4.format("mc")} AS min_cos,
           t.top_dim,
           {_R4.format("t.top_w")} AS top_dim_weight
    FROM cents c JOIN coh USING (label) JOIN top t USING (label)
    """,
)
def td_label_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding-cluster QA (operators/similarity.py:
    label_cohesion_report): exact mean vector per label, its norm
    (cohesion: 1 = aligned, 0 = diffuse), member→centroid cosine mean
    and min, and the dominant dimension. Every float sum is a
    deterministic SEQUENTIAL fold (member order by vec_id, dimension
    order by pos) — the kmeans_refine rule — so the DuckDB ordered
    list_reduce twin is bit-identical. One (label, dim) shuffle + one
    broadcast-joined cosine pass; centroids persist once for their two
    consumers."""
    from loggie_spark.operators.similarity import label_cohesion_report

    return label_cohesion_report(_t(spark, sf_dir, "embeddings"))
