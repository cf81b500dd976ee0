"""Routed fan-out stage — the sink layer re-expressed as columns.

In the reference every sink renders a per-event destination from a
``${...}`` pattern — kafka topic (pkg/sink/kafka/sink.go:124-199), ES
index (pkg/sink/elasticsearch/client.go:41-116), file path
(pkg/sink/file/sink.go:121-177) — and a render failure follows a
policy: ``fail`` the batch, use a ``defaultTopic``, ``dropEvent``, or
``ignoreError`` (kafka/sink.go:132-147).

Here a sink is a :class:`SinkSpec`; the router compiles every sink's
selector + route pattern into one projection, fans rows out via a
single ``explode`` (no shuffle, no per-sink job), and the writer does
one ``partitionBy(sink, route_key)`` append — kafka topics, ES indexes
and file dirs all collapse onto partition directories, which is exactly
how a 100 TB cluster job should route: directory-partitioned Iceberg
appends, one pass over the data.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from loggie_spark.expr import condition_sql
from loggie_spark.patterns import pattern_sql, strict_ok_sql
from loggie_spark.sqltext import ident, lit, quote

SINK_COL = "sink"
ROUTE_COL = "route_key"
FAILED_COL = "_route_failed"
PKEY_COL = "_pkey"
DOCID_COL = "_doc_id"


@dataclass
class SinkSpec:
    """One routed sink (file-/kafka-/ES-shaped are all the same shape).

    ``selector`` — optional condition expression (loggie's unshipped
    Selector interface, pkg/core/api/base.go:149-152); rows not
    matching any selector are dropped from that sink only.
    ``on_render_fail`` — 'fail' | 'default' | 'drop' | 'ignore'
    (kafka ifRenderTopicFailed semantics).
    """

    name: str
    route_pattern: str = "loggie"
    selector: str | None = None  # condition expr; None = all rows
    on_render_fail: str = "fail"
    default_route: str = "loggie"
    partition_key: str | None = None  # kafka partitionKey analog
    document_id: str | None = None  # ES documentId pattern (client.go:209-216)
    base_dirs: list[str] = field(default_factory=list)  # file sink dirs
    dir_hash_key: str | None = None  # consistent-hash key (file/sink.go:81-92)

    def selector_sql(self) -> str:
        if self.selector is None:
            return "true"
        return f"coalesce({condition_sql(self.selector)}, false)"


def rendezvous_dir(key: str, dirs: list[str]) -> str:
    """Deterministic consistent-hash dir selection over the SQL ``key``
    — the batch analog of the file sink's stathat ring
    (file/sink.go:81-92,153-163).

    Highest-random-weight (rendezvous) hashing over the engine-agnostic
    md5-60bit family: same consistency contract as the ring (removing a
    dir reassigns only its keys), reproducible in any SQL engine for
    oracles — the exact stathat crc32 ring layout is NOT copied.
    """
    from loggie_spark.functions.hashing import md5_60bit_spark_sql

    def candidate(d: str) -> str:
        h = md5_60bit_spark_sql(f"CAST({key} AS STRING)", seed=d)
        return f"named_struct('h', {h}, 'd', {quote(d)})"

    candidates = ", ".join(candidate(d) for d in dirs)
    return f"array_max(array({candidates}))['d']"


def explode_to_sinks(
    df: DataFrame, sinks: list[SinkSpec], time_col: str | None = None
) -> DataFrame:
    """Fan one row out to every sink whose selector matches, in ONE
    narrow pass: one ``explode`` of an array with one
    ``CASE WHEN <emit> THEN struct(...) END`` entry per sink, then one
    projection that drops the NULL entries and expands the struct. The
    same plan for any number of sinks — one sink is the reference's
    own shape (an event has exactly one sink per pipeline); more
    generalize the Selector interface. Each entry is one SQL text;
    ``time_col`` names the processing-time column of ``${+...}``
    (default ``current_timestamp()``).

    Adds ``sink``, ``route_key``, ``_route_failed``, ``_pkey`` (the
    sink's rendered ``partition_key``, null when unset — the kafka
    partitionKey analog used to co-locate equal keys in one writer
    task, sink.go:197-199) and ``_doc_id``, replacing input columns of
    those names. Rows matching no sink disappear.

    ``on_render_fail='drop'`` silently omits the event from that sink —
    the entry never enters the array, matching the reference's
    DropEvent (kafka/sink.go:139-141: no failure accounting, no
    output). ``'fail'`` quarantines it: the whole route (base dir
    included) becomes ``__failed__`` and ``_route_failed`` is true, so
    the metrics contract counts it as a failure.
    """
    time = ident(time_col) if time_col else None
    null = lit(None).text
    entries = []
    for s in sinks:
        route = pattern_sql(s.route_pattern, time)
        ok = strict_ok_sql(s.route_pattern)
        emit = s.selector_sql()
        policy = s.on_render_fail
        if policy == "default":
            route = f"CASE WHEN {ok} THEN {route} ELSE {quote(s.default_route)} END"
        elif policy == "ignore":
            route = f"CASE WHEN {ok} THEN {route} ELSE '' END"
        elif policy == "drop":
            emit = f"({emit} AND {ok})"
        pkey = f"CAST({pattern_sql(s.partition_key, time)} AS STRING)" if s.partition_key else null
        doc_id = f"CAST({pattern_sql(s.document_id, time)} AS STRING)" if s.document_id else null
        if s.base_dirs:
            # file sink consistent hashing: pick a base dir from the
            # rendered dirHashKey, prefix the filename route
            # (selectFilename, file/sink.go:153-177).
            hash_key = pattern_sql(s.dir_hash_key, time) if s.dir_hash_key else "''"
            route = f"concat({rendezvous_dir(hash_key, s.base_dirs)}, {route})"
        failed = "false"
        if policy not in ("default", "ignore", "drop"):  # 'fail'
            failed = f"(NOT {ok})"
            route = f"CASE WHEN {ok} THEN {route} ELSE '__failed__' END"
        fields = [
            (SINK_COL, quote(s.name)),
            (ROUTE_COL, route),
            (FAILED_COL, failed),
            (PKEY_COL, pkey),
            (DOCID_COL, doc_id),
        ]
        entry = ", ".join(f"{quote(n)}, {v}" for n, v in fields)
        entries.append(f"CASE WHEN {emit} THEN named_struct({entry}) END")

    added = {SINK_COL, ROUTE_COL, FAILED_COL, PKEY_COL, DOCID_COL}
    replaced = [ident(c) for c in df.columns if c.lower() in added]
    keep = f"* EXCEPT ({', '.join(replaced)})" if replaced else "*"
    # The entry struct travels under the name of its first field and is
    # expanded in place, so no staging column is left behind.
    sink = ident(SINK_COL)
    routed = df.selectExpr(keep, f"explode(array({', '.join(entries)})) AS {sink}")
    return routed.filter(f"{sink} IS NOT NULL").selectExpr(f"* EXCEPT ({sink})", f"{sink}.*")


def iceberg_available(spark) -> bool:
    """True iff the Iceberg Spark runtime is on the session classpath.
    The sandbox container ships no Iceberg jar, so the iceberg write
    path below is capability-gated the same way the multimodal codecs
    are: real plumbing, clear error when the environment lacks it."""
    try:
        # py4j resolves attribute paths lazily (a missing class is just
        # a JavaPackage), so probe with an actual classloader lookup.
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.Schema")
        return True
    except Exception:
        return False


def write_routed_iceberg(df: DataFrame, table: str) -> None:
    """Iceberg append of the routed frame — the production sink shape
    the north rule names (`file/kafka/ES-shaped sinks as partitioned
    Iceberg appends`). The table's partition spec carries (sink,
    route_key), so this is byte-for-byte the same fan-out as the
    parquet path with Iceberg's snapshot/commit semantics on top:

    - append is atomic per job (no torn partitions on failure; the
      manifest-resume layer still dedups replays by bucket),
    - ``write.target-file-size-bytes`` replaces ``maxRecordsPerFile``,
    - rotation-retention analogs are ``expire_snapshots`` +
      ``remove_orphan_files`` table maintenance.

    Uses the DataFrameWriterV2 API (`create` with the fan-out partition
    spec on first write; normal path is append into the existing spec).
    """
    spark = df.sparkSession
    if not iceberg_available(spark):
        raise RuntimeError(
            "Iceberg runtime not on the classpath: submit with "
            "--packages org.apache.iceberg:iceberg-spark-runtime and a "
            "configured catalog (spark.sql.catalog.<name>), or use the "
            "parquet path (write_routed)."
        )
    # Probe existence explicitly rather than catch-all around append():
    # a genuine append failure (schema mismatch, auth, commit conflict)
    # must surface as itself, not as a confusing 'table already exists'
    # from a blind create() retry.
    if spark.catalog.tableExists(table):
        df.writeTo(table).append()
    else:
        df.writeTo(table).partitionedBy(F.col(SINK_COL), F.col(ROUTE_COL)).create()


def write_routed(
    df: DataFrame,
    out_dir: str,
    extra_partition_cols: list[str] | None = None,
    mode: str = "append",
    max_size_mb: int | None = None,
    avg_record_bytes: int = 512,
    compress: bool = False,
) -> None:
    """Append the routed frame partitioned by (sink, route_key) — the
    physical fan-out. At scale this is an Iceberg append with the same
    partition spec; route_key cardinality is bounded by the sinks'
    patterns (dates × topics), so directory explosion is capped by
    construction.

    File-rotation analog (file/config.go:21-53): the reference rotates
    a live log file; a batch/Iceberg append has no live file, so the
    honest mapping is file SIZING, not rotation —

    - ``maxSize`` → ``max_size_mb``: caps bytes per output file via
      ``maxRecordsPerFile`` = max_size_mb·2²⁰ / avg_record_bytes (Spark
      caps by record count, not bytes; at the Iceberg layer the same
      knob is ``write.target-file-size-bytes``).
    - ``compress`` → parquet codec (gzip vs the snappy default).
    - ``maxAge`` / ``maxBackups`` / ``localTime`` are retention of
      rotated-out backups — table/lifecycle maintenance in a batch
      world (Iceberg ``expire_snapshots`` / object-store lifecycle
      rules), deliberately not mapped here.
    """
    parts = [SINK_COL, ROUTE_COL] + (extra_partition_cols or [])
    w = df.write.mode(mode)
    if max_size_mb is not None:
        w = w.option(
            "maxRecordsPerFile", max(1, max_size_mb * (1 << 20) // avg_record_bytes)
        )
    if compress:
        w = w.option("compression", "gzip")
    w.partitionBy(*parts).parquet(out_dir)
