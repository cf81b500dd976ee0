"""The pipeline orchestrator: scan → parse → enrich → route → write →
metrics, resumable via the checkpoint manifest.

One loggie pipeline (sources → interceptor chain → queue → sink,
pkg/pipeline/pipeline.go:242-270) compiles to ONE declarative DataFrame
program and at most two jobs: the routed write and the (tiny) metrics
aggregate. There is no per-event loop anywhere.

Per-source interceptor scoping (``belongTo``,
pkg/core/interceptor/extension.go:23-35) is one dispatch, not a gate
on every action: each source's program compiles once, as if it were
the only one, and a single ``CASE source WHEN …`` per output column
picks the value of the row's own source (actions.dispatch). Their
regex/grok/jsonDecode steps share one Generate whose slots run only on
their source's rows. The per-source static ``fields``
(fillEventMetaAndHeader, pipeline.go:1054-1123) are literals in that
same CASE, not a join; the only join left is the ``lookup``
(addK8sMeta) broadcast enrich. Pipeline-level interceptors (maxbytes,
normalize, transformer) then compile over every row.

Scale design (100 TB / 1000 executors):
* the only wide operations are the final write's repartition (salted,
  bounded by route-key cardinality) and the metrics groupBy (map-side
  combined, key space = pipelines × sources × sinks);
* parse/enrich/route are narrow — projections and filters over one
  scan, inside whole-stage codegen;
* skewed heavy-hitter sources are defused by salting the write
  repartition with ``pmod(xxhash64(doc_id), salt)``;
* resume prunes completed buckets at the scan (checkpoint.py).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql import Observation

from loggie_spark.actions import Plan, _Ctx, dispatch
from loggie_spark.checkpoint import BUCKET_COL, Manifest, list_names, with_bucket
from loggie_spark.enrich import broadcast_enrich
from loggie_spark.sinks.metrics import ok_fail_counts
from loggie_spark.sinks.router import (
    PKEY_COL,
    ROUTE_COL,
    SINK_COL,
    SinkSpec,
    explode_to_sinks,
)
from loggie_spark.sqltext import STRING, Sql, ident, lit, quote, struct

# Above this many pending buckets the per-bucket rows_in observation is
# skipped (the count_if fan-out would cost O(B) comparisons per row);
# lineage keeps exact per-bucket rows_out + run-level rows_in instead.
OBS_BUCKET_CAP = 1024


FIELDS_FROM_PATH_MAX_BYTES = 1024  # pipeline.go:49 fieldsFromPathMaxBytes
DEFAULT_TS_LAYOUT = "2006-01-02T15:04:05.000Z"  # pipeline.go defaultTsLayout

# The three interceptors every pipeline silently gets unless it
# configures them itself (sysconfig/config.go:58-88 defaultInterceptors,
# verified by test/configuration/pipeline_test.go:89-102).
DEFAULT_INTERCEPTORS: list[dict] = [
    {"type": "metric"},
    {"type": "maxbytes"},
    {"type": "retry"},
]


def merge_interceptor_list(base: list[dict], defaults: list[dict]) -> list[dict]:
    """MergeInterceptorList (core/interceptor/config.go:72-102): a
    configured interceptor of the same type keeps its settings (default
    keys fill gaps); defaults not configured are appended in default
    order."""
    if not base:
        return list(defaults)
    if not defaults:
        return list(base)
    default_by_type = {d["type"]: d for d in defaults}
    merged: list[dict] = []
    seen: set[str] = set()
    for b in base:
        d = default_by_type.get(b["type"])
        merged.append({**d, **b} if d else dict(b))
        seen.add(b["type"])
    for d in defaults:
        if d["type"] not in seen:
            merged.append(dict(d))
    return merged


@dataclass
class SourceSpec:
    """One named source: its parse program + static enrichment
    (fillEventMetaAndHeader semantics, pipeline.go:1054-1123). With
    more than one source, a row is the event of the source its
    ``source_col`` names; a row no source names passes through
    unparsed with NULL fields."""

    name: str
    program: list[dict] = field(default_factory=list)
    fields: dict[str, object] = field(default_factory=dict)
    fields_from_env: dict[str, str] = field(default_factory=dict)  # field → VAR
    fields_from_path: dict[str, str] = field(default_factory=dict)  # field → file
    # fieldsUnderKey nesting (pipeline.go:1098-1123, AddSourceFields;
    # core/source/config.go:35-36). None = under root — NOTE this
    # diverges from the reference default (fieldsUnderRoot=false nests
    # under "fields"); flat root columns are the idiomatic Spark shape
    # and what the routing/oracle surface assumes. Set e.g. "fields"
    # for reference-default nesting.
    fields_under_key: str | None = None
    body_key: str | None = None  # bodyKey remap (pipeline.go:1092-1095)
    timestamp_key: str | None = None  # timestampKey (pipeline.go:1076-1090)
    timestamp_layout: str = ""  # Go layout; "" = defaultTsLayout

    def resolved_fields(self) -> dict[str, object]:
        """Static + env + file fields, resolved once at PLAN time (the
        reference reads env/files once at pipeline init,
        pipeline.go:1006-1052)."""
        import os

        out = dict(self.fields)
        for k, var in self.fields_from_env.items():
            val = os.environ.get(var, "")
            if val:
                out[k] = val
        for k, path in self.fields_from_path.items():
            try:
                with open(path, "rb") as fh:
                    raw = fh.read(FIELDS_FROM_PATH_MAX_BYTES + 1)
            except OSError:
                continue  # pipeline.go:1036: log + skip, never fail
            if len(raw) > FIELDS_FROM_PATH_MAX_BYTES:
                continue  # pipeline.go:1041-1043 size cap
            out[k] = raw.decode("utf-8", "replace").replace("\n", "").replace("\r", "")
        return out


@dataclass
class PipelineConfig:
    name: str
    sources: list[SourceSpec]
    sinks: list[SinkSpec]
    lookup: DataFrame | None = None  # addK8sMeta-style broadcast dim
    lookup_keys: list[str] = field(default_factory=list)
    interceptors: list[dict] = field(default_factory=list)  # pipeline-level
    n_buckets: int = 64  # checkpoint/work units; ~4096 at 100 TB
    salt: int = 8  # write-skew salt for heavy-hitter routes
    source_col: str = "source"
    # keep the token column after the tokens → body decode: the sink
    # writes it with routed rows (token-array equality invariant).
    # False drops it at the decode; Catalyst also prunes it wherever
    # nothing downstream reads it.
    keep_tokens: bool = True
    time_col_name: str | None = None  # deterministic ${+...}; None = now()

    def effective_interceptors(self) -> list[dict]:
        """User-configured + silently-injected defaults
        (sysconfig/config.go:58-88)."""
        return merge_interceptor_list(self.interceptors, DEFAULT_INTERCEPTORS)


class Pipeline:
    def __init__(self, cfg: PipelineConfig):
        self.cfg = cfg

    # -- logical plan -------------------------------------------------------

    def transform(self, df: DataFrame) -> DataFrame:
        """Build the full parse → enrich → route logical plan (no
        action). Returns the routed frame with sink/route_key columns,
        program-dropped rows removed, render-failures flagged."""
        cfg = self.cfg
        if "tokens" in df.columns and "body" not in df.columns:
            # tokens:array<int32> → body:string through the one batch
            # decoder (functions/tokens.py), as a scalar Arrow UDF.
            from loggie_spark.functions.tokens import decode_tokens_arrow

            df = decode_tokens_arrow(df, "tokens", "body", keep_tokens=cfg.keep_tokens)

        plan = Plan(df, time_col=cfg.time_col_name)
        ctx = plan.root()
        fields = {s.name: s.resolved_fields() for s in cfg.sources}
        under_keys = {
            s.fields_under_key for s in cfg.sources if fields[s.name] and s.fields_under_key
        }
        if len(under_keys) > 1:
            raise ValueError(
                f"sources declare conflicting fields_under_key values: {under_keys}"
            )
        under_key = next(iter(under_keys), None)

        if len(cfg.sources) == 1:
            # One source: every row is its event.
            src = cfg.sources[0]
            self._source_stage(ctx, src)
            f = fields[src.name]
            if f and under_key:
                ctx.set_col(under_key, struct([(k, lit(v)) for k, v in f.items()]))
            else:
                for k, v in f.items():
                    ctx.set_col(k, lit(v))
        elif cfg.sources:
            ctx = self._dispatch(ctx, fields, under_key)

        # Pipeline-level interceptors: user-configured merged with the
        # silently-injected defaults (sysconfig/config.go:58-88). metric
        # and retry are structural here — exact per-sink counts and the
        # manifest resume are built into run(); maxbytes and
        # normalize/transformer programs compile into this same pass.
        for icp in cfg.effective_interceptors():
            ctx.end_interceptor()
            self._apply_interceptor(ctx, icp)
        out = plan.frame(ctx)

        # Lookup enrichment (addK8sMeta-shaped broadcast join).
        if cfg.lookup is not None:
            out = broadcast_enrich(out, cfg.lookup, cfg.lookup_keys)

        # Routed fan-out; 'fail'-policy render failures are quarantined
        # under route_key=__failed__ and count as fail_count.
        return explode_to_sinks(out, cfg.sinks, time_col=cfg.time_col_name)

    def _dispatch(self, ctx: _Ctx, fields: dict[str, dict], under_key: str | None) -> _Ctx:
        """belongTo: each source's stage compiles, without gates, on a
        fork of ``ctx`` that sees only its rows; one ``CASE source``
        per column merges them. Static fields are string literals in the
        same CASE (a source declaring some keys carries "" for the rest);
        rows no source names keep their columns and get NULL fields."""
        cfg = self.cfg
        key = ident(cfg.source_col)
        keys = sorted({k for f in fields.values() for k in f})
        branches = []
        for src in cfg.sources:
            b = ctx.fork(f"({key} = {quote(src.name)})")
            self._source_stage(b, src)
            f = fields[src.name]
            for k in keys if f else ():
                b.set_col(k, lit(str(f.get(k, ""))))
            branches.append(b)
        out = dispatch(ctx, branches)
        if under_key:
            out.set_col(under_key, struct([(k, out.col(k)) for k in keys]))
            for k in keys:
                out.del_col(k)
        return out

    @staticmethod
    def _source_stage(ctx: _Ctx, src: SourceSpec) -> None:
        """The source's program, then its bodyKey / timestampKey remaps
        (pipeline.go:1076-1095) on every row it did not drop:
        timestampKey exposes the formatted product time under a header
        key; bodyKey moves the body under a header key and blanks the
        body."""
        ctx.run(src.program)
        ctx.end_interceptor()
        if src.timestamp_key:
            from loggie_spark.patterns import go_layout_to_jvm

            layout = src.timestamp_layout or DEFAULT_TS_LAYOUT
            fmt = quote(go_layout_to_jvm(layout))
            ctx.set_col(src.timestamp_key, Sql(f"date_format({ctx.plan.time.text}, {fmt})", STRING))
        if src.body_key and "body" in ctx.cols:
            ctx.step()
            ctx.set_col(src.body_key, ctx.col("body"))
            ctx.set_col("body", lit(""))

    @staticmethod
    def _apply_interceptor(ctx: _Ctx, icp: dict) -> None:
        """Compile one pipeline-level interceptor into the pass."""
        typ = icp.get("type")
        if typ in ("metric", "retry"):
            return  # structural: run() computes metrics / manifest resume
        if typ == "maxbytes":
            from loggie_spark.functions.truncate import truncate_utf8_sql

            target = icp.get("target", "body")
            max_bytes = int(icp.get("maxBytes", 131072))  # maxbytes/config.go:28
            if target in ctx.cols:
                text = truncate_utf8_sql(ctx.col(target).text, max_bytes)
                ctx.set_col(target, Sql(text, STRING))
            return
        if typ in ("normalize", "transformer"):
            from loggie_spark.processors import compile_processors

            program = (
                compile_processors(icp.get("processors", []))
                if typ == "normalize"
                else icp.get("actions", [])
            )
            ctx.run(program)
            return
        raise KeyError(f"unknown pipeline interceptor type: {typ}")

    # -- physical run -------------------------------------------------------

    def run(
        self,
        spark: SparkSession,
        df: DataFrame,
        out_dir: str,
        run_id: str,
        manifest_dir: str | None = None,
        key: str = "doc_id",
    ) -> DataFrame:
        """Execute resumably; returns the exact per-sink metrics frame.

        SINGLE-SCAN: the input is read exactly once — by the routed
        write job. Everything else is accounting on small frames:

        * pending buckets are driver-known (all buckets minus the
          manifest's done set) — no pre-count scan;
        * ``rows_in`` (total + per-bucket up to OBS_BUCKET_CAP) rides
          the write job via ``df.observe`` on the input side;
        * per-bucket rows_out and per-(source, sink) metric deltas come
          from ONE column-pruned aggregation over the buckets this run
          just wrote (partition-pruned; reads two thin columns of the
          run's own output, never the input and never prior output);
        * this run's lineage and deltas are committed as ONE manifest
          object, and final metrics are a driver-side rollup of the
          commits — the output table is never re-read for accounting.

        Crash-safe: buckets are re-written with dynamic partition
        overwrite, so partially-written buckets heal on resume, and a
        commit is read whole or not at all, so per-sink counts stay
        exactly-once (FIXTURES §F4 invariant; see checkpoint.py). The
        manifest goes through the same filesystem as the write.
        """
        cfg = self.cfg
        manifest = Manifest(manifest_dir or f"{out_dir}/_manifest")

        done = set(manifest.completed_buckets(spark, run_id))
        todo_buckets = sorted(b for b in range(cfg.n_buckets) if b not in done)
        if not todo_buckets:
            return manifest.final_metrics(spark)

        bucketed = with_bucket(df, cfg.n_buckets, key=key)
        if done:
            bucketed = bucketed.filter(~F.col(BUCKET_COL).isin(sorted(done)))

        obs = Observation()
        per_bucket_in = len(todo_buckets) <= OBS_BUCKET_CAP
        # SQL text: one py4j call per bucket, where a Column expression
        # costs about forty.
        in_exprs = [F.expr("count(1) AS rows_in")]
        if per_bucket_in:
            in_exprs += [
                F.expr(f"count_if({ident(BUCKET_COL)} = {b}) AS b{b}") for b in todo_buckets
            ]
        observed = bucketed.observe(obs, *in_exprs)

        routed = self.transform(observed)

        # Salted repartition: heavy-hitter (sink, route) pairs spread
        # over `salt` writer tasks each; AQE coalesces small ones. A
        # sink's rendered partition_key (kafka partitionKey analog)
        # overrides the salt hash so equal keys co-locate in one file.
        part_hash = F.pmod(
            F.xxhash64(F.coalesce(F.col(PKEY_COL), F.col(key).cast("string"))),
            F.lit(cfg.salt),
        )
        routed = routed.repartition(
            F.col(BUCKET_COL), F.col(SINK_COL), F.col(ROUTE_COL), part_hash
        )

        (
            routed.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(BUCKET_COL, SINK_COL, ROUTE_COL)
            .parquet(out_dir)
        )

        in_vals = obs.get  # filled by the write job — no extra action
        rows_in_by_bucket = (
            {b: int(in_vals[f"b{b}"]) for b in todo_buckets} if per_bucket_in else {}
        )

        # ONE pruned aggregation over this run's freshly-written buckets:
        # partition-pruned to todo_buckets, reads only (source, failed).
        # Result size is bounded by buckets × sources × sinks — driver-safe.
        agg_rows = []
        if any(n.startswith(BUCKET_COL + "=") for n in list_names(spark, out_dir)):
            written = spark.read.parquet(out_dir).filter(
                F.col(BUCKET_COL).isin(todo_buckets)
            )
            agg_rows = (
                written.groupBy(BUCKET_COL, cfg.source_col, SINK_COL)
                .agg(*ok_fail_counts())
                .collect()
            )

        seq = manifest.next_seq(spark)
        rows_out_by_bucket: dict[int, int] = {}
        metrics: list[dict] = []
        for r in agg_rows:
            b = r[BUCKET_COL]
            rows_out_by_bucket[b] = rows_out_by_bucket.get(b, 0) + r.success_count + r.fail_count
            metrics.append({
                "bucket": b, "pipeline": cfg.name, "source": r[cfg.source_col],
                "sink": r[SINK_COL], "success_count": r.success_count, "fail_count": r.fail_count,
            })
        lineage = [
            {
                "bucket": b, "pipeline": cfg.name, "rows_in": rows_in_by_bucket.get(b),
                "rows_out": rows_out_by_bucket.get(b, 0),
            }
            for b in todo_buckets
        ]
        manifest.record_run(spark, seq, run_id, lineage, metrics)
        return manifest.final_metrics(spark)
