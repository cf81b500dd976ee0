"""Per-layer metrics for ``--trace 1`` runs, measured from outside the
program.

* Lazily composed layers (the pipeline's scan → decode → parse →
  enrich → route → aggregate) get a self time from cumulative
  prefixes: prefix k runs layers 0..k and is consumed by a ``noop``
  write, so Catalyst cannot prune a layer away; layer k's self time is
  prefix k minus prefix k-1. The last prefix is the workload's own pass.
* Eager calls get spans placed around the public functions (see
  ``Spans.wrap``); a span's self time excludes its child spans.
* Counts come from the executed plan's SQL metrics
  (``AdaptiveSparkPlanExec.finalPhysicalPlan`` and its query stages),
  from the jobs of each span's job group in the status store, and from
  Spark's ``CodegenMetrics``. All are readable with the UI disabled.

Layers a workload does not run report 0.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import sys
import time

# name → unit, in the order BENCHMARK.json lists them
LAYER_METRICS = {
    "session.start_s": "s",
    "sources.scan_s": "s",
    "sources.scan_bytes": "bytes",
    "sources.rows": "count",
    "arrow_reader.read_s": "s",
    "arrow_reader.python_bytes_received": "bytes",
    "tokens.decode_s": "s",
    "tokens.python_s": "s",
    "tokens.python_bytes_sent": "bytes",
    "tokens.python_bytes_received": "bytes",
    "actions.parse_s": "s",
    "actions.rows_dropped": "count",
    "enrich.join_s": "s",
    "enrich.broadcast_rows": "count",
    "router.route_s": "s",
    "router.rows_out": "count",
    "sink_metrics.aggregate_s": "s",
    "sink_metrics.shuffle_bytes": "bytes",
    "spark.jobs": "count",
    "spark.codegen_compiles": "count",
    "spark.shuffle_bytes": "bytes",
    "spark.failed_tasks": "count",
}
# Printed by the workloads kept out of BENCHMARK.json (see README).
EXTRA_LAYER_METRICS = {
    "routed_write": {
        "pipeline.write_s": "s",
        "pipeline.shuffle_bytes": "bytes",
        "pipeline.files_written": "count",
        "pipeline.bytes_written": "bytes",
        "checkpoint.manifest_s": "s",
        "checkpoint.jobs": "count",
    },
    "curation": {
        "textstats.signals_s": "s",
        "dedup.exact_s": "s",
        "dedup.near_s": "s",
        "dedup.near_jobs": "count",
        "packing.pack_s": "s",
        "layout.export_s": "s",
        "layout.bytes_written": "bytes",
    },
}

MIN_ROUNDS = 2


class Spans:
    """Timed spans, each running its Spark jobs under its own job group.

    ``records[name]`` accumulates over every span of that name:
    ``s`` (self seconds), ``jobs``, ``shuffle_bytes``, ``failed_tasks``
    and ``compiles`` (whole-stage codegen compilations)."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.records: dict[str, dict[str, float]] = {}
        self._stack: list[list[float]] = []  # child seconds per open span
        self._seq = 0
        self._codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def _compiles(self) -> int:
        return int(self._codegen.METRIC_COMPILATION_TIME().getCount())

    @contextlib.contextmanager
    def span(self, name: str):
        self._seq += 1
        group = f"perfbench-{self._seq}-{name}"
        outer = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(group, name)
        self._stack.append([0.0])
        compiles, t0 = self._compiles(), time.monotonic()
        try:
            yield
        finally:
            total = time.monotonic() - t0
            child = self._stack.pop()[0]
            if self._stack:
                self._stack[-1][0] += total
            if outer is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(outer, outer)
            rec = self.records.setdefault(
                name, {"s": 0.0, "jobs": 0, "shuffle_bytes": 0, "failed_tasks": 0, "compiles": 0}
            )
            rec["s"] += total - child
            rec["compiles"] += self._compiles() - compiles
            for k, v in self._jobs(group).items():
                rec[k] += v

    def _jobs(self, group: str) -> dict[str, int]:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        out = {"jobs": 0, "shuffle_bytes": 0, "failed_tasks": 0}
        for jid in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # skipped stage: never attempted
                    continue
                out["shuffle_bytes"] += int(st.shuffleWriteBytes())
                out["failed_tasks"] += int(st.numFailedTasks())
        return out

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a spanned call for this process."""
        fn = getattr(owner, attr)

        def spanned(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(owner, attr, spanned)


def plan_nodes(df) -> list[tuple[str, dict[str, int], str]]:
    """(node class, SQL metrics, one-line description) of every node of
    ``df``'s executed plan, descending into AQE query stages. Call
    after an action on ``df``."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.finalPhysicalPlan()
    out, todo = [], [plan]
    while todo:
        node = todo.pop()
        metrics, it = {}, node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = int(kv._2().value())
        cls = node.getClass().getSimpleName()
        out.append((cls, metrics, node.simpleString(25)))
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return out


def _sum(nodes, cls: str, metric: str) -> int:
    return sum(m.get(metric, 0) for c, m, _ in nodes if c == cls)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _collected(df):
    df.collect()
    return df


def _prefix_rounds(spans, prefixes, seconds, final=None, untraced=None, cleanup=None):
    """Run rounds of (untraced pass, every prefix, final traced pass)
    until ``seconds`` have passed and at least MIN_ROUNDS ran. Each
    prefix is consumed by a noop write; ``final`` runs the workload's
    own action and returns the executed frame. Returns (median
    cumulative seconds per prefix and "final", median untraced
    seconds or None, the last final frame, rounds)."""
    names = [n for n, _ in prefixes] + (["final"] if final else [])
    cum: dict[str, list[float]] = {n: [] for n in names}
    plain: list[float] = []
    start, rounds, last = time.monotonic(), 0, None
    while rounds < MIN_ROUNDS or time.monotonic() - start < seconds:
        if untraced:
            t = time.monotonic()
            untraced()
            plain.append(time.monotonic() - t)
        for name, build in prefixes:
            with spans.span(f"prefix.{name}"):
                t = time.monotonic()
                _noop(build())
                cum[name].append(time.monotonic() - t)
            if cleanup:
                cleanup()
        if final:
            with spans.span("prefix.final"):
                t = time.monotonic()
                last = final()
                cum["final"].append(time.monotonic() - t)
        rounds += 1
    med = {k: statistics.median(v) for k, v in cum.items()}
    return med, statistics.median(plain) if plain else None, last, rounds


def _self_times(med: dict[str, float], order: list[str]) -> dict[str, float]:
    out, prev = {}, 0.0
    for name in order:
        out[name] = med[name] - prev
        prev = med[name]
    return out


def _report(workload: str, med, plain, order) -> None:
    """Prefix medians and, given the untraced pass, the tracing overhead."""
    total = med[order[-1]]
    line = f"perfbench trace: {workload} prefix medians " + ", ".join(
        f"{k}={med[k]:.3f}" for k in order
    )
    if plain:
        line += (
            f"; untraced pass {plain:.3f} s; traced pass {total:.3f} s; "
            f"self times sum / untraced = {total / plain:.3f}; overhead {total - plain:+.3f} s"
        )
    print(line, file=sys.stderr)


def _parquet_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _ds, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet")
    )


def _sequence_prefixes(w):
    """scan and scan→decode over the workload's sequences input."""
    from loggie_spark.functions.tokens import decode_tokens_arrow

    from workloads import sequences_frame

    def scan():
        return sequences_frame(w.spark, w.inputs.path)

    return [
        ("scan", scan),
        ("decode", lambda: decode_tokens_arrow(scan(), "tokens", "body", keep_tokens=True)),
    ]


def _flagship(w, spans, seconds, m):
    from loggie_spark.pipeline import Pipeline, PipelineConfig, SourceSpec
    from loggie_spark.sinks.router import SinkSpec

    from workloads import sequences_frame

    cfg = w.cfg

    def partial(with_fields: bool):
        # parse programs (plus the always-on maxbytes interceptor and
        # the drop filter), optionally the static-field enrich, and a
        # constant one-sink route (a plain projection, no fan-out)
        sub = PipelineConfig(
            name=cfg.name,
            sources=[
                SourceSpec(s.name, s.program, fields=s.fields if with_fields else {})
                for s in cfg.sources
            ],
            sinks=[SinkSpec("all", "all")],
            time_col_name=cfg.time_col_name,
        )
        return Pipeline(sub).transform(sequences_frame(w.spark, w.inputs.path))

    prefixes = _sequence_prefixes(w) + [
        ("parse", lambda: partial(False)),
        ("enrich", lambda: partial(True)),
        ("route", lambda: w.pipe.transform(sequences_frame(w.spark, w.inputs.path))),
    ]
    order = [n for n, _ in prefixes] + ["final"]
    med, plain, last, _ = _prefix_rounds(
        spans, prefixes, seconds, final=lambda: _collected(w.plan()), untraced=lambda: w.one_pass(-1)
    )
    _report("flagship", med, plain, order)
    st = _self_times(med, order)
    nodes = plan_nodes(last)
    rows_in = _sum(nodes, "FileSourceScanExec", "numOutputRows")
    m.update({
        "sources.scan_s": st["scan"],
        "sources.scan_bytes": _sum(nodes, "FileSourceScanExec", "filesSize"),
        "sources.rows": rows_in,
        "tokens.decode_s": st["decode"],
        "tokens.python_s": _sum(nodes, "MapInArrowExec", "pythonTotalTime") / 1000.0,
        "tokens.python_bytes_sent": _sum(nodes, "MapInArrowExec", "pythonDataSent"),
        "tokens.python_bytes_received": _sum(nodes, "MapInArrowExec", "pythonDataReceived"),
        "actions.parse_s": st["parse"],
        "actions.rows_dropped": rows_in - _sum(nodes, "BroadcastHashJoinExec", "numOutputRows"),
        "enrich.join_s": st["enrich"],
        "enrich.broadcast_rows": _sum(nodes, "BroadcastExchangeExec", "numOutputRows"),
        "router.route_s": st["route"],
        "router.rows_out": sum(
            mm.get("numOutputRows", 0) for c, mm, d in nodes if c == "GenerateExec" and "explode(" in d
        ),
        "sink_metrics.aggregate_s": st["final"],
        "sink_metrics.shuffle_bytes": _sum(nodes, "ShuffleExchangeExec", "dataSize"),
    })


def _raw_ingest(w, spans, seconds, m):
    order = ["read", "final"]
    med, plain, last, _ = _prefix_rounds(
        spans, [("read", w.read)], seconds, final=lambda: _collected(w.plan()), untraced=lambda: w.one_pass(-1)
    )
    _report("raw_ingest", med, plain, order)
    st = _self_times(med, order)
    nodes = plan_nodes(last)
    m.update({
        "arrow_reader.read_s": st["read"],
        "arrow_reader.python_bytes_received": _sum(nodes, "MapInArrowExec", "pythonDataReceived"),
        # the one-sink route is a projection fused into the aggregate's stage
        "sink_metrics.aggregate_s": st["final"],
        "sink_metrics.shuffle_bytes": _sum(nodes, "ShuffleExchangeExec", "dataSize"),
    })


def _routed_write(w, spans, seconds, m):
    from loggie_spark.checkpoint import Manifest

    for attr in ("completed_buckets", "next_seq", "record_run", "final_metrics"):
        spans.wrap(Manifest, attr, "checkpoint")
    runs, start = 0, time.monotonic()
    files = nbytes = 0
    while runs < MIN_ROUNDS or time.monotonic() - start < seconds:
        out = w.out_dir(-1)
        with spans.span("run"):
            w.run_once(out, "trace")
        routed = [os.path.join(out, d) for d in os.listdir(out) if d != "_manifest"]
        files += sum(f.endswith(".parquet") for r in routed for _d, _ds, fs in os.walk(r) for f in fs)
        nbytes += sum(_parquet_bytes(r) for r in routed)
        w.drop_output(-1)
        runs += 1
    from workloads import sequences_frame

    transform = ("transform", lambda: w.pipe.transform(sequences_frame(w.spark, w.inputs.path)))
    med, _, _, _ = _prefix_rounds(spans, _sequence_prefixes(w) + [transform], 0)
    run, ck = spans.records["run"], spans.records["checkpoint"]
    m.update({
        "sources.scan_s": med["scan"],
        "tokens.decode_s": med["decode"] - med["scan"],
        # run() minus its manifest spans, minus the transform it writes
        "pipeline.write_s": run["s"] / runs - med["transform"],
        "pipeline.shuffle_bytes": run["shuffle_bytes"] // runs,
        "pipeline.files_written": files // runs,
        "pipeline.bytes_written": nbytes // runs,
        "checkpoint.manifest_s": ck["s"] / runs,
        "checkpoint.jobs": ck["jobs"] // runs,
    })


def _curation(w, spans, seconds, m):
    """Prefixes mirror jobs/run_curation.py stages 1-5 with the same
    operator calls; the export is a span around write_training_shards
    inside the real main()."""
    import pyspark.sql.functions as F

    import loggie_spark.layout as layout
    from loggie_spark.operators.dedup import (
        cluster_survivors, dedup_exact, dup_clusters, minhash_lsh_pairs,
    )
    from loggie_spark.operators.packing import pack_sequences_greedy
    from loggie_spark.operators.sharing import release_shared
    from loggie_spark.operators.textstats import dup_word_fraction, text_stats

    import workloads

    spark = w.spark

    def scan():
        return spark.read.parquet(w.inputs.path)

    def signals():
        return text_stats(scan()).withColumn("repetition", F.round(dup_word_fraction(F.col("text")), 4))

    def exact():
        s = signals()
        return s.join(dedup_exact(s), "doc_id", "left_semi")

    def near():
        s = exact()
        with spans.span("near_jobs"):
            clusters = dup_clusters(minhash_lsh_pairs(s))
        kept = cluster_survivors(clusters, s.select("doc_id", F.col("quality").alias("q")))
        return s.join(clusters.select("doc_id"), "doc_id", "left_anti").unionByName(
            s.join(kept.select(F.col("survivor_id").alias("doc_id")), "doc_id", "left_semi")
        )

    def pack():
        gated = near().filter((F.col("quality") >= 0.5) & (F.col("repetition") <= 0.3))
        return pack_sequences_greedy(
            gated.select("doc_id", "source", F.col("n_words").cast("long").alias("n_tok")),
            max_len=workloads.MAX_SEQ_LEN, n_shards=workloads.N_SHARDS,
        )

    prefixes = [("scan", scan), ("signals", signals), ("exact", exact), ("near", near), ("pack", pack)]
    order = [n for n, _ in prefixes]
    med, _, _, rounds = _prefix_rounds(spans, prefixes, 0, cleanup=release_shared)
    st = _self_times(med, order)
    r = spans.records

    _report("curation", med, None, order)
    written = []
    export = layout.write_training_shards

    def spanned_export(df, out_dir, *a, **kw):
        with spans.span("export"):
            manifest = export(df, out_dir, *a, **kw)
        written.append(_parquet_bytes(out_dir))
        return manifest

    layout.write_training_shards = spanned_export
    w.one_pass(-1)
    m.update({
        "textstats.signals_s": st["signals"],
        "dedup.exact_s": st["exact"],
        "dedup.near_s": st["near"],
        "dedup.near_jobs": (
            r["prefix.near"]["jobs"] + r["near_jobs"]["jobs"] - r["prefix.exact"]["jobs"]
        ) // rounds,
        "packing.pack_s": st["pack"],
        "layout.export_s": r["export"]["s"],
        "layout.bytes_written": written[0],
    })


_TRACERS = {
    "flagship": _flagship,
    "raw_ingest": _raw_ingest,
    "routed_write": _routed_write,
    "curation": _curation,
}


def layer_metrics(name, w, spans, setup, seconds) -> dict:
    units = {**LAYER_METRICS, **EXTRA_LAYER_METRICS.get(name, {})}
    m: dict[str, float] = {k: 0 for k in units}
    cold = spans.records.get("cold", {})
    m.update({
        "session.start_s": setup,
        "spark.jobs": cold.get("jobs", 0),
        "spark.codegen_compiles": cold.get("compiles", 0),
        "spark.shuffle_bytes": cold.get("shuffle_bytes", 0),
        "spark.failed_tasks": cold.get("failed_tasks", 0),
    })
    _TRACERS[name](w, spans, seconds, m)
    return {k: {"value": m[k], "unit": units[k]} for k in units}
