"""The four workloads. Each drives the program only through its public
API and exposes:

* ``one_pass(i)`` — one operation, timed by the caller; returns what
  the cheap per-pass check needs;
* ``check_pass(result)`` — error strings for that pass's output;
* ``check_full()`` — the heavier checks, run once on the first pass's
  output (read-backs without Spark, the exactly-once re-run).

The input's truth (``rows``, ``bytes``) is the size a pass consumes.
"""

from __future__ import annotations

import contextlib
import importlib.util
import os
import shutil
import sys
from dataclasses import dataclass

import pyarrow.parquet as pq

import checks
import gen


@dataclass
class Inputs:
    """A generated input on disk and the generator's truth for it."""

    path: str
    truth: object  # gen.SequencesTruth or gen.DocumentsTruth


class _Base:
    def __init__(self, spark, inputs: Inputs, work: str, root: str):
        self.spark = spark
        self.inputs = inputs
        self.work = work
        self.root = root
        self.truth = inputs.truth
        self.outputs: dict[int, str] = {}

    def out_dir(self, i: int) -> str:
        d = os.path.join(self.work, "out", f"{type(self).__name__}-{i}")
        shutil.rmtree(d, ignore_errors=True)
        self.outputs[i] = d
        return d

    def drop_output(self, i: int) -> None:
        d = self.outputs.pop(i, None)
        if d:
            shutil.rmtree(d, ignore_errors=True)

    def check_full(self) -> list[str]:
        return []


def sequences_frame(spark, path):
    """The sequences input with the fixed processing time the reference
    pipeline renders ``${+YYYY.MM.dd}`` from."""
    from pyspark.sql import functions as F

    return spark.read.parquet(path).withColumn(
        "_ptime", F.lit(gen.PTIME).cast("timestamp")
    )


class Flagship(_Base):
    """Reference pipeline through ``Pipeline.transform`` + ``sink_metrics``."""

    def __init__(self, *args):
        super().__init__(*args)
        from loggie_spark.examples import reference_pipeline
        from loggie_spark.pipeline import Pipeline

        self.cfg = reference_pipeline(time_col_name="_ptime")
        self.pipe = Pipeline(self.cfg)

    def plan(self):
        from loggie_spark.sinks.metrics import sink_metrics

        return sink_metrics(self.pipe.transform(sequences_frame(self.spark, self.inputs.path)), self.cfg.name)

    def one_pass(self, i):
        return self.plan().collect()

    def check_pass(self, rows):
        return checks.check_sink_metrics(rows, self.truth.sink_metrics(self.cfg.name))


class RawIngest(_Base):
    """``read_sequences_arrow`` → one-sink ``${source}`` route → exact
    per-source counts, token column dropped after decode."""

    def __init__(self, *args):
        super().__init__(*args)
        from loggie_spark.pipeline import Pipeline, PipelineConfig, SourceSpec
        from loggie_spark.sinks.router import SinkSpec

        self.cfg = PipelineConfig(
            name="raw",
            sources=[SourceSpec("all")],
            sinks=[SinkSpec("kafka", "${source}")],
            keep_tokens=False,
        )
        self.pipe = Pipeline(self.cfg)

    def read(self):
        from loggie_spark.sources.arrow_reader import read_sequences_arrow

        return read_sequences_arrow(
            self.spark, self.inputs.path, keep_tokens=False,
            parallelism=self.spark.sparkContext.defaultParallelism,
        )

    def routed(self):
        return self.pipe.transform(self.read())

    def plan(self):
        from loggie_spark.sinks.metrics import sink_metrics

        return sink_metrics(self.routed(), self.cfg.name)

    def one_pass(self, i):
        return self.plan().collect()

    def check_pass(self, rows):
        want = {
            (self.cfg.name, s, "kafka"): (n, 0)
            for s, n in self.truth.source_rows.items()
            if n
        }
        return checks.check_sink_metrics(rows, want)

    def check_full(self):
        from pyspark.sql import functions as F

        body = F.col("body")
        h = F.sha2(body, 256)
        row = self.routed().agg(
            F.count(F.lit(1)),
            F.sum(F.octet_length(body)),
            F.bit_xor(F.conv(F.substring(h, 1, 15), 16, 10).cast("long")),
            F.sum(F.conv(F.substring(h, 1, 7), 16, 10).cast("long")),
        ).collect()[0]
        return checks.check_digest(tuple(row), self.truth.body_digest)


class RoutedWrite(_Base):
    """``Pipeline.run`` of the reference pipeline into a fresh output
    directory with its manifest."""

    def __init__(self, *args):
        super().__init__(*args)
        from loggie_spark.examples import reference_pipeline
        from loggie_spark.pipeline import Pipeline

        self.cfg = reference_pipeline(time_col_name="_ptime")
        self.pipe = Pipeline(self.cfg)
        self.first: tuple | None = None

    def run_once(self, out: str, run_id: str):
        return self.pipe.run(self.spark, sequences_frame(self.spark, self.inputs.path), out, run_id).collect()

    def one_pass(self, i):
        out = self.out_dir(i)
        rows = self.run_once(out, f"bench-{i}")
        if self.first is None:
            self.first = (i, out, rows)
        else:
            self.drop_output(i)
        return rows

    def check_pass(self, rows):
        return checks.check_sink_metrics(rows, self.truth.sink_metrics(self.cfg.name))

    def check_full(self):
        i, out, rows = self.first
        routed = checks.read_routed(out)
        errs = checks.check_route_counts(routed, self.truth.routes)
        errs += checks.check_tokens(routed, pq.read_table(self.inputs.path, columns=["doc_id", "tokens"]))
        before = checks.snapshot_files(out)
        again = self.run_once(out, f"bench-{i}")
        errs += checks.check_rerun(before, checks.snapshot_files(out), rows, again)
        self.drop_output(i)
        return errs


MAX_SEQ_LEN = 1024
N_SHARDS = 4


def _load_curation_main(root: str):
    spec = importlib.util.spec_from_file_location(
        "run_curation", os.path.join(root, "jobs", "run_curation.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.main


class Curation(_Base):
    """``jobs/run_curation.main`` over seeded documents."""

    def __init__(self, *args):
        super().__init__(*args)
        self.main = _load_curation_main(self.root)
        self.first: tuple | None = None

    def one_pass(self, i):
        from loggie_spark.operators.sharing import release_shared

        out = self.out_dir(i)
        argv = ["--input", self.inputs.path, "--output", out,
                "--n-shards", str(N_SHARDS), "--max-seq-len", str(MAX_SEQ_LEN)]
        # main() prints its report; keep stdout for the result line
        with contextlib.redirect_stdout(sys.stderr):
            report = self.main(argv)
        release_shared()
        if self.first is None:
            self.first = (i, out, report)
        else:
            self.drop_output(i)
        return report

    def check_pass(self, report):
        return checks.check_curation_report(report, self.truth)

    def check_full(self):
        i, out, report = self.first
        docs = pq.read_table(self.inputs.path, columns=["doc_id", "text"])
        errs = checks.check_curation_export(out, report, docs, MAX_SEQ_LEN)
        self.drop_output(i)
        return errs


WORKLOADS = {
    "flagship": Flagship,
    "raw_ingest": RawIngest,
    "routed_write": RoutedWrite,
    "curation": Curation,
}
