#!/usr/bin/env python3
"""loggie_spark pipeline benchmark — one workload per invocation.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 10 --trace 0

Prints, as the last stdout line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics (perfbench/layers.py) with
``--trace 1``. See perfbench/README.md for the workloads, the inputs
and the reference figures.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import subprocess
import sys
import threading
import time

import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# The driver JVM is also the only executor (local mode). The program
# defaults to a 48g heap, which on a 16 GB host grows until the kernel
# kills the JVM; get_spark hard-codes -Xms8g, so 8g is the floor.
DRIVER_MEM = "8g"
CORES = min(4, os.cpu_count() or 1)

# Rows per workload input. Sized so a warm pass takes a few seconds on
# a 4-core host: long enough that the work, not the per-job scheduling,
# sets the time; short enough for several passes per run.
SEQ_ROWS = {"flagship": 200_000, "raw_ingest": 600_000, "routed_write": 100_000}
DOC_ROWS = 1500
MIN_WARM_PASSES = 4
# Untimed passes after the cold one: the JIT is still warming during the
# first pass after it (measured 25-35 % slower than the rest).
WARMUP_PASSES = 1
MAX_PASSES = 200


def process_age() -> float:
    """Seconds since this process started (kernel start time, so it
    includes interpreter start-up that no in-process clock sees)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def pin_environment() -> None:
    """Keep every byte Spark, the JVM and Python write inside the
    checkout, and pin the heap and core count."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Python workers import loggie_spark
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def start_session():
    """A ready, warmed session: the JVM has run a job."""
    from loggie_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def shutdown(spark) -> None:
    """Stop Spark and wait until the JVM and the Python workers it
    started have exited. The gateway JVM exits when its stdin closes."""
    children = [p for p in PssSampler.tree() if p != os.getpid()]
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while children and time.monotonic() < deadline:
        children = [p for p in children if _alive(p)]
        time.sleep(0.05)


class PssSampler:
    """Peak proportional set size of this process and all its
    descendants (JVM, Python worker daemon and workers), sampled from
    /proc every ``interval`` seconds on one thread. Reading the JVM's
    smaps_rollup walks its page tables (about 50 ms of CPU with a
    4 GB resident heap), so sampling faster slows the passes measured."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.peak_kib = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @staticmethod
    def tree() -> list[int]:
        parent: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                try:
                    with open(f"/proc/{name}/stat") as fh:
                        parent[int(name)] = int(fh.read().rsplit(")", 1)[1].split()[1])
                except OSError:
                    continue
        tree, frontier = [os.getpid()], [os.getpid()]
        while frontier:
            frontier = [p for p, pp in parent.items() if pp in frontier]
            tree += frontier
        return tree

    def sample(self) -> None:
        total = 0
        for pid in self.tree():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        self.peak_kib = max(self.peak_kib, total)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)


def ensure_inputs(workload: str, seed: int) -> workloads.Inputs:
    """Generate (or reuse) the seeded input under .perfbench_work,
    keyed by kind, seed and size. Runs before any set-up clock."""
    import pickle

    import gen

    if workload == "curation":
        kind, n = "documents", DOC_ROWS
    else:
        kind, n = "sequences", SEQ_ROWS[workload]
    path = os.path.join(WORK, "inputs", f"{kind}-seed{seed}-n{n}")
    meta = path + ".truth.pickle"
    if not (os.path.isdir(path) and os.path.exists(meta)):
        make = gen.make_documents if kind == "documents" else gen.make_sequences
        table, truth = make(seed, n)[:2]
        gen.write_parquet_dir(table, path, files=CORES)
        with open(meta + ".tmp", "wb") as fh:
            pickle.dump(truth, fh)
        os.replace(meta + ".tmp", meta)
    with open(meta, "rb") as fh:
        return workloads.Inputs(path, pickle.load(fh))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "loggie_spark")):
        print(f"perfbench: no loggie_spark package next to {HERE}", file=sys.stderr)
        return 2
    pin_environment()
    sys.path.insert(0, ROOT)

    # input generation is not set-up: with a warm cache it takes no time
    t0 = time.monotonic()
    inputs = ensure_inputs(args.workload, args.seed)
    generation = time.monotonic() - t0
    spark = start_session()
    setup = process_age() - generation

    workload = workloads.WORKLOADS[args.workload](spark, inputs, WORK, ROOT)
    spans = None
    if args.trace:
        import layers

        spans = layers.Spans(spark)
    errors: list[str] = []
    attempted = failed = 0
    times: list[float] = []

    def timed_pass(i: int) -> float | None:
        nonlocal attempted, failed
        attempted += 1
        cold = spans.span("cold") if spans and i == 0 else contextlib.nullcontext()
        t = time.monotonic()
        try:
            with cold:
                out = workload.one_pass(i)
        except Exception as exc:  # a failed operation is counted, not fatal
            failed += 1
            print(f"perfbench: pass {i} failed: {exc!r}", file=sys.stderr)
            return None
        dt = time.monotonic() - t
        errors.extend(workload.check_pass(out))
        return dt

    with PssSampler() as pss:
        first = timed_pass(0)
        for i in range(1, 1 + WARMUP_PASSES):
            timed_pass(i)
        start = time.monotonic()
        i = 1 + WARMUP_PASSES
        while time.monotonic() - start < args.seconds or len(times) < MIN_WARM_PASSES:
            dt = timed_pass(i)
            if dt is not None:
                times.append(dt)
            i += 1
            if attempted > MAX_PASSES:
                break
        pss.sample()

    if first is None or not times:
        shutdown(spark)
        print("perfbench: no pass completed; nothing to report", file=sys.stderr)
        return 1
    errors.extend(workload.check_full())

    if spans:
        metrics = layers.layer_metrics(args.workload, workload, spans, setup, args.seconds)
    else:
        warm = statistics.median(times)
        truth = inputs.truth
        metrics = {
            "rows_per_s": {"value": truth.rows / warm, "unit": "rows/s"},
            "mib_per_s": {"value": truth.bytes / 2**20 / warm, "unit": "MiB/s"},
            "first_pass_s": {"value": first, "unit": "s"},
            "setup_s": {"value": setup, "unit": "s"},
            "peak_pss_mib": {"value": pss.peak_kib / 1024.0, "unit": "MiB"},
        }
    shutdown(spark)

    for e in errors:
        print(f"perfbench: CHECK FAILED: {e}", file=sys.stderr)
    print(
        f"perfbench: {args.workload} seed={args.seed} warm passes={len(times)} "
        f"times={[round(t, 3) for t in times]} first={first} setup={setup:.3f}",
        file=sys.stderr,
    )
    print(json.dumps({
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
