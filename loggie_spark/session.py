"""SparkSession factory tuned for the log-pipeline workload.

Defaults are chosen for a multi-executor cluster reading ~100 TB of
pre-tokenized sequences; on local[k] they simply keep shuffle fan-out
proportional to cores. AQE is always on: it handles skew-join splitting
and post-shuffle coalescing at runtime (the reference's adaptive sink
concurrency, pkg/pipeline/pipeline.go:578-830, maps onto this).
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructType


def get_spark(
    app_name: str = "loggie-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (fallback
    ``local[*]``). On a real cluster pass ``master=None`` and submit via
    ``spark-submit --py-files loggie_spark.zip``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        # local[k] → k shuffle partitions; a real cluster would set this
        # to ~2-3× total executor cores (AQE coalesces the excess).
        n = cpus or os.cpu_count() or 8
        shuffle_partitions = int(n)

    # In local mode the driver JVM IS the executor: the 1g default heap
    # OOMs the vectorized parquet reader at 32 concurrent tasks over
    # array<int32> columns. Size it to the machine (must be set before
    # the JVM launches; no-op if a gateway already exists): half its
    # memory, between the -Xms8g floor and 48g. A heap larger than the
    # machine grows until the kernel kills the JVM.
    physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    default_mem = f"{min(48, max(8, physical // 2**31))}g"
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", default_mem)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.extraJavaOptions", "-Xms8g -XX:+UseParallelGC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for every pandas UDF / toPandas hop (the vectorized
        # parse stage depends on it).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # 10k-row Arrow batches ≈ loggie's queue batchSize=2048 trigger
        # (pkg/queue/channel/config.go:22-24) scaled for columnar work.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # InferFiltersFromGenerate turns every explode(expensive_expr)
        # into a `size(expensive_expr) > 0` filter that predicate
        # pushdown then drives INTO the scan — the full shingle/route
        # expression ran per row inside the (often single-task) scan
        # stage and AGAIN in the projection. Measured 3-10× slowdown on
        # the minhash/router plans; the filter only pre-prunes empty
        # arrays, which the Generate skips anyway.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: str | StructType
) -> DataFrame:
    """A small driver-built frame of ``rows`` (tuples in ``schema``
    order), sent as one Arrow table so that Spark plans it as a
    LocalTableScan. ``spark.createDataFrame(<python list>)`` plans a
    PythonRDD instead, and every execution of a plan over it then runs
    a Python stage just to re-serialize the rows."""
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema

    struct = schema if isinstance(schema, StructType) else DataType.fromDDL(schema)
    cols = list(zip(*rows)) or [()] * len(struct.fields)
    table = pa.table(
        {f.name: list(c) for f, c in zip(struct.fields, cols)}, schema=to_arrow_schema(struct)
    )
    return spark.createDataFrame(table, struct)
