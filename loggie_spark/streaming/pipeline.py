"""Structured Streaming face of the pipeline — the true analog of
loggie's continuous mode (sources → interceptors → sink, running
forever with at-least-once checkpointing).

The SAME compiled transform (Pipeline.transform) runs on a streaming
DataFrame: the per-source dispatch is one Generate plus stateless
column expressions (actions.py), so the parse → enrich → route program
is streaming-safe by construction.
What changes is the rim:

* source: ``readStream`` (file/kafka source; file shown here — a real
  deployment points at kafka with the identical downstream code)
* checkpointing: Spark's streaming WAL replaces our batch manifest
  (offset tracking ≙ loggie's file-offset registry, SURVEY §3.4)
* metrics: the 10s-period eventbus export (sink/listener.go:99-118)
  becomes a watermarked tumbling-window aggregate
* queue batching (size/bytes/timeout): trigger intervals /
  maxFilesPerTrigger — declarative, not hand-built
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from loggie_spark.pipeline import Pipeline, PipelineConfig
from loggie_spark.sinks.metrics import ok_fail_counts
from loggie_spark.sinks.router import ROUTE_COL, SINK_COL


def stream_pipeline(
    spark: SparkSession,
    cfg: PipelineConfig,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    schema: StructType | str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    kafka_source=None,
    rate_limit_qps: int | None = None,
    trigger_seconds: int = 10,
    events_per_file: int = 1,
) -> StreamingQuery:
    """Continuous parse → enrich → route into a partitioned parquet
    sink. ``available_now=True`` drains the backlog and stops (used in
    tests and backfills); otherwise the query runs until stopped. A
    query over a processing-time state timeout
    (``stateful.no_data_monitor``) never stops by itself, even under
    ``available_now``.

    Sources: a parquet directory (``input_path`` + ``schema``), or —
    when ``kafka_source`` is a :class:`~loggie_spark.sources.kafka.
    KafkaSourceConfig` — a kafka subscription whose records are decoded
    to the event shape (body + addonMeta) before the same transform.
    """
    # rateLimit interceptor (pkg/interceptor/ratelimit/interceptor.go:
    # qps token bucket) maps declaratively: a ProcessingTime trigger of
    # T seconds with maxOffsets/maxFiles = qps*T caps sustained intake
    # at qps without per-event gating — backpressure instead of drops,
    # which is also what loggie's limiter does (it blocks, not drops).
    #
    # The qps semantic is EXACT only on the kafka path, where
    # maxOffsetsPerTrigger counts records. The file source's
    # maxFilesPerTrigger counts FILES, so qps holds only for
    # one-event-per-file layouts; for multi-row files pass
    # events_per_file with the mean rows/file and the cap is derived
    # as qps·T / events_per_file (still an approximation — per-trigger
    # intake jitters by file-size variance).
    max_offsets_per_trigger = max_files_per_trigger
    if rate_limit_qps:
        max_offsets_per_trigger = rate_limit_qps * trigger_seconds
        max_files_per_trigger = max(
            1, max_offsets_per_trigger // max(1, events_per_file)
        )

    if kafka_source is not None:
        from loggie_spark.sources.kafka import decode_kafka_records, read_kafka

        raw = read_kafka(
            spark,
            kafka_source,
            streaming=True,
            max_offsets_per_trigger=max_offsets_per_trigger,
        )
        stream = decode_kafka_records(raw, addon_meta=kafka_source.addon_meta)
    else:
        if schema is None:
            raise ValueError("file source needs an explicit schema")
        reader = spark.readStream.schema(schema)
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        stream = reader.parquet(input_path)

    routed = Pipeline(cfg).transform(stream)

    writer = (
        routed.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .partitionBy(SINK_COL, ROUTE_COL)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif rate_limit_qps:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def stream_metrics(
    routed: DataFrame,
    pipeline_name: str,
    time_col: str = "event_time",
    window: str = "10 seconds",
    watermark: str = "30 seconds",
    source_col: str = "source",
) -> DataFrame:
    """Windowed per-sink success/fail counts — the streaming version of
    the metric-interceptor contract: one row per (window, pipeline,
    source, sink) per period, exactly like the eventbus export cycle."""
    return (
        routed.withWatermark(time_col, watermark)
        .groupBy(
            F.window(F.col(time_col), window).alias("window"),
            F.lit(pipeline_name).alias("pipeline"),
            F.col(source_col).alias("source"),
            F.col(SINK_COL),
        )
        .agg(*ok_fail_counts())
    )


def streaming_dedup(
    stream: DataFrame,
    keys: list[str],
    time_col: str = "event_time",
    watermark: str = "1 minute",
) -> DataFrame:
    """Streaming exact dedup within the watermark horizon — state is
    bounded by the watermark (old keys age out), which is how a
    continuous ingest dedups without unbounded memory."""
    return stream.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(keys)


def write_stream_exactly_once(
    routed: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Exactly-once streaming append into an arbitrary table layout:
    ``foreachBatch`` + idempotent per-batch-partition overwrite.

    Structured Streaming replays an uncommitted micro-batch after a
    crash with the SAME ``batch_id``; writing each batch into its own
    ``_batch=<id>`` partition with dynamic partition overwrite makes
    the replay rewrite that partition instead of appending duplicates
    — the canonical exactly-once recipe for sinks without native
    transactional support (the reference's at-least-once + sink-side
    dedup contract, strengthened). The streaming face of the batch
    manifest-resume layer (checkpoint.py): there the unit of replay is
    a bucket, here a micro-batch.

    Returns the started StreamingQuery.
    """

    def write_batch(df: DataFrame, batch_id: int) -> None:
        (
            df.withColumn("_batch", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch")
            .parquet(out_dir)
        )

    writer = (
        routed.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_countmin(
    stream: DataFrame,
    item_col: str,
    sketch_dir: str,
    checkpoint_dir: str,
    depth: int = 4,
    width: int = 256,
    available_now: bool = True,
):
    """Continuously maintained count-min sketch over a stream — the
    bounded-state streaming heavy-hitter path when the item domain is
    unbounded (raw tokens, urls): per micro-batch, build the batch's
    sketch (≤ depth×width rows, operators/sketches.py:cms_build) and
    MERGE it into the running sketch table by cell-wise addition
    (cms_merge — the sketch's mergeability is exactly what makes it
    streamable without stateful operators or state-store growth).

    Exactly-once by the same batch-partition recipe as
    :func:`write_stream_exactly_once`: each batch's PARTIAL sketch
    lands in its own ``_batch=<id>`` partition (replays overwrite, not
    double-count), and the read side sums partitions — so the "merge"
    is deferred to read time and the write path stays idempotent.
    Read the current estimate table with :func:`read_countmin`.

    Returns the started StreamingQuery.
    """
    from loggie_spark.operators.sketches import cms_build

    def write_batch(df: DataFrame, batch_id: int) -> None:
        (
            cms_build(df, item_col, depth=depth, width=width)
            .withColumn("_batch", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch")
            .parquet(sketch_dir)
        )

    writer = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_countmin(spark, sketch_dir: str) -> DataFrame:
    """Collapse the per-batch partial sketches into the current global
    sketch (cell-wise sum — cms_merge over every batch partition)."""
    return (
        spark.read.parquet(sketch_dir)
        .groupBy("seed", "bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def stream_source_drift(
    stream: DataFrame,
    reference: list[tuple[str, float]],
    time_col: str = "event_time",
    window: str = "10 seconds",
    watermark: str = "30 seconds",
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Windowed token-distribution drift monitor — the streaming face
    of ``corpusstats.source_token_drift``: per (window, source), the
    chi-squared distance between the window's token distribution and a
    FROZEN reference distribution ``reference = [(word, p), ...]``
    (normally the top-V corpus distribution exported by the batch
    operator). The alerting signal for a source whose language shifts
    mid-stream (spam influx, template storm) with bounded state.

    Streaming shape: one watermarked windowed aggregation — each
    reference word becomes a conditional-sum column (V ≤ ~100 cells of
    state per group, no second aggregation, so append mode works), and
    chi² assembles in a post-projection folding the V terms in word
    order (deterministic, same fold the batch operator uses). Words
    outside the reference vocab count toward nothing, exactly like the
    batch top-V restriction.

    Returns a streaming frame ``(window, group_col, n_tokens_v,
    chi2)``; windows where a source emits no vocab tokens report NULL
    chi2 (no distribution to compare).
    """
    from loggie_spark.operators.dedup import tokenize

    ref = sorted(reference)  # fold in word order, like the batch op
    words = stream.select(
        F.col(time_col),
        F.col(group_col),
        F.explode(tokenize(F.col(text_col))).alias("_w"),
    )
    counts = [
        F.sum(F.when(F.col("_w") == w, 1).otherwise(0))
        .cast("long")
        .alias(f"_c{i}")
        for i, (w, _p) in enumerate(ref)
    ]
    agg = (
        words.withWatermark(time_col, watermark)
        .groupBy(F.window(F.col(time_col), window).alias("window"), group_col)
        .agg(*counts)
    )
    n = None
    for i in range(len(ref)):
        c = F.col(f"_c{i}")
        n = c if n is None else n + c
    staged = agg.select("window", group_col, *[f"_c{i}" for i in range(len(ref))],
                        n.alias("_n"))
    chi2 = None
    for i, (_w, p) in enumerate(ref):
        q = F.col(f"_c{i}").cast("double") / F.col("_n")
        term = (q - F.lit(p)) * (q - F.lit(p)) / F.lit(p)
        chi2 = term if chi2 is None else chi2 + term
    return staged.select(
        "window",
        group_col,
        F.col("_n").alias("n_tokens_v"),
        F.when(F.col("_n") > 0, F.round(chi2, 4)).alias("chi2"),
    )


def stream_burn_rate(
    events: DataFrame,
    short_window: str = "1 hour",
    long_window: str = "6 hours",
    slide: str = "1 hour",
    watermark: str = "2 hours",
    error_type: str = "error",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> tuple[DataFrame, DataFrame]:
    """Streaming legs of the multi-window SLO burn-rate alert
    (operators/observability.py:burn_rate): two watermarked windowed
    aggregations over the SAME event stream — a tumbling short window
    and a sliding long window anchored on the same grain — each
    emitting exact (bucket, tot, err) counts. Feed both to
    :func:`burn_rate_alerts` (a stateless batch combiner that runs on
    the materialized sink tables, or in foreachBatch) for the
    fast+slow alert decision.

    Why two queries instead of one: a single streaming aggregation
    cannot group by two different window specs, and stream-stream
    joins of aggregates are not expressible — two aggregations into
    two sink tables IS the production shape (each is independently
    checkpointed and restartable).

    Semantics note: the sliding long window ending at bucket+slide
    covers exactly the trailing ``long_window`` of event time, so its
    count equals the batch operator's present-bucket range-window sum;
    anchor hours with no traffic emit no short-window row, and the
    combiner's inner join drops their long rows — row-for-row the
    batch output.
    """
    err = (F.col(type_col) == error_type).cast("long")
    # watermarks require TIMESTAMP (not NTZ); the session runs UTC so
    # the cast is instant-preserving
    marked = events.withColumn(ts_col, F.col(ts_col).cast("timestamp")).withWatermark(
        ts_col, watermark
    )
    short = marked.groupBy(
        F.window(F.col(ts_col), short_window).alias("w")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("tot_s"),
        F.sum(err).cast("long").alias("err_s"),
    ).select(F.col("w.start").alias("bucket"), "tot_s", "err_s")
    long = marked.groupBy(
        F.window(F.col(ts_col), long_window, slide).alias("w")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("tot_l"),
        F.sum(err).cast("long").alias("err_l"),
    ).select(
        # anchor bucket = the last slide-grain bucket the window covers
        (F.col("w.end") - F.expr(f"INTERVAL {slide}")).alias("bucket"),
        "tot_l",
        "err_l",
    )
    return short, long


def burn_rate_alerts(
    short: DataFrame,
    long: DataFrame,
    budget_num: int = 1,
    budget_den: int = 5,
    fast: int = 2,
    slow: int = 1,
) -> DataFrame:
    """Stateless combiner for :func:`stream_burn_rate`'s two legs:
    inner-join on the anchor bucket and apply the SAME exact-int64
    alert tests and derived burn columns as the batch operator — the
    output schema and values are row-identical to
    ``operators.observability.burn_rate`` on the same events."""
    den = F.lit(int(budget_den)).cast("long")
    num = F.lit(int(budget_num)).cast("long")
    flag_s = F.col("err_s") * den >= F.lit(int(fast)) * num * F.col("tot_s")
    flag_l = F.col("err_l") * den >= F.lit(int(slow)) * num * F.col("tot_l")
    budget = num.cast("double") / den.cast("double")
    return short.join(long, "bucket").select(
        "bucket",
        "tot_s",
        "err_s",
        "tot_l",
        "err_l",
        F.round(
            F.col("err_s").cast("double") / F.col("tot_s").cast("double") / budget, 4
        ).alias("burn_short"),
        F.round(
            F.col("err_l").cast("double") / F.col("tot_l").cast("double") / budget, 4
        ).alias("burn_long"),
        (flag_s & flag_l).alias("alert"),
    )
