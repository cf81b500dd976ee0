"""Kafka connector tests: wire-schema round-trip, addonMeta decode,
producer-record encode (topic/key/value), partitionKey co-location in
the written layout, and config mapping (pkg/source/kafka/config.go,
pkg/sink/kafka/sink.go:124-199).

The kafka client package is external to this container, so the wire
frame comes from the file-backed substitute that emits the exact
Spark-kafka schema; every transformation above the scan is the real
production code path.
"""

from __future__ import annotations

import json

import pyspark.sql.functions as F
import pytest

from loggie_spark.sources.kafka import (
    KAFKA_WIRE_SCHEMA,
    KafkaSourceConfig,
    decode_kafka_records,
    kafka_records_from_table,
)


def test_wire_schema_and_addon_meta_decode(spark):
    df = spark.createDataFrame(
        [("d1", '{"level":"INFO"}', "t-app"), ("d2", "plain line", "t-sys")],
        "doc_id string, body string, topic string",
    ).withColumn("_t", F.lit("2024-03-01 12:00:00").cast("timestamp"))
    wire = kafka_records_from_table(
        df, topic=F.col("topic"), key_col="doc_id", time_col="_t"
    )
    # Exact Spark kafka source schema.
    expected = spark.createDataFrame([], KAFKA_WIRE_SCHEMA).schema
    assert [(f.name, f.dataType) for f in wire.schema.fields] == [
        (f.name, f.dataType) for f in expected.fields
    ]

    events = decode_kafka_records(wire)
    rows = {r.kafka.topic: r for r in events.collect()}
    assert rows["t-app"].body == '{"level":"INFO"}'
    # addonMeta: offset/partition/timestamp/topic under `kafka`
    # (kafka.go:227-232), RFC3339 timestamp.
    assert rows["t-app"].kafka.timestamp.startswith("2024-03-01T12:00:00")
    assert rows["t-sys"].kafka.partition is not None
    assert rows["t-sys"].kafka.offset is not None


def test_kafka_source_into_pipeline_transform(spark):
    """Wire records → decode → the SAME action program path as any
    other source (kafka.go ProductLoop hands events to the identical
    interceptor chain)."""
    from loggie_spark.pipeline import Pipeline, PipelineConfig, SourceSpec
    from loggie_spark.sinks.router import SinkSpec

    df = spark.createDataFrame(
        [(i, f'{{"level":"{lv}","svc":"s{i % 2}"}}') for i, lv in
         enumerate(["INFO", "ERROR", "DEBUG", "ERROR"])],
        "i long, body string",
    )
    wire = kafka_records_from_table(df, topic="in-topic")
    events = decode_kafka_records(wire).withColumn("source", F.lit("kafka"))
    cfg = PipelineConfig(
        name="k",
        sources=[
            SourceSpec(
                "kafka",
                [
                    {"action": "jsonDecode(body)", "fields": ["level", "svc"]},
                    {"if": "equal(level, DEBUG)", "then": [{"action": "dropEvent()"}]},
                ],
            )
        ],
        sinks=[SinkSpec("out", "app-${level}", partition_key="${svc}")],
    )
    routed = Pipeline(cfg).transform(events)
    got = sorted((r.route_key, r._pkey) for r in routed.collect())
    assert got == [("app-ERROR", "s1"), ("app-ERROR", "s1"), ("app-INFO", "s0")]


def test_encode_producer_records(spark):
    """encode_kafka_records: topic=rendered route, key=partitionKey
    bytes, value=codec payload (sink.go:155-181)."""
    from loggie_spark.sinks.kafka import encode_kafka_records
    from loggie_spark.sinks.router import SinkSpec, explode_to_sinks

    df = spark.createDataFrame(
        [("d1", "hello", "u7"), ("d2", "world", "u9")],
        "doc_id string, body string, uid string",
    )
    routed = explode_to_sinks(
        df, [SinkSpec("kafka", "topic-${uid}", partition_key="${uid}")]
    )
    recs = encode_kafka_records(routed, codec="json", include=["doc_id", "body"])
    assert [f.simpleString() for f in recs.schema.fields] == [
        "key:binary", "value:binary", "topic:string",
    ]
    by_topic = {r.topic: r for r in recs.collect()}
    assert by_topic["topic-u7"].key == b"u7"
    assert json.loads(by_topic["topic-u7"].value) == {"doc_id": "d1", "body": "hello"}

    raw = encode_kafka_records(routed, codec="raw").collect()
    assert {r.value for r in raw} == {b"hello", b"world"}


def test_partition_key_colocates_in_written_layout(spark, tmp_path):
    """Every rendered partition_key lands in exactly ONE file within its
    (bucket, sink, route) partition dir — the batch analog of kafka's
    per-key partition assignment (sink.go:197-199)."""
    from loggie_spark.pipeline import Pipeline, PipelineConfig, SourceSpec
    from loggie_spark.sinks.router import SinkSpec

    df = spark.createDataFrame(
        [(f"d{i}", f"line {i}", f"key{i % 13}") for i in range(500)],
        "doc_id string, body string, pk string",
    ).withColumn("source", F.lit("s"))
    cfg = PipelineConfig(
        name="pk",
        sources=[SourceSpec("s")],
        sinks=[SinkSpec("kafka", "fixed", partition_key="${pk}")],
        n_buckets=4,
        salt=8,
    )
    out = str(tmp_path / "out")
    Pipeline(cfg).run(spark, df, out, run_id="r1")
    written = spark.read.parquet(out).withColumn("file", F.input_file_name())
    multi = (
        written.groupBy("_bucket", "sink", "route_key", "_pkey")
        .agg(F.countDistinct("file").alias("nf"))
        .filter(F.col("nf") > 1)
        .count()
    )
    assert multi == 0
    # and the keys actually spread over >1 file overall (not one blob)
    nfiles = written.select("file").distinct().count()
    assert nfiles > 1


def test_source_config_mapping():
    cfg = KafkaSourceConfig(brokers=["b1:9092"], topics=["app-.*", "sys"])
    assert cfg.subscribe_pattern() == "(?:app-.*)|(?:sys)"
    single = KafkaSourceConfig(brokers=["b1:9092"], topic="only")
    assert single.subscribe_pattern() == "only"
    with pytest.raises(ValueError):
        KafkaSourceConfig(brokers=["b"]).subscribe_pattern()
