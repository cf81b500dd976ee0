"""Kafka sink connector (pkg/sink/kafka/sink.go:124-199).

The routed frame already carries everything the reference's Consume
loop computes per event: ``route_key`` is the strict-rendered topic
with the ifRenderTopicFailed policy applied (router.py), and ``_pkey``
is the non-strict-rendered partitionKey (sink.go:197-199).
:func:`encode_kafka_records` projects that + a codec payload into the
exact (key, value, topic) shape Spark's kafka writer sends
(``records.write.format("kafka")``).

Like the source, the kafka client package is external; tests assert
the encoded frame (schema + key/topic/value contents) and the
partition_key → writer-task co-location that the real send relies on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from loggie_spark.sinks.codecs import json_codec, raw_codec
from loggie_spark.sinks.router import PKEY_COL, ROUTE_COL


def encode_kafka_records(
    routed: DataFrame,
    codec: str = "json",
    body_col: str = "body",
    time_col: str | None = None,
    beats_format: bool = False,
    include: list[str] | None = None,
) -> DataFrame:
    """Routed rows → kafka producer records (key, value, topic).

    * topic = the rendered ``route_key`` (selectTopic, sink.go:193-195)
    * key   = the rendered ``partition_key`` when the sink declared one
      (getPartitionKey, sink.go:197-199) — kafka then hashes it so equal
      keys land in one partition, preserving per-key ordering
    * value = codec payload (json/raw, sink codec contract)
    """
    if codec == "json":
        enc = json_codec(
            routed,
            body_col=body_col,
            time_col=time_col,
            beats_format=beats_format,
            include=include,
        )
    elif codec == "raw":
        enc = raw_codec(routed, body_col=body_col)
    else:
        raise ValueError(f"unknown kafka codec: {codec}")
    key = (
        F.col(PKEY_COL).cast("string").cast("binary")
        if PKEY_COL in routed.columns
        else F.lit(None).cast("binary")
    )
    return enc.select(
        key.alias("key"),
        F.col("payload").cast("string").cast("binary").alias("value"),
        F.col(ROUTE_COL).alias("topic"),
    )

