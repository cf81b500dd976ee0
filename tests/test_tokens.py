from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from loggie_spark.functions.tokens import (
    decode_tokens_arrow,
    encode_text_to_tokens,
    encode_text_to_tokens_ascii,
)


def test_utf8_roundtrip(spark):
    lines = ["hello world", "", "naïve café — ünïcode ✓", '{"a": 1}', "10.0.0.1 - - [x] 404"]
    df = spark.createDataFrame([Row(text=t) for t in lines])
    enc = df.withColumn("tokens", encode_text_to_tokens(F.col("text")))
    rows = decode_tokens_arrow(enc, "tokens", "back").collect()
    for r in rows:
        assert r.back == r.text
        assert r.tokens == [int(b) for b in r.text.encode("utf-8")]


def test_ascii_jvm_path_matches_udf(spark):
    lines = ["hello", "GET /index HTTP/1.1 200 123", ""]
    df = spark.createDataFrame([Row(text=t) for t in lines])
    both = df.select(
        "text",
        encode_text_to_tokens_ascii(F.col("text")).alias("jvm"),
        encode_text_to_tokens(F.col("text")).alias("udf"),
    ).collect()
    for r in both:
        assert r.jvm == r.udf
    enc = df.withColumn("tokens", encode_text_to_tokens_ascii(F.col("text")))
    for r in decode_tokens_arrow(enc, "tokens", "back").collect():
        assert r.back == r.text


def test_truncate_utf8(spark):
    from loggie_spark.functions.truncate import truncate_utf8_bytes

    df = spark.createDataFrame(
        [Row(text="aé€b"), Row(text="abcdef"), Row(text="ééé"), Row(text="ab€")]
    )
    out = df.select("text", truncate_utf8_bytes("text", 4).alias("t")).collect()
    got = {r.text: r.t for r in out}
    # subUtf8 (interceptor.go:107-115) cuts at the first rune START at
    # or after maxBytes — a straddling rune is KEPT, so the cut may
    # exceed maxBytes by up to 3 bytes:
    # "aé€b" = a(1)é(2)€(3)b(1); byte 4 lands inside € → keep "aé€".
    assert got["aé€b"] == "aé€"
    assert got["abcdef"] == "abcd"
    # "ééé": byte 4 is the start of the third é → exact 4-byte cut.
    assert got["ééé"] == "éé"
    # scan runs off the end (no rune start after maxBytes) → keep all.
    assert got["ab€"] == "ab€"
    for r in out:
        assert len(r.t.encode("utf-8")) <= 4 + 3


def test_decode_arrow_drop_tokens(spark):
    """keep_tokens=False: the token column is dropped from the result;
    the decode itself stays identical."""
    from loggie_spark.datagen import generate_sequences

    df = generate_sequences(spark, 50, partitions=2)
    kept = decode_tokens_arrow(df, "tokens", "body", keep_tokens=True)
    dropped = decode_tokens_arrow(df, "tokens", "body", keep_tokens=False)
    assert "tokens" in kept.columns and "tokens" not in dropped.columns
    a = sorted(r.body for r in kept.select("body").collect())
    b = sorted(r.body for r in dropped.select("body").collect())
    assert a == b
