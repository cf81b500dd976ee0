"""applyInPandasWithState operators: liveness monitor emits active
rows per batch; sessionization emits one row per expired session."""

from __future__ import annotations

import time

import pyspark.sql.functions as F


def _drain(q, n_rows: int, timeout: float = 120.0) -> None:
    """Wait until ``q`` has committed ``n_rows`` input rows, then stop it.

    Under ``ProcessingTimeTimeout`` an ``availableNow`` query runs empty
    batches forever and ``processAllAvailable()`` does not return, so
    the committed batches are read from the query's progress instead.
    A batch's progress is reported after its sink commit."""
    deadline = time.monotonic() + timeout
    rows: dict[int, int] = {}
    try:
        while sum(rows.values()) < n_rows:
            rows.update((p.batchId, p.numInputRows) for p in q.recentProgress)
            assert q.isActive or sum(rows.values()) >= n_rows, q.exception()
            assert time.monotonic() < deadline, f"{q.name}: {rows} of {n_rows} rows"
            time.sleep(0.2)
    finally:
        q.stop()


def test_no_data_monitor_active_counts(spark, tmp_path):
    from loggie_spark.streaming.stateful import no_data_monitor

    src = str(tmp_path / "in")
    spark.createDataFrame(
        [("a",), ("a",), ("b",)], "source string"
    ).write.parquet(src)
    stream = spark.readStream.schema("source string").parquet(src)
    out = no_data_monitor(stream, "source", timeout_ms=5_000)
    q = (
        out.writeStream.format("memory")
        .queryName("live1")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 3)
    rows = spark.sql("SELECT * FROM live1").collect()
    # availableNow may run extra empty batches after the data batch, so
    # timeout (no_data) rows can legitimately follow the active ones.
    active = {r.key: r.events_seen for r in rows if r.status == "active"}
    assert active == {"a": 2, "b": 1}


def test_session_stats_emits_on_expiry(spark, tmp_path):
    from loggie_spark.streaming.stateful import session_stats

    src = str(tmp_path / "in2")
    rows = [
        ("u1", "2024-03-01 10:00:00"),
        ("u1", "2024-03-01 10:00:10"),
        ("u2", "2024-03-01 10:00:05"),
        # late batch far in the future advances the watermark past the gap
        ("u3", "2024-03-01 11:00:00"),
    ]
    df = spark.createDataFrame(rows, "k string, t string").withColumn(
        "event_time", F.col("t").cast("timestamp")
    )
    df.write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    out = session_stats(stream, "k", "event_time", gap="30 seconds")
    q = (
        out.writeStream.format("memory")
        .queryName("sess1")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    got = {r.key: r.n_events for r in spark.sql("SELECT * FROM sess1").collect()}
    # u1/u2 sessions expire once the watermark (driven by u3's 11:00
    # event) passes their last-event + gap.
    assert got.get("u1") == 2
    assert got.get("u2") == 1


def test_rate_limit_decisions_match_batch_report(spark, tmp_path):
    """Single-batch replay of the online limiter reproduces the batch
    audit's (ts, id)-ranked verdicts event-for-event, and a second
    batch carries window counts through keyed state."""
    import pyspark.sql.functions as F
    from pyspark.sql import Row, Window

    from loggie_spark.streaming.stateful import rate_limit_decisions

    src = str(tmp_path / "ev_rl")
    # 300 events keep the equivalence leg meaningful (still spans 49
    # at-quota cells' worth of density) at a third of the state-store
    # and collect cost
    events = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .orderBy("event_id")
        .limit(300)
    )
    events.coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)

    out = rate_limit_decisions(stream, limit=2)
    q = (
        out.writeStream.format("memory").queryName("rl")
        .outputMode("append").trigger(availableNow=True).start()
    )
    _drain(q, 300)
    got = {
        r.event_id: (r.allowed, r.rank)
        for r in spark.sql("SELECT * FROM rl").collect()
    }

    w = Window.partitionBy(
        "user_id", F.date_trunc("hour", "ts")
    ).orderBy("ts", "event_id")
    want = {
        r.event_id: ("pass" if r.rn <= 2 else "throttle", r.rn)
        for r in events.withColumn("rn", F.row_number().over(w)).collect()
    }
    assert len(got) == len(want) and got == want
    # the sf0.001 fixture maxes out at exactly the quota (no natural
    # throttles — verified: max (user, hour) cell count is 2), so the
    # throttle path is exercised by the cross-batch leg below.

    # cross-batch state carry: a fresh window W later than every
    # fixture event gets 2 events in one file (micro-batch fills the
    # quota into state) and 3 more in a LATER file — with one file per
    # micro-batch the second trio must throttle purely off carried
    # state, in arrival order, exactly as a live limiter decides
    import datetime as dt

    max_ts = events.agg(F.max("ts")).collect()[0][0]
    w0 = (max_ts + dt.timedelta(hours=2)).replace(
        minute=0, second=0, microsecond=0
    )

    def _mk(ids, minute):
        return [
            Row(
                event_id=i,
                ts=w0 + dt.timedelta(minutes=minute, seconds=k),
                user_id=3,
                event_type="view",
                value=0.0,
                props="{}",
            )
            for k, i in enumerate(ids)
        ]

    spark.createDataFrame(_mk([10_000_000, 10_000_001], 10), schema=schema)\
        .coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        _mk([10_000_002, 10_000_003, 10_000_004], 20), schema=schema
    ).coalesce(1).write.mode("append").parquet(src)

    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out2 = rate_limit_decisions(stream2, limit=2)
    q2 = (
        out2.writeStream.format("memory").queryName("rl2")
        .outputMode("append").trigger(availableNow=True).start()
    )
    _drain(q2, 305)
    rows2 = {
        r.event_id: r
        for r in spark.sql("SELECT * FROM rl2").collect()
        if r.event_id >= 10_000_000
    }
    assert len(rows2) == 5
    assert rows2[10_000_000].allowed == "pass"
    assert rows2[10_000_001].allowed == "pass"
    for i in (10_000_002, 10_000_003, 10_000_004):
        assert rows2[i].allowed == "throttle", rows2[i]
    assert [rows2[10_000_000 + k].rank for k in range(5)] == [1, 2, 3, 4, 5]
