"""Custom stateful streaming operators via applyInPandasWithState.

Two operators the stock streaming API can't express declaratively:

* :func:`no_data_monitor` — loggie's logAlert no-data ticker
  (pkg/interceptor/logalert/alerting.go: a timer fires an alert when a
  source goes silent). State = last-seen timestamp per key; a
  processing-time timeout emits the alert row when no batch delivers
  events for the key.
* :func:`session_stats` — gap-based sessionization with per-session
  counters (the generic shape for custom stateful aggregation over
  keyed streams).

Both keep state bounded per key and use Arrow-batched pandas frames —
no row-at-a-time Python.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

NO_DATA_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("status", StringType()),  # active | no_data
        StructField("events_seen", LongType()),
    ]
)

_NO_DATA_STATE = StructType([StructField("count", LongType())])


def no_data_monitor(
    stream: DataFrame, key_col: str = "source", timeout_ms: int = 10_000
) -> DataFrame:
    """Per-key liveness: emits (key, active, n) on data and
    (key, no_data, n) when a key is silent past the timeout.

    The timeout is processing time, so a query over it never ends on
    its own, not even under ``trigger(availableNow=True)``: Spark keeps
    running empty batches to fire the timeouts, and
    ``processAllAvailable()`` does not return either. Stop it once the
    input's batches are committed (see its progress)."""

    def fn(key, pdfs, state):
        if state.hasTimedOut:
            (count,) = state.get
            state.remove()
            yield pd.DataFrame(
                {"key": [key[0]], "status": ["no_data"], "events_seen": [count]}
            )
            return
        total = sum(len(p) for p in pdfs)
        prev = state.get[0] if state.exists else 0
        state.update((prev + total,))
        state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame(
            {"key": [key[0]], "status": ["active"], "events_seen": [prev + total]}
        )

    return stream.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=NO_DATA_SCHEMA,
        stateStructType=_NO_DATA_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


SESSION_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
    ]
)

_SESSION_STATE = StructType(
    [
        StructField("start_ms", LongType()),
        StructField("end_ms", LongType()),
        StructField("n", LongType()),
    ]
)


def session_stats(
    stream: DataFrame,
    key_col: str,
    time_col: str,
    gap: str = "30 seconds",
) -> DataFrame:
    """Gap-based sessions per key with exact event counts, emitted when
    the gap elapses (event-time watermark drives expiry)."""
    gap_ms = _duration_ms(gap)

    def fn(key, pdfs, state):
        import datetime as dt

        if state.hasTimedOut:
            start_ms, end_ms, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "key": [key[0]],
                    "session_start": [dt.datetime.utcfromtimestamp(start_ms / 1000)],
                    "session_end": [dt.datetime.utcfromtimestamp(end_ms / 1000)],
                    "n_events": [n],
                }
            )
            return
        lo, hi, n = None, None, 0
        for p in pdfs:
            ts = pd.to_datetime(p[time_col])
            if len(ts):
                lo = min(lo, ts.min()) if lo is not None else ts.min()
                hi = max(hi, ts.max()) if hi is not None else ts.max()
                n += len(ts)
        if n:
            lo_ms, hi_ms = int(lo.timestamp() * 1000), int(hi.timestamp() * 1000)
            if state.exists:
                s, e, c = state.get
                end_ms = max(e, hi_ms)
                state.update((min(s, lo_ms), end_ms, c + n))
            else:
                end_ms = hi_ms
                state.update((lo_ms, hi_ms, n))
            # Expiry tracks the SESSION's last event time + gap, not the
            # watermark + gap: a lagging watermark must not expire a
            # live session (splitting it), and a watermark far past the
            # session's end must not keep absorbing late events into it
            # (merging distinct sessions). EventTimeTimeout requires a
            # timestamp strictly beyond the current watermark, hence the
            # max() floor.
            state.setTimeoutTimestamp(
                max(end_ms + gap_ms, state.getCurrentWatermarkMs() + 1)
            )
        return
        yield  # pragma: no cover — generator form

    return (
        stream.withWatermark(time_col, gap)
        .groupBy(key_col)
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_SESSION_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def _duration_ms(text: str) -> int:
    n, unit = text.split()
    mult = {"second": 1000, "seconds": 1000, "minute": 60_000, "minutes": 60_000}[unit]
    return int(n) * mult


RATE_LIMIT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("window_start", TimestampType()),
        StructField("rank", LongType()),
        StructField("allowed", StringType()),  # "pass" | "throttle"
    ]
)

_RATE_STATE = StructType(
    [StructField("win_ms", LongType()), StructField("n", LongType())]
)


def rate_limit_decisions(
    stream: DataFrame,
    limit: int = 2,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    idle_timeout_ms: int = 3_600_000,
) -> DataFrame:
    """Online per-event rate-limit decisions — the enforcement twin of
    the batch ``rate_limit_report`` audit: every event gets a
    pass/throttle verdict against a fixed hourly window of ``limit``
    events per key, decided in arrival order with keyed state (the
    semantics an ingest-side 429 actually has; the batch report is the
    offline what-if).

    State per key is TWO longs (current window start + its count) —
    bounded regardless of traffic; idle keys are garbage-collected by a
    processing-time timeout, so, like :func:`no_data_monitor`, a query
    over it never ends under ``availableNow`` and must be stopped. Within a micro-batch each key's events are
    sorted by (event time, id), so a single-batch replay reproduces the
    batch report's (ts, id)-ranked verdicts exactly; across batches the
    decision order is arrival order, as a real limiter's must be.
    """
    lim = int(limit)

    def fn(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            return
        df = pd.concat(list(pdfs), ignore_index=True)
        if not len(df):
            return
        df = df.sort_values([ts_col, id_col], kind="mergesort")
        ts = pd.to_datetime(df[ts_col])
        win = ts.dt.floor("h")
        win_ms = (win.astype("int64") // 1_000_000).to_numpy()
        rank_in_win = df.groupby(win_ms).cumcount().to_numpy()
        carry_win, carry_n = state.get if state.exists else (-1, 0)
        first = win_ms[0]
        rank = rank_in_win + (win_ms == first) * (first == carry_win) * carry_n
        last = win_ms[-1]
        n_last = int((win_ms == last).sum()) + (
            carry_n if last == carry_win else 0
        )
        state.update((int(last), n_last))
        state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(
            {
                "event_id": df[id_col].to_numpy(),
                "user_id": [key[0]] * len(df),
                "window_start": win,
                "rank": rank + 1,
                "allowed": ["pass" if r < lim else "throttle" for r in rank],
            }
        )

    return stream.groupBy(user_col).applyInPandasWithState(
        fn,
        outputStructType=RATE_LIMIT_SCHEMA,
        stateStructType=_RATE_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
