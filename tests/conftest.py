from __future__ import annotations

import pytest

from loggie_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="loggie-spark-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.execution.arrow.maxRecordsPerBatch": "1000"},
    )
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def _release_shared_frames():
    """Unpersist operator-shared InMemoryRelations after every test —
    the 109-query parity sweep runs in ONE session and would otherwise
    accumulate cache entries (see loggie_spark/operators/sharing.py)."""
    yield
    from loggie_spark.operators.sharing import release_shared

    release_shared()


@pytest.fixture(autouse=True)
def _no_leaked_streams():
    """Fail any test that leaves a streaming query running: a leaked
    query keeps competing for the session's cores through every later
    test. The leaked queries are stopped first."""
    yield
    from pyspark.sql import SparkSession

    session = SparkSession.getActiveSession()
    leaked = session.streams.active if session is not None else []
    for q in leaked:
        q.stop()
    if leaked:
        pytest.fail(f"streaming queries left running: {[q.name or q.id for q in leaked]}")


SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MID = "/root/testdata/sf0.01"
