"""Mimic the driver's correctness gate: run every queries() entry on
Spark and its oracle_sql() on DuckDB at sf0.01, compare row count,
column names, and order-insensitive values."""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.01"
TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


def _norm(v):
    """Driver-faithful cell normalization: the driver hashes the
    pandas-rendered cell, so an int64 `1594` vs a float64 `1594.0`
    (DuckDB HUGEINT→pandas) MUST mismatch here too — keep the int/float
    distinction, tolerate only sub-1e-4 float noise."""
    import numpy as np

    if v is None:
        return "<null>"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (float, np.floating)):
        if math.isnan(v):
            return "<nan>"
        return f"f{float(v):.4f}"
    if isinstance(v, (int, np.integer)):
        return f"i{int(v)}"
    return str(v)


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


QUERY_NAMES = sorted(entrymod.queries().keys())


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, duck, name):
    q = entrymod.queries()[name]
    oracles = entrymod.oracle_sql()
    sdf = q(spark, SF)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = duck.execute(oracles[name])
    duck_cols = [d[0] for d in res.description]
    # Fetch through pandas like the driver does: HUGEINT→float64 etc.
    # must surface as type drift, not be laundered back to Python int.
    pdf = res.df()
    duck_rows = [
        tuple(None if isinstance(v, float) and math.isnan(v) else v for v in row)
        for row in pdf.itertuples(index=False, name=None)
    ]

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: rowcount {len(spark_rows)} vs {len(duck_rows)}"
    )
    s, d = _rowset(spark_cols, spark_rows), _rowset(duck_cols, duck_rows)
    mismatch = [i for i, (a, b) in enumerate(zip(s, d)) if a != b][:5]
    assert s == d, f"{name}: value mismatch at {mismatch}: {[(s[i], d[i]) for i in mismatch]}"


def test_every_query_has_oracle():
    """Every registered query carries a DuckDB oracle — a registry entry
    without one silently downgrades to the driver's weaker rows-only check."""
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    missing = sorted(set(qs) - set(oracles))
    assert not missing, f"queries without an oracle: {missing}"


def test_driver_cap_coverage():
    """The driver gate runs only the FIRST 50 of queries(); make silent
    window-misses loud.  Every registered query must have a green LATEST
    row across the CORRECTNESS_r<N>.json rounds OR sit inside the current
    first-50 window (so it gets its row next driver run)."""
    import glob
    import json
    import os
    import re

    latest: dict[str, dict] = {}
    paths = glob.glob(os.path.join(os.path.dirname(__file__), "..", "CORRECTNESS_r*.json"))
    for path in sorted(paths, key=lambda p: int(re.search(r"_r(\d+)\.json$", p).group(1))):
        with open(path) as f:
            rows = json.load(f)
        assert isinstance(rows, dict), f"{path}: not a {{query: row}} object"
        latest.update(rows)
    covered = {q for q, v in latest.items() if v.get("rows_match") and v.get("err") is None}
    window = list(entrymod.queries())[:50]
    uncovered = sorted(set(entrymod.queries()) - covered - set(window))
    assert not uncovered, (
        f"queries past the driver's 50-row cap whose latest CORRECTNESS row is "
        f"missing or not green: {uncovered} — more than 50 queries await a "
        f"driver check; register no new query until the next driver round "
        f"has checked these"
    )


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"pipeline", "source", "sink", "success_count", "fail_count"} <= set(df.columns)
