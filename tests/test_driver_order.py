"""``__spark_entry__.driver_order`` on synthetic CORRECTNESS rounds —
pure Python, no Spark session."""

from __future__ import annotations

import __spark_entry__ as entrymod
from __spark_entry__ import driver_order

GREEN = {"rows_match": True, "err": None}
RED = {"rows_match": False, "err": None}
ERR = {"rows_match": True, "err": "AnalysisException"}


def _f(n: int) -> str:
    return f"CORRECTNESS_r{n:02d}.json"


def test_unchecked_and_red_latest_come_before_green():
    rounds = {
        _f(1): {"green": GREEN, "red": GREEN, "errs": GREEN, "fixed": RED},
        _f(2): {"red": RED, "errs": ERR, "fixed": GREEN},
    }
    assert driver_order(["fixed", "green", "never", "red", "errs"], rounds) == [
        "never",
        "red",
        "errs",
        "green",
        "fixed",
    ]


def test_oldest_green_round_first():
    rounds = {_f(1): {"c": GREEN}, _f(2): {"b": GREEN}, _f(3): {"a": GREEN}}
    assert driver_order(["a", "b", "c"], rounds) == ["c", "b", "a"]


def test_ties_keep_registration_order():
    rounds = {_f(1): {q: GREEN for q in "dcba"}}
    assert driver_order(["b", "d", "a", "c", "x", "y"], rounds) == [
        "x",
        "y",
        "b",
        "d",
        "a",
        "c",
    ]


def test_round_numbers_compare_as_integers():
    # "r10" < "r9" as strings; as rounds r10 is the later one, so its
    # red row is a's latest.
    rounds = {
        "CORRECTNESS_r9.json": {"a": GREEN, "b": GREEN},
        "CORRECTNESS_r10.json": {"a": RED},
    }
    assert driver_order(["b", "a"], rounds) == ["a", "b"]
    rounds = {"CORRECTNESS_r9.json": {"b": GREEN}, "CORRECTNESS_r10.json": {"a": GREEN}}
    assert driver_order(["a", "b"], rounds) == ["b", "a"]


R03_ROWS = [
    "td_dedup_exact",
    "td_dedup_ngram_jaccard",
    "td_decontaminate",
    "td_boilerplate",
    "td_repetition",
    "td_langid",
    "td_fingerprint",
    "pl_addmeta",
    "pl_normalize_chain",
]


def test_r06_then_r07_window():
    """On the tracked r01-r05 rounds the window opens with every
    never-checked query; once those hold green r06 rows, the r07 window
    opens with the nine queries whose latest row is from r03, then
    r04-row queries."""
    from loggie_spark.queries import QUERIES

    names = list(QUERIES)
    rounds = {
        f: rows
        for f, rows in entrymod._rounds().items()
        if int(f.removeprefix("CORRECTNESS_r").removesuffix(".json")) <= 5
    }
    checked = set().union(*rounds.values())
    never = [q for q in names if q not in checked]
    r06 = driver_order(names, rounds)
    assert r06[: len(never)] == never

    rounds[_f(6)] = {q: GREEN for q in never}
    r07 = driver_order(names, rounds)[:50]
    assert r07[:9] == R03_ROWS
    r04 = {q for q, v in rounds[_f(4)].items() if v["rows_match"] and v["err"] is None}
    r05 = set(rounds[_f(5)])
    assert set(r07[9:]) <= r04 - r05
