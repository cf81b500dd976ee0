"""Tests of the benchmark's own checkers, on tiny inputs and without
Spark: each checker passes on a correct output and fails when one
routed row is dropped or one token is flipped.

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import os
import sys
import urllib.parse

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402

PIPE = "reference"


@pytest.fixture(scope="module")
def sequences():
    return gen.make_sequences(seed=11, n=300)


def _routed_table(table, topic) -> pa.Table:
    """What the reference pipeline must write: every kept row once per
    sink, with that sink's route key (derived from the planted rows)."""
    keep = [i for i, t in enumerate(topic) if t]
    src = table.column("source").to_pylist()
    parts = []
    for sink, route in (
        ("kafka", lambda i: topic[i]),
        ("es", lambda i: f"log-{src[i]}-{gen.PTIME_DAY}"),
        ("file", lambda i: f"var/log/{src[i]}"),
    ):
        sub = table.take(keep).select(["doc_id", "tokens"])
        parts.append(
            sub.append_column("sink", pa.array([sink] * len(keep)))
            .append_column("route_key", pa.array([route(i) for i in keep]))
        )
    return pa.concat_tables(parts)


def _write_routed(routed: pa.Table, out: str) -> None:
    """Hive layout like the program's writer, with a manifest table
    beside it that the read-back must skip."""
    keys = sorted(set(zip(routed.column("sink").to_pylist(), routed.column("route_key").to_pylist())))
    for sink, route in keys:
        mask = pc.and_(pc.equal(routed.column("sink"), sink), pc.equal(routed.column("route_key"), route))
        d = os.path.join(out, "_bucket=0", f"sink={sink}", f"route_key={urllib.parse.quote(route, safe='')}")
        os.makedirs(d)
        pq.write_table(routed.filter(mask).select(["doc_id", "tokens"]), os.path.join(d, "part-0.parquet"))
    os.makedirs(os.path.join(out, "_manifest", "lineage"))
    pq.write_table(pa.table({"bucket": [0]}), os.path.join(out, "_manifest", "lineage", "part-0.parquet"))


def _flip_token(tokens: pa.ListArray, row: int) -> pa.ListArray:
    vals = tokens.values.to_numpy(zero_copy_only=False).copy()
    vals[tokens.offsets[row].as_py()] ^= 1
    return pa.ListArray.from_arrays(tokens.offsets, pa.array(vals))


def test_sink_metrics(sequences):
    _, truth, _ = sequences
    want = truth.sink_metrics(PIPE)
    rows = [(p, s, k, ok, bad) for (p, s, k), (ok, bad) in want.items()]
    assert checks.check_sink_metrics(rows, want) == []
    p, s, k, ok, bad = rows[0]
    assert checks.check_sink_metrics([(p, s, k, ok - 1, bad)] + rows[1:], want)  # one row dropped
    assert checks.check_sink_metrics(rows + rows[:1], want)  # a duplicated metrics row


def test_routed_read_back(sequences, tmp_path):
    table, truth, topic = sequences
    routed = _routed_table(table, topic)
    good = str(tmp_path / "good")
    _write_routed(routed, good)
    back = checks.read_routed(good)
    assert back.num_rows == routed.num_rows
    assert checks.check_route_counts(back, truth.routes) == []
    assert checks.check_tokens(back, table) == []

    dropped = str(tmp_path / "dropped")
    _write_routed(routed.slice(1), dropped)
    assert checks.check_route_counts(checks.read_routed(dropped), truth.routes)

    flipped = str(tmp_path / "flipped")
    tokens = routed.column("tokens").combine_chunks()
    _write_routed(routed.set_column(1, "tokens", _flip_token(tokens, 5)), flipped)
    back = checks.read_routed(flipped)
    assert checks.check_route_counts(back, truth.routes) == []
    assert checks.check_tokens(back, table)


def test_rerun(tmp_path):
    (tmp_path / "a").write_text("x")
    before = checks.snapshot_files(str(tmp_path))
    rows = [("p", "s", "k", 1, 0)]
    assert checks.check_rerun(before, checks.snapshot_files(str(tmp_path)), rows, rows) == []
    (tmp_path / "b").write_text("y")
    assert checks.check_rerun(before, checks.snapshot_files(str(tmp_path)), rows, rows)
    assert checks.check_rerun(before, before, rows, [("p", "s", "k", 2, 0)])


def test_body_digest(sequences):
    table, truth, _ = sequences
    tokens = table.column("tokens").combine_chunks()
    bodies = [bytes(t).decode("utf-8") for t in tokens.to_pylist()]
    assert checks.check_digest(gen.body_digest(bodies), truth.body_digest) == []
    assert checks.check_digest(gen.body_digest(bodies[1:]), truth.body_digest)  # a row dropped
    flipped = [bytes(t).decode("utf-8", "replace") for t in _flip_token(tokens, 7).to_pylist()]
    assert checks.check_digest(gen.body_digest(flipped), truth.body_digest)


MAX_LEN = 300
SOURCES = ("web", "books", "code")  # gen.make_documents' sources


@pytest.fixture(scope="module")
def documents():
    return gen.make_documents(seed=5, n=120)


def _export(table, tmp_path) -> tuple[str, dict, pa.Table]:
    """A correct curation export: first copy of each non-spam text,
    greedily packed per source, pack ids unique across sources."""
    seen, rows = set(), []
    for doc_id, text, src in zip(*(table.column(c).to_pylist() for c in ("doc_id", "text", "source"))):
        words = text.split()
        if text in seen or len(set(words)) < len(words) / 2:
            continue
        seen.add(text)
        rows.append((doc_id, src, len(words)))
    fill, pack, out = {}, {}, []
    for doc_id, src, n in rows:
        if fill.get(src, 0) + n > MAX_LEN:
            pack[src], fill[src] = pack.get(src, 0) + 1, 0
        out.append((doc_id, n, SOURCES.index(src) * 10_000 + pack.get(src, 0)))
        fill[src] = fill.get(src, 0) + n
    shards = pa.table({
        "doc_id": pa.array([r[0] for r in out], pa.int64()),
        "n_tok": pa.array([r[1] for r in out], pa.int64()),
        "pack_id": pa.array([r[2] for r in out], pa.int64()),
    })
    report = {
        "input_docs": table.num_rows,
        "after_exact_dedup": len({t for t in table.column("text").to_pylist()}),
        "after_near_dedup": len(out),
        "after_quality_gates": len(out),
        "exported_rows": len(out),
        "exported_tokens": int(sum(r[1] for r in out)),
    }
    return str(tmp_path), report, shards


def _write_shards(shards: pa.Table, out: str) -> None:
    os.makedirs(os.path.join(out, "shard=0"), exist_ok=True)
    pq.write_table(shards, os.path.join(out, "shard=0", "part-0.parquet"))


def test_curation_report(documents):
    table, truth = documents
    report = {
        "input_docs": truth.rows, "after_exact_dedup": truth.distinct_texts,
        "after_near_dedup": truth.distinct_texts - 3, "after_quality_gates": 50, "exported_rows": 50,
    }
    assert checks.check_curation_report(report, truth) == []
    assert checks.check_curation_report({**report, "after_exact_dedup": truth.distinct_texts + 1}, truth)
    assert checks.check_curation_report({**report, "after_quality_gates": truth.rows}, truth)  # funnel grows
    assert checks.check_curation_report({**report, "exported_rows": 49}, truth)  # a row dropped


def test_curation_export(documents, tmp_path):
    table, _ = documents
    out, report, shards = _export(table, tmp_path / "good")
    _write_shards(shards, out)
    assert checks.check_curation_export(out, report, table, MAX_LEN) == []

    out, report, shards = _export(table, tmp_path / "dropped")
    _write_shards(shards.slice(1), out)
    assert checks.check_curation_export(out, report, table, MAX_LEN)

    out, report, shards = _export(table, tmp_path / "flipped")
    n_tok = shards.column("n_tok").to_pylist()
    n_tok[3] += 1
    report["exported_tokens"] += 1  # consistent totals; the per-row word count still differs
    _write_shards(shards.set_column(1, "n_tok", pa.array(n_tok, pa.int64())), out)
    assert checks.check_curation_export(out, report, table, MAX_LEN)

    out, report, shards = _export(table, tmp_path / "overfull")
    _write_shards(shards.set_column(2, "pack_id", pa.array([0] * shards.num_rows, pa.int64())), out)
    assert checks.check_curation_export(out, report, table, MAX_LEN)
