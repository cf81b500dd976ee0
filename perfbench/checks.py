"""Output checkers, computed apart from the program.

Each checker returns a list of error strings (empty = correct). They
compare the program's output with the generator's planted truth
(gen.py), with a read-back of written files made by pyarrow (no Spark),
or with properties the method must have: token arrays kept exactly,
an exactly-once re-run, a curation funnel that never grows. None
compares against a stored copy of an earlier output.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq


def _diff(name: str, got: dict, want: dict, limit: int = 5) -> list[str]:
    errs = []
    for k in sorted(set(got) | set(want), key=repr):
        if got.get(k) != want.get(k):
            errs.append(f"{name}{k!r}: got {got.get(k)!r}, want {want.get(k)!r}")
    if len(errs) > limit:
        errs = errs[:limit] + [f"... {len(errs) - limit} more {name} mismatches"]
    return errs


def check_sink_metrics(rows, want: dict) -> list[str]:
    """``rows``: (pipeline, source, sink, success_count, fail_count)
    tuples from ``sink_metrics`` or ``Pipeline.run``."""
    got: dict = {}
    for p, s, k, ok, bad in rows:
        if (p, s, k) in got:
            return [f"metrics: duplicate row for {(p, s, k)!r}"]
        got[(p, s, k)] = (int(ok), int(bad))
    return _diff("metrics", got, want)


def read_routed(out_dir: str) -> pa.Table:
    """Every routed row under ``out_dir`` (hive layout
    _bucket=/sink=/route_key=, URI-escaped values), read by pyarrow.
    The manifest tables under ``_manifest`` are not routed rows."""
    files = [
        f for f in _parquet_files(out_dir)
        if not os.path.relpath(f, out_dir).startswith("_manifest")
    ]
    dataset = ds.dataset(
        files,
        format="parquet",
        partitioning=ds.partitioning(
            pa.schema([("_bucket", pa.int32()), ("sink", pa.string()), ("route_key", pa.string())]),
            flavor="hive",
        ),
        partition_base_dir=out_dir,
    )
    return dataset.to_table(columns=["doc_id", "tokens", "sink", "route_key"])


def _parquet_files(root: str) -> list[str]:
    return sorted(
        os.path.join(d, f)
        for d, _dirs, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet")
    )


def check_route_counts(routed: pa.Table, want: dict) -> list[str]:
    """Per-(sink, route_key) row counts of the written output."""
    got = {}
    if routed.num_rows:
        counts = routed.group_by(["sink", "route_key"]).aggregate([("doc_id", "count")])
        got = {
            (s, r): int(c)
            for s, r, c in zip(
                counts.column("sink").to_pylist(),
                counts.column("route_key").to_pylist(),
                counts.column("doc_id_count").to_pylist(),
            )
        }
    return _diff("routes", got, want)


def _token_bytes(tokens: pa.Array) -> pa.Array:
    """Each int32 token list as one binary value holding its raw
    little-endian int32 buffer, so equal lists ⇔ equal values (exact:
    no narrowing of out-of-byte-range values)."""
    tokens = tokens.combine_chunks() if isinstance(tokens, pa.ChunkedArray) else tokens
    if tokens.null_count:
        raise ValueError("null token array")
    offs = pc.subtract(tokens.offsets, tokens.offsets[0]).to_numpy().astype(np.int64) * 4
    vals = tokens.values.slice(tokens.offsets[0].as_py(), int(offs[-1] // 4))
    data = np.ascontiguousarray(vals.to_numpy(zero_copy_only=False).astype("<i4")).tobytes()
    return pa.LargeBinaryArray.from_buffers(
        pa.large_binary(), len(tokens), [None, pa.py_buffer(offs.tobytes()), pa.py_buffer(data)]
    )


def check_tokens(routed: pa.Table, inputs: pa.Table) -> list[str]:
    """FIXTURES F4: every routed row's tokens equal its input row's."""
    idx = pc.index_in(routed.column("doc_id"), value_set=inputs.column("doc_id"))
    if idx.null_count:
        return [f"tokens: {idx.null_count} routed rows have a doc_id not in the input"]
    want = _token_bytes(inputs.column("tokens")).take(idx.combine_chunks() if isinstance(idx, pa.ChunkedArray) else idx)
    got = _token_bytes(routed.column("tokens"))
    bad = len(got) - pc.sum(pc.equal(got, want).cast(pa.int64())).as_py() if len(got) else 0
    return [f"tokens: {bad} routed rows differ from their input row"] if bad else []


def snapshot_files(root: str) -> dict[str, tuple[int, int]]:
    """relative path → (size, mtime_ns) of every file under ``root``."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def check_rerun(before: dict, after: dict, first_rows, second_rows) -> list[str]:
    """A second ``Pipeline.run`` with the same run id writes nothing
    and returns the same metrics."""
    errs = []
    if before != after:
        changed = sorted(set(before) ^ set(after)) + sorted(
            k for k in set(before) & set(after) if before[k] != after[k]
        )
        errs.append(f"rerun: {len(changed)} files written or changed, e.g. {changed[:3]}")
    if sorted(map(tuple, first_rows)) != sorted(map(tuple, second_rows)):
        errs.append("rerun: metrics differ from the first run")
    return errs


def check_digest(got: tuple, want: tuple) -> list[str]:
    """(count, bytes, xor60, sum28) of the decoded bodies."""
    got = tuple(int(x) for x in got)
    return [] if got == tuple(want) else [f"body digest: got {got}, want {tuple(want)}"]


FUNNEL = ("input_docs", "after_exact_dedup", "after_near_dedup", "after_quality_gates")


def check_curation_report(report: dict, truth) -> list[str]:
    errs = []
    if report.get("input_docs") != truth.rows:
        errs.append(f"curation: input_docs {report.get('input_docs')} != {truth.rows}")
    if report.get("after_exact_dedup") != truth.distinct_texts:
        errs.append(
            f"curation: exact-dedup survivors {report.get('after_exact_dedup')} "
            f"!= planted distinct texts {truth.distinct_texts}"
        )
    steps = [report.get(k) for k in FUNNEL]
    if any(b is None or a is None or b > a for a, b in zip(steps, steps[1:])):
        errs.append(f"curation: funnel grows or is incomplete: {steps}")
    if report.get("exported_rows") != report.get("after_quality_gates"):
        errs.append(
            f"curation: exported {report.get('exported_rows')} rows, "
            f"{report.get('after_quality_gates')} passed the gates"
        )
    return errs


def check_curation_export(out_dir: str, report: dict, docs: pa.Table, max_seq_len: int) -> list[str]:
    """Shards read back by pyarrow: row and token totals match the
    report, each row's n_tok is its text's whitespace word count, no
    doc or text is exported twice, and no pack (``pack_id``) with more
    than one doc exceeds max_seq_len (a single longer doc gets a pack of
    its own by design)."""
    files = _parquet_files(out_dir)
    if not files:
        return ["curation: no shard files written"] if report.get("exported_rows") else []
    shards = pa.concat_tables(
        [pq.read_table(f, columns=["doc_id", "n_tok", "pack_id"]) for f in files]
    )
    errs = []
    if shards.num_rows != report.get("exported_rows"):
        errs.append(f"curation: read back {shards.num_rows} rows, report says {report.get('exported_rows')}")
    n_tok = shards.column("n_tok").to_numpy()
    if int(n_tok.sum()) != report.get("exported_tokens"):
        errs.append(f"curation: read back {int(n_tok.sum())} tokens, report says {report.get('exported_tokens')}")
    ids = shards.column("doc_id")
    if pc.count_distinct(ids).as_py() != shards.num_rows:
        errs.append("curation: a doc_id is exported twice")
    idx = pc.index_in(ids, value_set=docs.column("doc_id"))
    if idx.null_count:
        return errs + ["curation: exported doc_id not in the input"]
    texts = docs.column("text").take(idx).to_pylist()
    if len(set(texts)) != len(texts):
        errs.append("curation: two exported docs have the same text")
    words = np.fromiter((len(t.split()) for t in texts), dtype=np.int64, count=len(texts))
    if not np.array_equal(words, n_tok):
        errs.append(f"curation: {int((words != n_tok).sum())} rows' n_tok != their text's word count")
    packs = shards.group_by("pack_id").aggregate([("n_tok", "sum"), ("n_tok", "count")])
    sums, counts = packs.column("n_tok_sum").to_numpy(), packs.column("n_tok_count").to_numpy()
    over = int(((sums > max_seq_len) & (counts > 1)).sum())
    if over:
        errs.append(f"curation: {over} packs exceed --max-seq-len {max_seq_len}")
    return errs
