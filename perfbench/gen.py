"""Seeded input generators and their planted ground truth.

Independent of ``loggie_spark.datagen`` on purpose: a change to the
program's own generator cannot change what the benchmark feeds it.
Everything here is numpy + pyarrow in one process, no Spark.

Two tables:

* ``sequences`` (FIXTURES F1/F2 shape): ``doc_id, tokens, n_tok,
  source``; tokens are the UTF-8 bytes of a rendered log line, one int
  per byte. Sources are skewed 60/25/10/5 (access/container/app/audit).
  The generator records what it planted, so the routed counts every
  sink must see follow from the rows, not from a run of the program.
* ``documents`` (FIXTURES F5 shape): ``doc_id, text, lang, source,
  n_chars`` with planted exact copies, near copies (a few words
  swapped) and repetitive spam that the repetition gate must drop.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SOURCES = ("access", "container", "app", "audit")
SOURCE_SHARE = (0.60, 0.25, 0.10, 0.05)

# Planted mix inside each source. Drawn per row, so exact shares vary a
# little with the seed; the truth is always counted from the rows.
ACCESS_STATUS = ("200", "302", "404", "500")
ACCESS_STATUS_P = (0.55, 0.15, 0.15, 0.15)  # 500 is dropped by the program
APP_LEVEL = ("DEBUG", "INFO", "WARN", "ERROR")
APP_LEVEL_P = (0.30, 0.40, 0.20, 0.10)  # DEBUG is dropped by the program
CONTAINER_PLAIN_P = 0.10  # non-JSON container lines route to topic=plain

# The pipeline renders ${+YYYY.MM.dd} from this fixed processing time.
PTIME = "2024-03-01 00:00:00"
PTIME_DAY = "2024.03.01"

SINKS = ("kafka", "es", "file")

# A few non-ASCII words, so the token decode has multi-byte UTF-8 to
# keep intact (the program's own generator is ASCII-only).
_WORDS = (
    "cache", "sync", "request", "queue", "flush", "retry", "shard", "lease",
    "café", "naïve", "größe", "日志", "ошибка", "timeout", "commit", "index",
)
_MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun",
           "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")


@dataclass
class SequencesTruth:
    """What the generator planted, in the pipeline's terms."""

    rows: int
    bytes: int  # Σ n_tok (1 token = 1 UTF-8 byte)
    source_rows: dict[str, int]  # every input row, per source
    kept: dict[str, int]  # rows surviving the parse programs, per source
    routes: dict[tuple[str, str], int] = field(default_factory=dict)  # (sink, route_key)
    body_digest: tuple[int, int, int, int] = (0, 0, 0, 0)

    def sink_metrics(self, pipeline: str) -> dict[tuple, tuple[int, int]]:
        """(pipeline, source, sink) → (success, fail) for the reference
        pipeline: every kept row lands once in each of the three sinks
        and no route pattern can fail to render on these rows."""
        return {
            (pipeline, s, sink): (n, 0)
            for s, n in self.kept.items()
            if n
            for sink in SINKS
        }


def body_digest(bodies) -> tuple[int, int, int, int]:
    """Order-insensitive digest of a multiset of strings: (count, UTF-8
    bytes, XOR of 60-bit sha256 prefixes, sum of 28-bit prefixes). The
    sum catches a duplicated pair the XOR would cancel. The Spark side
    computes the same four numbers with sha2/conv (workloads.py)."""
    n = nbytes = xor = total = 0
    for b in bodies:
        raw = b.encode("utf-8")
        h = hashlib.sha256(raw).hexdigest()
        n += 1
        nbytes += len(raw)
        xor ^= int(h[:15], 16)
        total += int(h[:7], 16)
    return n, nbytes, xor, total


def _access(rng, n):
    status = rng.choice(len(ACCESS_STATUS), n, p=ACCESS_STATUS_P)
    # .tolist(): formatting Python ints is several times faster than numpy scalars
    a, b, c = (rng.integers(0, 256, n).tolist() for _ in range(3))
    day, hh = rng.integers(1, 29, n).tolist(), rng.integers(0, 24, n).tolist()
    mm, ss = rng.integers(0, 60, n).tolist(), rng.integers(0, 60, n).tolist()
    mon, page = rng.integers(0, 12, n).tolist(), rng.integers(0, 500, n).tolist()
    size, st = rng.integers(100, 100000, n).tolist(), status.tolist()
    lines = [
        f'10.{a[i]}.{b[i]}.{c[i]} - - [{day[i]:02d}/{_MONTHS[mon[i]]}/2021:{hh[i]:02d}:{mm[i]:02d}:{ss[i]:02d} +0000] '
        f'"GET /page/{page[i]} HTTP/1.1" {ACCESS_STATUS[st[i]]} {size[i]}'
        for i in range(n)
    ]
    topics = np.where(
        status == 2, "not_found", np.where(status == 3, "", "common")
    )  # "" = dropped (status 500)
    return lines, topics


def _container(rng, n):
    plain = rng.random(n) < CONTAINER_PLAIN_P
    w1, w2 = rng.integers(0, len(_WORDS), n).tolist(), rng.integers(0, len(_WORDS), n).tolist()
    k, stderr, is_plain = rng.integers(0, 100000, n).tolist(), (rng.random(n) < 0.5).tolist(), plain.tolist()
    lines = [
        f"I0610 08:29:07.698664 plain {_WORDS[w1[i]]} {k[i]}"
        if is_plain[i]
        else (
            f'{{"log":"I0610 08:29:07.698664 {_WORDS[w1[i]]} {_WORDS[w2[i]]} {k[i]}", '
            f'"stream":"{"stderr" if stderr[i] else "stdout"}", '
            f'"time":"2021-06-10T08:29:{k[i] % 60:02d}.698731204Z"}}'
        )
        for i in range(n)
    ]
    return lines, np.where(plain, "plain", "json")


def _app(rng, n):
    level = rng.choice(len(APP_LEVEL), n, p=APP_LEVEL_P)
    w, k = rng.integers(0, len(_WORDS), n).tolist(), rng.integers(0, 100000, n).tolist()
    sec, lv = rng.integers(0, 60, n).tolist(), level.tolist()
    lines = [
        f"2021-02-16T09:21:{sec[i]:02d}.545525544Z {APP_LEVEL[lv[i]]} "
        f"this is log body {_WORDS[w[i]]} {k[i]}"
        for i in range(n)
    ]
    return lines, np.where(level == 0, "", "app")


def _audit(rng, n):
    a, b = rng.integers(0, 256, n).tolist(), rng.integers(1, 255, n).tolist()
    line_no, u = rng.integers(1, 1000, n).tolist(), rng.integers(0, 10**12, n).tolist()
    sec = rng.integers(0, 60, n).tolist()
    lines = [
        f"2022/05/28 01:32:{sec[i]:02d} logTest.go:{line_no[i]}: 192.168.{a[i]}.{b[i]} "
        f"/var/log/test.log 54ce5d87-b94c-c40a-74a7-{u[i]:012d}"
        for i in range(n)
    ]
    return lines, np.full(n, "audit")


_RENDER = {"access": _access, "container": _container, "app": _app, "audit": _audit}


def make_sequences(seed: int, n: int):
    """(pyarrow table, SequencesTruth, per-row kafka topic) for ``n``
    rows; the topic is "" for a row the parse programs drop."""
    rng = np.random.default_rng([seed, 1])
    src_idx = rng.choice(len(SOURCES), n, p=SOURCE_SHARE)
    lines: list[str] = [""] * n
    topic = np.empty(n, dtype=object)
    for k, s in enumerate(SOURCES):
        where = np.flatnonzero(src_idx == k)
        ls, ts = _RENDER[s](rng, len(where))
        for j, i in enumerate(where.tolist()):
            lines[i] = ls[j]
        topic[where] = ts

    encoded = [ln.encode("utf-8") for ln in lines]
    lengths = np.fromiter((len(e) for e in encoded), dtype=np.int32, count=n)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    values = np.frombuffer(b"".join(encoded), dtype=np.uint8).astype(np.int32)
    sources = np.array(SOURCES, dtype=object)[src_idx]
    table = pa.table(
        {
            "doc_id": pa.array([f"doc-{i:012d}" for i in range(n)], pa.string()),
            "tokens": pa.ListArray.from_arrays(pa.array(offsets), pa.array(values)),
            "n_tok": pa.array(lengths, pa.int32()),
            "source": pa.array(sources, pa.string()),
        }
    )

    truth = SequencesTruth(
        rows=n,
        bytes=int(lengths.sum()),
        source_rows={s: int((src_idx == k).sum()) for k, s in enumerate(SOURCES)},
        kept={},
    )
    routes: dict[tuple[str, str], int] = {}
    for k, s in enumerate(SOURCES):
        mine = topic[src_idx == k]
        kept = mine[mine != ""]
        truth.kept[s] = int(len(kept))
        for t, c in zip(*np.unique(kept.astype(str), return_counts=True)):
            routes[("kafka", str(t))] = routes.get(("kafka", str(t)), 0) + int(c)
        if len(kept):
            routes[("es", f"log-{s}-{PTIME_DAY}")] = int(len(kept))
            routes[("file", f"var/log/{s}")] = int(len(kept))
    truth.routes = routes
    truth.body_digest = body_digest(lines)
    return table, truth, topic


# ---------------------------------------------------------------------------
# documents
# ---------------------------------------------------------------------------

_STOP = ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")
EXACT_COPY_P = 0.10
NEAR_COPY_P = 0.10
SPAM_P = 0.08


@dataclass
class DocumentsTruth:
    rows: int
    bytes: int  # UTF-8 text bytes
    distinct_texts: int
    exact_copies: int
    near_copies: int
    spam: int


def make_documents(seed: int, n: int):
    """(pyarrow table, DocumentsTruth). Originals are 60-240 words of a
    seeded vocabulary with English stopwords mixed in; a share of rows
    are exact copies of an earlier original, near copies (2 words in
    100 replaced, high shingle Jaccard) or one word repeated (fails the
    repetition gate)."""
    rng = np.random.default_rng([seed, 2])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = ["".join(rng.choice(letters, rng.integers(3, 10))) for _ in range(4000)]
    kind = rng.choice(4, n, p=(1 - EXACT_COPY_P - NEAR_COPY_P - SPAM_P, EXACT_COPY_P, NEAR_COPY_P, SPAM_P))
    kind[0] = 0  # copies need an original before them
    texts: list[str] = []
    originals: list[list[str]] = []
    for i in range(n):
        k = kind[i]
        if k == 0 or not originals:
            m = int(rng.integers(60, 240))
            pick = rng.integers(0, len(vocab), m)
            stop = rng.random(m) < 0.3
            words = [_STOP[p % len(_STOP)] if s else vocab[p] for p, s in zip(pick, stop)]
            originals.append(words)
            texts.append(" ".join(words))
            kind[i] = 0
        elif k == 1:
            texts.append(" ".join(originals[int(rng.integers(0, len(originals)))]))
        elif k == 2:
            words = list(originals[int(rng.integers(0, len(originals)))])
            for j in rng.integers(0, len(words), max(1, len(words) // 50)):
                words[j] = vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(words))
        else:
            w = vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join([w] * int(rng.integers(20, 80))))
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * n, pa.string()),
            "source": pa.array(np.array(("web", "books", "code"))[rng.integers(0, 3, n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    truth = DocumentsTruth(
        rows=n,
        bytes=sum(len(t.encode("utf-8")) for t in texts),
        distinct_texts=len(set(texts)),
        exact_copies=int((kind == 1).sum()),
        near_copies=int((kind == 2).sum()),
        spam=int((kind == 3).sum()),
    )
    return table, truth


def write_parquet_dir(table: pa.Table, path: str, files: int, row_groups_per_file: int = 2) -> None:
    """``files`` parquet files of ``row_groups_per_file`` row groups
    each, written to a temporary directory and renamed into place, so a
    crashed run never leaves a half-written input behind."""
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    n = table.num_rows
    per_file = -(-n // files)
    for f in range(files):
        part = table.slice(f * per_file, per_file)
        if part.num_rows == 0:
            break
        pq.write_table(
            part,
            os.path.join(tmp, f"part-{f:05d}.parquet"),
            row_group_size=max(1, -(-part.num_rows // row_groups_per_file)),
        )
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
