"""Dotted field-path DSL → Column references.

The reference addresses header fields with dotted paths where
``[bracket]`` escapes keys containing dots: ``a.b.c``, ``a.[b.c]``
(pkg/util/runtime/select.go:29-66). The special key ``body`` addresses
the raw byte body (pkg/util/eventops/event.go:26-45).

In the Spark model, parsed/known fields are top-level (or struct)
columns and ``body`` is the decoded line column, so a path resolves to
the column ``seg0`` subscripted by each nested struct/map segment.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from loggie_spark.sqltext import ident, quote

BODY_KEY = "body"


def parse_path(path: str) -> list[str]:
    """Split ``a.b.[c.d].e`` → ``['a', 'b', 'c.d', 'e']``."""
    segments: list[str] = []
    buf: list[str] = []
    in_bracket = False
    for ch in path:
        if ch == "[" and not in_bracket:
            in_bracket = True
        elif ch == "]" and in_bracket:
            in_bracket = False
        elif ch == "." and not in_bracket:
            segments.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    segments.append("".join(buf))
    return [s for s in segments if s != ""]


def path_sql(path: str) -> str:
    """SQL text of a field path: the column ``seg0`` subscripted by
    each further segment (struct field, map key or array index)."""
    segs = parse_path(path)
    if not segs:
        raise ValueError(f"empty field path: {path!r}")
    return ident(segs[0]) + "".join(f"[{quote(seg)}]" for seg in segs[1:])


def col_for_path(path: str) -> Column:
    """Resolve a field path to a Column (:func:`path_sql`)."""
    return F.expr(path_sql(path))


def flat_name(path: str) -> str:
    """Column name used when an extracted field lands at root: the
    reference splices nested keys with dots; Spark columns keep the raw
    segment joined by ``.`` only when nested — we flatten to ``_``."""
    segs = parse_path(path)
    return "_".join(segs)
