"""Condition-expression compiler.

Grammar (pkg/interceptor/transformer/expression/expression.go:48-71,
condition/conditions.go:93-161):

    expr     := atom ( (' AND ' atom)* | (' OR ' atom)* )   # one connector kind
    atom     := ['NOT '] name '(' arg (',' arg)* ')'
    name     := equal | contain | exist | greater | less | match |
                oneOf | hasPrefix  (extensible registry)

Compiles to a boolean Column. Numeric comparisons coerce both sides to
double (pkg/util/eventops/number.go:37-82).
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from loggie_spark.fieldpath import col_for_path

ConditionFn = Callable[[list[str], Callable[[str], Column]], Column]

_CONDITIONS: dict[str, ConditionFn] = {}


def register_condition(name: str) -> Callable[[ConditionFn], ConditionFn]:
    def deco(fn: ConditionFn) -> ConditionFn:
        _CONDITIONS[name] = fn
        return fn

    return deco


# -- registry (condition/*.go) ---------------------------------------------


@register_condition("equal")
def _equal(args: list[str], path) -> Column:
    # equal.go:53-60 — string compare after byte→string.
    return path(args[0]).cast("string") == F.lit(args[1])


@register_condition("contain")
def _contain(args: list[str], path) -> Column:
    return path(args[0]).cast("string").contains(args[1])


@register_condition("exist")
def _exist(args: list[str], path) -> Column:
    return path(args[0]).isNotNull()


@register_condition("greater")
def _greater(args: list[str], path) -> Column:
    return path(args[0]).try_cast("double") > float(args[1])


@register_condition("less")
def _less(args: list[str], path) -> Column:
    return path(args[0]).try_cast("double") < float(args[1])


@register_condition("match")
def _match(args: list[str], path) -> Column:
    return path(args[0]).cast("string").rlike(args[1])


@register_condition("oneOf")
def _one_of(args: list[str], path) -> Column:
    return path(args[0]).cast("string").isin(*args[1:])


@register_condition("hasPrefix")
def _has_prefix(args: list[str], path) -> Column:
    return path(args[0]).cast("string").startswith(args[1])


# -- parser -----------------------------------------------------------------

_CALL_RE = re.compile(r"^\s*(\w+)\s*\((.*)\)\s*$", re.S)


def parse_call(text: str) -> tuple[str, list[str]]:
    """``name(a, b, c)`` → ``('name', ['a','b','c'])``; args trimmed,
    empty arg list allowed (expression.go:48-71)."""
    m = _CALL_RE.match(text)
    if not m:
        raise ValueError(f"malformed expression: {text!r}")
    name, raw = m.group(1), m.group(2).strip()
    args = [a.strip() for a in raw.split(",")] if raw else []
    return name, args


def compile_condition(expr: str, path: Callable[[str], Column] = col_for_path) -> Column:
    """Compile a full condition expression to a boolean Column; ``path``
    resolves field paths (the action compiler passes its symbolic row).

    A single connector kind per expression — mixing AND and OR is an
    error, matching conditions.go:116-161 (no parentheses either).
    """
    has_and = " AND " in expr
    has_or = " OR " in expr
    if has_and and has_or:
        raise ValueError(f"cannot mix AND and OR in one expression: {expr!r}")
    parts = expr.split(" AND ") if has_and else expr.split(" OR ") if has_or else [expr]

    cols: list[Column] = []
    for part in parts:
        part = part.strip()
        negate = part.startswith("NOT ")
        if negate:
            part = part[4:].strip()
        name, args = parse_call(part)
        if name not in _CONDITIONS:
            raise KeyError(f"unknown condition: {name}")
        col = _CONDITIONS[name](args, path)
        cols.append(~col if negate else col)

    out = cols[0]
    for c in cols[1:]:
        out = (out & c) if has_and else (out | c)
    return out
