"""Condition-expression compiler.

Grammar (pkg/interceptor/transformer/expression/expression.go:48-71,
condition/conditions.go:93-161):

    expr     := atom ( (' AND ' atom)* | (' OR ' atom)* )   # one connector kind
    atom     := ['NOT '] name '(' arg (',' arg)* ')'
    name     := equal | contain | exist | greater | less | match |
                oneOf | hasPrefix  (extensible registry)

Compiles to boolean SQL text (one ``F.expr`` for a Column). Numeric
comparisons coerce both sides to double
(pkg/util/eventops/number.go:37-82).
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from loggie_spark.fieldpath import path_sql
from loggie_spark.sqltext import lit, quote

# (args, path) → boolean SQL text; ``path`` gives a field path's text.
ConditionFn = Callable[[list[str], Callable[[str], str]], str]

_CONDITIONS: dict[str, ConditionFn] = {}


def register_condition(name: str) -> Callable[[ConditionFn], ConditionFn]:
    def deco(fn: ConditionFn) -> ConditionFn:
        _CONDITIONS[name] = fn
        return fn

    return deco


# -- registry (condition/*.go) ---------------------------------------------


def _str(args: list[str], path) -> str:
    return f"CAST({path(args[0])} AS STRING)"


@register_condition("equal")
def _equal(args: list[str], path) -> str:
    # equal.go:53-60 — string compare after byte→string.
    return f"({_str(args, path)} = {quote(args[1])})"


@register_condition("contain")
def _contain(args: list[str], path) -> str:
    return f"contains({_str(args, path)}, {quote(args[1])})"


@register_condition("exist")
def _exist(args: list[str], path) -> str:
    return f"({path(args[0])} IS NOT NULL)"


@register_condition("greater")
def _greater(args: list[str], path) -> str:
    return f"(TRY_CAST({path(args[0])} AS DOUBLE) > {lit(float(args[1])).text})"


@register_condition("less")
def _less(args: list[str], path) -> str:
    return f"(TRY_CAST({path(args[0])} AS DOUBLE) < {lit(float(args[1])).text})"


@register_condition("match")
def _match(args: list[str], path) -> str:
    return f"({_str(args, path)} RLIKE {quote(args[1])})"


@register_condition("oneOf")
def _one_of(args: list[str], path) -> str:
    if len(args) < 2:
        return "false"  # IN () — no value matches
    return f"({_str(args, path)} IN ({', '.join(quote(a) for a in args[1:])}))"


@register_condition("hasPrefix")
def _has_prefix(args: list[str], path) -> str:
    return f"startswith({_str(args, path)}, {quote(args[1])})"


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


def condition_sql(expr: str, path: Callable[[str], str] = path_sql) -> str:
    """Compile a full condition expression to boolean SQL text; ``path``
    gives a field path's text (the action compiler passes its symbolic
    row).

    A single connector kind per expression — mixing AND and OR is an
    error, matching conditions.go:116-161 (no parentheses either).
    """
    has_and = " AND " in expr
    has_or = " OR " in expr
    if has_and and has_or:
        raise ValueError(f"cannot mix AND and OR in one expression: {expr!r}")
    parts = expr.split(" AND ") if has_and else expr.split(" OR ") if has_or else [expr]

    texts: list[str] = []
    for part in parts:
        part = part.strip()
        negate = part.startswith("NOT ")
        if negate:
            part = part[4:].strip()
        name, args = parse_call(part)
        if name not in _CONDITIONS:
            raise KeyError(f"unknown condition: {name}")
        text = _CONDITIONS[name](args, path)
        texts.append(f"(NOT {text})" if negate else text)
    if len(texts) == 1:
        return texts[0]
    return "(" + (" AND " if has_and else " OR ").join(texts) + ")"


def compile_condition(expr: str) -> Column:
    """A condition expression as a boolean Column over the frame's own
    columns (:func:`condition_sql`)."""
    return F.expr(condition_sql(expr))
