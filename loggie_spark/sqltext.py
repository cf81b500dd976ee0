"""SQL text for the plan compilers.

The compilers of loggie's little languages — action programs
(actions.py), condition expressions (expr.py), ``${...}`` patterns
(patterns.py) and sink routes (sinks/router.py) — emit Spark SQL text.
Spark receives one string per output column, kernel slot, filter and
sink entry (``selectExpr`` / ``filter`` / ``F.expr``) and parses it
once on the JVM, instead of one py4j round trip per expression node.

This module is the one place text is quoted and literals are typed:

* :func:`quote` spells any string (value, regex, date pattern,
  replacement) as a SQL string literal; :func:`ident` quotes a name
  (column reference, alias or struct field).
* :func:`lit` spells a Python value with the type ``F.lit`` gives it.
* :class:`Sql` is a value's text with its Spark type. Types come from
  the program (literals, the parse step that made a value, the input
  schema), never from analysing a probe frame.
"""

from __future__ import annotations

import math
import re
from typing import NamedTuple

from pyspark.sql import types as T

STRING = T.StringType()
BOOLEAN = T.BooleanType()
INT = T.IntegerType()
LONG = T.LongType()
DOUBLE = T.DoubleType()
TIMESTAMP = T.TimestampType()
ARRAY_STRING = T.ArrayType(STRING)
MAP_STRING = T.MapType(STRING, STRING)


class Sql(NamedTuple):
    """A value as SQL text and its Spark type."""

    text: str
    dtype: T.DataType


# Backslash and quote are escaped; control characters become \uXXXX
# (Spark's unescaper reads them back); so does "$", which the parser's
# ${var} substitution would otherwise rewrite inside a literal.
_LITERAL_ESCAPES = {
    **{i: f"\\u{i:04X}" for i in range(0x20)},
    ord("\\"): "\\\\",
    ord("'"): "\\'",
    ord("$"): "\\u0024",
}


def quote(s: str) -> str:
    """``s`` as a SQL string literal that reads back equal."""
    return "'" + s.translate(_LITERAL_ESCAPES) + "'"


def ident(name: str) -> str:
    """``name`` as a backquoted identifier (backquotes doubled). A name
    with a ``$`` goes through ``IDENTIFIER(<literal>)``: a backquoted
    name has no escapes, so ``${...}`` in it would be substituted."""
    quoted = "`" + name.replace("`", "``") + "`"
    return f"IDENTIFIER({quote(quoted)})" if "$" in name else quoted


def lit(v: object) -> Sql:
    """A Python literal typed as ``F.lit`` types it: int → int (bigint
    outside int32), float → double, None → a string NULL."""
    if v is None:
        return Sql("CAST(NULL AS STRING)", STRING)
    if isinstance(v, bool):
        return Sql("true" if v else "false", BOOLEAN)
    if isinstance(v, int):
        return Sql(str(v), INT if -(2**31) <= v < 2**31 else LONG)
    if isinstance(v, float):
        if math.isfinite(v) and (v != 0 or math.copysign(1.0, v) > 0):
            return Sql(f"CAST({v!r} AS DOUBLE)", DOUBLE)
        # NaN, ±Infinity and -0.0 have no numeric spelling.
        word = (
            "NaN" if math.isnan(v) else "-0.0" if v == 0 else "Infinity" if v > 0 else "-Infinity"
        )
        return Sql(f"CAST({quote(word)} AS DOUBLE)", DOUBLE)
    if isinstance(v, str):
        return Sql(quote(v), STRING)
    raise TypeError(f"no SQL literal for {type(v).__name__}: {v!r}")


def sql_type(dt: T.DataType) -> str:
    """``dt`` spelled for a CAST (struct field names quoted)."""
    if isinstance(dt, T.StructType):
        fields = ", ".join(f"{ident(f.name)}: {sql_type(f.dataType)}" for f in dt.fields)
        return f"STRUCT<{fields}>"
    if isinstance(dt, T.ArrayType):
        return f"ARRAY<{sql_type(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"MAP<{sql_type(dt.keyType)}, {sql_type(dt.valueType)}>"
    return dt.simpleString()


def try_cast(v: Sql, dt: T.DataType) -> Sql:
    """``v`` as ``dt``, NULL where it does not convert; no cast when the
    types already agree (nullability aside)."""
    if sql_type(v.dtype) == sql_type(dt):
        return v
    return Sql(f"TRY_CAST({v.text} AS {sql_type(dt)})", dt)


# A column reference, possibly subscripted: needs no parentheses.
_REF = re.compile(r"`(?:[^`]|``)*`(?:\['(?:[^'\\]|\\.)*'\])*")


def item(v: Sql, key: str) -> Sql:
    """``v[key]``: a struct field, map value or array element — the
    extraction ``Column.getItem`` makes, so ANSI semantics match."""
    dt = v.dtype
    if isinstance(dt, T.StructType):
        # Field names resolve case-insensitively (spark.sql.caseSensitive).
        out = next((f.dataType for f in dt.fields if f.name.lower() == key.lower()), STRING)
    elif isinstance(dt, T.MapType):
        out = dt.valueType
    elif isinstance(dt, T.ArrayType):
        out = dt.elementType
    else:
        out = STRING  # not extractable: Spark reports it at analysis
    base = v.text if _REF.fullmatch(v.text) else f"({v.text})"
    return Sql(f"{base}[{quote(key)}]", out)


def struct(fields: list[tuple[str, Sql]]) -> Sql:
    """``named_struct`` of ``(name, value)`` pairs."""
    args = ", ".join(f"{quote(n)}, {v.text}" for n, v in fields)
    return Sql(
        f"named_struct({args})",
        T.StructType([T.StructField(n, v.dtype) for n, v in fields]),
    )
