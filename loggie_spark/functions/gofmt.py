"""Go-compatible float rendering — strconv.FormatFloat(v, 'g', -1, bits)
as a Catalyst expression (tostr.go:123-152 convertStr).

Both Java's ``Double.toString`` and Go's shortest-'g' emit the SAME
shortest-round-trip digit sequence; only the surface formatting rules
differ:

* Java: scientific when exp >= 7 or exp < -3, mantissa always keeps a
  trailing ``.0``, exponent spelled ``E8``.
* Go 'g' (shortest): scientific when exp < -4 or exp >= 6
  (strconv/ftoa.go: ``if shortest { eprec = 6 }``), no trailing
  ``.0``, exponent spelled ``e+08`` (sign + ≥2 digits).

So the strategy is: let Spark's cast produce the Java repr (shortest
digits for free, JVM-side), then re-assemble those digits under Go's
rules with string expressions — no Python per row. The rendering is
SQL text (:func:`go_float_sql`), written by the action compiler.

Expression-size note: the assembly references the digit string ~8
times and the decimal exponent ~7 times. Building it as one
expression tree re-inlines the full parse chain into every reference —
measured ~1000+ node trees whose generated Java overflows janino
(64 KB / deep-if limits), so Spark silently falls back to an
INTERPRETED Project that re-evaluates each repeated subtree per row.
``_let`` binds each intermediate as a higher-order-function lambda
variable (``element_at(transform(array(x), v -> body), 1)``) so it is
computed once per row and the tree stays linear-size: ~20% faster
locally, an 8× smaller plan, and no codegen-failure log storm at
scale.

Known divergence: JDK Double.toString historically emits a non-shortest
digit string for a few subnormals (e.g. 4.9E-324 where Go says
5e-324); log pipelines never see subnormals, documented not fixed.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from loggie_spark.sqltext import quote

_BIG = 1 << 30  # "rest of string" length for substring


def let_bind(val: Column, body: Callable[[Column], Column]) -> Column:
    """Bind ``val`` once per row as a lambda variable and evaluate
    ``body`` against it — the Column-level analog of a ``let``.

    Catalyst re-inlines plain Column references into every use site
    (there is no expression-level CSE inside CaseWhen branches), so an
    intermediate referenced N times is COMPUTED N times — and worse,
    deep trees overflow janino's method limits and drop the whole
    Project out of codegen. Routing the value through a one-element
    ``transform`` makes it a ``NamedLambdaVariable``: evaluated once,
    referenced cheaply, immune to re-inlining. No optimizer rule
    rewrites ``element_at(transform(array(x), f), 1)`` back into
    ``f(x)``. Bind a struct to introduce several values at once.
    """
    return F.element_at(F.transform(F.array(val), body), 1)


def _let(val: str, var: str, body: str) -> str:
    """SQL text of :func:`let_bind`: ``body`` reads ``val`` as ``var``."""
    return f"element_at(transform(array({val}), {var} -> {body}), 1)"


def _digits_and_exp(a: str) -> tuple[str, str]:
    """Shortest digit string (no sign/dot/zeros) + decimal exponent of
    the leading digit (dp - 1 in ftoa.go terms) from the unsigned Java
    repr ``a`` ("200.1", "1.0E-5", "100.0")."""
    mant = f"substring_index({a}, 'E', 1)"
    digits_raw = f"replace({mant}, '.', '')"
    # Shortest digits: strip leading zeros (plain "0.00123" forms) and
    # trailing zeros ("100.0" → "1", "1.0E-5" → "1").
    d = f"regexp_replace(regexp_replace({digits_raw}, '^0+', ''), {quote('0+$')}, '')"
    int_part = f"substring_index({mant}, '.', 1)"
    frac_part = f"substring_index({mant}, '.', -1)"
    lead_zeros = f"(length({frac_part}) - length(regexp_replace({frac_part}, '^0+', '')))"
    plain_exp = (
        f"CASE WHEN ({int_part} = '0') THEN ((- {lead_zeros}) - 1) "
        f"ELSE (length({int_part}) - 1) END"
    )
    exp = (
        f"CASE WHEN contains({a}, 'E') THEN CAST(substring_index({a}, 'E', -1) AS INT) "
        f"ELSE {plain_exp} END"
    )
    return d, exp


def _assemble(d: str, exp: str) -> str:
    """Go 'g' surface form from shortest digits ``d`` + exponent
    ``exp`` — both lambda variables here, so the many references below
    are each a cheap variable read."""
    nd = f"length({d})"
    # Column-length zero padding (rpad/repeat want int lengths).
    zeros = "'" + "0" * 32 + "'"
    # Plain rendering (-4 <= exp < 6)
    plain_pos = (
        f"CASE WHEN ({nd} > ({exp} + 1)) "
        f"THEN concat(substr({d}, 1, ({exp} + 1)), '.', substr({d}, ({exp} + 2), {_BIG})) "
        f"ELSE concat({d}, substr({zeros}, 1, greatest((({exp} + 1) - {nd}), 0))) END"
    )
    plain_neg_exp = f"concat('0.', substr({zeros}, 1, ((- {exp}) - 1)), {d})"
    plain = f"CASE WHEN ({exp} >= 0) THEN {plain_pos} ELSE {plain_neg_exp} END"

    # Scientific rendering: d.ddd e ±NN (sign always, >= 2 digits)
    tail = f"substring({d}, 2, {_BIG})"
    sci_mant = (
        f"CASE WHEN ({tail} = '') THEN substring({d}, 1, 1) "
        f"ELSE concat(substring({d}, 1, 1), '.', {tail}) END"
    )
    sci = f"concat({sci_mant}, 'e', format_string('%+03d', {exp}))"

    return (
        f"CASE WHEN ({d} = '') THEN '0' ELSE "
        f"CASE WHEN (({exp} >= -4) AND ({exp} < 6)) THEN {plain} ELSE {sci} END END"
    )


def go_float_sql(x: str) -> str:
    """SQL text rendering the float/double SQL ``x`` exactly like Go's
    ``strconv.FormatFloat(v, 'g', -1, 64)`` (and the 32-bit variant for
    float inputs, whose Java cast already uses 32-bit shortest digits).
    """
    s, a, t = "__gofmt_s", "__gofmt_a", "__gofmt_t"
    d, exp = _digits_and_exp(a)
    with_a = _let(f"named_struct('d', {d}, 'e', {exp})", t, _assemble(f"{t}.d", f"{t}.e"))
    neg = f"startswith({s}, '-')"
    unsigned = f"CASE WHEN {neg} THEN substring({s}, 2, {_BIG}) ELSE {s} END"
    signed_body = _let(unsigned, a, with_a)
    signed = f"CASE WHEN {neg} THEN concat('-', {signed_body}) ELSE {signed_body} END"
    # Specials (FormatFloat: "NaN", "+Inf", "-Inf").
    body = (
        f"CASE WHEN ({s} = 'NaN') THEN 'NaN' WHEN ({s} = 'Infinity') THEN '+Inf' "
        f"WHEN ({s} = '-Infinity') THEN '-Inf' WHEN ({s} IS NULL) THEN CAST(NULL AS STRING) "
        f"ELSE {signed} END"
    )
    return _let(f"CAST({x} AS STRING)", s, body)
