"""Transformer action-program compiler.

The reference executes an ordered action program per event
(pkg/interceptor/transformer/transformer.go:85-95, actions.go:51-66):
steps are simple actions or if/then/else conditionals; ``return()``
short-circuits the rest of the program for that row; ``dropEvent()``
drops the row; per-action ``ignoreError`` / ``dropIfError`` policies
(action/action.go:33-38,110-120).

Here a program compiles at plan time into SQL text; no per-row Python
runs. The compiler keeps a symbolic row — each column's current value
as SQL over the input columns, with its Spark type — and per-row
control state: ``dropped`` (dropEvent, dropIfError; filtered at the
end), ``halted`` (return() or an action failing under the default
policy: the rest of the interceptor is skipped and the event forwards
as-is, actions.go:51-66) and the open if/else branch. ``halted`` ends
only its own interceptor — Intercept still invokes the next one
(transformer.go:85-95) — so it resets at every interceptor boundary.
A write under live state is ``CASE WHEN state THEN new ELSE old END``.

Expensive steps (regex, grok, jsonDecode) are kernels, computed once
per row in one ``inline(array(struct(...)))`` Generate and read back as
plain attributes (Catalyst would otherwise re-inline them into every
reference). Each slot runs only on the rows its source and program
state reach: ``CASE WHEN source = name AND <state> THEN kernel END``. A
kernel reading another kernel's output goes into a second Generate.

Per-source programs (``belongTo``) compile without gates on forks of
one context; :func:`dispatch` merges them so each column is written
once: ``CASE source WHEN a THEN value_a ... ELSE old END``.

Spark receives the finished text once per output column, kernel slot
and drop filter (``selectExpr``/``filter``), so building a plan costs a
few hundred py4j round trips however long the programs are. Types come
from the program (regex/grok/split give strings, ``strconv`` its
target, ``jsonDecode`` its schema, literals their own) and from the
input schema, read once; nothing is analysed to learn a type.

Program shape (pkg/interceptor/transformer/example/pipeline.yml):

    [
      {"action": "regex(body)", "pattern": "(?<ip>\\S+) ..."},
      {"if": "equal(status, 404)",
       "then": [{"action": "add(topic, not_found)"}],
       "else": [{"action": "add(topic, common)"}]},
      {"action": "dropEvent()"},
    ]
"""

from __future__ import annotations

import re
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from loggie_spark.expr import condition_sql, parse_call
from loggie_spark.fieldpath import flat_name, parse_path
from loggie_spark.patterns import (
    expand_grok,
    go_layout_to_jvm,
    named_groups,
    normalize_named_groups,
    pattern_sql,
    split_groups,
)
from loggie_spark.sqltext import (
    ARRAY_STRING,
    BOOLEAN,
    LONG,
    MAP_STRING,
    STRING,
    TIMESTAMP,
    Sql,
    ident,
    item,
    lit,
    quote,
    sql_type,
    struct,
    try_cast,
)

# A value heavier than this (expression size in column reads) is
# computed once in the Generate instead of inlined into every reader,
# so a program that keeps reading what it wrote cannot grow its
# expressions exponentially.
_PIN_WEIGHT = 64

_COMPLEX = (T.ArrayType, T.MapType, T.StructType)

_NAMED_GROUP_ANY = re.compile(r"\(\?P?<([a-zA-Z][a-zA-Z0-9_]*)>")

_NULL = lit(None)


def _java_pattern(pattern: str) -> str:
    """Java regex wants ``(?<n>…)``; strip the Python ``P``."""
    return _NAMED_GROUP_ANY.sub(r"(?<\1>", normalize_named_groups(pattern))


class _Val(NamedTuple):
    """A symbolic value: its SQL, the Generate depth it reads (0 =
    input columns only) and its size in column reads."""

    sql: Sql
    level: int = 0
    weight: int = 1


def _not(text: str) -> str:
    return f"(NOT {text})"


def _and(parts: list[str]) -> str | None:
    if not parts:
        return None
    return parts[0] if len(parts) == 1 else "(" + " AND ".join(parts) + ")"


def _case(arms: list[tuple[str, str]], default: str | None) -> str:
    whens = " ".join(f"WHEN {cond} THEN {value}" for cond, value in arms)
    return f"CASE {whens}" + ("" if default is None else f" ELSE {default}") + " END"


def _str(v: Sql) -> str:
    return f"CAST({v.text} AS STRING)"


class Plan:
    """One compile over one input frame: its schema (read once) and the
    kernels its Generates compute. ``time_col`` names the processing-time
    column (default ``current_timestamp()``)."""

    def __init__(self, df: DataFrame, time_col: str | None = None, env: dict | None = None):
        self.df = df
        self.schema = {f.name: f.dataType for f in df.schema.fields}
        self.kernels: list[tuple[str, str, int]] = []  # (name, slot SQL, depth)
        self.env = env
        self.time = (
            Sql(ident(time_col), self.schema.get(time_col, TIMESTAMP))
            if time_col
            else Sql("current_timestamp()", TIMESTAMP)
        )

    def root(self) -> _Ctx:
        """A context over every row, each column its input value."""
        return _Ctx(self, {c: _Val(Sql(ident(c), t)) for c, t in self.schema.items()})

    def kernel(self, value: Sql, gate: str | None, level: int) -> Sql:
        name = f"__k{len(self.kernels)}"
        slot = value.text if gate is None else f"CASE WHEN {gate} THEN {value.text} END"
        self.kernels.append((name, slot, level))
        return Sql(ident(name), value.dtype)

    def frame(self, ctx: _Ctx) -> DataFrame:
        """One Generate per kernel depth, then every column once;
        dropped rows removed."""
        df = self.df
        for level in sorted({lv for _, _, lv in self.kernels}):
            slots = ", ".join(f"{quote(n)}, {slot}" for n, slot, lv in self.kernels if lv == level)
            df = df.selectExpr("*", f"inline(array(named_struct({slots})))")
        if ctx.dropped is not None:
            df = df.filter(_not(ctx.dropped.sql.text))
        return df.selectExpr(*[f"{v.sql.text} AS {ident(n)}" for n, v in ctx.cols.items()])


class _Ctx:
    """Compile state of one program over the rows ``selector`` (boolean
    SQL) picks (None = every row): the symbolic row and its control
    state."""

    def __init__(self, plan: Plan, cols: dict[str, _Val], selector=None, dropped=None):
        self.plan = plan
        self.cols = cols  # output order
        self.selector: str | None = selector
        self.dropped: _Val | None = dropped
        self.halted: _Val | None = None
        self.branch: _Val | None = None
        self.step()

    def fork(self, selector: str) -> _Ctx:
        return _Ctx(self.plan, dict(self.cols), selector, self.dropped)

    def step(self) -> None:
        """Start a step: what it writes depends on what it reads."""
        self._lvl, self._wt = 0, 0

    def end_interceptor(self) -> None:
        """return() and failed actions end only their own interceptor."""
        self.halted = self.branch = None
        self.step()

    @property
    def unconditional(self) -> bool:
        return self.halted is None and self.branch is None

    # -- reads ---------------------------------------------------------------

    def _use(self, v: _Val) -> str:
        self._lvl, self._wt = max(self._lvl, v.level), self._wt + v.weight
        return v.sql.text

    def _made(self, value: Sql) -> _Val:
        return _Val(value, self._lvl, self._wt + 1)

    def col(self, name: str) -> Sql:
        """Current value of column ``name``; a string NULL when the row
        has no such column (eventops reads a missing key as empty)."""
        v = self.cols.get(name)
        if v is None:
            return _NULL
        if v.weight > _PIN_WEIGHT:
            attr = self.plan.kernel(v.sql, self.selector, v.level + 1)
            v = self.cols[name] = _Val(attr, v.level + 1)
        self._use(v)
        return v.sql

    def read(self, path: str) -> Sql:
        """Resolve a dotted field path (fieldpath DSL) on the current row."""
        segs = parse_path(path)
        if not segs:
            raise ValueError(f"empty field path: {path!r}")
        if segs[0] not in self.cols:
            return _NULL
        v = self.col(segs[0])
        for seg in segs[1:]:
            v = item(v, seg)
        return v

    def kernel(self, value: Sql) -> Sql:
        """``value`` computed once per row in the Generate, on the rows
        this step reaches as far as state at its inputs' depth tells."""
        level = self._lvl
        parts = [] if self.selector is None else [self.selector]
        for v, keep in ((self.dropped, False), (self.halted, False), (self.branch, True)):
            if v is not None and v.level <= level:
                parts.append(v.sql.text if keep else _not(v.sql.text))
        self._lvl, self._wt = level + 1, self._wt + 1
        return self.plan.kernel(value, _and(parts), level + 1)

    # -- writes --------------------------------------------------------------

    def _gate(self) -> str | None:
        """Rows a write at this point applies to (None = all)."""
        parts = [] if self.halted is None else [_not(self._use(self.halted))]
        return _and(parts + ([] if self.branch is None else [self._use(self.branch)]))

    def set_col(self, name: str, value: Sql) -> None:
        gate = self._gate()
        if gate is not None:
            # Type-changing overwrite (strconv/timestamp): rows the gate
            # excludes keep the old value through try_cast; the implicit
            # ANSI cast CASE would insert throws on them.
            old = try_cast(self.col(name), value.dtype).text if name in self.cols else None
            value = Sql(_case([(gate, value.text)], old), value.dtype)
        self.cols[name] = self._made(value)

    def del_col(self, name: str) -> None:
        if name not in self.cols:
            return
        gate = self._gate()
        if gate is None:
            del self.cols[name]
        else:
            old = self.col(name)
            self.cols[name] = self._made(Sql(_case([(gate, "NULL")], old.text), old.dtype))

    def _flag(self, old: _Val | None, hit: str) -> _Val:
        return self._made(Sql(hit if old is None else f"({self._use(old)} OR {hit})", BOOLEAN))

    def apply_error_policy(self, failed: str, extra: dict) -> None:
        """Per-action error policy (action.go:110-128): ``dropIfError``
        drops failing rows (ErrorDropEvent); ``ignoreError`` swallows the
        failure; by default the rest of the program is skipped for that
        row (Actions.Exec returns the error, actions.go:56-63)."""
        drop = extra.get("dropIfError")
        if extra.get("ignoreError") and not drop:
            return
        hit = f"coalesce({failed}, false)"
        if self.branch is not None:
            hit = f"({self._use(self.branch)} AND {hit})"
        if not drop:
            self.halted = self._flag(self.halted, hit)
            return
        if self.halted is not None:
            hit = f"({_not(self._use(self.halted))} AND {hit})"
        self.dropped = self._flag(self.dropped, hit)

    # -- programs ------------------------------------------------------------

    def run(self, steps: list[dict]) -> None:
        """Compile one interceptor's program onto this context."""
        for step in steps:
            if "if" not in step:
                self._one(step)
                continue
            # A condition over a missing/NULL field is NULL in SQL but
            # false in the reference's eventops (GetString → ""), so
            # coalesce. Evaluated once, before either branch writes.
            self.step()
            cond = condition_sql(step["if"], lambda p: self.read(p).text)
            cond = self._made(Sql(f"coalesce({cond}, false)", BOOLEAN))
            for sub in step.get("then") or []:
                self.branch = cond
                self._one(sub)
            for sub in step.get("else") or []:
                self.branch = cond._replace(sql=Sql(_not(cond.sql.text), BOOLEAN))
                self._one(sub)
            self.branch = None

    def _one(self, step: dict) -> None:
        name, args = parse_call(step["action"])
        if name not in _ACTIONS:
            raise KeyError(f"unknown action: {name}")
        self.step()
        _ACTIONS[name](self, args, {k: v for k, v in step.items() if k != "action"})


def _merged(value: Sql, vals: list[_Val]) -> _Val:
    return _Val(value, max(v.level for v in vals), sum(v.weight for v in vals) + 1)


# Atomic types TRY_CAST converts between, by family: source family ->
# the families it reaches (Spark 4 analysis, probed pair by pair).
_FAMILIES = (
    ("s", T.StringType),
    ("n", T.NumericType),
    ("b", T.BooleanType),
    ("t", T.TimestampType),
    ("d", T.DateType),
    ("x", T.BinaryType),
)
_TRY_CASTS = {"s": "snbtdx", "n": "nbt", "b": "nb", "t": "ntd", "d": "td", "x": "x"}


def _family(dt: T.DataType) -> str | None:
    return next((fam for fam, cls in _FAMILIES if isinstance(dt, cls)), None)


def _reaches(src: T.DataType, dst: T.DataType) -> bool:
    """Whether ``TRY_CAST(<src> AS <dst>)`` passes analysis."""
    if sql_type(src) == sql_type(dst) or isinstance(dst, T.StringType):
        return True
    if isinstance(src, T.ArrayType) and isinstance(dst, T.ArrayType):
        return _reaches(src.elementType, dst.elementType)
    if isinstance(src, T.MapType) and isinstance(dst, T.MapType):
        return _reaches(src.keyType, dst.keyType) and _reaches(src.valueType, dst.valueType)
    fs, fd = _family(src), _family(dst)
    return fs is not None and fd is not None and fd in _TRY_CASTS[fs]


def dispatch(base: _Ctx, branches: list[_Ctx]) -> _Ctx:
    """Merge per-source contexts forked from ``base`` into one context
    over every row. A column a source changed becomes ``CASE WHEN
    <its selector> THEN value ... ELSE <base value or NULL> END`` with
    one arm per source that changed it; a source that deleted it reads
    NULL. The last source writing a column sets its type and the other
    values are try_cast to it, as sequential gated writes did. Where a
    value cannot be try_cast to that type (a string to a map, say), the
    column is a STRING instead. Merged to a STRING, an array, map or
    struct value is rendered as JSON (as ``jsonEncode`` does), in either
    source order."""
    names = list(base.cols)
    for b in branches:
        names += [c for c in b.cols if c not in names]
    out = _Ctx(base.plan, {c: base.cols.get(c) for c in names})
    for c in names:
        default = base.cols.get(c)
        arms = [(b.selector, b.cols.get(c)) for b in branches if b.cols.get(c) is not default]
        if not arms:
            continue
        writers = [v for _, v in arms if v is not None]
        vals = writers + ([] if default is None else [default])
        target = (writers[-1] if writers else default).sql.dtype
        if not all(_reaches(v.sql.dtype, target) for v in vals):
            target = STRING

        def cast(v: _Val | None) -> str:
            if v is None:
                return "NULL"
            if isinstance(target, T.StringType) and isinstance(v.sql.dtype, _COMPLEX):
                return f"to_json({v.sql.text})"
            return try_cast(v.sql, target).text

        rest = None if default is None else cast(default)
        out.cols[c] = _merged(Sql(_case([(sel, cast(v)) for sel, v in arms], rest), target), vals)

    out.dropped = base.dropped
    flags = [(b.selector, b.dropped) for b in branches if b.dropped is not base.dropped]
    if flags:
        rest = "false" if base.dropped is None else base.dropped.sql.text
        cases = _case([(sel, v.sql.text) for sel, v in flags], rest)
        out.dropped = _merged(Sql(cases, BOOLEAN), [v for _, v in flags])
    return out


ActionFn = Callable[[_Ctx, list[str], dict], None]
_ACTIONS: dict[str, ActionFn] = {}


def register_action(name: str) -> Callable[[ActionFn], ActionFn]:
    def deco(fn: ActionFn) -> ActionFn:
        _ACTIONS[name] = fn
        return fn

    return deco


# --------------------------------------------------------------------------
# Simple setters / movers (action/{add,set,copy,move,del,underroot}.go)
# --------------------------------------------------------------------------


@register_action("add")
@register_action("set")
def _add(ctx: _Ctx, args: list[str], extra: dict) -> None:
    ctx.set_col(flat_name(args[0]), lit(args[1]))


@register_action("setInt")
def _set_int(ctx: _Ctx, args: list[str], extra: dict) -> None:
    ctx.set_col(flat_name(args[0]), lit(int(args[1])))


@register_action("setFloat")
def _set_float(ctx: _Ctx, args: list[str], extra: dict) -> None:
    ctx.set_col(flat_name(args[0]), lit(float(args[1])))


@register_action("setBool")
def _set_bool(ctx: _Ctx, args: list[str], extra: dict) -> None:
    ctx.set_col(flat_name(args[0]), lit(args[1].lower() == "true"))


@register_action("copy")
def _copy(ctx: _Ctx, args: list[str], extra: dict) -> None:
    ctx.set_col(flat_name(args[1]), ctx.read(args[0]))


@register_action("move")
@register_action("rename")
def _move(ctx: _Ctx, args: list[str], extra: dict) -> None:
    src, dst = args[0], args[1]
    if dst == "_root":  # move.go:53-61 — to=_root splices under root
        _under_root(ctx, [src], extra)
        return
    ctx.set_col(flat_name(dst), ctx.read(src))
    ctx.del_col(flat_name(src))


@register_action("del")
def _del(ctx: _Ctx, args: list[str], extra: dict) -> None:
    for a in args:
        ctx.del_col(flat_name(a))


@register_action("underRoot")
def _under_root(ctx: _Ctx, args: list[str], extra: dict) -> None:
    """Splice a struct column's fields to root (underroot.go:51-54)."""
    name = args[0]
    if not ctx.unconditional:
        raise ValueError("underRoot inside a conditional is not supported")
    src = flat_name(name)
    if src not in ctx.cols:
        return
    value = ctx.col(src)
    if not isinstance(value.dtype, T.StructType):
        raise ValueError(f"underRoot target {name!r} is not a struct column")
    for f_ in value.dtype.fields:
        ctx.set_col(f_.name, item(value, f_.name))
    ctx.del_col(src)


@register_action("dropEvent")
def _drop_event(ctx: _Ctx, args: list[str], extra: dict) -> None:
    gate = ctx._gate()
    ctx.dropped = ctx._flag(ctx.dropped, "true" if gate is None else gate)


@register_action("return")
def _return(ctx: _Ctx, args: list[str], extra: dict) -> None:
    hit = "true" if ctx.branch is None else ctx._use(ctx.branch)
    ctx.halted = ctx._flag(ctx.halted, hit)


@register_action("print")
def _print(ctx: _Ctx, args: list[str], extra: dict) -> None:
    pass  # debug logging sink — no-op in batch (print.go:51-70)


# Batch analogs of the reference's event meta (event.go:33-35 system
# keys + source-registered addonMeta fields): column name → meta key.
_META_COLUMN_KEYS: list[tuple[str, str]] = [
    ("pipeline", "systemPipelineName"),
    ("source", "systemSourceName"),
    ("filename", "filename"),
    ("offset", "offset"),
    ("hostname", "hostname"),
    ("kafka", "kafka"),
]


@register_action("addMeta")
def _add_meta(ctx: _Ctx, args: list[str], extra: dict) -> None:
    """normalize addMeta, FULL semantics (addmeta.go:66-108): every
    non-``@private`` meta field lands under the target struct. Batch
    meta = the system columns this engine materializes (source name,
    addonMeta filename/offset/hostname, kafka addon struct) plus
    systemProductTime (the processing time column) and
    systemPipelineName (from the ``pipelineName`` extra or an existing
    ``pipeline`` column). Internal control columns are the ``@private``
    analog and never exported."""
    target = args[0] if args else extra.get("target", "meta")
    fields: list[tuple[str, Sql]] = []
    for col_name, meta_key in _META_COLUMN_KEYS:
        if col_name in ctx.cols:
            fields.append((meta_key, ctx.col(col_name)))
    if "pipelineName" in extra and "pipeline" not in ctx.cols:
        fields.append(("systemPipelineName", lit(extra["pipelineName"])))
    fields.append(("systemProductTime", ctx.plan.time))
    ctx.set_col(flat_name(target), struct(fields))


# --------------------------------------------------------------------------
# Parsers: regex / grok / split / jsonDecode / jsonEncode
# --------------------------------------------------------------------------


def _apply_regex(ctx: _Ctx, key: str, to: str | None, pattern: str, extra: dict) -> None:
    """Named-group extraction in ONE regex pass.

    N × regexp_extract re-runs the automaton per group (measured 6-15×
    slower at 1M rows). Instead: regexp_replace the whole line with
    '$1SEP$2SEP...' and split — one pass, pure JVM, whole-stage codegen.
    A lazy ``^.*?`` prefix emulates Go's unanchored leftmost
    FindStringSubmatch (regex.go:70-116); match success is detected by
    the split arity.
    """
    src = _str(ctx.read(key))
    groups = named_groups(pattern)
    jpat = _java_pattern(pattern)
    n = len(groups)

    wrapped = jpat
    if not wrapped.startswith("^"):
        wrapped = "^(?s).*?" + wrapped
    if not wrapped.endswith("$"):
        wrapped = wrapped + "(?s).*$"

    # The split ARRAY is the kernel: inlined, the regex re-ran for every
    # reference (8-50× per row on the flagship), and one struct field per
    # group would still run it n+1 times (no subexpression elimination
    # inside a Generate; 4.9 s → 0.9 s on pl_grok_parse at sf0.1).
    # matched is a definite boolean: a NULL body (or a row the kernel
    # skipped) is the reference's GetString("") → no-match → action
    # error semantics.
    parr, matched = split_groups(
        src, wrapped, n, kernel=lambda parts: ctx.kernel(Sql(parts, ARRAY_STRING)).text
    )

    ignore_blank = extra.get("ignoreBlank", False)
    out_cols: list[tuple[str, Sql]] = []
    for gname, gidx in groups.items():
        val = f"get({parr}, {gidx})"
        if ignore_blank:
            val = f"CASE WHEN ({val} = '') THEN NULL ELSE {val} END"
        out_cols.append((gname, Sql(f"CASE WHEN {matched} THEN {val} END", STRING)))

    if to:
        ctx.set_col(flat_name(to), struct(out_cols))
    else:
        for k, v in out_cols:
            ctx.set_col(k, v)
    # regex.go:90-115 deletes the source key after a root extract
    if extra.get("deleteSrc", False) and key != "body":
        ctx.del_col(flat_name(key))
    ctx.apply_error_policy(_not(matched), extra)


@register_action("regex")
def _regex(ctx: _Ctx, args: list[str], extra: dict) -> None:
    to = args[1] if len(args) > 1 else None
    _apply_regex(ctx, args[0], to, extra["pattern"], extra)


@register_action("grok")
def _grok(ctx: _Ctx, args: list[str], extra: dict) -> None:
    # grok.go:125-148 — expand %{...} macros at plan time, then regex.
    # Macro precedence (grok.go:150-163): defaults < patternPaths files
    # < inline pattern dict.
    from loggie_spark.patterns import DEFAULT_GROK_PATTERNS, load_grok_pattern_paths

    from_files = (
        load_grok_pattern_paths(extra["patternPaths"])
        if extra.get("patternPaths")
        else {}
    )
    pats = {**DEFAULT_GROK_PATTERNS, **from_files, **(extra.get("patterns") or {})}
    pattern = expand_grok(extra["match"], patterns=pats)
    to = args[1] if len(args) > 1 else None
    merged_extra = {"ignoreBlank": extra.get("ignoreBlank", True), **extra}
    _apply_regex(ctx, args[0], to, pattern, merged_extra)


@register_action("split")
def _split(ctx: _Ctx, args: list[str], extra: dict) -> None:
    # split.go:72-100 — SplitN + zip with keys; arity mismatch = error.
    key = args[0]
    to = args[1] if len(args) > 1 else None
    sep: str = extra["separator"]
    keys: list[str] = extra["keys"]
    max_n: int = extra.get("max", -1)
    src = _str(ctx.read(key))
    # Java split limit: -1 = no limit; loggie max = number of pieces.
    parts = f"split({src}, {quote(re.escape(sep))}, {max_n if max_n > 0 else -1})"
    failed = f"(size({parts}) <> {len(keys)})"
    # get (not a [] subscript): ANSI mode throws on out-of-bounds
    # subscripts and arity-mismatched rows would kill the job instead of
    # following the error policy.
    if to:
        fields = [(k, Sql(f"get({parts}, {i})", STRING)) for i, k in enumerate(keys)]
        ctx.set_col(flat_name(to), struct(fields))
    else:
        for i, k in enumerate(keys):
            value = f"CASE WHEN {_not(failed)} THEN get({parts}, {i}) END"
            ctx.set_col(flat_name(k), Sql(value, STRING))
    ctx.apply_error_policy(failed, extra)


@register_action("jsonDecode")
def _json_decode(ctx: _Ctx, args: list[str], extra: dict) -> None:
    """Parse a JSON field (jsondecode.go:60-89).

    The reference is schemaless; Spark wants a schema. Two modes:
    * ``schema`` extra (DDL string) → typed struct, spliced to root or
      under ``to``.
    * no schema → ``map<string,string>`` parse; root splice requires a
      ``fields`` list naming the keys to lift.
    """
    key = args[0]
    to = args[1] if len(args) > 1 else None
    src = _str(ctx.read(key))
    schema = extra.get("schema")

    if schema:
        dtype = T._parse_datatype_string(schema)
        field_names = [f_.name for f_ in dtype.fields]
    else:
        schema, dtype = "map<string,string>", MAP_STRING
        field_names = extra.get("fields") or []
        if to is None and not field_names:
            raise ValueError("schemaless jsonDecode to root needs a 'fields' list")

    # The PARSED VALUE is the kernel: one from_json per row, not one per
    # lifted field or reader (same lesson as _apply_regex's array).
    parsed = ctx.kernel(Sql(f"from_json({src}, {quote(schema)})", dtype))
    failed = f"(({parsed.text} IS NULL) AND ({src} IS NOT NULL))"
    ctx.apply_error_policy(failed, extra)
    if to:
        ctx.set_col(flat_name(to), parsed)
    else:
        for n in field_names:
            ctx.set_col(flat_name(n), item(parsed, n))

    if extra.get("deleteSrc", True) and key != "body":
        ctx.del_col(flat_name(key))


@register_action("jsonEncode")
def _json_encode(ctx: _Ctx, args: list[str], extra: dict) -> None:
    key = args[0]
    to = args[1] if len(args) > 1 else key
    ctx.set_col(flat_name(to), Sql(f"to_json({ctx.read(key).text})", STRING))


# --------------------------------------------------------------------------
# String / type transforms
# --------------------------------------------------------------------------


@register_action("replace")
def _replace(ctx: _Ctx, args: list[str], extra: dict) -> None:
    key = args[0]
    old, new = extra["old"], extra["new"]
    max_n = int(extra.get("max", -1))
    src = _str(ctx.read(key))
    if max_n < 0:
        out = f"replace({src}, {quote(old)}, {quote(new)})"
    else:
        # Replace only the first max_n occurrences: split with limit
        # max_n+1 (Java semantics: last element keeps the remainder,
        # untouched separators included) and rejoin with the new text.
        out = f"array_join(split({src}, {quote(re.escape(old))}, {max_n + 1}), {quote(new)})"
    ctx.set_col(flat_name(key), Sql(out, STRING))


@register_action("replaceRegex")
def _replace_regex(ctx: _Ctx, args: list[str], extra: dict) -> None:
    key = args[0]
    src = _str(ctx.read(key))
    out = f"regexp_replace({src}, {quote(extra['expression'])}, {quote(extra['replace'])})"
    ctx.set_col(flat_name(key), Sql(out, STRING))


_STRCONV_TYPES = {"bool": BOOLEAN, "int": LONG, "float": T.DoubleType()}


@register_action("strconv")
def _strconv(ctx: _Ctx, args: list[str], extra: dict) -> None:
    # strconv.go:64-74 — string → bool/int/float, error when invalid.
    #
    # keepOriginal=True maps normalize/convert.go:101-131: the reference
    # stores into a dynamic map, so a failed parse KEEPS the original
    # string while successes hold the typed value. A typed Spark column
    # can't hold both, so the faithful mapping is a STRING column:
    # successes render canonically (ints base-10, floats Go-'g' via
    # gofmt, bools true/false — i.e. what the reference's json/toStr
    # sink encoding would emit) and failures keep the original bytes.
    # Documented divergences from Go parsing: Spark's try_cast trims
    # surrounding whitespace (Go ParseInt(" 7") fails) and accepts
    # y/yes/n/no for bools (Go ParseBool doesn't).
    key, typ = args[0], args[1]
    dtype = _STRCONV_TYPES[typ]
    src = ctx.read(key)
    # ANSI-safe: malformed → null → error policy
    cast = f"TRY_CAST({src.text} AS {dtype.simpleString()})"
    if extra.get("keepOriginal"):
        from loggie_spark.functions.gofmt import go_float_sql

        if typ == "float":
            rendered = go_float_sql(cast)
        elif typ == "bool":
            # Two-sided: a NULL cast must stay NULL (an ELSE would
            # swallow parse failures into 'false').
            rendered = f"CASE WHEN {cast} THEN 'true' WHEN (NOT {cast}) THEN 'false' END"
        else:
            rendered = f"CAST({cast} AS STRING)"
        ctx.set_col(flat_name(key), Sql(f"coalesce({rendered}, {_str(src)})", STRING))
        return
    failed = f"(({cast} IS NULL) AND ({src.text} IS NOT NULL))"
    # Policy before the overwrite: the overwrite is gated by it.
    ctx.apply_error_policy(failed, extra)
    ctx.set_col(flat_name(key), Sql(cast, dtype))


@register_action("toStr")
def _to_str(ctx: _Ctx, args: list[str], extra: dict) -> None:
    """tostr.go:123-152: bools → "true"/"false", ints → base-10, floats
    → Go 'g' shortest formatting (functions/gofmt.py reproduces
    strconv.FormatFloat(v, 'g', -1, bits) in Catalyst)."""
    from loggie_spark.functions.gofmt import go_float_sql

    src = ctx.read(args[0])
    if isinstance(src.dtype, (T.DoubleType, T.FloatType)):
        out = go_float_sql(src.text)
    else:
        out = _str(src)
    ctx.set_col(flat_name(args[0]), Sql(out, STRING))


@register_action("timestamp")
def _timestamp(ctx: _Ctx, args: list[str], extra: dict) -> None:
    """Reparse a time field between layouts / unix / unix_ms
    (action/timestamp.go:72-116; Go layouts → JVM via go_layout_to_jvm).

    ``fromLocation``/``toLocation`` (timestamp.go:97-109, IANA names):
    the input wall time is interpreted in fromLocation (unless the
    layout itself carries a zone) and the output rendered in
    toLocation. The session timezone is UTC (session.py), so
    ``to_utc_timestamp``/``from_utc_timestamp`` implement exactly Go's
    ParseInLocation → timeutil.Format(loc) pair.
    """
    key = args[0]
    from_layout = extra.get("fromLayout", "")
    to_layout = extra.get("toLayout", "")
    from_loc = extra.get("fromLocation", "")
    to_loc = extra.get("toLocation", "")
    src = ctx.read(key)

    if from_layout == "unix":
        ts = f"timestamp_seconds(TRY_CAST({src.text} AS BIGINT))"
    elif from_layout == "unix_ms":
        ts = f"timestamp_millis(TRY_CAST({src.text} AS BIGINT))"
    else:
        ts = f"try_to_timestamp({_str(src)}, {quote(go_layout_to_jvm(from_layout))})"
        if from_loc and from_loc != "UTC":
            # Layouts with an explicit zone already parse absolutely;
            # fromLocation applies to zone-less wall times (Go
            # ParseInLocation semantics — zone in the string wins).
            ts = f"to_utc_timestamp({ts}, {quote(from_loc)})"

    failed = f"(({ts} IS NULL) AND ({src.text} IS NOT NULL))"
    ctx.apply_error_policy(failed, extra)  # before the overwrite it gates
    if to_layout == "unix":
        out = Sql(f"CAST({ts} AS BIGINT)", LONG)
    elif to_layout == "unix_ms":
        out = Sql(f"unix_millis({ts})", LONG)
    else:
        if to_loc and to_loc != "UTC":
            ts = f"from_utc_timestamp({ts}, {quote(to_loc)})"
        out = Sql(f"date_format({ts}, {quote(go_layout_to_jvm(to_layout))})", STRING)
    ctx.set_col(flat_name(key), out)


@register_action("fmt")
def _fmt(ctx: _Ctx, args: list[str], extra: dict) -> None:
    text = pattern_sql(
        extra["pattern"], ctx.plan.time.text, ctx.plan.env, path=lambda p: ctx.read(p).text
    )
    ctx.set_col(flat_name(args[0]), Sql(text, STRING))


@register_action("fmtKey")
def _fmt_key(ctx: _Ctx, args: list[str], extra: dict) -> None:
    # fmtkey.go:83-101 — rename keys matching regex; plan-time rename.
    if not ctx.unconditional:
        raise ValueError("fmtKey inside a conditional is not supported")
    pat = re.compile(extra["regex"])
    ctx.cols = {pat.sub(extra["replace"], c): v for c, v in ctx.cols.items()}


# --------------------------------------------------------------------------
# Program driver
# --------------------------------------------------------------------------


def apply_program(
    df: DataFrame,
    program: list[dict],
    time_col: str | None = None,
    env: dict[str, str] | None = None,
) -> DataFrame:
    """Compile an action program onto ``df`` (every row runs it);
    dropped rows are removed. ``time_col`` names the processing-time
    column (default ``current_timestamp()``)."""
    plan = Plan(df, time_col=time_col, env=env)
    ctx = plan.root()
    ctx.run(program)
    return plan.frame(ctx)
