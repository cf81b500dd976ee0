"""Plan-time compilers for loggie's three little languages.

All three run at *plan build time* (pure Python producing SQL text,
sqltext.py) — nothing here executes per row in Python:

1. ``${...}`` pattern rendering (pkg/util/pattern/pattern.go:28-41):
   the router DSL used for kafka topics / ES indexes / file paths.
   Compiled to a ``concat`` of literals, column refs,
   ``date_format`` calls, and env-var literals.
2. Grok macro expansion (pkg/interceptor/transformer/action/grok.go:40-62,
   150-173): ``%{NAME:field}`` macros expand recursively into one plain
   named-group regex, which then compiles like any regex action.
3. Go named groups ``(?<n>...)`` → Python/Java ``(?P<n>...)``
   (pkg/util/regex.go MustCompilePatternWithJavaStyle) and Go time
   layouts (``2006-01-02``) → JVM patterns (``yyyy-MM-dd``)
   (pkg/interceptor/normalize/timestamp.go:112-131).
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from loggie_spark.fieldpath import path_sql
from loggie_spark.sqltext import ident, quote

# --------------------------------------------------------------------------
# Grok (grok.go:40-62 DefaultgrokPattern, ported as data)
# --------------------------------------------------------------------------

DEFAULT_GROK_PATTERNS: dict[str, str] = {
    "USERNAME": r"[a-zA-Z0-9._-]+",
    "USER": r"%{USERNAME}",
    "INT": r"(?:[+-]?(?:[0-9]+))",
    "WORD": r"\b\w+\b",
    "UUID": r"[A-Fa-f0-9]{8}-(?:[A-Fa-f0-9]{4}-){3}[A-Fa-f0-9]{12}",
    "IPV4": r"(?:(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\.){3}(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)",
    "PATH": r"(?:%{UNIXPATH}|%{WINPATH})",
    "UNIXPATH": r"(/[\w_%!$@:.,-]?/?)(\S+)?",
    "WINPATH": r"([A-Za-z]:|\\)(?:\\[^\\?*]*)+",
    "MONTHNUM": r"(?:0?[1-9]|1[0-2])",
    "MONTHDAY": r"(?:(?:0[1-9])|(?:[12][0-9])|(?:3[01])|[1-9])",
    "YEAR": r"(\d\d){1,2}",
    "DATE_US": r"%{MONTHNUM}[/-]%{MONTHDAY}[/-]%{YEAR}",
    "DATE_EU": r"%{MONTHDAY}[./-]%{MONTHNUM}[./-]%{YEAR}",
    "DATE_CN": r"%{YEAR}[./-]%{MONTHNUM}[./-]%{MONTHDAY}",
    "DATE": r"%{DATE_US}|%{DATE_EU}|%{DATE_CN}",
    "HOUR": r"(?:2[0123]|[01]?[0-9])",
    "MINUTE": r"(?:[0-5][0-9])",
    "SECOND": r"(?:(?:[0-5][0-9]|60)(?:[:.,][0-9]+)?)",
    "TIME": r"([^0-9]?)%{HOUR}:%{MINUTE}(?::%{SECOND})([^0-9]?)",
    "DATESTAMP": r"%{DATE}[- ]%{TIME}",
}

_GROK_MACRO = re.compile(r"%\{(\w+)(?::(\w+))?\}")


def load_grok_pattern_paths(paths: list[str]) -> dict[str, str]:
    """Load custom grok macro tables from pattern files
    (grok.go:189-236 loadPatterns/parseFiles): each path is a directory
    of pattern files (or a single file); every non-blank, non-comment
    line is ``NAME<whitespace>regex``. Loaded once at plan time.
    http(s) URLs (grok.go:191-199) are rejected — plan-time fetches
    from the driver are not a batch-engine concern."""
    out: dict[str, str] = {}

    def parse_file(fp: str) -> None:
        with open(fp, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if not line or line.startswith("#"):
                    continue
                parts = line.split(None, 1)
                if len(parts) == 2:
                    out[parts[0]] = parts[1]

    for p in paths:
        if p.startswith(("http://", "https://")):
            raise ValueError(f"grok patternPaths over http not supported: {p}")
        if os.path.isdir(p):
            for name in sorted(os.listdir(p)):
                fp = os.path.join(p, name)
                if os.path.isfile(fp):
                    parse_file(fp)
        elif os.path.isfile(p):
            parse_file(p)
    return out


def suppress_unnamed_groups(pattern: str) -> str:
    """Turn every unnamed capturing ``(`` into ``(?:``, keeping named
    groups. Grok macro tables carry stray capture groups (e.g. YEAR
    ``(\\d\\d){1,2}``) that inflate group indexes past what engines
    like DuckDB allow (0-9) and cost the regex engine capture slots;
    only the named groups are ever extracted."""
    out: list[str] = []
    i = 0
    in_class = False
    while i < len(pattern):
        ch = pattern[i]
        if ch == "\\" and i + 1 < len(pattern):
            out.append(pattern[i : i + 2])
            i += 2
            continue
        if in_class:
            if ch == "]":
                in_class = False
            out.append(ch)
            i += 1
            continue
        if ch == "[":
            in_class = True
            out.append(ch)
            i += 1
            continue
        if ch == "(" and not pattern.startswith("(?", i):
            out.append("(?:")
            i += 1
            continue
        out.append(ch)
        i += 1
    return "".join(out)


def expand_grok(match: str, patterns: dict[str, str] | None = None, _depth: int = 0) -> str:
    """Expand ``%{NAME}`` / ``%{NAME:field}`` macros into one regex.

    ``%{NAME:field}`` becomes a named group ``(?P<field>...)``;
    ``%{NAME}`` expands anonymously. Recursion bound mirrors the
    reference compiler's repeated-substitution loop (grok.go:150-173).
    """
    if _depth > 20:
        raise ValueError("grok pattern recursion too deep (cyclic macro?)")
    pats = patterns if patterns is not None else DEFAULT_GROK_PATTERNS

    def repl(m: re.Match) -> str:
        name, field = m.group(1), m.group(2)
        if name not in pats:
            raise KeyError(f"unknown grok pattern %{{{name}}}")
        inner = expand_grok(pats[name], pats, _depth + 1)
        # Anonymous expansion must not capture: strip inner *named*
        # groups only when un-fielded (the Go impl numbers them away).
        if field:
            return f"(?P<{field}>{inner})"
        return f"(?:{inner})"

    expanded = _GROK_MACRO.sub(repl, match)
    if _depth == 0:
        # Final pass: only the %{NAME:field} groups stay capturing.
        expanded = suppress_unnamed_groups(expanded)
    return expanded


# --------------------------------------------------------------------------
# Named-group regex handling (Go/Java (?<n>) vs Python (?P<n>))
# --------------------------------------------------------------------------

_JAVA_GROUP = re.compile(r"\(\?<([a-zA-Z][a-zA-Z0-9_]*)>")


def normalize_named_groups(pattern: str) -> str:
    """Accept Go/Java-style ``(?<n>…)`` and return Python/Java-portable
    ``(?P<n>…)`` (pkg/util/regex.go accepts both spellings)."""
    return _JAVA_GROUP.sub(r"(?P<\1>", pattern)


def named_groups(pattern: str) -> dict[str, int]:
    """Map group name → 1-based group index (for ``regexp_extract``)."""
    return dict(re.compile(normalize_named_groups(pattern)).groupindex)


# --------------------------------------------------------------------------
# Go time layout → JVM datetime pattern
# --------------------------------------------------------------------------

# Longest-match-first translation of Go's reference time
# "Mon Jan 2 15:04:05 MST 2006" components to JVM DateTimeFormatter.
_GO_LAYOUT_TABLE: list[tuple[str, str]] = [
    ("2006", "yyyy"),
    ("01", "MM"),
    ("02", "dd"),
    ("15", "HH"),
    ("04", "mm"),
    ("05", "ss"),
    (".000000000", ".SSSSSSSSS"),
    (".000000", ".SSSSSS"),
    (".000", ".SSS"),
    ("January", "MMMM"),
    ("Jan", "MMM"),
    ("Monday", "EEEE"),
    ("Mon", "EEE"),
    ("-07:00", "XXX"),
    ("-0700", "Z"),
    ("Z07:00", "XXX"),
    ("MST", "zzz"),
    ("PM", "a"),
    ("06", "yy"),
    ("1", "M"),
    ("2", "d"),
    ("3", "h"),
]


def go_layout_to_jvm(layout: str) -> str:
    """Translate a Go time layout to a JVM DateTimeFormatter pattern.

    ``unix`` / ``unix_ms`` are handled upstream (timestamp.go:79-106);
    this covers the string-layout cases used by the timestamp
    action/processor.
    """
    out: list[str] = []
    i = 0
    while i < len(layout):
        for go, jvm in _GO_LAYOUT_TABLE:
            if layout.startswith(go, i):
                out.append(jvm)
                i += len(go)
                break
        else:
            ch = layout[i]
            # Quote letters that would otherwise be pattern chars.
            out.append(f"'{ch}'" if ch.isalpha() else ch)
            i += 1
    return "".join(out)


# --------------------------------------------------------------------------
# ${...} pattern rendering → SQL text (pattern.go:28-41,62-89)
# --------------------------------------------------------------------------

_PATTERN_TOKEN = re.compile(r"\$\{(.+?)\}")


def k8s_token_column(token: str) -> str:
    """Column-name convention for ``${_k8s.*}`` tokens (k8meta.go:28-31,
    85-130): the addK8sMeta broadcast enrich lands pod/node metadata in
    columns named ``k8s_<field path with _>`` — e.g. ``_k8s.pod.name``
    → ``k8s_pod_name``, ``_k8s.pod.container.id`` →
    ``k8s_pod_container_id``."""
    return "k8s_" + token[len("_k8s.") :].replace(".", "_")


def pattern_sql(
    pattern: str,
    time: str | None = None,
    env: dict[str, str] | None = None,
    path: Callable[[str], str] = path_sql,
) -> str:
    """Compile a ``${...}`` routing pattern into string SQL text;
    ``path`` gives a field path's text, ``time`` the processing-time
    text (default ``current_timestamp()``).

    - ``${a.b}``       → header/field path (fieldpath DSL, so
      ``${a.[b.c]}`` bracket-escaped keys resolve like everywhere else)
    - ``${+YYYY.MM.dd}`` → ``date_format(time, ...)`` — the time the
      event is *processed*; pass an explicit time column for
      deterministic tests
    - ``${_env.X}``    → environment variable, resolved at plan time
    - ``${_k8s.X}``    → k8s discovery metadata column (addK8sMeta
      enrich must have run); missing values render "" like the
      reference's K8sMatcherRender (k8meta.go:86-103)

    Joda-ish tokens used by loggie (YYYY/MM/dd/HH/mm/ss) map onto JVM
    pattern letters (YYYY → yyyy).
    """
    env = env if env is not None else os.environ
    tcol = time or "current_timestamp()"

    parts: list[str] = []
    pos = 0
    for m in _PATTERN_TOKEN.finditer(pattern):
        if m.start() > pos:
            parts.append(quote(pattern[pos : m.start()]))
        token = m.group(1)
        if token.startswith("+"):
            fmt = token[1:].replace("YYYY", "yyyy").replace("DD", "dd")
            parts.append(f"date_format({tcol}, {quote(fmt)})")
        elif token.startswith("_env."):
            parts.append(quote(env.get(token[5:], "")))
        elif token.startswith("_k8s."):
            parts.append(f"coalesce(CAST({ident(k8s_token_column(token))} AS STRING), '')")
        else:
            parts.append(f"CAST({path(token)} AS STRING)")
        pos = m.end()
    if pos < len(pattern):
        parts.append(quote(pattern[pos:]))
    if not parts:
        return "''"
    if len(parts) == 1:
        return parts[0]
    return f"concat({', '.join(parts)})"


def compile_pattern(
    pattern: str, time_col: str | None = None, env: dict[str, str] | None = None
) -> Column:
    """A ``${...}`` pattern as a string Column over the frame's own
    columns (:func:`pattern_sql`); ``time_col`` names the processing-time
    column (default ``current_timestamp()``)."""
    return F.expr(pattern_sql(pattern, ident(time_col) if time_col else None, env))


def extract_pattern(value: str, pattern: str) -> dict[str, Column]:
    """Inverse rendering (pattern.go:219-283 GetSplits/Extract): parse
    field values back out of the composed string in column ``value``.
    Used by addK8sMeta to pull e.g. a pod uid out of a log path shaped
    like ``/var/log/pods/${namespace}_${podname}_${poduid}/...``.

    Compiles to ONE regexp pass (:func:`split_groups`, shared with the
    regex action — the literal segments become the regex skeleton, each
    ``${field}`` a lazy capture).
    """
    fields: list[str] = []
    regex_parts: list[str] = ["^"]
    pos = 0
    for m in _PATTERN_TOKEN.finditer(pattern):
        if m.start() > pos:
            regex_parts.append(re.escape(pattern[pos : m.start()]))
        token = m.group(1)
        if token.startswith(("+", "_env.")):
            regex_parts.append(r".*?")
        else:
            fields.append(token)
            regex_parts.append(r"(.*?)")
        pos = m.end()
    if pos < len(pattern):
        regex_parts.append(re.escape(pattern[pos:]))
    regex_parts.append("$")
    rx = "".join(regex_parts)

    parts, ok = split_groups(ident(value), rx, len(fields))
    return {
        f: F.expr(f"CASE WHEN {ok} THEN get({parts}, {i + 1}) END") for i, f in enumerate(fields)
    }


# Multi-byte sentinels of the one-pass extraction; a collision with
# real log content is negligible and only degrades that row to a
# non-match.
_XSEP = "\x01\x00\x02"
_XMARK = "\x02\x06\x03"


def split_groups(
    value: str, regex: str, n: int, kernel: Callable[[str], str] | None = None
) -> tuple[str, str]:
    """All ``n`` capture groups of a whole-string ``regex`` over the
    string SQL ``value`` in ONE pass: regexp_replace the value with
    ``MARK SEP $1 SEP $2 ...`` and split on SEP. Returns the SQL text
    ``(parts, matched)``: ``get(parts, i)`` is group i, and ``matched``
    is a definite boolean (false for a NULL value or a non-match).
    ``kernel`` maps the split array's text before it is read (the regex
    action computes it once in the parse Generate).

    The leading marker tells a real match from a value that merely
    splits into n+1 parts (a non-matching line is itself a 1-element
    split)."""
    repl = _XMARK + _XSEP + _XSEP.join(f"${i}" for i in range(1, n + 1))
    parts = f"split(regexp_replace({value}, {quote(regex)}, {quote(repl)}), {quote(_XSEP)})"
    if kernel is not None:
        parts = kernel(parts)
    matched = f"coalesce((size({parts}) = {n + 1} AND get({parts}, 0) = {quote(_XMARK)}), false)"
    return parts, matched


def pattern_fields(pattern: str) -> list[str]:
    """Header fields referenced by a pattern (used for strict-mode
    null checks and the kafka ifRenderTopicFailed policy). ``_k8s.*``
    tokens are excluded like ``_env.`` — the reference renders them
    outside header strict-validation (k8meta.go K8sMatcherRender
    returns "" rather than erroring)."""
    return [
        m.group(1)
        for m in _PATTERN_TOKEN.finditer(pattern)
        if not m.group(1).startswith(("+", "_env.", "_k8s."))
    ]


def strict_ok_sql(pattern: str) -> str:
    """Boolean SQL text: every field placeholder renders non-empty
    (strict mode, pattern.go:149-151,182-184)."""
    cond = ["true"]
    for f_ in pattern_fields(pattern):
        c = f"CAST({path_sql(f_)} AS STRING)"
        cond += [f"({c} IS NOT NULL)", f"({c} <> '')"]
    return cond[0] if len(cond) == 1 else "(" + " AND ".join(cond) + ")"


def pattern_is_strict_ok(pattern: str) -> Column:
    """Column predicate of :func:`strict_ok_sql`."""
    return F.expr(strict_ok_sql(pattern))
