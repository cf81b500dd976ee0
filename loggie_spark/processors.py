"""`normalize` interceptor processors — the deprecated twin of the
transformer (pkg/interceptor/normalize/interceptor.go:29,95-108).

Each processor is config-compatible with the reference's YAML shape
(an ordered list of {name: {params}} entries) and compiles onto the
same action engine, so both dialects share one implementation:

    normalize:
      processors:
        - regex:   {pattern: ..., target: body}
        - add:     {fields: {a: b}}
        - convert: {convert: [{from: x, to: int}]}

maps 1:1 onto transformer actions (SURVEY.md §2.2 table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from loggie_spark.actions import apply_program


def _regex(p: dict) -> list[dict]:
    step = {"action": f"regex({p.get('target', 'body')})", "pattern": p["pattern"]}
    if p.get("ignoreBlank"):
        step["ignoreBlank"] = True
    return [step]


def _json_decode(p: dict) -> list[dict]:
    step = {"action": f"jsonDecode({p.get('target', 'body')})"}
    for k in ("fields", "schema"):
        if k in p:
            step[k] = p[k]
    return [step]


def _split(p: dict) -> list[dict]:
    return [
        {
            "action": f"split({p.get('target', 'body')})",
            "separator": p["separator"],
            "keys": p["keys"],
            "max": p.get("max", -1),
        }
    ]


def _add(p: dict) -> list[dict]:
    return [{"action": f"add({k}, {v})"} for k, v in p.get("fields", {}).items()]


def _copy(p: dict) -> list[dict]:
    return [
        {"action": f"copy({c['from']}, {c['to']})"} for c in p.get("convert", p.get("copy", []))
    ]


def _rename(p: dict) -> list[dict]:
    return [
        {"action": f"move({c['from']}, {c['to']})"} for c in p.get("convert", p.get("rename", []))
    ]


def _drop(p: dict) -> list[dict]:
    return [{"action": "del(" + ", ".join(p.get("targets", [])) + ")"}]


def _under_root(p: dict) -> list[dict]:
    return [{"action": f"underRoot({k})"} for k in p.get("keys", [])]


def _convert(p: dict) -> list[dict]:
    # convert.go:101-131 keeps the ORIGINAL string when Parse* fails
    # (the reference event is a dynamic map, so one field can hold
    # either type). A typed Spark column can't, so the default mapping
    # is typed + NULL-on-failure (strconv/ignoreError) — a documented
    # divergence that preserves the typed result every all-parse
    # pipeline observes. Opting in with ``keepOriginal: true`` (per
    # entry or processor-wide) selects the faithful mode: a string
    # column of canonical renderings with original bytes on failure.
    keep_all = p.get("keepOriginal", False)
    out = []
    for c in p.get("convert", []):
        step = {"action": f"strconv({c['from']}, {c['to']})"}
        if c.get("keepOriginal", keep_all):
            step["keepOriginal"] = True
        else:
            step["ignoreError"] = True
        out.append(step)
    return out


def _timestamp(p: dict) -> list[dict]:
    out = []
    for c in p.get("convert", []):
        out.append(
            {
                "action": f"timestamp({c['from']})",
                "fromLayout": c.get("fromLayout", ""),
                "toLayout": c.get("toLayout", ""),
            }
        )
    return out


def _fmt(p: dict) -> list[dict]:
    return [
        {"action": f"fmt({k})", "pattern": v} for k, v in p.get("fields", {}).items()
    ]


def _add_meta(p: dict) -> list[dict]:
    # Full meta-under-target semantics live in the addMeta action
    # (addmeta.go:66-108) — schema-aware, all non-@private meta fields.
    step = {"action": f"addMeta({p.get('target', 'meta')})"}
    if "pipelineName" in p:
        step["pipelineName"] = p["pipelineName"]
    return [step]


_PROCESSORS = {
    "regex": _regex,
    "jsonDecode": _json_decode,
    "split": _split,
    "add": _add,
    "copy": _copy,
    "rename": _rename,
    "drop": _drop,
    "underRoot": _under_root,
    "convert": _convert,
    "timestamp": _timestamp,
    "fmt": _fmt,
    "addMeta": _add_meta,
}


def compile_processors(processors: list[dict]) -> list[dict]:
    """Ordered processor list → action program."""
    program: list[dict] = []
    for entry in processors:
        if len(entry) != 1:
            raise ValueError(f"processor entry must have exactly one key: {entry}")
        name, params = next(iter(entry.items()))
        if name not in _PROCESSORS:
            raise KeyError(f"unknown normalize processor: {name}")
        program.extend(_PROCESSORS[name](params or {}))
    return program


def apply_processors(df: DataFrame, processors: list[dict]) -> DataFrame:
    return apply_program(df, compile_processors(processors))
