"""UTF-8-byte-safe truncation (the reference's default ``maxbytes``
interceptor, pkg/interceptor/maxbytes/interceptor.go:76-115).

``subUtf8`` (interceptor.go:107-115) cuts at the FIRST rune-start byte
at-or-after maxBytes — it keeps a code point that straddles the limit,
so the result can exceed maxBytes by up to 3 bytes; if the scan runs
off the end the value is kept whole. Reproduced here as a pure
Catalyst expression (byte slicing on the binary cast + a bounded
4-position boundary scan), so the default-injected interceptor costs a
few comparisons inside whole-stage codegen — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from loggie_spark.sqltext import ident


def truncate_utf8_sql(s: str, max_bytes: int) -> str:
    """SQL text truncating the string SQL ``s`` at the first UTF-8 rune
    boundary >= ``max_bytes`` (exact subUtf8 semantics, incl. the
    keep-straddling-rune and run-off-the-end cases)."""
    raw = f"CAST({s} AS BINARY)"
    n = f"octet_length({s})"

    def is_rune_start(pos: int) -> str:
        # utf8.RuneStart(b) == (b & 0xC0) != 0x80; pos is 1-indexed.
        v = f"CAST(conv(hex(substring({raw}, {pos}, 1)), 16, 10) AS INT)"
        return f"(({v} < {0x80}) OR ({v} >= {0xC0}))"

    # Go: for i := maxBytes; i < len; i++ { if RuneStart(bytes[i]) ->
    # bytes[:i] }. A UTF-8 rune is <= 4 bytes, so only positions
    # maxBytes..maxBytes+3 (0-indexed) can be the cut; guard each
    # position against the end of the string (no break -> keep all).
    m = max_bytes
    cut = (
        f"CASE WHEN {is_rune_start(m + 1)} THEN {m} WHEN ({n} = {m + 1}) THEN {n} "
        f"WHEN {is_rune_start(m + 2)} THEN {m + 1} WHEN ({n} = {m + 2}) THEN {n} "
        f"WHEN {is_rune_start(m + 3)} THEN {m + 2} WHEN ({n} = {m + 3}) THEN {n} "
        f"ELSE {m + 3} END"
    )
    # substr on the binary cast slices BYTES.
    return (
        f"CASE WHEN (({s} IS NULL) OR ({n} <= {m})) THEN {s} "
        f"ELSE CAST(substr({raw}, 1, {cut}) AS STRING) END"
    )


def truncate_utf8_bytes(col: str, max_bytes: int) -> Column:
    """Column ``col`` truncated by :func:`truncate_utf8_sql`."""
    return F.expr(truncate_utf8_sql(ident(col), max_bytes))
