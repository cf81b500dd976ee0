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


def truncate_utf8_bytes(col: Column | str, max_bytes: int) -> Column:
    """Truncate a string column at the first UTF-8 rune boundary >=
    ``max_bytes`` (exact subUtf8 semantics, incl. the keep-straddling-
    rune and run-off-the-end cases)."""
    s = F.col(col) if isinstance(col, str) else col
    raw = s.cast("binary")
    n = F.octet_length(s)

    def is_rune_start(pos: int) -> Column:
        # utf8.RuneStart(b) == (b & 0xC0) != 0x80; pos is 1-indexed.
        v = F.conv(F.hex(F.substring(raw, pos, 1)), 16, 10).cast("int")
        return (v < 0x80) | (v >= 0xC0)

    # Go: for i := maxBytes; i < len; i++ { if RuneStart(bytes[i]) ->
    # bytes[:i] }. A UTF-8 rune is <= 4 bytes, so only positions
    # maxBytes..maxBytes+3 (0-indexed) can be the cut; guard each
    # position against the end of the string (no break -> keep all).
    cut = (
        F.when(is_rune_start(max_bytes + 1), F.lit(max_bytes))
        .when(n == max_bytes + 1, n)
        .when(is_rune_start(max_bytes + 2), F.lit(max_bytes + 1))
        .when(n == max_bytes + 2, n)
        .when(is_rune_start(max_bytes + 3), F.lit(max_bytes + 2))
        .when(n == max_bytes + 3, n)
        .otherwise(F.lit(max_bytes + 3))
    )
    # Column.substr on the binary cast slices BYTES with a Column length.
    return F.when(s.isNull() | (n <= max_bytes), s).otherwise(
        raw.substr(F.lit(1), cut).cast("string")
    )

