"""Token-array ⇄ text codecs (the "body" decode of the parse stage).

Input contract (BASELINE input_hint): ``tokens: array<int32>`` holds the
UTF-8 bytes of the rendered log line, one int per byte. The per-row
invariant against the reference is token-array equality, so both
directions must be lossless.

One decoder, :func:`decode_batch`, turns a whole Arrow ``ListArray`` of
tokens into a ``StringArray``; both decode paths call it:

* :func:`decode_tokens_arrow` — in-plan, a scalar Arrow UDF over the
  token column, so only ``tokens`` crosses into Python and only
  ``body`` comes back (Catalyst prunes ``tokens`` downstream when
  nothing reads it).
* ``sources.arrow_reader.read_sequences_arrow`` — in-task, over the
  row groups it reads with pyarrow.

Each token is taken mod 256 (``x & 0xFF``) as one byte, and bytes that
are not valid UTF-8 become U+FFFD, so the result is always valid UTF-8
and never depends on which rows share a batch.

Mirrors the reference's source-side body handling: events carry a raw
byte body (pkg/core/api/base.go:61-70) that codecs/interceptors decode
(pkg/source/codec/json/json.go:28-37).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, StringType


def decode_batch(tokens: pa.ListArray) -> pa.StringArray:
    """array<int32> of UTF-8 byte values → string, one Arrow batch at a
    time.

    The int32 values are cast to uint8 and reused as the data buffer of
    a StringArray with the same (rebased) offsets and validity, so NULL
    lists stay NULL and sliced arrays need no copy of the lists. The
    result is validated in full; only if some row is not valid UTF-8
    is the batch decoded row by row with U+FFFD replacement. A NULL
    token inside a list counts as byte 0.
    """
    start = tokens.offsets[0]
    offsets = pc.subtract(tokens.offsets, start)
    values = tokens.values.slice(start.as_py(), offsets[-1].as_py()).fill_null(0)
    data = values.to_numpy(zero_copy_only=False).astype(np.uint8)
    valid = tokens.is_valid() if tokens.null_count else None
    body = pa.StringArray.from_buffers(
        len(tokens),
        offsets.buffers()[1],
        pa.py_buffer(data),
        None if valid is None else valid.buffers()[1],
    )
    try:
        body.validate(full=True)
    except pa.ArrowInvalid:
        bounds = offsets.to_numpy()
        is_valid = [True] * len(tokens) if valid is None else valid.to_pylist()
        body = pa.array(
            [
                data[bounds[i] : bounds[i + 1]].tobytes().decode("utf-8", "replace")
                if ok
                else None
                for i, ok in enumerate(is_valid)
            ],
            type=pa.string(),
        )
    return body


# Un-annotated lambda: arrow_udf infers its kind from type hints and
# accepts only ``pa.Array`` there; no hints means a scalar Arrow UDF.
_decode_udf = F.arrow_udf(lambda tokens: decode_batch(tokens), StringType())


@F.pandas_udf(ArrayType(IntegerType()))
def encode_text_to_tokens(text: pd.Series) -> pd.Series:
    """string → array<int32> of its UTF-8 bytes (lossless inverse)."""
    return pd.Series(
        [None if s is None else [int(b) for b in s.encode("utf-8")] for s in text],
        dtype="object",
    )


def decode_tokens_arrow(
    df, tokens_col: str = "tokens", out_col: str = "body", keep_tokens: bool = True
):
    """``df`` with ``out_col`` = :func:`decode_batch` of ``tokens_col``.

    ``keep_tokens=False`` drops the token column from the result; jobs
    that write routed rows keep it (token-array equality at the sink).
    """
    out = df.withColumn(out_col, _decode_udf(F.col(tokens_col)))
    return out if keep_tokens else out.drop(tokens_col)


def encode_text_to_tokens_ascii(text: Column | str) -> Column:
    """JVM-only :func:`encode_text_to_tokens` for ASCII input.

    ``split(s, '')`` can yield a trailing empty string (Java split with
    limit -1), so empties are filtered before ``ascii``.
    """
    col = F.col(text) if isinstance(text, str) else text
    chars = F.filter(F.split(col, ""), lambda ch: ch != "")
    return F.transform(chars, lambda ch: F.ascii(ch))
