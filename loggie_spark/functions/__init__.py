from loggie_spark.functions.tokens import (
    decode_batch,
    decode_tokens_arrow,
    encode_text_to_tokens,
)
from loggie_spark.functions.truncate import truncate_utf8_bytes

__all__ = [
    "decode_batch",
    "decode_tokens_arrow",
    "encode_text_to_tokens",
    "truncate_utf8_bytes",
]
