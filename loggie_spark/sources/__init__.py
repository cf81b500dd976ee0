from loggie_spark.sources.readers import (
    read_table,
    with_addon_meta,
    decode_json_codec,
    decode_regex_codec,
)

__all__ = [
    "read_table",
    "with_addon_meta",
    "decode_json_codec",
    "decode_regex_codec",
]
