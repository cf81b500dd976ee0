"""Source layer — scans and source-side codecs.

In batch Spark the "file source" IS the table scan: glob watching,
offset checkpointing and multiline merging (pkg/source/file/, ~4k LoC)
collapse into ``spark.read`` + the checkpoint manifest. What survives
as real code:

* addonMeta (source.go:258-312): filename/offset/hostname columns
* the ``dev`` synthetic source (dev/source.go:83-99) → datagen-backed
* source codecs json/regex (pkg/source/codec/) → body decoding before
  the interceptor chain
"""

from __future__ import annotations

import socket

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_table(
    spark: SparkSession,
    path: str | list[str],
    fmt: str = "parquet",
    include: list[str] | None = None,
    glob: str | None = None,
    exclude: str | None = None,
    ignore_older: str | None = None,
    schema: str | None = None,
) -> DataFrame:
    """Scan with explicit column pruning (``include``) so the parquet
    reader never materializes unused columns.

    file-source collect options (pkg/source/file/config.go paths /
    excludeFiles / ignoreOlder) map onto scan-level features:

    * ``glob``         → ``pathGlobFilter`` (include glob, applied at
      file listing — decided on the driver, no data touched)
    * ``exclude``      → regex on the file path, filtered via
      ``input_file_name()`` (excludeFiles semantics; listing-level
      excludes beyond one glob need an external catalog)
    * ``ignore_older`` → ``modifiedAfter`` (ISO-8601 timestamp): files
      older than the cutoff never enter the listing, exactly like the
      reference skipping stale files at discovery time
    """
    reader = spark.read.format(fmt)
    if schema:
        # required when the filters can exclude every file (schema
        # inference needs at least one survivor)
        reader = reader.schema(schema)
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if ignore_older:
        reader = reader.option("modifiedAfter", ignore_older)
    paths = path if isinstance(path, list) else [path]
    df = reader.load(paths)
    if exclude:
        import re as _re

        _re.compile(exclude)  # fail fast on a bad pattern, like the reference
        df = df.filter(~F.input_file_name().rlike(exclude))
    return df.select(*include) if include else df


def with_addon_meta(df: DataFrame, add_hostname: bool = True) -> DataFrame:
    """file-source addonMeta: source filename + in-file position +
    collecting host (source.go:258-312). ``offset`` here is a stable
    per-file ordinal, not a byte offset (rows are already records)."""
    out = df.withColumn("filename", F.input_file_name()).withColumn(
        "offset", F.monotonically_increasing_id()
    )
    if add_hostname:
        out = out.withColumn("hostname", F.lit(socket.gethostname()))
    return out


def decode_json_codec(
    df: DataFrame,
    body_col: str = "body",
    fields: list[str] | None = None,
    schema: str | None = None,
    body_field: str | None = None,
) -> DataFrame:
    """Source codec ``json`` (codec/json/json.go:28-37,61): decode the
    body as JSON and lift ``fields`` (or a typed ``schema``) to
    columns; with ``body_field`` the named field REPLACES the body
    (bodyFields), otherwise the body keeps the original JSON."""
    src = F.col(body_col).cast("string")
    if schema:
        parsed = F.from_json(src, schema)
        import pyspark.sql.types as T

        names = [f.name for f in T._parse_datatype_string(schema).fields]
        for n in names:
            df = df.withColumn(n, parsed.getField(n))
    else:
        parsed = F.from_json(src, "map<string,string>")
        for n in fields or []:
            df = df.withColumn(n, parsed.getItem(n))
    if body_field:
        df = df.withColumn(body_col, F.col(body_field))
    return df


def decode_regex_codec(
    df: DataFrame, pattern: str, body_col: str = "body", body_field: str | None = None
) -> DataFrame:
    """Source codec ``regex`` (codec/regex/regex.go:12-24,56): named
    groups from the body → columns; optional bodyFields lift."""
    from loggie_spark.actions import apply_program

    out = apply_program(df, [{"action": f"regex({body_col})", "pattern": pattern}])
    if body_field:
        out = out.withColumn(body_col, F.col(body_field))
    return out


def merge_multiline(
    df: DataFrame,
    pattern: str,
    file_col: str = "filename",
    offset_col: str = "offset",
    body_col: str = "body",
    max_lines: int = 500,
    max_bytes: int | None = None,
    line_end: str = "\n",
) -> DataFrame:
    """Multiline record aggregation (pkg/source/file/multilines.go:115-150,
    config.go:131-137): ``pattern`` matches the FIRST line of a record —
    a matching line flushes the accumulating record and starts a new one;
    non-matching lines append, joined by ``line_end``. Lines before the
    first match form their own leading record. ``max_lines`` force-flushes
    a record at the cap (appendContent's currentLines guard), so no output
    record exceeds it.

    Scale shape: ONE shuffle — hash(file) satisfies the clustering of
    both the record-numbering window and the (file, rec, sub) groupBy,
    so numbering, sub-splitting and the ordered merge all run in the
    same exchange. Files are the natural parallel unit, exactly like
    the reference's one-reader-per-file model.

    ``max_bytes`` (the cumulative-size flush, a stateful fold that plain
    window functions can't express) runs as a per-record applyInPandas
    greedy split — bounded work since max_lines already caps record
    height.
    """
    from pyspark.sql import Window

    is_start = F.col(body_col).rlike(pattern)
    w = Window.partitionBy(file_col).orderBy(offset_col)
    out = df.withColumn("_rec", F.sum(is_start.cast("int")).over(w))
    if max_lines:
        wr = Window.partitionBy(file_col, "_rec").orderBy(offset_col)
        out = out.withColumn(
            "_sub", F.floor((F.row_number().over(wr) - F.lit(1)) / F.lit(max_lines))
        )
    else:
        out = out.withColumn("_sub", F.lit(0))

    if max_bytes:
        return _merge_multiline_bytes(
            out, file_col, offset_col, body_col, max_bytes, line_end
        )

    merged = out.groupBy(file_col, "_rec", "_sub").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col(offset_col).alias("o"), F.col(body_col).alias("b")
                        )
                    )
                ),
                lambda s: s["b"],
            ),
            line_end,
        ).alias(body_col),
        F.min(offset_col).alias(offset_col),
        F.count(F.lit(1)).alias("n_lines"),
    )
    return merged.drop("_rec", "_sub")


def _merge_multiline_bytes(
    df: DataFrame,
    file_col: str,
    offset_col: str,
    body_col: str,
    max_bytes: int,
    line_end: str,
) -> DataFrame:
    """Greedy byte-capped merge: appendContent flushes when the joined
    size would exceed maxBytes (multilines.go:117-121,144-147). Runs per
    (file, pattern-record) group — a stateful fold, so Arrow-batched
    pandas, never a window."""
    import pandas as pd

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    in_file_t = df.schema[file_col].dataType
    in_off_t = df.schema[offset_col].dataType
    schema = StructType(
        [
            StructField(file_col, in_file_t),
            StructField(body_col, StringType()),
            StructField(offset_col, in_off_t),
            StructField("n_lines", LongType()),
        ]
    )
    sep_n = len(line_end.encode("utf-8"))

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(offset_col)
        rows, buf, size, first_off = [], [], 0, None
        fname = pdf[file_col].iloc[0]

        def flush():
            nonlocal buf, size, first_off
            if buf:
                rows.append((fname, line_end.join(buf), first_off, len(buf)))
            buf, size, first_off = [], 0, None

        for off, body in zip(pdf[offset_col], pdf[body_col]):
            b = 0 if body is None else len(body.encode("utf-8"))
            # reference pre-check (multilines.go:117): sizeAvailable =
            # MaxBytes - len(body) - currentSize, separator NOT counted
            if size > 0 and max_bytes - b - size <= 0:
                flush()
            if not buf:
                first_off = off
            else:
                size += sep_n
            buf.append(body or "")
            size += b
            if size >= max_bytes:
                flush()
        flush()
        return pd.DataFrame(rows, columns=[file_col, body_col, offset_col, "n_lines"])

    return df.groupBy(file_col, "_rec", "_sub").applyInPandas(fold, schema)
