"""Engine-agnostic deterministic hashing.

Dedup families (minhash, simhash, fingerprints) need hash functions
that produce IDENTICAL values in Spark and in the DuckDB oracle. Both
engines expose standard MD5, so the shared 60-bit hash is:

    h(s) = int(md5(s)[:15 hex chars], 16)          # < 2^60, fits long

Spark: ``conv(substring(md5(s),1,15),16,10)``;
DuckDB: ``CAST('0x' || substring(md5(s),1,15) AS BIGINT)``.

A seeded family comes from prefixing: ``h_i(s) = h(str(i) || '|' || s)``.

xxhash64 (Spark-native, faster) is used where cross-engine equality is
NOT required (bucketing, salting); md5 where it is (dedup signatures).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from loggie_spark.sqltext import quote


def md5_60bit(col: Column, seed: int | None = None) -> Column:
    """60-bit integer hash of a string column (engine-agnostic)."""
    if seed is not None:
        col = F.concat(F.lit(f"{seed}|"), col)
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast("long")


def md5_60bit_spark_sql(expr: str, seed: int | str | None = None) -> str:
    """:func:`md5_60bit` as Spark SQL text over the SQL ``expr`` (the
    same expression; a test holds the two equal)."""
    if seed is not None:
        expr = f"concat({quote(f'{seed}|')}, {expr})"
    return f"CAST(conv(substring(md5(CAST({expr} AS STRING)), 1, 15), 16, 10) AS BIGINT)"


def md5_60bit_sql(expr: str, seed: int | None = None) -> str:
    """The DuckDB spelling of :func:`md5_60bit` for oracle SQL."""
    inner = f"'{seed}|' || {expr}" if seed is not None else expr
    return f"CAST('0x' || substring(md5({inner}), 1, 15) AS BIGINT)"
