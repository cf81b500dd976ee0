"""Token-sequence shaping for LLM training pipelines: context-window
chunking and sequence packing.

These operate on the BASELINE input shape (doc_id, tokens:array<int32>,
n_tok, source) — the ops a 10^12-sequence training pipeline runs right
after dedup/quality filtering:

* :func:`chunk_sequences` — split every token array into fixed-length
  training windows (optionally overlapping via ``stride``). Pure
  Catalyst: one ``sequence()`` + ``slice()`` Generate, no shuffle, no
  Python. The classic "context-window chunking" pass.
* :func:`pack_sequences_binned` — contiguous greedy packing: within
  each source, consecutive sequences (doc order) fill bins of
  ``max_len`` tokens; bin id = floor(running-token-count / max_len).
  One window shuffle on (source); SQL-expressible, so oracle-checked.
  A sequence may straddle a bin boundary — the variant used when the
  trainer can split samples (packed attention masks).
* :func:`pack_sequences_greedy` — exact no-straddle greedy packing (a
  sequence never splits; a bin flushes when the next sequence would
  overflow). Inherently a stateful fold, so Arrow-batched
  ``applyInPandas`` per shard group — shards bound group size at
  10^12 rows, trading global optimality for parallelism the same way
  every production packer does.

Scale notes: chunking is narrow (grows rows, never shuffles bytes
twice); both packers shuffle only (doc_id, n_tok, source, shard) — the
token arrays themselves are re-joined to bins by doc_id afterwards if
the caller wants materialized packs, keeping the heavy column out of
the window/fold shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def chunk_sequences(
    df: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    max_len: int = 128,
    stride: int | None = None,
    drop_last_shorter_than: int = 1,
) -> DataFrame:
    """Explode each token array into fixed-length windows.

    ``stride`` defaults to ``max_len`` (disjoint chunks); a smaller
    stride yields overlapping windows (e.g. 50% overlap for long-range
    eval sets). Chunks shorter than ``drop_last_shorter_than`` are
    dropped (the ragged tail).

    Plan shape: Project → Generate(sequence) → Project(slice) — fully
    narrow, whole-stage codegen, zero shuffle.
    """
    step = stride or max_len
    n = F.size(F.col(tokens_col))
    # starts run to n so ragged tails survive as shorter chunks
    # (drop_last_shorter_than filters them); greatest(…,1) keeps one
    # empty-input chunk for the filter to remove.
    starts = F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(step))
    out = (
        df.withColumn("_start", F.explode(starts))
        .withColumn("chunk", F.slice(F.col(tokens_col), F.col("_start"), max_len))
        .withColumn("chunk_len", F.size("chunk"))
        .filter(F.col("chunk_len") >= drop_last_shorter_than)
        .withColumn(
            "chunk_idx", ((F.col("_start") - 1) / step).cast("int")
        )
        .drop("_start")
    )
    return out


def pack_sequences_binned(
    df: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
    len_col: str = "n_tok",
    max_len: int = 2048,
) -> DataFrame:
    """Contiguous packing: deterministic doc order within each source,
    bin = floor(tokens-before-this-row / max_len). Adds ``pack_id`` and
    ``pack_offset`` (token offset of this sequence inside its bin's
    running stream). Straddling allowed — the packed-attention variant.

    One shuffle: the window partitions by source; everything downstream
    of the window reuses that exchange.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(source_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum(len_col).over(w), F.lit(0))
    return df.withColumn("pack_id", F.floor(before / max_len)).withColumn(
        "pack_offset", (before % max_len).cast("int")
    )


def pack_sequences_greedy(
    df: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
    len_col: str = "n_tok",
    max_len: int = 2048,
    n_shards: int = 64,
) -> DataFrame:
    """Exact greedy no-straddle packing: walk each source's sequences
    in doc order; if the current bin can't fit the next sequence, flush
    and start a new bin. Sequences longer than ``max_len`` get a bin of
    their own, and a bin never holds two sources.

    Stateful fold → ``applyInPandas`` per shard, over (source, doc)
    order with a flush at every source change, so ``pack_id`` =
    ``(shard << 40) + k`` is unique across sources. Shard by a stable
    id hash so each group is ~rows/n_shards; at 10^12 rows set
    n_shards so a group fits an executor (packing quality is unchanged
    — greedy packing is order-local, and each shard keeps doc order).
    Only (id, len, source, shard) ride the shuffle — never the tokens.
    """
    import pandas as pd

    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    id_t = df.schema[id_col].dataType
    schema = StructType(
        [
            StructField(id_col, id_t),
            StructField(source_col, StringType()),
            StructField("pack_id", LongType()),
            StructField("pack_offset", IntegerType()),
        ]
    )

    def fold(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([source_col, id_col])
        (shard,) = key
        base = int(shard) << 40  # shard-disjoint pack_id space
        pack, fill, prev_src = 0, 0, None
        offs, packs = [], []
        for src, ln in zip(pdf[source_col], pdf[len_col]):
            ln = int(ln)
            if fill > 0 and (fill + ln > max_len or src != prev_src):
                pack += 1
                fill = 0
            prev_src = src
            packs.append(base + pack)
            offs.append(fill)
            fill += ln
            if fill >= max_len:
                pack += 1
                fill = 0
        return pd.DataFrame(
            {
                id_col: pdf[id_col].to_numpy(),
                source_col: pdf[source_col].to_numpy(),
                "pack_id": packs,
                "pack_offset": offs,
            }
        )

    # pmod, not %: Spark's % preserves the hash's sign, which would
    # yield up to 2·n_shards-1 groups (halving shard fill) and negative
    # pack_ids out of `shard << 40`.
    narrow = df.select(
        id_col,
        source_col,
        len_col,
        F.pmod(F.xxhash64(id_col), F.lit(n_shards)).alias("_shard"),
    )
    return narrow.groupBy("_shard").applyInPandas(fold, schema)
