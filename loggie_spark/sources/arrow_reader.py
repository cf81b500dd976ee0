"""Arrow-native sequence ingest: read the tokenized-sequence parquet
with pyarrow INSIDE the tasks and decode tokens→body there, skipping
the JVM→Python Arrow serialization of the token column entirely.

Why: stage isolation (BENCH_SCALING.json) shows the decode hop's cost
is NOT the parquet scan (pure-JVM token scan+agg: 0.47 s for 10M rows)
and NOT the byte cast (+0.2 s) — it is the JVM→Python Arrow transfer
of the ``array<int32>`` column (~3.3 s for 10M rows / 3.4 GB of token
ints at 32 cores). The in-plan decode (functions/tokens.
decode_tokens_arrow, a scalar Arrow UDF) must still send every token
array from the JVM into Python; reading the row group with pyarrow
inside the task removes that leg. Both paths decode with the same
``functions.tokens.decode_batch``, so the only cross-runtime transfer
here is the ~4× smaller decoded body on the way back.

Unit of work is a (file, row_group) pair: row groups are the natural
split (bounded memory, full parallelism regardless of file count —
at 100 TB a file list alone under-parallelizes). The work list is a
tiny ``session.local_frame``, which Spark plans as a LocalTableScan
split over up to ``defaultParallelism`` partitions; ``coalesce(n_slots)``
narrows it without a shuffle, so list and reader run in one stage with
one Python hop per task. Built from a Python list instead, the work list
would add a PythonRDD stage (and, to spread it, a shuffle) to every
execution.

This is the "(b) Arrow-batched mapInArrow" escape hatch used
deliberately: the standard ``spark.read.parquet`` + decode path stays
the default (Catalyst pushdown, schema evolution, filter pruning);
this reader is the measured fast path for the fixed-shape ingest
stage where the scan's only consumer is the byte decode and the token
column is dropped (``keep_tokens=False`` jobs). With keep_tokens=True
the token arrays must cross into the JVM anyway, so the standard path
wins — measured, see BASELINE.md. Loggie parallel: the file source's
reader pool (pkg/source/file/read.go) — many independent readers, one
per active file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from loggie_spark.session import local_frame

SEQ_SCHEMA_DECODED = "doc_id string, n_tok int, source string, body string"


def _list_row_groups(path: str) -> list[tuple[str, int]]:
    import glob
    import os

    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    units: list[tuple[str, int]] = []
    for f in files:
        units.extend((f, rg) for rg in range(pq.ParquetFile(f).num_row_groups))
    if not units:
        raise FileNotFoundError(f"no parquet files under {path}")
    return units


def read_sequences_arrow(
    spark: SparkSession,
    path: str,
    keep_tokens: bool = False,
    parallelism: int | None = None,
) -> DataFrame:
    """Decoded sequences frame (doc_id, n_tok, source, body[, tokens])
    read + decoded entirely in Arrow, one task per parquet row group."""
    import pyarrow as pa

    from loggie_spark.functions.tokens import decode_batch

    units = _list_row_groups(path)
    # One work partition per core slot, NOT more: each partition spins a
    # Python worker doing pyarrow reads, and oversubscribing them is
    # measured 1.4× slower (3.40 s vs 4.76 s at 32 cores / 10M rows) —
    # the readers are CPU-bound, so extra workers only thrash.
    n_parts = parallelism or min(len(units), spark.sparkContext.defaultParallelism)
    work = local_frame(spark, units, "f string, rg int").coalesce(n_parts)

    out_schema = SEQ_SCHEMA_DECODED + (", tokens array<int>" if keep_tokens else "")
    cols = ["doc_id", "n_tok", "source", "tokens"]
    names = ["doc_id", "n_tok", "source", "body"] + (["tokens"] if keep_tokens else [])

    def read_units(batches):
        import pyarrow.parquet as pq

        for b in batches:
            for f, rg in zip(b.column(0).to_pylist(), b.column(1).to_pylist()):
                # use_threads=False: Spark already runs one reader per
                # core slot; pyarrow's own pool (ncpus threads PER
                # worker) would put ~cores² runnable threads on the box
                # (measured: the whole stage stops scaling past 8 cores
                # until this is pinned).
                tbl = pq.ParquetFile(f).read_row_group(
                    rg, columns=cols, use_threads=False
                ).select(cols)
                for batch in tbl.to_batches():
                    doc_id, n_tok, source, tokens = batch.columns
                    arrays = [doc_id, n_tok, source, decode_batch(tokens), tokens]
                    yield pa.RecordBatch.from_arrays(arrays[: len(names)], names=names)

    return work.mapInArrow(read_units, out_schema)
