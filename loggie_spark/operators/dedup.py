"""Deduplication operators for training-data pipelines.

Five families, all shuffle-frugal by construction:

* exact          — group on a content digest (tiny shuffle key, never
                   the full text)
* minhash + LSH  — shingle → seeded-minhash signature → banding →
                   bucket join → exact-Jaccard verify
* simhash        — 60-bit bit-voting fingerprint; near-dups share
                   almost all bits
* n-gram Jaccard — prefix-blocked candidate join + exact set overlap
* embedding      — cosine near-dup over `array<float>` (see
                   similarity.py for the ANN path)

All signature hashing is the engine-agnostic md5-60bit family
(functions/hashing.py) so DuckDB oracles can reproduce values exactly.

Scale notes: every family reduces the candidate space BEFORE any wide
operation — the only shuffles are on small keys (digest / band hash /
block key), never a cross join. At 10^12 rows the LSH band join is the
canonical approach (bands ≈ O(rows × n_bands) with tiny values).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from loggie_spark.functions.hashing import md5_60bit
from loggie_spark.operators.sharing import shared_persist
from loggie_spark.session import local_frame


def tokenize(col: Column | str, lowercase: bool = True) -> Column:
    """Whitespace word split (the corpus tokenizer used across dedup
    and text-stats so every operator agrees on 'word')."""
    c = F.col(col) if isinstance(col, str) else col
    if lowercase:
        c = F.lower(c)
    return F.filter(F.split(c, r"\s+"), lambda w: w != "")


def word_ngrams(words: Column, n: int) -> Column:
    """Contiguous word n-grams (shingles) joined by a space."""
    idx = F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0)))
    return F.when(
        F.size(words) >= n,
        F.transform(idx, lambda i: F.array_join(F.slice(words, i + 1, n), " ")),
    ).otherwise(F.array(F.array_join(words, " ")))


def spread_small_input(df: DataFrame) -> DataFrame:
    """Repartition a few-partition scan up to the session's default
    parallelism. Shingling/hashing cost is per-ROW compute, not IO: a
    500 KB parquet file arrives as ONE partition and serializes the
    whole corpus onto one core (measured 10s+ single-task stages). At
    real scale inputs already have thousands of partitions and this is
    a no-op; locally the tiny-text shuffle is microseconds."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _materialize(df: DataFrame, cols: dict[str, Column]) -> DataFrame:
    """Evaluate ``cols`` exactly once per row behind an inline()
    Generate barrier (Catalyst re-inlines expensive expressions into
    every reference otherwise — signatures/fingerprints would be
    recomputed per band and per join side)."""
    return df.select("*", F.inline(F.array(F.struct(*[v.alias(k) for k, v in cols.items()]))))


def _cap_buckets(
    banded: DataFrame,
    key_cols: list[str],
    cap: int | None,
    id_col: str = "_id",
) -> tuple[DataFrame, list[str]]:
    """Count-then-salt skew guard for LSH band self-joins.

    A degenerate bucket (boilerplate docs sharing one band hash) makes
    the self-join O(n²) at web scale. With ``cap``, buckets larger than
    ``cap`` rows are salted into ⌈n/cap⌉ sub-buckets by a stable id
    hash, bounding every bucket's pair count to ~cap² — candidate
    volume becomes O(rows × cap) worst-case instead of O(hottest²).

    Trade-off (documented, intentional): a pair inside an oversized
    bucket is found only if both sides salt together (~cap/n chance per
    band; other bands still catch it). Oversized buckets are exactly
    the boilerplate clusters a training-data dedup drops wholesale, so
    losing intra-cluster pair enumeration is the right default at
    scale. ``cap=None`` disables the guard (exact oracle parity mode).

    Returns (frame with ``_sub`` appended when capping, join key list).
    """
    if cap is None:
        return banded, key_cols
    counts = banded.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("_n"))
    out = banded.join(counts, key_cols)  # same-key shuffle, AQE-coalesced
    sub = (
        F.when(
            F.col("_n") > cap,
            F.pmod(F.xxhash64(F.col(id_col)), F.ceil(F.col("_n") / cap).cast("long")),
        )
        .otherwise(F.lit(0))
        .cast("int")
    )
    return out.withColumn("_sub", sub).drop("_n"), key_cols + ["_sub"]


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the smallest id per exact content. Groups on sha2(text)
    (64-byte key) rather than the text itself so the shuffle moves
    digests, not documents."""
    digest = F.sha2(F.col(text_col).cast("string"), 256)
    return (
        df.select(F.col(id_col), digest.alias("_digest"))
        .groupBy("_digest")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )


# ---------------------------------------------------------------------------
# minhash + LSH
# ---------------------------------------------------------------------------


MINHASH_MOD = 1 << 40


def minhash_pair_terms(text: Column, shingle: int = 3) -> Column:
    """Per-shingle (a, b) hash halves: ONE md5 per gram split into two
    40-bit integers; the whole seed family derives as
    h_i = (a + i·b) mod 2^40. Materialize THIS once (higher-order
    functions are outside codegen subexpression elimination, so a
    shared subtree still re-runs the md5 pass per seed)."""
    grams = word_ngrams(tokenize(text), shingle)
    return F.transform(
        grams,
        lambda g: F.struct(
            F.conv(F.substring(F.md5(g.cast("string")), 1, 10), 16, 10)
            .cast("long")
            .alias("a"),
            F.conv(F.substring(F.md5(g.cast("string")), 11, 10), 16, 10)
            .cast("long")
            .alias("b"),
        ),
    )


def minhash_bands(
    docs: DataFrame, n_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """(_id, band, bucket) LSH band index from a (_id, _grams) frame.

    Signature table via EXPLODE + partial-agg min, not per-row array
    lambdas: higher-order functions (transform/aggregate) execute
    interpreted outside whole-stage codegen — measured ~10s for 5k
    docs — while explode → md5 → conv → N min() aggregates stay fully
    codegen (one md5 per gram) and map-side combine to one row per
    doc before the shuffle. This is also the only shape that works
    when a document's gram set outgrows a single array at 10^12 rows.
    Banding carries only (id, band, bucket) — gram arrays never ride
    any downstream shuffle. This frame IS the persistent corpus index
    for incremental dedup (dedup_incremental).
    """
    rows_per_band = n_hashes // bands
    g = docs.select("_id", F.explode("_grams").alias("_g"))
    h = F.md5(F.col("_g"))
    a = F.conv(F.substring(h, 1, 10), 16, 10).cast("long")
    b = F.conv(F.substring(h, 11, 10), 16, 10).cast("long")
    hashed = g.select("_id", a.alias("_a"), b.alias("_b"))
    sig_tbl = hashed.groupBy("_id").agg(
        *[
            F.min(F.pmod(F.col("_a") + F.lit(i) * F.col("_b"), F.lit(MINHASH_MOD))).alias(
                f"_s{i}"
            )
            for i in range(n_hashes)
        ]
    )
    band_entries = F.array(
        *[
            F.struct(
                F.lit(bd).alias("band"),
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"_s{bd * rows_per_band + j}").cast("string")
                        for j in range(rows_per_band)
                    ],
                ).alias("bucket"),
            )
            for bd in range(bands)
        ]
    )
    return sig_tbl.select("_id", F.explode(band_entries).alias("_b")).select(
        "_id", F.col("_b.band").alias("band"), F.col("_b.bucket").alias("bucket")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    shingle: int = 3,
    bands: int = 4,
    jaccard_threshold: float = 0.6,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Candidate pairs via banded minhash buckets, verified with exact
    shingle-set Jaccard. Returns (id_a, id_b, jaccard) with id_a < id_b.

    Banding: signature split into ``bands`` rows of ``n_hashes/bands``;
    two docs are candidates iff any band matches exactly. The join key
    is (band_index, band_values) — a self-equi-join Spark executes as a
    shuffled hash join on a small key; no cross product ever forms.

    ``bucket_cap`` bounds degenerate buckets (see :func:`_cap_buckets`)
    — set it (e.g. 1000) for web-scale corpora with boilerplate.
    """
    words = tokenize(F.col(text_col))
    grams = F.array_distinct(word_ngrams(words, shingle))
    docs = spread_small_input(df).select(
        F.col(id_col).alias("_id"), grams.alias("_grams")
    )
    banded = minhash_bands(docs, n_hashes=n_hashes, bands=bands)
    banded, keys = _cap_buckets(banded, ["band", "bucket"], bucket_cap)
    # Share the signature table: the self-join consumes it twice and
    # per-branch pruning defeats ReuseExchange, so without sharing
    # every downstream reference re-shingles and re-hashes the corpus
    # (measured 12 FileScans per run). persist() maps all references
    # onto one InMemoryRelation of (id, band, bucket) scalars —
    # rows×bands, the standard LSH index size.
    banded = shared_persist(banded)

    left = banded.alias("l")
    right = banded.alias("r")
    cond = F.col("l._id") < F.col("r._id")
    for k in keys:
        cond = (F.col(f"l.{k}") == F.col(f"r.{k}")) & cond
    cand = (
        left.join(right, cond)
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # cand feeds three branches (both sides of the id union + the
    # verify join) — share it so the banded self-join runs once, not 3×
    cand = shared_persist(cand)

    # Exact-Jaccard verify: gram sets come from a CHEAP branch (tokenize
    # + shingle only, no hashing), pruned with a semi-join to candidate
    # ids first so gram arrays materialize/shuffle only for docs that
    # are actually in a candidate pair (AQE picks broadcast when the
    # pruned side is small; no forced-broadcast OOM risk at 10^12).
    cand_ids = (
        cand.select(F.col("id_a").alias("_id"))
        .union(cand.select(F.col("id_b").alias("_id")))
        .distinct()
    )
    docs_c = docs.join(cand_ids, "_id", "left_semi")
    ga = docs_c.select(F.col("_id").alias("id_a"), F.col("_grams").alias("ga"))
    gb = docs_c.select(F.col("_id").alias("id_b"), F.col("_grams").alias("gb"))
    verified = cand.join(ga, "id_a").join(gb, "id_b")

    inter = F.size(F.array_intersect("ga", "gb"))
    union = F.size(F.array_union("ga", "gb"))
    jac = inter.cast("double") / union.cast("double")
    return (
        verified.withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60


def simhash(text: Column, bits: int = SIMHASH_BITS) -> Column:
    """Bit-voting fingerprint: for each bit position, +1 if a word's
    60-bit hash has it set else -1; fingerprint bit = vote >= 0.

    Expressed as one fold over the word-hash array with an array<int>
    accumulator (aggregate + zip_with) — stays in the JVM, and the
    identical fold is expressible as DuckDB list_reduce for oracles.
    """
    words = tokenize(text)
    hashes = F.transform(words, lambda w: md5_60bit(w))
    zero = F.array(*[F.lit(0)] * bits)
    votes = F.aggregate(
        hashes,
        zero,
        lambda acc, h: F.array(
            *[
                acc.getItem(b)
                + F.when(h.bitwiseAND(F.lit(1 << b)) != 0, 1).otherwise(-1)
                for b in range(bits)
            ]
        ),
    )
    # LSB-first bit weights as literals (shiftleft needs a Python int
    # shift, so precompute 2^i) — fingerprint = Σ bit_i · 2^i.
    powers = F.array(*[F.lit(1 << i).cast("long") for i in range(bits)])
    contrib = F.zip_with(
        votes, powers, lambda v, p: F.when(v >= 0, p).otherwise(F.lit(0).cast("long"))
    )
    return F.aggregate(contrib, F.lit(0).cast("long"), lambda acc, v: acc + v)


def fingerprint_hamming_pairs(
    df: DataFrame,
    fp_col: str = "fp",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
    fp_bits: int = SIMHASH_BITS,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Banded hamming self-join over ANY precomputed integer
    fingerprint column (simhash text prints, image dHashes, …): a pair
    within hamming ≤ bands-1 must share at least one exact band slice,
    so the join is a banded EQUI-join; exact bit_count verifies.
    ``bucket_cap`` bounds degenerate buckets (:func:`_cap_buckets`).

    Returns ``(id_a, id_b, hamming)`` with id_a < id_b.
    """
    bits_per_band = fp_bits // bands
    fp = df.select(F.col(id_col).alias("_id"), F.col(fp_col).alias("_fp"))
    band_entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright("_fp", b * bits_per_band)
                .bitwiseAND(F.lit((1 << bits_per_band) - 1))
                .alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    banded = fp.withColumn("_b", F.explode(band_entries)).select(
        "_id", "_fp", F.col("_b.band").alias("band"), F.col("_b.bucket").alias("bucket")
    )
    banded, keys = _cap_buckets(banded, ["band", "bucket"], bucket_cap)
    l, r = banded.alias("l"), banded.alias("r")
    cond = F.col("l._id") < F.col("r._id")
    for k in keys:
        cond = (F.col(f"l.{k}") == F.col(f"r.{k}")) & cond
    cand = (
        l.join(r, cond)
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            F.col("l._fp").alias("fa"),
            F.col("r._fp").alias("fb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (prefix-blocked)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_words: int = 4,
    threshold: float = 0.5,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Exact word-set Jaccard over candidate pairs sharing their first
    ``block_words`` words (cheap deterministic blocking). ``bucket_cap``
    bounds degenerate blocks (:func:`_cap_buckets`)."""
    words = tokenize(F.col(text_col))
    base = spread_small_input(df).select(
        F.col(id_col).alias("_id"),
        F.array_distinct(words).alias("_set"),
        F.array_join(F.slice(words, 1, block_words), " ").alias("_block"),
    )
    # Empty word sets would divide 0/0 -> NaN, and Spark orders NaN above
    # every number so `NaN >= threshold` is TRUE — drop them before the
    # join (two empty docs are not a meaningful overlap pair anyway).
    base = base.filter(F.size("_set") > 0)
    base, keys = _cap_buckets(base, ["_block"], bucket_cap)
    l, r = base.alias("l"), base.alias("r")
    cond = F.col("l._id") < F.col("r._id")
    for k in keys:
        cond = (F.col(f"l.{k}") == F.col(f"r.{k}")) & cond
    cand = l.join(r, cond)
    inter = F.size(F.array_intersect("l._set", "r._set"))
    union = F.size(F.array_union("l._set", "r._set"))
    jac = F.round(inter.cast("double") / union.cast("double"), 4)
    return (
        cand.select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------


def embedding_cosine_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    sample_max_id: int | None = None,
    dim: int = 64,
) -> DataFrame:
    """Cosine near-duplicates, exact verifier form.

    ``sample_max_id`` bounds the left side — the incremental shape
    (new shard vs corpus): a broadcast-nested-loop with a small left,
    like :func:`~loggie_spark.operators.similarity.brute_force_topk`.
    WITHOUT a bound this would be an all-pairs cross join, so the
    unbounded self-dedup case delegates to the bucketed
    :func:`embedding_lsh_pairs` — a corpus never meets itself in a
    cartesian product."""
    from loggie_spark.functions.vectors import dot, norm

    if sample_max_id is None:
        return embedding_lsh_pairs(
            df, vec_col=vec_col, id_col=id_col, threshold=threshold, dim=dim
        ).select("id_a", "id_b", "cos")

    # Norms once per VECTOR (n evals), not per pair (n² evals); the
    # division grouping dot/(na*nb) is bit-identical to the oracles'.
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        norm(F.col(vec_col)).alias("_nrm"),
    )
    left = base.filter(F.col("_id") < sample_max_id)
    pairs = base.alias("r").join(
        F.broadcast(left.alias("l")), F.col("l._id") < F.col("r._id")
    )
    cos = F.round(
        dot(F.col("l._v"), F.col("r._v")) / (F.col("l._nrm") * F.col("r._nrm")), 4
    )
    # Barrier: without it the filter re-inlines the O(dim) dot fold and
    # it runs twice per pair (once gating, once projecting).
    scored = _materialize(pairs, {"cos": cos})
    return scored.select(
        F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"), "cos"
    ).filter(F.col("cos") >= threshold)


def embedding_lsh_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    bands: int = 2,
    planes_per_band: int = 4,
    dim: int = 64,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Bucketed embedding self-dedup — the 100 TB path.

    Banded sign-random-projection: each vector gets ``bands`` bucket
    ids (one per independent group of ``planes_per_band`` hyperplanes,
    similarity.plane_vector's engine-agnostic family); two vectors are
    candidates iff ANY band bucket matches (same banding logic as
    minhash LSH — more bands = higher recall at cos≥threshold). The
    join is a banded EQUI-join carrying only (id, band, bucket); the
    exact cosine verifier runs on candidates fetched back by id.

    Returns (id_a, id_b, cos, n_bands) with id_a < id_b; ``n_bands``
    = how many bands matched (a confidence signal).
    """
    from loggie_spark.functions.vectors import dot, norm
    from loggie_spark.operators.similarity import lsh_bucket

    base = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    band_entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                lsh_bucket(
                    F.col("_v"), planes_per_band, dim, plane_offset=b * planes_per_band
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    banded = base.select("_id", F.explode(band_entries).alias("_b")).select(
        "_id", F.col("_b.band").alias("band"), F.col("_b.bucket").alias("bucket")
    )
    banded, keys = _cap_buckets(banded, ["band", "bucket"], bucket_cap)
    # Pre-partition by the equi-join keys with an EXPLICIT repartition:
    # the band table is scalar-tiny in bytes but the self-join below
    # expands it ~100×, so AQE's byte-based coalescing would run the
    # whole enumeration in 1-2 tasks. The explicit keyed exchange is
    # exempt from coalescing and is reused by both join sides.
    banded = banded.repartition(
        df.sparkSession.sparkContext.defaultParallelism, *keys
    )
    l, r = banded.alias("l"), banded.alias("r")
    cond = F.col("l._id") < F.col("r._id")
    for k in keys:
        cond = (F.col(f"l.{k}") == F.col(f"r.{k}")) & cond
    cand = (
        l.join(r, cond)
        .groupBy(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )
    # The candidate frame is scalar-tiny in BYTES but each row costs an
    # O(dim) verify — AQE's byte-based coalescing would shrink it to 1-2
    # tasks and serialize the verify. An explicit keyed repartition is
    # exempt from AQE coalescing; cluster defaultParallelism = total
    # cores, the right verify-stage width at any scale.
    cand = cand.repartition(
        df.sparkSession.sparkContext.defaultParallelism, "id_a", "id_b"
    )
    # Norms once per VECTOR joined alongside, not recomputed per
    # candidate pair; dot/(na*nb) is bit-identical to the
    # dot/(norm(a)*norm(b)) grouping, so oracle parity is unchanged.
    vecs = base.withColumn("_nrm", norm(F.col("_v")))
    cand = cand.join(
        vecs.select(
            F.col("_id").alias("id_a"), F.col("_v").alias("va"), F.col("_nrm").alias("na")
        ),
        "id_a",
    ).join(
        vecs.select(
            F.col("_id").alias("id_b"), F.col("_v").alias("vb"), F.col("_nrm").alias("nb")
        ),
        "id_b",
    )
    cos = F.round(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 4)
    # Barrier: the threshold filter would otherwise re-inline the
    # O(dim) dot fold and run it twice per candidate.
    scored = _materialize(cand, {"cos": cos})
    return scored.filter(F.col("cos") >= threshold).select(
        "id_a", "id_b", "cos", "n_bands"
    )


def winnow_pairs(
    docs: DataFrame,
    k: int = 12,
    w: int = 8,
    min_shared: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_cap: int | None = None,
) -> DataFrame:
    """Copy-detection candidate pairs via winnowing fingerprints
    (textstats.winnow_fingerprints — the MOSS sampler): documents
    sharing ≥ ``min_shared`` winnowed min-hashes are near-copy
    candidates. Winnowing guarantees any shared substring of length
    ≥ k+w-1 contributes a shared fingerprint, so unlike minhash (whole-
    doc similarity) this catches a long verbatim passage pasted into an
    otherwise different document — the plagiarism/licensing shape of
    dedup.

    100 TB shape: fingerprints compute in-row; only (id, fp) scalars
    shuffle; the fp equi-self-join is bucketed by fingerprint value
    with the same ``bucket_cap`` salting guard as the LSH families
    (a boilerplate fingerprint present in millions of docs would
    otherwise enumerate O(hottest²) pairs); the explicit keyed
    repartition keeps AQE from serializing the enumeration of a
    byte-tiny but expansion-heavy frame.

    Returns ``(id_a, id_b, n_shared)``, id_a < id_b.
    """
    from loggie_spark.operators.textstats import winnow_fingerprints

    base = _materialize(
        spread_small_input(docs).select(
            F.col(id_col).alias("_id"), F.col(text_col).alias("_t")
        ),
        {"_fps": winnow_fingerprints(F.col("_t"), k=k, w=w)},
    )
    fp = base.select("_id", F.explode("_fps").alias("fp"))
    fp, keys = _cap_buckets(fp, ["fp"], bucket_cap)
    fp = fp.repartition(docs.sparkSession.sparkContext.defaultParallelism, *keys)
    l, r = fp.alias("l"), fp.alias("r")
    cond = F.col("l._id") < F.col("r._id")
    for kcol in keys:
        cond = (F.col(f"l.{kcol}") == F.col(f"r.{kcol}")) & cond
    return (
        l.join(r, cond)
        .groupBy(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def semdedup(
    corpus: DataFrame,
    n_cells: int = 8,
    threshold: float = 0.95,
    iters: int = 1,
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    max_members: int | None = 4096,
    cell_cap: int | None = None,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space with k-means, call any within-cluster pair above a
    cosine ``threshold`` a semantic duplicate, and keep exactly ONE
    member per duplicate group — the one LEAST similar to its centroid
    (the paper's diversity-maximizing choice; ties by smallest id).
    Singletons are trivially kept.

    Composition of certified pieces: ``similarity.kmeans_refine`` (the
    engine-deterministic Lloyd quantizer) scopes the pair search so no
    vector ever meets a vector from another cell; the within-cell pair
    join is a plain equi-join on ``cell`` with per-row precomputed
    norms; ``dup_clusters`` turns threshold pairs into duplicate groups
    (transitive closure — SemDeDup's ε-ball grouping).

    100 TB shape: cells bound candidate generation exactly like LSH
    buckets (``cell_cap`` salts oversize cells via the _cap_buckets
    guard — same recall trade, documented there); the cluster/survivor
    stages shuffle only scalar (id, cell, cos) rows; the verify and
    enumeration stages get explicit keyed repartitions (AQE's
    byte-based coalescing would serialize them — see
    embedding_lsh_pairs).

    Returns ``(c_id, cell, cos, cluster_id, keep)`` — ``cos`` is the
    centroid similarity from the assignment, ``cluster_id`` the dup
    group's min member id, ``keep`` the SemDeDup survivor flag.
    """
    from pyspark.sql import Window

    from loggie_spark.functions.vectors import dot, norm
    from loggie_spark.operators.similarity import kmeans_refine

    # ``centroids`` (a persisted quantizer via similarity.load_centroids
    # + iters=0) turns the Lloyd pass into pure assignment — the
    # incremental nightly shape: a standing corpus trains the cells
    # once, every later shard just assigns and dedups.
    assigned_v, _ = kmeans_refine(
        corpus,
        n_cells=n_cells,
        iters=iters,
        c_id=c_id,
        c_vec=c_vec,
        max_members=max_members,
        keep_vectors=True,
        init_centroids=centroids,
    )
    # reuse the assignment's own vector projection (keep_vectors) — no
    # second corpus scan, no id join to re-fetch vectors
    assigned = assigned_v.select(c_id, "cell", "cos")
    side = assigned_v.select(
        F.col(c_id).alias("_id"),
        "cell",
        F.col(c_vec).alias("_v"),
        norm(F.col(c_vec)).alias("_nrm"),
    )
    side, keys = _cap_buckets(side, ["cell"], cell_cap)
    side = side.repartition(
        corpus.sparkSession.sparkContext.defaultParallelism, *keys
    )
    l, r = side.alias("l"), side.alias("r")
    cond = F.col("l._id") < F.col("r._id")
    for k in keys:
        cond = (F.col(f"l.{k}") == F.col(f"r.{k}")) & cond
    pair_cos = F.round(
        dot(F.col("l._v"), F.col("r._v")) / (F.col("l._nrm") * F.col("r._nrm")), 4
    )
    scored = _materialize(l.join(r, cond), {"_pcos": pair_cos})
    dup_pairs = scored.filter(F.col("_pcos") >= threshold).select(
        F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b")
    )
    clusters = dup_clusters(dup_pairs)

    labeled = (
        assigned.join(
            clusters.withColumnRenamed("doc_id", c_id), c_id, "left"
        )
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col(c_id)))
    )
    w = Window.partitionBy("cluster_id").orderBy(F.asc("cos"), F.asc(c_id))
    return labeled.select(
        c_id,
        "cell",
        "cos",
        "cluster_id",
        (F.row_number().over(w) == 1).alias("keep"),
    )


# ---------------------------------------------------------------------------
# dup-pair clustering (connected components)
# ---------------------------------------------------------------------------


def dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    reliable: bool = False,
    driver_cap: int | None = 1_000_000,
) -> DataFrame:
    """Connected components over a dup-pair edge list — the step that
    turns pairwise near-dup hits (minhash / simhash / jaccard /
    embedding pairs) into KEEP/DROP decisions: every doc in a connected
    component gets the component's min doc id as ``cluster_id``, and
    the canonical survivor is the row where ``doc_id == cluster_id``.

    Hash-min label propagation: each round, every node's label drops to
    the min label among itself and its neighbors; converges in
    O(component diameter) rounds (near-dup clusters are shallow — a
    handful of hops), detected by a cheap changed-row probe. 100 TB
    shape: only (node, label) scalar pairs and the symmetrized edge
    list ever shuffle; ``localCheckpoint`` truncates the iterative
    lineage so plans stay flat; edges are computed once and cached.
    Output covers only nodes that appear in ``pairs`` — singleton docs
    have no cluster row (they are trivially their own survivor).

    ``reliable=True`` switches lineage truncation to durable
    ``df.checkpoint()`` against ``spark.sparkContext.setCheckpointDir``
    (which must be set, ideally to the cluster's object store): an
    executor lost mid-iteration recomputes from the checkpoint instead
    of restarting the whole job — the right trade at cluster scale,
    where a 1000-executor hour is worth more than the checkpoint I/O.
    The default ``localCheckpoint`` is executor-local and fastest for
    single-node / short jobs.

    Small graphs solve in the driver: the symmetrized edge count rides
    the materialization job's ``observe()`` metric for free, and a
    graph of ≤ ``driver_cap`` edges (default 1M ≈ 16 MB of id pairs —
    the same bounded-driver-state contract as ``bpe_train``'s collected
    merge table) is collected and solved with union-find in one pass
    instead of paying O(diameter) distributed rounds of pure scheduling
    overhead. Identical output (min id per component, any id type that
    orders consistently); near-dup edge lists are output-sized, so at
    100 TB most shards still fit while a whale graph above the cap runs
    the unchanged distributed loop. ``driver_cap=None`` forces the
    distributed path (and is what the non-convergence ``max_iter``
    guard applies to — union-find cannot fail to converge).

    Raises ``RuntimeError`` if label propagation has not converged
    after ``max_iter`` rounds (a component with diameter > max_iter —
    e.g. a long chain of pairwise near-dups from boilerplate — would
    otherwise be silently split into several cluster_ids).

    Returns (doc_id, cluster_id).
    """

    def _ckpt(df: DataFrame) -> DataFrame:
        return df.checkpoint(eager=True) if reliable else df.localCheckpoint(eager=True)

    eobs = Observation()
    edges = _ckpt(
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .union(pairs.select(F.col(id_b).alias("a"), F.col(id_a).alias("b")))
        .distinct()
        .observe(eobs, F.count(F.lit(1)).alias("n_edges"))
    )
    # The symmetrized-distinct edge count rides the checkpoint job's
    # observe() metric (the same free-probe trick the convergence check
    # uses below), so the small-graph branch costs zero extra jobs.
    n_edges = int(eobs.get["n_edges"] or 0)
    if driver_cap is not None and n_edges <= driver_cap:
        return _dup_clusters_driver(edges)
    labels = _ckpt(
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("lab", F.col("node"))
    )
    changed = 1
    for _ in range(max_iter):
        prop = (
            edges.join(labels, edges["a"] == labels["node"])
            .groupBy(F.col("b").alias("node"))
            .agg(F.min("lab").alias("nlab"))
        )
        nlab = F.least(F.col("lab"), F.coalesce("nlab", "lab"))
        # Labels only ever DECREASE, so "changed" is just nlab < lab —
        # and the convergence probe rides the checkpoint job itself as
        # an observe() metric: ONE job per round, no separate count.
        obs = Observation()
        new_labels = _ckpt(
            labels.join(prop, "node", "left")
            .select(
                "node",
                nlab.alias("lab"),
                (nlab < F.col("lab")).alias("chg"),
            )
            .observe(obs, F.max("chg").alias("any"))
        )
        changed = 1 if obs.get["any"] else 0
        labels = new_labels.select("node", "lab")
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"dup_clusters did not converge within max_iter={max_iter} rounds: "
            "a component's diameter exceeds the iteration budget; raise "
            "max_iter (rounds are O(diameter), near-dup clusters are "
            "normally shallow)"
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("lab").alias("cluster_id")
    )


def _dup_clusters_driver(edges: DataFrame) -> DataFrame:
    """Driver-side union-find over an already-materialized, size-bounded
    symmetric edge list (``dup_clusters``'s small-graph branch): path
    halving + union by size, then every node labels with its
    component's min id — bit-identical to what hash-min label
    propagation converges to."""
    import pandas as pd

    from pyspark.sql.types import StructField, StructType

    id_type = edges.schema["a"].dataType
    out_schema = StructType(
        [
            StructField("doc_id", id_type, True),
            StructField("cluster_id", id_type, True),
        ]
    )
    spark = edges.sparkSession
    pdf = edges.toPandas()
    if not len(pdf):
        return local_frame(spark, [], out_schema)
    parent: dict = {}
    size: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pdf["a"].tolist(), pdf["b"].tolist()):
        if a not in parent:
            parent[a], size[a] = a, 1
        if b not in parent:
            parent[b], size[b] = b, 1
        ra, rb = find(a), find(b)
        if ra != rb:
            if size[ra] < size[rb]:
                ra, rb = rb, ra
            parent[rb] = ra
            size[ra] += size[rb]

    comp_min: dict = {}
    for node in parent:
        r = find(node)
        if r not in comp_min or node < comp_min[r]:
            comp_min[r] = node
    nodes = list(parent)
    out = pd.DataFrame(
        {"doc_id": nodes, "cluster_id": [comp_min[find(n)] for n in nodes]}
    )
    return spark.createDataFrame(out, schema=out_schema)


# ---------------------------------------------------------------------------
# token-domain window dedup (spans over token arrays, no decode)
# ---------------------------------------------------------------------------


def token_window_dedup(
    seq: DataFrame,
    window: int = 64,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Span-level dedup in the TOKEN domain: slice each pre-tokenized
    sequence (``tokens: array<int32>``) into non-overlapping
    ``window``-token windows, keep one occurrence of each duplicated
    window corpus-wide (smallest ``(doc_id, pos)``), and report the
    surviving token stream — without ever decoding tokens to text.
    The token-payload twin of curation.span_dedup: a training-data
    pipeline dedups AFTER tokenization, so the operator must work on
    the token arrays the Iceberg table actually stores.

    100 TB shape (same as span_dedup): windows hash to 60-bit ints
    in-row, only ``(doc_id, pos, h)`` scalars shuffle (map-side
    combine); keeper rows fold straight into per-doc position arrays;
    surviving windows are re-sliced from the original token array in
    a narrow projection after one co-located join — the token arrays
    never ride a shuffle.

    Returns ``(id_col, n_windows, n_kept, kept_tok, clean_hash)``
    where ``kept_tok`` counts surviving tokens and ``clean_hash`` is
    the md5 of the surviving token stream (space-joined decimal).
    """
    from loggie_spark.functions.hashing import md5_60bit

    seq = spread_small_input(seq)
    k = window
    toks = F.col(tokens_col)
    n_win = F.coalesce(
        F.ceil(F.size(toks) / F.lit(k)).cast("int"), F.lit(0)
    )
    pos_seq = F.when(
        F.size(toks) > 0, F.sequence(F.lit(0), n_win - 1)
    ).otherwise(F.array().cast("array<int>"))
    win_str = lambda arr: F.array_join(  # noqa: E731
        F.transform(arr, lambda t: t.cast("string")), " "
    )
    occ = seq.select(
        F.col(id_col), toks.alias("_t"), F.explode(pos_seq).alias("pos")
    ).select(
        id_col,
        "pos",
        md5_60bit(
            win_str(F.slice("_t", F.col("pos") * k + 1, F.lit(k)))
        ).alias("h"),
    )
    keeper = occ.groupBy("h").agg(F.min(F.struct(id_col, "pos")).alias("k"))
    kept_pos = (
        keeper.select(
            F.col(f"k.{id_col}").alias(id_col), F.col("k.pos").alias("pos")
        )
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("pos")).alias("kp"))
    )
    kp = F.coalesce(F.col("kp"), F.array().cast("array<int>"))
    kept_toks = F.flatten(
        F.transform(kp, lambda j: F.slice(toks, j * k + 1, F.lit(k)))
    )
    return (
        seq.select(id_col, tokens_col)
        .join(kept_pos, id_col, "left")
        .select(
            id_col,
            n_win.alias("n_windows"),
            F.coalesce(F.size("kp"), F.lit(0)).cast("int").alias("n_kept"),
            F.coalesce(F.size(kept_toks), F.lit(0)).cast("int").alias("kept_tok"),
            F.md5(win_str(kept_toks)).alias("clean_hash"),
        )
    )


# ---------------------------------------------------------------------------
# incremental dedup: new shard vs existing corpus index
# ---------------------------------------------------------------------------


def dedup_incremental(
    shard: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    shingle: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Dedup a NEW shard against an EXISTING corpus — the shape a
    continuously-growing training corpus actually runs nightly (the
    all-pairs self-join never reruns over history; only the new slice
    is checked against the accumulated index).

    Two independent signals per shard doc:

    * ``dup_exact`` — sha2 digest occurs in the corpus (anti-join on a
      64-byte key);
    * ``dup_near``  — any minhash LSH band lands in an occupied corpus
      bucket (same band family as :func:`minhash_lsh_pairs`, so a doc
      flagged here is exactly one that WOULD have formed a candidate
      pair in the batch self-join).

    100 TB shape: in production both corpus sides are PRECOMPUTED,
    append-only index tables (digests; (band, bucket) set) — scalar
    columns only, written once per ingest; this function derives them
    inline so the semantics are self-contained. The shard is small
    relative to the corpus, so both probes are semi-joins of a small
    keyed frame against a big scalar index — co-keyed hash joins, text
    never shuffles, and nothing is quadratic in corpus size.

    Returns ``(id_col, dup_exact, dup_near, keep)`` for every shard doc.
    """
    digest = lambda df: df.select(  # noqa: E731
        F.col(id_col).alias("_id"),
        F.sha2(F.col(text_col).cast("string"), 256).alias("_d"),
    )
    exact_ids = (
        digest(shard)
        .join(digest(corpus).select("_d").distinct(), "_d", "left_semi")
        .select("_id")
    )
    grams = lambda df: spread_small_input(df).select(  # noqa: E731
        F.col(id_col).alias("_id"),
        F.array_distinct(word_ngrams(tokenize(F.col(text_col)), shingle)).alias(
            "_grams"
        ),
    )
    occupied = (
        minhash_bands(grams(corpus), n_hashes=n_hashes, bands=bands)
        .select("band", "bucket")
        .distinct()
    )
    near_ids = (
        minhash_bands(grams(shard), n_hashes=n_hashes, bands=bands)
        .join(occupied, ["band", "bucket"], "left_semi")
        .select("_id")
        .distinct()
    )
    de = F.coalesce("_de", F.lit(False))
    dn = F.coalesce("_dn", F.lit(False))
    return (
        shard.select(id_col)
        .join(
            exact_ids.withColumn("_de", F.lit(True)),
            F.col(id_col) == F.col("_id"),
            "left",
        )
        .drop("_id")
        .join(
            near_ids.withColumn("_dn", F.lit(True)),
            F.col(id_col) == F.col("_id"),
            "left",
        )
        .drop("_id")
        .select(
            id_col,
            de.alias("dup_exact"),
            dn.alias("dup_near"),
            (~(de | dn)).alias("keep"),
        )
    )


def cluster_survivors(
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "q",
) -> DataFrame:
    """Quality-aware survivor selection: given (doc_id, cluster_id)
    from :func:`dup_clusters` and a per-doc score frame, keep the
    HIGHEST-scoring member of each near-dup cluster (ties broken by
    smallest doc_id — deterministic, retry-safe) instead of the
    default min-id. This is how production dedup actually chooses:
    near-dup clusters often mix a clean original with mangled copies.

    One co-keyed join of two scalar frames + one max_by groupBy —
    shuffled rows are (id, cluster, score) triples.

    Returns ``(cluster_id, survivor_id, cluster_size)``.
    """
    joined = clusters.join(scores.select(id_col, score_col), id_col)
    # min_by over (-score, id): highest score wins, ties -> smallest id.
    # Negating the (numeric) SCORE rather than the id keeps string doc
    # ids working (unary minus on a string throws under ANSI mode).
    # NULL scores coalesce to -inf BEFORE the negation: -NULL is NULL,
    # and NULL sorts FIRST in ascending struct order, so an un-guarded
    # NULL-scored member would beat every scored one — here it loses
    # to any real score and falls back to the id tiebreak.
    neg_score = -F.coalesce(F.col(score_col), F.lit(float("-inf")))
    return joined.groupBy("cluster_id").agg(
        F.min_by(
            F.col(id_col), F.struct(neg_score.alias("_k1"), F.col(id_col).alias("_k2"))
        ).alias("survivor_id"),
        F.count(F.lit(1)).cast("long").alias("cluster_size"),
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_words: int = 4,
    threshold: float = 0.8,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Overlap-coefficient pairs: ``|A∩B| / min(|A|,|B|)`` over word
    sets — the asymmetric-duplication detector Jaccard misses. A short
    doc fully quoted inside a long one scores overlap 1.0 but a tiny
    Jaccard (the union is dominated by the long doc), so
    quote-inclusion / excerpt dups only surface through this measure.
    Same deterministic first-``block_words`` blocking and
    ``bucket_cap`` skew guard as :func:`ngram_jaccard_pairs`.

    Returns (id_a, id_b, overlap) with id_a < id_b.
    """
    words = tokenize(F.col(text_col))
    base = spread_small_input(df).select(
        F.col(id_col).alias("_id"),
        F.array_distinct(words).alias("_set"),
        F.array_join(F.slice(words, 1, block_words), " ").alias("_block"),
    )
    # Empty word sets would divide 0/0 -> NaN, and Spark orders NaN above
    # every number so `NaN >= threshold` is TRUE — drop them before the
    # join (two empty docs are not a meaningful overlap pair anyway).
    base = base.filter(F.size("_set") > 0)
    base, keys = _cap_buckets(base, ["_block"], bucket_cap)
    l, r = base.alias("l"), base.alias("r")
    cond = F.col("l._id") < F.col("r._id")
    for k in keys:
        cond = (F.col(f"l.{k}") == F.col(f"r.{k}")) & cond
    cand = l.join(r, cond)
    inter = F.size(F.array_intersect("l._set", "r._set"))
    denom = F.least(F.size("l._set"), F.size("r._set"))
    ov = F.round(inter.cast("double") / denom.cast("double"), 4)
    return (
        cand.select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            ov.alias("overlap"),
        )
        .filter(F.col("overlap") >= threshold)
    )


def _gram_positions(base, L: int, text_col: str, id_col: str):
    """(id, _p, _h): the 60-bit hash of the ``L``-char gram at every
    1-based position — the only thing substring-granularity operators
    ever shuffle (one scalar row per corpus CHARACTER, the same
    cardinality a suffix array indexes)."""
    from loggie_spark.functions.hashing import md5_60bit

    n_grams = F.length(text_col) - F.lit(L - 1)
    # sequence(1, n) DESCENDS for n < 1 — guard short docs explicitly
    grams = F.when(
        n_grams >= 1,
        F.transform(
            F.sequence(F.lit(1), n_grams),
            lambda i: md5_60bit(F.col(text_col).substr(i, F.lit(L))),
        ),
    ).otherwise(F.array().cast("array<long>"))
    return base.select(
        id_col, F.posexplode(grams).alias("_p0", "_h")
    ).select(id_col, (F.col("_p0") + 1).alias("_p"), "_h")


def _covered_spans_rebuild(
    base,
    covered,
    L: int,
    text_col: str,
    id_col: str,
    chars_alias: str,
    keep_text: bool = False,
):
    """Merge covered positions into maximal spans (per-doc gaps-and-
    islands window over scalars) and rebuild each doc's text with the
    spans cut out (one narrow F.aggregate fold over the sorted span
    list). Returns ``(id, n_spans, <chars_alias>, clean_hash)``."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("_p")
    prev_e = F.max(F.col("_p") + F.lit(L - 1)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    isl = covered.select(
        id_col,
        "_p",
        F.sum(
            F.when(prev_e.isNull() | (F.col("_p") > prev_e + 1), 1).otherwise(0)
        )
        .over(w)
        .alias("_isl"),
    )
    spans = isl.groupBy(id_col, "_isl").agg(
        F.min("_p").alias("s"), (F.max("_p") + F.lit(L - 1)).alias("e")
    )
    per_doc = spans.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("int").alias("_cut"),
        F.array_sort(F.collect_list(F.struct("s", "e"))).alias("_spans"),
    )
    joined = base.join(per_doc, id_col, "left")
    txt = F.col(text_col)
    clean = F.aggregate(
        F.coalesce(
            F.col("_spans"), F.array().cast("array<struct<s:long,e:long>>")
        ),
        F.struct(F.lit(0).cast("long").alias("prev"), F.lit("").alias("out")),
        lambda acc, sp: F.struct(
            sp["e"].alias("prev"),
            F.concat(
                acc["out"], txt.substr(acc["prev"] + 1, sp["s"] - acc["prev"] - 1)
            ).alias("out"),
        ),
        lambda acc: F.concat(acc["out"], txt.substr(acc["prev"] + 1, F.length(txt))),
    )
    out_col = clean.alias("clean") if keep_text else F.md5(clean).alias("clean_hash")
    return joined.select(
        id_col,
        F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
        F.coalesce("_cut", F.lit(0)).alias(chars_alias),
        out_col,
    )


def substring_dedup(
    docs: DataFrame,
    min_len: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact substring dedup (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better", arXiv:2107.06499): find every
    maximal character span that is covered by some ``min_len``-char
    substring occurring ≥2 times ANYWHERE in the corpus (other docs or
    a repeat inside the same doc), and cut those spans out of the text.
    This is the substring-granularity complement of span/line dedup: a
    verbatim license block pasted mid-document is removed even though
    no fixed word-window or line boundary aligns with it.

    Spark re-expression of the paper's suffix array: every position's
    ``min_len``-gram is hashed to a 60-bit int IN-ROW, so the only
    thing that ever shuffles is ``(doc_id, pos, hash)`` scalars — the
    text never rides an exchange.

    1. duplicated grams via ``groupBy(hash).count() ≥ 2`` (map-side
       combine; the join back is a plain equi-join on the hash, so AQE
       skew-split handles a pathological gram — a window over the hash
       would pin it to one task).  Deliberate tradeoff: the gram
       lineage executes TWICE (once into the count, once into the
       join probe) — the alternatives are worse at scale: a count
       window over the hash buffers a hot gram's whole partition on
       one task (a boilerplate 20-gram with 10⁹ occurrences = tens of
       GB of spill), and persisting the position stream means caching
       ~20 bytes per corpus CHARACTER (petabytes at 100 TB).  Two
       narrow compute passes are the honest price of exact-substring
       semantics without a distributed suffix array;
    2. covered positions merge into maximal spans with a per-doc
       gaps-and-islands window (scalar rows only — after the dup join
       only COVERED positions re-shuffle, typically a small fraction);
    3. each doc folds its span list back over the original text in ONE
       narrow projection (``F.aggregate`` over the sorted span array).

    Returns ``(id_col, n_spans, dup_chars, clean_hash)`` — clean_hash
    is md5 of the text with duplicated spans removed (the same
    hash-not-text output contract as line_dedup).
    """
    L = int(min_len)
    base = spread_small_input(docs).select(id_col, text_col)
    pos = _gram_positions(base, L, text_col, id_col)
    dup_h = (
        pos.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= 2)
        .select("_h")
    )
    covered = pos.join(dup_h, "_h").select(id_col, "_p")
    return _covered_spans_rebuild(base, covered, L, text_col, id_col, "dup_chars")


def substring_decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    min_len: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_text: bool = False,
) -> DataFrame:
    """Substring-granularity benchmark decontamination (the exact-
    substring variant of the 13-gram flag pass, per Lee et al. 2022 /
    the GPT-3 appendix recipe): every maximal training-doc span covered
    by a ``min_len``-char substring that ALSO appears anywhere in the
    benchmark is located and cut out.  Complements
    :func:`loggie_spark.operators.curation.contamination_flags`: that
    pass flags whole documents; this one surgically removes the
    overlapping characters so a doc with one quoted eval question keeps
    the rest of its text.

    100 TB shape: the corpus side is the same (id, pos, hash) scalar
    stream as :func:`substring_dedup`; the benchmark side reduces to
    DISTINCT gram hashes — benchmarks are config-sized (MBs), so AQE
    broadcasts that side and the corpus never shuffles at all (the
    only wide ops left are the per-DOC window/aggregations over
    covered positions, a small fraction of the corpus).

    Returns ``(id_col, n_spans, contam_chars, clean_hash)``.
    """
    L = int(min_len)
    base = spread_small_input(docs).select(id_col, text_col)
    pos = _gram_positions(base, L, text_col, id_col)
    bench_base = spread_small_input(bench).select(id_col, text_col)
    bench_h = (
        _gram_positions(bench_base, L, text_col, id_col)
        .select("_h")
        .distinct()
    )
    covered = pos.join(bench_h, "_h", "leftsemi").select(id_col, "_p")
    return _covered_spans_rebuild(
        base, covered, L, text_col, id_col, "contam_chars", keep_text=keep_text
    )


def minhash_recall_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    shingle: int = 3,
    bands: int = 4,
    jaccard_threshold: float = 0.6,
) -> DataFrame:
    """LSH self-certification: measure the banded minhash index against
    exact all-pairs Jaccard TRUTH on a bounded audit sample — the
    report a dedup operator reads before trusting a (n_hashes, bands)
    configuration on a new corpus. Recall = fraction of true pairs
    (jaccard ≥ threshold) that share ≥1 band bucket; precision =
    fraction of band candidates that are true pairs.

    CONTRACT: ``df`` must be a bounded sample (the all-pairs truth side
    is a broadcast nested-loop join, same bounded-broadcast contract as
    embedding_dup_pairs) — at production scale pass a deterministic
    few-thousand-doc sample, never the corpus. The LSH side itself is
    the production shape (banded equi-join), so the measured recall
    transfers to the full run.

    Returns ONE row: ``(n_docs, n_true, n_cand, n_found, recall,
    precision)`` — recall/precision NULL when their denominator is 0.
    """
    words = tokenize(F.col(text_col))
    grams = F.array_distinct(word_ngrams(words, shingle))
    docs = spread_small_input(df).select(
        F.col(id_col).alias("_id"), grams.alias("_grams")
    )
    # empty gram sets divide 0/0 -> NaN in the truth jaccard (and Spark
    # sorts NaN above numbers) — drop them, as ngram_jaccard_pairs does
    docs = shared_persist(docs.filter(F.size("_grams") > 0))

    l = docs.select(F.col("_id").alias("id_a"), F.col("_grams").alias("ga"))
    r = docs.select(F.col("_id").alias("id_b"), F.col("_grams").alias("gb"))
    jac = F.round(
        F.size(F.array_intersect("ga", "gb")).cast("double")
        / F.size(F.array_union("ga", "gb")).cast("double"),
        4,
    )
    true_pairs = shared_persist(
        l.join(F.broadcast(r), F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", jac.alias("_j"))
        .filter(F.col("_j") >= jaccard_threshold)
        .select("id_a", "id_b")
    )

    banded = minhash_bands(docs, n_hashes=n_hashes, bands=bands)
    cand = shared_persist(
        banded.alias("l")
        .join(
            banded.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    found = true_pairs.join(cand, ["id_a", "id_b"], "left_semi")

    k = F.lit(1).alias("_k")
    a_docs = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs")).select(k, "n_docs")
    a_true = true_pairs.agg(F.count(F.lit(1)).cast("long").alias("n_true")).select(k, "n_true")
    a_cand = cand.agg(F.count(F.lit(1)).cast("long").alias("n_cand")).select(k, "n_cand")
    a_found = found.agg(F.count(F.lit(1)).cast("long").alias("n_found")).select(k, "n_found")
    out = a_docs.join(a_true, "_k").join(a_cand, "_k").join(a_found, "_k")
    return out.select(
        "n_docs",
        "n_true",
        "n_cand",
        "n_found",
        F.when(
            F.col("n_true") > 0,
            F.round(F.col("n_found").cast("double") / F.col("n_true"), 4),
        ).alias("recall"),
        F.when(
            F.col("n_cand") > 0,
            F.round(F.col("n_found").cast("double") / F.col("n_cand"), 4),
        ).alias("precision"),
    )


def cdc_dedup_chunks(
    docs: DataFrame,
    w: int = 3,
    divisor: int = 8,
    min_occ: int = 2,
    k: int = 40,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Content-defined chunking dedup (the rolling-hash boundary idea
    behind LBFS/FastCDC storage dedup, applied at word granularity):
    a chunk boundary lands after word position p whenever the hash of
    the w-gram ENDING at p is ≡ 0 mod ``divisor`` (expected chunk
    length ≈ divisor words), plus a forced boundary at the document
    end.  Because boundaries depend only on LOCAL content, an
    insertion early in a document re-chunks O(1) chunks instead of
    shifting every fixed-width block — so shared passages between
    near-duplicate documents land on identical chunks and surface as
    duplicate chunk text.  Complements the similarity-based families:
    winnowing fingerprints SAMPLE substrings for pairing, CDC
    PARTITIONS the byte/token stream so duplicate mass can be counted
    (and at a real storage layer, stored once).

    100 TB shape: boundary detection and chunk assembly are IN-ROW
    array ops over the materialized token array (zero shuffle); the
    only shuffle is the map-side-combinable chunk count onto a
    chunk-vocabulary-bounded frame; ranking is TakeOrdered.

    Returns the top-``k`` duplicated chunks ``(chunk, n_words,
    n_docs, n_occ)`` with ``n_occ ≥ min_occ``, ordered by
    (n_occ desc, chunk).
    """
    from loggie_spark.functions.hashing import md5_60bit

    mat = _materialize(
        spread_small_input(docs.select(id_col, text_col)),
        {"_ws": tokenize(F.col(text_col))},
    ).where(F.size("_ws") > 0)
    n = F.size("_ws")
    gram_h = lambda p: md5_60bit(  # noqa: E731
        F.array_join(F.slice(F.col("_ws"), p - w + 1, w), " ")
    )
    cuts = F.when(
        n >= w,
        F.filter(
            F.sequence(F.lit(w), n),
            lambda p: F.pmod(gram_h(p), F.lit(divisor)) == 0,
        ),
    ).otherwise(F.array().cast("array<int>"))
    # explicit sort: cuts are ascending by construction, but the
    # oracle's list_distinct scrambles order (DuckDB hashes), so both
    # engines sort after dedup to stay aligned.
    bounds = F.array_sort(F.array_distinct(F.concat(cuts, F.array(n))))
    # name the boundary array BEFORE the chunk transform walks it —
    # the transform indexes bounds[i-1] per element, and an inline
    # expression would re-run the whole rolling-hash cut per reference
    # (the lambda re-inlining rule).
    bdf = mat.select(
        F.col(id_col).alias("_id"), F.col("_ws"), bounds.alias("bounds")
    )
    chunks = F.transform(
        F.col("bounds"),
        lambda b, i: F.array_join(
            F.slice(
                F.col("_ws"),
                F.when(i == 0, F.lit(1)).otherwise(
                    F.element_at(F.col("bounds"), i) + 1
                ),
                F.when(i == 0, b).otherwise(
                    b - F.element_at(F.col("bounds"), i)
                ),
            ),
            " ",
        ),
    )
    return (
        bdf.select("_id", F.explode(chunks).alias("chunk"))
        .groupBy("chunk")
        .agg(
            F.countDistinct("_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_occ"),
        )
        .where(F.col("n_occ") >= min_occ)
        .select(
            "chunk",
            (F.size(F.split("chunk", " "))).cast("long").alias("n_words"),
            "n_docs",
            "n_occ",
        )
        .orderBy(F.col("n_occ").desc(), "chunk")
        .limit(int(k))
    )
