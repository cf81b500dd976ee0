"""Similarity search over embedding columns (`array<float>`).

* :func:`brute_force_topk` — exact cosine top-k: the correctness
  baseline. Query side is broadcast; the corpus is never shuffled.
* :func:`lsh_buckets` / :func:`lsh_topk` — the scale path: sign-random-
  projection buckets shrink the candidate set, then the exact scorer
  runs per bucket. Hyperplanes are generated from an integer LCG
  formula (exact rational arithmetic) so buckets are reproducible
  across engines and runs — no RNG state to ship.

At 100 TB the corpus stays partitioned by bucket (Iceberg partition),
queries broadcast, and each executor scores only its bucket's
candidates — a classic IVF-style layout built from stock DataFrame ops.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from loggie_spark.functions.vectors import dot, norm
from loggie_spark.session import local_frame


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    q_id: str = "vec_id",
    q_vec: str = "embedding",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine: broadcast the (small) query set against
    the corpus, score JVM-side, per-query window top-k.

    Returns (query_id, neighbor_id, cos, rank); self-matches excluded;
    ties broken by neighbor id for determinism.
    """
    # Norms once per ROW on each side before the join (not per pair);
    # dot/(qn*cn) keeps the dot/(norm(a)*norm(b)) grouping so results
    # are bit-identical.
    q = queries.select(
        F.col(q_id).alias("query_id"),
        F.col(q_vec).alias("_qv"),
        norm(F.col(q_vec)).alias("_qn"),
    )
    c = corpus.select(
        F.col(c_id).alias("neighbor_id"),
        F.col(c_vec).alias("_cv"),
        norm(F.col(c_vec)).alias("_cn"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos",
            F.round(
                dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn")), 4
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


# -- deterministic hyperplanes (engine-agnostic integer arithmetic) --------


def _plane_component(p: int, j: int) -> float:
    """Pseudo-random in [-0.5, 0.5) from exact integer ops: the same
    value is computable in any SQL engine (no libm, no RNG)."""
    x = ((p * 1_000_003 + j) * 2_654_435_761) % 2_000_003
    return (x % 1000) / 1000.0 - 0.5


def plane_vector(p: int, dim: int) -> list[float]:
    return [_plane_component(p, j) for j in range(dim)]


def lsh_bucket(vec: Column, n_planes: int, dim: int, plane_offset: int = 0) -> Column:
    """Sign-random-projection bucket id: bit p = (v · plane_p) >= 0.
    ``plane_offset`` selects an independent plane family (used by
    banded SRP dedup, dedup.embedding_lsh_pairs)."""
    bucket = F.lit(0)
    for p in range(n_planes):
        plane = F.array(*[F.lit(v) for v in plane_vector(plane_offset + p, dim)])
        bit = F.when(dot(vec, plane) >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = bucket + bit
    return bucket


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_planes: int = 4,
    dim: int = 64,
    q_id: str = "vec_id",
    q_vec: str = "embedding",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH
    bucket, then exact cosine + window top-k inside it. Recall is
    tunable via n_planes (fewer planes → bigger buckets → higher
    recall, more compute)."""
    q = queries.select(
        F.col(q_id).alias("query_id"),
        F.col(q_vec).alias("_qv"),
        norm(F.col(q_vec)).alias("_qn"),
        lsh_bucket(F.col(q_vec), n_planes, dim).alias("_bucket"),
    )
    c = corpus.select(
        F.col(c_id).alias("neighbor_id"),
        F.col(c_vec).alias("_cv"),
        norm(F.col(c_vec)).alias("_cn"),
        lsh_bucket(F.col(c_vec), n_planes, dim).alias("_bucket"),
    )
    scored = (
        c.join(F.broadcast(q), ["_bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos",
            F.round(
                dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn")), 4
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank", "_bucket")
    )


# -- IVF-flat: coarse-quantizer cells, deterministic seeding ----------------


def ivf_centroids(
    corpus: DataFrame,
    n_cells: int = 8,
    c_id: str = "vec_id",
    c_vec: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Deterministic coarse quantizer: the ``n_cells`` corpus vectors
    with the smallest md5 hash of their id become the cell centroids
    (hash-seeded sampling instead of k-means — no RNG or iteration
    state to ship, bit-reproducible in any engine, and for ANN recall
    a random corpus sample is the standard zero-training quantizer).
    Returns [(cell_id, centroid)] with cell_id ordered by the hash.

    Driver-side collect is config-sized (n_cells × dim floats), not
    data-sized — same contract as the LSH hyperplane literals.
    """
    from loggie_spark.functions.hashing import md5_60bit

    rows = (
        corpus.select(
            md5_60bit(F.col(c_id).cast("string")).alias("_h"),
            F.col(c_vec).alias("_v"),
        )
        .orderBy("_h")
        .limit(n_cells)
        .collect()
    )
    return [(i, [float(x) for x in r._v]) for i, r in enumerate(rows)]


def save_centroids(
    spark, cents: list[tuple[int, list[float]]], path: str
) -> None:
    """Persist a quantizer (from :func:`ivf_centroids` or
    :func:`kmeans_refine`) as a tiny parquet table ``(cell, centroid)``.

    A standing corpus should train its quantizer ONCE and reuse it:
    without persistence every :func:`ivf_topk` call re-runs the
    corpus-wide hash-ordered TakeOrdered (or Lloyd refinement) just to
    rebuild the same few-KB centroid list. The table is n_cells rows —
    driver/executor cost of reloading is microseconds."""
    local_frame(
        spark,
        [(int(cid), [float(x) for x in cv]) for cid, cv in cents],
        "cell int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(path)


def load_centroids(spark, path: str) -> list[tuple[int, list[float]]]:
    """Load a persisted quantizer for ``ivf_topk(..., centroids=...)`` /
    ``kmeans_refine`` reuse — the second and every later query against a
    standing corpus never rescans it for centroids."""
    rows = spark.read.parquet(path).orderBy("cell").collect()
    return [(int(r.cell), [float(x) for x in r.centroid]) for r in rows]


def _cell_scores(vec: Column, cents: list[tuple[int, list[float]]]) -> Column:
    """array<struct<cos,cid>> of rounded cosine vs every centroid —
    struct ordering gives (max cos, then max cid) argmax/sort for free.

    ``norm(vec)`` binds once per row (let_bind) instead of once per
    centroid. The centroid slab rides the plan as ONE nested-array
    Literal and all n_cells scores come from a single indexed transform
    lambda — n_cells separate struct expressions (each with a dim-wide
    literal array) made janino compile seconds of generated code per
    plan (the r5 driver's slowest rows were all IVF-family compile
    time). dot/(n*norm(c)) keeps the dot/(norm(a)*norm(b)) grouping
    and norm(c) evaluates the same expression ConstantFolding used to
    fold, so scores are bit-identical and no oracle changes."""
    from loggie_spark.functions.gofmt import let_bind

    slab = F.lit([[float(x) for x in cv] for _, cv in cents])
    cids = F.lit([int(cid) for cid, _ in cents])

    def scores(t: Column) -> Column:
        v, n = t["v"], t["n"]
        return F.transform(
            slab,
            lambda c, i: F.struct(
                F.round(dot(v, c) / (n * norm(c)), 4).alias("cos"),
                F.element_at(cids, i + 1).cast("int").alias("cid"),
            ),
        )

    return let_bind(F.struct(vec.alias("v"), norm(vec).alias("n")), scores)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_cells: int = 8,
    nprobe: int = 2,
    q_id: str = "vec_id",
    q_vec: str = "embedding",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF-flat approximate top-k: assign every corpus vector to its
    nearest centroid cell (one narrow codegen pass — the centroid set
    is a plan-time literal, zero shuffle, zero join), probe each
    query's ``nprobe`` nearest cells, exact cosine + window top-k over
    the probed candidates only.

    100 TB shape: the corpus is written partitioned by ``cell``
    (Iceberg partition column), so a query scans nprobe/n_cells of the
    data; assignment never shuffles; only the (small, broadcast) query
    side and the per-cell candidates meet. Recall tunes with nprobe.
    """
    cents = centroids or ivf_centroids(corpus, n_cells, c_id, c_vec)

    best_cell = lambda v: F.array_max(_cell_scores(v, cents)).getField(  # noqa: E731
        "cid"
    )
    c = corpus.select(
        F.col(c_id).alias("neighbor_id"),
        F.col(c_vec).alias("_cv"),
        norm(F.col(c_vec)).alias("_cn"),
        best_cell(F.col(c_vec)).alias("cell"),
    )
    # nprobe nearest cells per query: sort the scores descending by
    # (cos, cid) and take the first nprobe cell ids.
    probed = F.transform(
        F.slice(F.reverse(F.array_sort(_cell_scores(F.col(q_vec), cents))), 1, nprobe),
        lambda s: s.getField("cid"),
    )
    q = queries.select(
        F.col(q_id).alias("query_id"),
        F.col(q_vec).alias("_qv"),
        norm(F.col(q_vec)).alias("_qn"),
        F.explode(probed).alias("cell"),
    )
    scored = (
        c.join(F.broadcast(q), ["cell"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos",
            F.round(
                dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn")), 4
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank", "cell")
    )


def kmeans_refine(
    corpus: DataFrame,
    n_cells: int = 8,
    iters: int = 1,
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    max_members: int | None = 4096,
    keep_vectors: bool = False,
    init_centroids: list[tuple[int, list[float]]] | None = None,
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """Lloyd-refined quantizer over the hash-seeded IVF init: assign
    every vector to its max-cosine centroid, recompute each centroid
    as the mean of its members, repeat ``iters`` times. The learned
    counterpart of :func:`ivf_centroids` — a couple of iterations
    noticeably tightens ANN cells on clustered corpora.

    Engine-deterministic by construction: member vectors are folded in
    ``c_id`` order (sorted collect_list + sequential aggregate), so
    every centroid coordinate is the SAME sequence of IEEE double
    additions a DuckDB ordered ``list_reduce`` performs — bit-equal
    across engines, no RNG, retry-safe. Empty cells keep their
    previous centroid (standard Lloyd handling).

    100 TB shape: per iteration one narrow assignment pass (centroid
    set is a broadcast literal, same contract as IVF/LSH) + one
    groupBy(cell) whose shuffle carries (cell, id, vector) — k·dim
    floats return to the driver, never the corpus. ``max_members``
    ENFORCES the sample-bounded training recipe: each cell's mean folds
    at most that many members (the ``max_members`` smallest by
    deterministic (md5-hash, id) order — no RNG, retry-safe), so a
    popular cell can never blow the per-group aggregation buffer at
    scale. Lloyd on a sample is the standard IVF training recipe;
    ``max_members=None`` disables the cap (exact whole-corpus mode).
    The rank window partitions by ``cell`` — the same key the mean
    aggregation groups on — so both run off ONE Exchange.

    Returns (assignments ``(c_id, cell, cos)``, final centroids).
    """
    # init_centroids (e.g. load_centroids of a persisted quantizer)
    # skips the hash-seeded init scan; with iters=0 the call is a pure
    # assignment pass against the standing quantizer — the incremental
    # shape for a new shard joining a standing corpus.
    cents = init_centroids or ivf_centroids(corpus, n_cells, c_id, c_vec)
    dim = len(cents[0][1])

    def assign(cs: list[tuple[int, list[float]]]) -> DataFrame:
        # Two getFields off ONE projected _best column (two-step select):
        # a single-expression form would evaluate the k-cosine argmax
        # twice per row (CollapseProject keeps the split — _best is
        # non-cheap and referenced twice).
        best = F.array_max(_cell_scores(F.col(c_vec), cs))
        return corpus.select(
            F.col(c_id), F.col(c_vec).alias("_v"), best.alias("_best")
        ).select(
            F.col(c_id),
            "_v",
            F.col("_best.cid").alias("cell"),
            F.col("_best.cos").alias("cos"),
        )

    from loggie_spark.functions.hashing import md5_60bit

    for _ in range(iters):
        assigned = assign(cents)
        members = assigned
        if max_members is not None:
            w = Window.partitionBy("cell").orderBy(
                md5_60bit(F.col(c_id).cast("string")), c_id
            )
            members = (
                assigned.withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") <= max_members)
                .drop("_rk")
            )
        zero = F.array(*[F.lit(0.0) for _ in range(dim)])
        sums = (
            members.groupBy("cell")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.aggregate(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct(c_id, "_v"))),
                        lambda s: s["_v"],
                    ),
                    zero,
                    lambda acc, v: F.zip_with(
                        acc, v, lambda x, y: x + y.cast("double")
                    ),
                ).alias("s"),
            )
            .select(
                "cell", F.transform("s", lambda x: x / F.col("n")).alias("cent")
            )
            .collect()
        )
        new = {int(r.cell): [float(x) for x in r.cent] for r in sums}
        cents = [(cid, new.get(cid, cv)) for cid, cv in cents]
    final = assign(cents)
    if keep_vectors:
        # callers composing a vector-consuming stage (semdedup's pair
        # verify) reuse the assignment's projection instead of paying a
        # second corpus scan + id join to re-fetch vectors
        return final.select(c_id, F.col("_v").alias(c_vec), "cell", "cos"), cents
    return final.select(c_id, "cell", "cos"), cents


def quantize_embeddings(
    corpus: DataFrame,
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    bits: int = 8,
) -> DataFrame:
    """Max-abs symmetric int quantization of an embedding column — the
    storage transform that shrinks a 100 TB float32 embedding table 4×
    (int8) before it lands in the ANN layout, at a bounded cosine-
    recall cost. Per vector: ``scale = max|x|``, ``q_i =
    floor(x_i·(2^{bits-1}-1)/scale)``.

    ``floor`` (not ``round``) keeps the transform bit-reproducible
    across engines: Spark rounds the shortest decimal repr HALF_UP
    while DuckDB rounds the exact binary double, so ties diverge — but
    multiply, divide and floor are all exactly-rounded IEEE ops with
    one defined result. Zero vectors quantize to zeros with scale 0.

    Pure narrow Catalyst (one projection, no shuffle, no UDF).
    Returns ``(c_id, dim, scale, q)`` with q ``array<int>``.
    """
    levels = (1 << (bits - 1)) - 1
    x = F.transform(F.col(c_vec), lambda v: v.cast("double"))
    scale = F.array_max(F.transform(x, lambda v: F.abs(v)))
    q = F.when(
        scale > 0,
        F.transform(x, lambda v: F.floor(v * levels / scale).cast("int")),
    ).otherwise(F.transform(x, lambda v: F.lit(0)))
    return corpus.select(
        F.col(c_id),
        F.size(c_vec).cast("int").alias("dim"),
        scale.alias("scale"),
        q.alias("q"),
    )


def ann_recall_report(exact: DataFrame, approx: DataFrame, k: int) -> DataFrame:
    """ANN self-certification: recall@k of an approximate top-k result
    against the exact brute-force truth — the report that justifies an
    (n_cells, nprobe) or (n_planes) configuration before committing a
    100 TB index build. Both inputs are ``(query_id, neighbor_id, …)``
    top-k frames (:func:`brute_force_topk` truth vs :func:`ivf_topk` /
    :func:`lsh_topk`), so at scale the truth side runs on the same
    bounded query sample the brute operator already contracts.

    All arithmetic stays integral until the final divisions (hit
    counts, not per-query float recalls — float summation order would
    differ between engines).  Denominators are the PER-QUERY exact row
    counts, not a flat n_queries·k: a query with fewer than ``k`` true
    neighbors (small corpus, sample edges) scores a perfect index at
    1.0 instead of m/k.

    Returns ONE row ``(n_queries, k, n_hits, mean_recall, min_recall)``
    — mean_recall = Σhits / Σexact_rows, min_recall = min over queries
    of hits/exact_rows.
    """
    from loggie_spark.operators.sharing import shared_persist

    # exact feeds three branches (semi-join probe, per-query counts) —
    # scalar (query_id, neighbor_id, …) rows bounded by queries×k, so
    # share it rather than re-running the brute-force truth per branch
    exact = shared_persist(exact.select("query_id", "neighbor_id"))
    hits = exact.join(approx.select("query_id", "neighbor_id"),
                      ["query_id", "neighbor_id"], "leftsemi")
    per_q = (
        exact.groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("_n"))
        .join(
            hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("_h")),
            "query_id",
            "left",
        )
        .select(
            "query_id",
            "_n",
            F.coalesce("_h", F.lit(0)).cast("long").alias("_h"),
        )
    )
    agg = per_q.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.sum("_h").cast("long").alias("n_hits"),
        F.sum("_n").cast("long").alias("_nex"),
        F.min(
            F.round(F.col("_h").cast("double") / F.col("_n"), 4)
        ).alias("min_recall"),
    )
    return agg.select(
        "n_queries",
        F.lit(int(k)).cast("int").alias("k"),
        "n_hits",
        F.round(F.col("n_hits").cast("double") / F.col("_nex"), 4).alias(
            "mean_recall"
        ),
        "min_recall",
    )


# ---------------------------------------------------------------------------
# Product quantization (Jégou, Douze, Schmid 2011 — "Product Quantization
# for Nearest Neighbor Search"): compress vectors to M subspace codes and
# rank by asymmetric distance (ADC) against per-query lookup tables.
# ---------------------------------------------------------------------------


def pq_codebook_prefix(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic PQ codebook: the ``n_centroids`` lowest-id corpus
    vectors (bounded collect — n_centroids rows, same contract as
    :func:`ivf_centroids`). Initialization-only by design so the DuckDB
    oracle reproduces it in pure SQL; production pipelines Lloyd-refine
    with :func:`kmeans_refine` and persist via :func:`save_centroids`
    (the standing-quantizer path) — the encode/ADC machinery below is
    codebook-agnostic."""
    rows = (
        corpus.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(int(n_centroids))
        .collect()
    )
    return [[float(x) for x in r[1]] for r in rows]


def pq_encode(
    corpus: DataFrame,
    codebook: list[list[float]],
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every corpus vector as ``m`` subspace codes (argmin
    squared-L2 vs each centroid's subvector; ties → lowest code).

    100 TB shape: one narrow codegen pass — the codebook rides the plan
    as literals, the corpus never shuffles, and the output row is
    id + m small ints (a 64-float vector compresses to m bytes at
    k≤256, the whole point of PQ: the ANN index fits in executor
    memory at corpus scales where raw vectors cannot).
    """
    from loggie_spark.operators.dedup import _materialize, spread_small_input

    # Encoding is per-row COMPUTE (m × n_centroids subspace distances),
    # not IO — spread the single-split local fixture (no-op at scale).
    enc = _materialize(
        spread_small_input(corpus.select(id_col, vec_col)),
        _pq_code_columns(F.col(vec_col), codebook, m),
    )
    return enc.select(
        id_col,
        F.array(*[F.col(f"_pq{mi}") for mi in range(m)]).alias("codes"),
    )


def _pq_code_columns(
    vec: Column, codebook: list[list[float]], m: int
) -> dict[str, Column]:
    """The m per-subspace argmin code expressions (`_pq0`.. `_pq{m-1}`),
    shared by :func:`pq_encode` and the IVF-PQ one-pass index build.

    The per-subspace codebook slab rides the plan as ONE nested-array
    Literal and the n_centroids distances come from a single transform
    lambda over it — n_centroids separate fold expressions made janino
    compile a megabyte of generated code (5.4 s plan compilation for a
    2k-row input, measured); one shared lambda body compiles in
    milliseconds. The fold order (zip_with then left-fold from 0.0 in
    double) is unchanged, so codes are bit-identical and the SQL oracle
    needs no change."""
    from loggie_spark.functions.gofmt import let_bind

    dim = len(codebook[0])
    assert dim % m == 0, "dim must divide into m subspaces"
    sub = dim // m
    code_cols: dict[str, Column] = {}
    for mi in range(m):
        slab = F.lit([[float(x) for x in cb[mi * sub : (mi + 1) * sub]] for cb in codebook])
        sv = F.slice(vec, mi * sub + 1, sub)
        dists = F.transform(
            slab,
            lambda c: F.aggregate(
                F.zip_with(
                    sv,
                    c,
                    lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        )
        code_cols[f"_pq{mi}"] = let_bind(
            dists,
            lambda d: F.array_position(d, F.array_min(d)).cast("int") - 1,
        )
    return code_cols


def _pq_luts(
    corpus: DataFrame,
    query_ids: list[int],
    codebook: list[list[float]],
    m: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Per-query ADC lookup tables: (query_id, lut[m][n_centroids]) —
    the bounded driver-side collect is |queries| rows, the table
    |queries|·m·n_centroids doubles. Sums run sequentially in double so
    the SQL oracle's list_reduce reproduces them bit-for-bit."""
    dim = len(codebook[0])
    sub = dim // m
    qrows = (
        corpus.filter(F.col(id_col).isin([int(q) for q in query_ids]))
        .select(id_col, vec_col)
        .orderBy(id_col)
        .collect()
    )
    lut_rows = []
    for r in qrows:
        qv = [float(x) for x in r[1]]
        lut = []
        for mi in range(m):
            row = []
            for cb in codebook:
                s = 0.0
                for i in range(sub):
                    d = qv[mi * sub + i] - cb[mi * sub + i]
                    s += d * d
                row.append(s)
            lut.append(row)
        lut_rows.append((int(r[0]), lut))
    return local_frame(
        corpus.sparkSession, lut_rows, "query_id: bigint, lut: array<array<double>>"
    )


def _pq_adc_dist(m: int) -> Column:
    """ADC distance over bound ``lut`` and ``codes`` columns: the
    mi-ordered left fold of lookup-table entries, rounded to 4."""
    return F.round(
        F.aggregate(
            F.sequence(F.lit(0), F.lit(m - 1)),
            F.lit(0.0),
            lambda acc, mi: acc
            + F.element_at(
                F.element_at(F.col("lut"), mi + 1),
                F.element_at(F.col("codes"), mi + 1) + 1,
            ),
        ),
        4,
    )


def pq_topk(
    corpus: DataFrame,
    query_ids: list[int],
    k: int = 3,
    m: int = 4,
    n_centroids: int = 16,
    codebook: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k: encode the corpus once, build each query's
    (m × n_centroids) distance lookup table driver-side (bounded:
    |queries|·m·k doubles), then rank by the table-sum distance.

    The scan side reads only (id, codes); the query side broadcasts.
    Join is a bounded-broadcast BNLJ by the same contract as
    :func:`brute_force_topk` (the query set is small by definition).
    Distances fold subspace-major in double, so the oracle reproduces
    ranking bit-for-bit. Returns (query_id, neighbor_id, adc_dist,
    rank) with (distance, id) tiebreak.
    """
    spark = corpus.sparkSession
    if codebook is None:
        codebook = pq_codebook_prefix(
            corpus, n_centroids=n_centroids, id_col=id_col, vec_col=vec_col
        )

    enc = pq_encode(corpus, codebook, m=m, id_col=id_col, vec_col=vec_col)
    ldf = _pq_luts(corpus, query_ids, codebook, m, id_col, vec_col)
    dist = _pq_adc_dist(m)
    scored = enc.join(
        F.broadcast(ldf), F.col("query_id") != F.col(id_col)
    ).select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        dist.alias("adc_dist"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("int")
    ).filter(F.col("rank") <= int(k))


def pq_rerank_topk(
    corpus: DataFrame,
    query_ids: list[int],
    k: int = 3,
    shortlist: int = 10,
    m: int = 4,
    n_centroids: int = 16,
    codebook: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage production ANN: PQ-ADC shortlist, then exact cosine
    rerank of the shortlist only (the FAISS ``IndexPQ + refine`` shape).

    100 TB shape: stage 1 scans only the (id, m-byte codes) index;
    stage 2 fetches raw vectors for |queries|*shortlist ids via a
    broadcast equi-join (the broadcast side is the bounded shortlist,
    so the vector scan hash-probes instead of shuffling), exact cosine
    on that sliver, window top-k. Exactness of the final ranking is
    restored for every true neighbor the shortlist recalled.

    Returns (query_id, neighbor_id, cos, rank) — same contract as
    :func:`brute_force_topk`, ties broken by neighbor id.
    """
    short = pq_topk(
        corpus,
        query_ids,
        k=shortlist,
        m=m,
        n_centroids=n_centroids,
        codebook=codebook,
        id_col=id_col,
        vec_col=vec_col,
    ).select("query_id", "neighbor_id")
    q = corpus.filter(
        F.col(id_col).isin([int(x) for x in query_ids])
    ).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        norm(F.col(vec_col)).alias("_qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        norm(F.col(vec_col)).alias("_cn"),
    )
    scored = (
        c.join(F.broadcast(short), "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn(
            "cos",
            F.round(
                dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn")), 4
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= int(k))
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def ivfpq_topk(
    corpus: DataFrame,
    query_ids: list[int],
    k: int = 3,
    n_cells: int = 8,
    nprobe: int = 2,
    m: int = 4,
    n_centroids: int = 16,
    codebook: list[list[float]] | None = None,
    centroids: list[tuple[int, list[float]]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ (the FAISS ``IndexIVFPQ`` production shape, with
    ``by_residual=False`` semantics so the SQL oracle reproduces it):
    coarse cells gate WHICH vectors are scored, PQ-ADC codes decide HOW
    CHEAPLY. The index row is (id, cell, m codes) — built in ONE narrow
    codegen pass over the corpus, no shuffle, no join.

    100 TB shape: write the index partitioned by ``cell`` so a query
    scans nprobe/n_cells of an already ~250x-compressed table; the
    (query × probed-cell, LUT) side is bounded and broadcasts, so the
    probe is a broadcast equi-join on ``cell`` — the only full-corpus
    pass is the one-time index build. Recall tunes with nprobe; chain
    :func:`pq_rerank_topk`-style exact rerank on the survivors when
    exact final ordering matters.

    Returns (query_id, neighbor_id, adc_dist, rank, cell) with
    (distance, id) tiebreak.
    """
    from loggie_spark.operators.dedup import _materialize, spread_small_input

    cents = centroids or ivf_centroids(corpus, n_cells, id_col, vec_col)
    if codebook is None:
        codebook = pq_codebook_prefix(
            corpus, n_centroids=n_centroids, id_col=id_col, vec_col=vec_col
        )

    vec = F.col(vec_col)
    idx_cols = _pq_code_columns(vec, codebook, m)
    idx_cols["cell"] = F.array_max(_cell_scores(vec, cents)).getField("cid")
    # Index build is per-row COMPUTE (codes + cell assignment) — spread
    # the single-split local fixture (no-op at scale).
    idx = _materialize(
        spread_small_input(corpus.select(id_col, vec_col)), idx_cols
    ).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("cell"),
        F.array(*[F.col(f"_pq{mi}") for mi in range(m)]).alias("codes"),
    )

    probed = F.transform(
        F.slice(F.reverse(F.array_sort(_cell_scores(vec, cents))), 1, nprobe),
        lambda s: s.getField("cid"),
    )
    q = corpus.filter(F.col(id_col).isin([int(x) for x in query_ids])).select(
        F.col(id_col).alias("query_id"), F.explode(probed).alias("cell")
    )
    qq = q.join(
        _pq_luts(corpus, query_ids, codebook, m, id_col, vec_col), "query_id"
    )

    scored = (
        idx.join(F.broadcast(qq), ["cell"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _pq_adc_dist(m).alias("adc_dist"),
            "cell",
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= int(k))
        .select("query_id", "neighbor_id", "adc_dist", "rank", "cell")
    )


def bitext_margin_mine(
    src_queries: DataFrame,
    tgt_corpus: DataFrame,
    src_corpus: DataFrame,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019, the
    LASER/CCMatrix recipe): for each source-side embedding, score its
    forward nearest neighbors y by the RATIO margin

        margin(x, y) = cos(x, y) / ((dx + dy) / 2)

    where dx = mean cos of x to its k nearest targets and dy = mean cos
    of y to its k nearest sources — normalizing by local neighborhood
    density kills the hubness failure of raw cosine thresholds — and
    keep the top-1 candidate per source.

    100 TB shape: the forward stage is the bounded-query-broadcast
    top-k contract (:func:`brute_force_topk`; swap in :func:`ivf_topk`
    for the indexed path — same frame schema); the backward stage
    scores only the ≤ |queries|·k DISTINCT forward candidates (a
    broadcast equi-join fetches their vectors), never all targets. The
    (query, candidate, cos, rank) frame is scalar and bounded, so it is
    persist-shared across its three consumers (dx / candidate set /
    scoring) per the repo's DataFrame-reuse rule.

    Determinism: cosines are the 4-rounded values brute_force_topk
    emits; dx/dy fold in rank order (ordered-fold rule); ties in the
    final argmax break by target id.

    Returns ``(src_id, tgt_id, cos, margin)`` — one row per source
    query (its best-margin candidate).
    """
    from loggie_spark.operators.sharing import shared_persist

    fwd = shared_persist(
        brute_force_topk(
            src_queries, tgt_corpus, k=k, q_id=id_col, q_vec=vec_col,
            c_id=id_col, c_vec=vec_col,
        )
    )
    mean_cos = (
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("rank", "cos"))),
            F.lit(0.0),
            lambda acc, s: acc + s["cos"],
        )
        / F.lit(float(k))
    )
    dx = fwd.groupBy("query_id").agg(mean_cos.alias("_dx"))
    cand = fwd.select("neighbor_id").distinct()
    cand_vecs = tgt_corpus.join(
        F.broadcast(cand), F.col(id_col) == F.col("neighbor_id")
    ).select(id_col, vec_col)
    bwd = brute_force_topk(
        cand_vecs, src_corpus, k=k, q_id=id_col, q_vec=vec_col,
        c_id=id_col, c_vec=vec_col,
    )
    dy = bwd.groupBy("query_id").agg(mean_cos.alias("_dy")).select(
        F.col("query_id").alias("neighbor_id"), "_dy"
    )
    scored = (
        fwd.join(F.broadcast(dx), "query_id")
        .join(F.broadcast(dy), "neighbor_id")
        .select(
            F.col("query_id").alias("src_id"),
            F.col("neighbor_id").alias("tgt_id"),
            "cos",
            (F.col("cos") / ((F.col("_dx") + F.col("_dy")) / F.lit(2.0))).alias(
                "_margin"
            ),
        )
    )
    w = Window.partitionBy("src_id").orderBy(F.desc("_margin"), F.asc("tgt_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("src_id", "tgt_id", "cos", F.round("_margin", 4).alias("margin"))
    )


def hard_negative_mine(
    anchors: DataFrame,
    corpus: DataFrame,
    n_neg: int = 3,
    gamma: float = 0.05,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hard-negative mining for retriever/embedding training: for each
    anchor, its rank-1 neighbor is presumed the positive; the next
    ``n_neg`` neighbors are emitted as hard negatives UNLESS they sit
    within ``gamma`` of the positive's cosine (near-ties are likely
    unlabeled true positives — the standard false-negative filter,
    cf. RocketQA/ANCE denoising).

    Same bounded-broadcast contract as :func:`brute_force_topk` (swap
    :func:`ivf_topk` at scale); one window pass splits positive from
    negatives, so the whole mine is the top-k scan plus a scalar
    filter. Returns ``(anchor_id, neg_id, cos, rank)`` keeping the
    original top-k rank (2..n_neg+1; gaps where the filter fired).
    """
    top = brute_force_topk(
        anchors, corpus, k=n_neg + 1, q_id=id_col, q_vec=vec_col,
        c_id=id_col, c_vec=vec_col,
    )
    w = Window.partitionBy("query_id")
    pos_cos = F.max(F.when(F.col("rank") == 1, F.col("cos"))).over(w)
    return (
        top.withColumn("_pos", pos_cos)
        .filter((F.col("rank") > 1) & (F.col("cos") <= F.col("_pos") - F.lit(gamma)))
        .select(
            F.col("query_id").alias("anchor_id"),
            F.col("neighbor_id").alias("neg_id"),
            "cos",
            "rank",
        )
    )


def label_cohesion_report(
    corpus: DataFrame,
    c_id: str = "vec_id",
    c_vec: str = "embedding",
    c_label: str = "label",
) -> DataFrame:
    """Per-label embedding-cluster QA report: for every label, the
    exact mean vector (centroid), its norm — near 1.0 means the
    label's vectors point the same way, near 0 means the label is
    diffuse — plus the mean and minimum cosine of members to their own
    centroid and the centroid's dominant dimension. The pre-training
    sanity check run on labeled/clustered embedding corpora before
    trusting the labels for sampling or dedup decisions.

    Engine-deterministic by construction (the :func:`kmeans_refine`
    rule): every float sum is a SEQUENTIAL fold in a deterministic
    order — per-dimension member values fold in ``c_id`` order,
    centroid norms fold in dimension order, per-label cosine means
    fold in ``c_id`` order — so a DuckDB ordered ``list_reduce``
    reproduces every IEEE addition bit-for-bit.

    100 TB shape: the corpus explodes to (label, dim) cells ONCE and
    aggregates with a single hash(label, pos) shuffle — dim-bounded
    state per group, never corpus-bounded; the finished centroid table
    is |labels|·dim floats and joins back BROADCAST for the cosine
    pass. The collect_list folds buffer one label-dimension's member
    values — cap labels via upstream sampling if a label exceeds ~10⁷
    members (the kmeans ``max_members`` recipe applies unchanged).

    Returns ``(label, n, centroid_norm, avg_cos, min_cos, top_dim,
    top_dim_weight)`` — floats rounded to 4, ranks exact.
    """
    from loggie_spark.operators.sharing import shared_persist

    mem = corpus.select(
        c_label, c_id, F.posexplode(c_vec).alias("pos", "_val")
    )
    # per-(label, dim) mean component: ordered fold over members
    comp = (
        mem.groupBy(c_label, "pos")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct(c_id, "_val"))),
                    lambda s: s["_val"],
                ),
                F.lit(0.0),
                lambda acc, v: acc + v.cast("double"),
            ).alias("s"),
        )
        .select(c_label, "pos", "n", (F.col("s") / F.col("n")).alias("m"))
    )
    # comp feeds two consumers (cents, top) and cents feeds two more
    # (cosine pass, final select): share both as persisted scalar
    # frames or the corpus explode lineage re-executes per consumer
    comp = shared_persist(comp)
    # centroid as an array in dimension order + its norm (pos-ordered fold)
    cents = (
        comp.groupBy(c_label)
        .agg(
            F.max("n").cast("long").alias("n"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("cent"),
        )
        .select(
            c_label,
            "n",
            "cent",
            F.sqrt(
                F.aggregate(
                    "cent", F.lit(0.0), lambda acc, v: acc + v * v
                )
            ).alias("_cnorm"),
        )
    )
    cents = shared_persist(cents)
    # dominant dimension: max |m|, smallest pos tiebreak
    w_dim = Window.partitionBy(c_label).orderBy(
        F.abs(F.col("m")).desc(), F.col("pos").asc()
    )
    top = (
        comp.withColumn("_rk", F.row_number().over(w_dim))
        .where(F.col("_rk") == 1)
        .select(
            c_label,
            F.col("pos").cast("int").alias("top_dim"),
            F.col("m").alias("_top_w"),
        )
    )
    # member -> own-centroid cosine, then per-label ordered mean
    scored = corpus.select(c_label, c_id, c_vec).join(
        F.broadcast(cents.select(c_label, "cent", "_cnorm")), c_label
    )
    cos_expr = dot(F.col(c_vec), F.col("cent")) / (
        norm(F.col(c_vec)) * F.col("_cnorm")
    )
    percos = scored.select(c_label, F.col(c_id).alias("_mid"), cos_expr.alias("_cos"))
    cohesion = percos.groupBy(c_label).agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_mid", "_cos"))),
                lambda s: s["_cos"],
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("_cos_sum"),
        F.count(F.lit(1)).cast("long").alias("_nc"),
        F.min("_cos").alias("_min_cos"),
    )
    return (
        cents.join(cohesion, c_label)
        .join(top, c_label)
        .select(
            c_label,
            "n",
            F.round(F.col("_cnorm"), 4).alias("centroid_norm"),
            F.round(F.col("_cos_sum") / F.col("_nc").cast("double"), 4).alias(
                "avg_cos"
            ),
            F.round(F.col("_min_cos"), 4).alias("min_cos"),
            "top_dim",
            F.round(F.col("_top_w"), 4).alias("top_dim_weight"),
        )
    )
