"""Crawl-graph centrality: fixed-iteration PageRank with deterministic
float reductions.

Web-corpus curation pipelines use link-graph centrality as a document
quality prior (OPIC/harmonic/PageRank scores gate what gets crawled
and kept — the public CommonCrawl ranking and the RefinedWeb/CCNet
lineage both lean on host-level graph signals).  This operator scores
HOSTS (bounded model set) from an edge list, so everything after the
one data-scale edge-extraction pass runs on host-bounded frames.

Determinism contract (the repo's cross-engine rule): every float
reduction is an ORDERED sequential fold — per-destination contribution
sums fold a sorted array (``F.aggregate`` ≡ DuckDB ``list_reduce``),
and the dangling-mass total folds the sorted dangling ranks — so T
iterations produce bit-identical ranks on Spark and DuckDB, and the
oracle can unroll the same T steps as CTEs.

100 TB shape: edge extraction is the only corpus-scale pass
(map-side-combinable distinct); each iteration is one host-keyed
equi-join + one host-keyed aggregation on the bounded host/edge model
frames.  Iteration count is FIXED (the plan is T chained joins —
no driver-side convergence polling, job count independent of data).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from loggie_spark.session import local_frame


def _sorted_fold(col: Column) -> Column:
    """Sequential left fold of the sorted collected values — the
    deterministic float sum (collect_list drops NULLs)."""
    return F.aggregate(
        F.array_sort(F.collect_list(col)),
        F.lit(0.0),
        lambda a, x: a + x,
    )


def pagerank(
    edges: DataFrame,
    iters: int = 4,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    driver_cap: int | None = 1_000_000,
) -> DataFrame:
    """Fixed-``iters`` power iteration over the DISTINCT edge set:
    ``rank'(v) = (1-d)/N + d * (Σ_{u→v} rank(u)/out(u) + dangling/N)``
    with dangling mass (rank parked on nodes without out-edges)
    redistributed uniformly — the standard complete formulation, so
    ranks sum to 1 after every step.

    A distinct edge list of ≤ ``driver_cap`` edges (default 1M — the
    same bounded-driver-state contract as ``dup_clusters``'s union-find
    branch) iterates in the driver with the IDENTICAL sorted sequential
    float folds (Python left-folds over sorted doubles are the same
    IEEE additions as ``F.aggregate`` over ``array_sort``), so both
    paths produce bit-equal ranks and share one oracle. Host graphs
    above the cap run the distributed loop (``driver_cap=None`` forces
    it); either way the corpus-scale extraction pass runs ONCE.

    Returns ``(node, out_deg, rank)``.
    """
    from loggie_spark.operators.sharing import shared_persist

    # The distinct edge list is host-bounded and feeds 2 + iters
    # consumers (nodes union, out-degree, every iteration's
    # contribution join) — share it or each consumer re-executes the
    # corpus-scale extraction pass (measured: 63 FileScans in the
    # registered query's plan before this, 1 after).
    e = shared_persist(
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        ).distinct()
    )
    if driver_cap is not None and e.count() <= driver_cap:
        return _pagerank_driver(e, iters, float(damping))
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    full = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    g = (
        nodes.join(deg, nodes["node"] == deg["src"], "left")
        .select("node", F.coalesce("out_deg", F.lit(0)).alias("out_deg"))
        .withColumn("n", F.count(F.lit(1)).over(full))
        .withColumn("rank", F.lit(1.0) / F.col("n"))
    )
    d = float(damping)
    base = F.lit(1.0 - d)
    for _ in range(iters):
        # each step's state feeds TWO consumers (the contribution join
        # and the rank update) — share it or the iteration lineage
        # re-executes per consumer and doubles every step (the repo's
        # DataFrame-reuse rule); host-bounded, so cache-safe.
        g = shared_persist(g)
        dangling = F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.when(F.col("out_deg") == 0, F.col("rank"))
                ).over(full)
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        cur = g.withColumn("_dang", dangling)
        contrib = (
            cur.join(e, cur["node"] == e["src"])
            .select(F.col("dst"), (F.col("rank") / F.col("out_deg")).alias("_c"))
            .groupBy("dst")
            .agg(_sorted_fold(F.col("_c")).alias("_s"))
        )
        g = (
            cur.join(contrib, cur["node"] == contrib["dst"], "left")
            .select(
                "node",
                "out_deg",
                "n",
                (
                    base / F.col("n")
                    + F.lit(d)
                    * (
                        F.coalesce("_s", F.lit(0.0))
                        + F.col("_dang") / F.col("n")
                    )
                ).alias("rank"),
            )
        )
    return g.select("node", "out_deg", F.col("rank"))


def _pagerank_driver(e: DataFrame, iters: int, d: float) -> DataFrame:
    """Driver-side power iteration over a size-bounded cached distinct
    edge list (``pagerank``'s small-graph branch). Every float
    reduction is a Python left fold over SORTED doubles — the same
    IEEE addition sequence as the distributed path's
    ``F.aggregate(array_sort(...))`` — and the update expression
    mirrors the Catalyst expression's evaluation order term-for-term,
    so ranks are bit-equal across the two paths."""
    import pandas as pd

    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    spark = e.sparkSession
    schema = StructType(
        [
            StructField("node", e.schema["src"].dataType, True),
            StructField("out_deg", LongType(), True),
            StructField("rank", DoubleType(), True),
        ]
    )
    pdf = e.toPandas()
    srcs, dsts = pdf["src"].tolist(), pdf["dst"].tolist()
    nodes = sorted(set(srcs) | set(dsts))
    if not nodes:
        return local_frame(spark, [], schema)
    out_deg = {v: 0 for v in nodes}
    incoming: dict = {v: [] for v in nodes}
    for s, t in zip(srcs, dsts):
        out_deg[s] += 1
        incoming[t].append(s)
    n = len(nodes)
    rank = {v: 1.0 / n for v in nodes}
    base = 1.0 - d
    for _ in range(iters):
        dang = 0.0
        for x in sorted(rank[v] for v in nodes if out_deg[v] == 0):
            dang = dang + x
        new = {}
        for v in nodes:
            s = 0.0
            for x in sorted(rank[u] / out_deg[u] for u in incoming[v]):
                s = s + x
            new[v] = base / n + d * (s + dang / n)
        rank = new
    out = pd.DataFrame(
        {
            "node": nodes,
            "out_deg": [out_deg[v] for v in nodes],
            "rank": [rank[v] for v in nodes],
        }
    )
    return spark.createDataFrame(out, schema=schema)


def triangle_stats(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Exact triangle count + local clustering coefficient per node via
    degree-ordered edge orientation (the standard distributed triangle
    algorithm — Suri & Vassilvitskii 2011 "Counting Triangles and the
    Curse of the Last Reducer"; same shape as Spark GraphX's
    TriangleCount).  Host-graph clustering is a crawl-curation signal:
    link farms show near-clique local clustering while organic hosts
    sit far lower, so the coefficient complements the PageRank prior.

    Orientation: each undirected edge points from the endpoint that is
    LOWER in the total order (degree, node) to the higher one.  Every
    triangle then has exactly one node with two out-edges (its
    lowest-ordered corner), so joining oriented wedges (u→v, u→w with
    ord(v) < ord(w)) against the oriented edge set on (v, w) counts
    each triangle exactly once.

    100 TB shape: the orientation bounds every wedge-join key's fan by
    the oriented out-degree — O(√m) even on power-law graphs, which is
    the whole point: a raw neighbor self-join explodes on hub nodes,
    the oriented one cannot ("curse of the last reducer").  All
    arithmetic is integral until the final per-node ratio; joins are
    hash equi-joins on node / (v, w) pairs.

    Returns ``(node, deg, triangles, clustering)`` with
    ``clustering = 2·tri / (deg·(deg−1))`` (0.0 when deg < 2),
    rounded to 4 decimals.
    """
    from loggie_spark.operators.sharing import shared_persist

    a, b = F.col(src_col), F.col(dst_col)
    # und feeds three consumers (both degree-union sides + the
    # orientation join), deg three (two orientation joins + the final
    # left join), oriented two (wedge self-join + the closing
    # semi-join) — per the DataFrame-reuse rule each reference would
    # re-run the corpus-scale edge extraction; all three are narrow
    # (src, dst)/(node, deg) scalar frames, so share them (measured:
    # 17 corpus scans → 1, pinned in test_shared_persist_bounds_
    # corpus_scans).
    und = shared_persist(
        edges.where(a != b)
        .select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .distinct()
    )
    deg = shared_persist(
        und.select(F.col("a").alias("node"))
        .union(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("_dega"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("_degb"))
    ann = und.join(da, "a").join(db, "b")
    a_first = (F.col("_dega") < F.col("_degb")) | (
        (F.col("_dega") == F.col("_degb")) & (F.col("a") < F.col("b"))
    )
    oriented = shared_persist(
        ann.select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(a_first, F.col("_degb")).otherwise(F.col("_dega")).alias("_degv"),
        )
    )
    e1 = oriented.select("u", F.col("v").alias("v1"), F.col("_degv").alias("_d1"))
    e2 = oriented.select("u", F.col("v").alias("v2"), F.col("_degv").alias("_d2"))
    wedges = e1.join(e2, "u").where(
        (F.col("_d1") < F.col("_d2"))
        | ((F.col("_d1") == F.col("_d2")) & (F.col("v1") < F.col("v2")))
    )
    tri = wedges.join(
        oriented.select(F.col("u").alias("v1"), F.col("v").alias("v2")),
        ["v1", "v2"],
    ).select("u", "v1", "v2")
    per_node = (
        tri.select(F.explode(F.array("u", "v1", "v2")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return (
        deg.join(per_node, "node", "left")
        .select(
            "node",
            F.col("deg").cast("long").alias("deg"),
            F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
            F.round(
                F.when(
                    F.col("deg") >= 2,
                    F.lit(2.0)
                    * F.coalesce("triangles", F.lit(0)).cast("double")
                    / (F.col("deg").cast("double") * (F.col("deg") - 1).cast("double")),
                ).otherwise(F.lit(0.0)),
                4,
            ).alias("clustering"),
        )
    )


def triangle_stats_sql(edges_cte: str) -> tuple[str, str]:
    """DuckDB spelling of :func:`triangle_stats` — identical
    orientation, joins, and the same single-division coefficient, for
    oracle queries.  ``edges_cte`` names an in-scope CTE with columns
    (src, dst); dedup/self-loop handling happens here."""
    body = f"""und AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM {edges_cte} WHERE src <> dst),
    deg AS (SELECT node, count(*) AS deg FROM (
        SELECT a AS node FROM und UNION ALL SELECT b FROM und)
      GROUP BY node),
    oriented AS (
      SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
                  THEN u.a ELSE u.b END AS u,
             CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
                  THEN u.b ELSE u.a END AS v,
             CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
                  THEN db.deg ELSE da.deg END AS degv
      FROM und u JOIN deg da ON da.node = u.a JOIN deg db ON db.node = u.b),
    tri AS (
      SELECT e1.u, e1.v AS v1, e2.v AS v2
      FROM oriented e1 JOIN oriented e2 ON e1.u = e2.u
       AND (e1.degv < e2.degv OR (e1.degv = e2.degv AND e1.v < e2.v))
      JOIN oriented e3 ON e3.u = e1.v AND e3.v = e2.v),
    per_node AS (SELECT node, count(*) AS triangles FROM (
        SELECT u AS node FROM tri
        UNION ALL SELECT v1 FROM tri UNION ALL SELECT v2 FROM tri)
      GROUP BY node),
    tstats AS (
      SELECT d.node, CAST(d.deg AS BIGINT) AS deg,
             CAST(coalesce(p.triangles, 0) AS BIGINT) AS triangles,
             round(CAST(CAST(CASE WHEN d.deg >= 2 THEN
               2.0 * CAST(coalesce(p.triangles, 0) AS DOUBLE)
               / (CAST(d.deg AS DOUBLE) * CAST(d.deg - 1 AS DOUBLE))
             ELSE 0.0 END AS VARCHAR) AS DECIMAL(30,17)), 4) AS clustering
      FROM deg d LEFT JOIN per_node p ON p.node = d.node)"""
    return body, "tstats"


def pagerank_unrolled_sql(
    edges_cte: str,
    iters: int = 4,
    damping: float = 0.85,
) -> tuple[str, str]:
    """DuckDB spelling of :func:`pagerank` as unrolled CTE steps —
    identical expression shapes and the same ordered folds, for oracle
    queries.  ``edges_cte`` must be the NAME of an in-scope CTE with
    columns (src, dst), already distinct."""
    d = repr(float(damping))
    base = repr(1.0 - float(damping))
    fold = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort({lst})),"
        " (a, x) -> a + x)"
    )
    parts = [
        f"""nodes AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM {edges_cte}
        UNION SELECT dst FROM {edges_cte})),
    deg AS (SELECT src, count(*) AS out_deg FROM {edges_cte} GROUP BY src),
    g0 AS (SELECT n.node, coalesce(d.out_deg, 0) AS out_deg,
                  (SELECT count(*) FROM nodes) AS n,
                  1.0 / (SELECT count(*) FROM nodes) AS rank
           FROM nodes n LEFT JOIN deg d ON d.src = n.node)"""
    ]
    for t in range(iters):
        dang_lst = f"list(rank) FILTER (WHERE out_deg = 0)"
        parts.append(
            f"""dang{t} AS (SELECT coalesce({fold.format(
                lst=f"coalesce({dang_lst}, CAST([] AS DOUBLE[]))")}, 0.0)
               AS ds FROM g{t})"""
        )
        parts.append(
            f"""c{t} AS (SELECT e.dst AS node,
               {fold.format(lst="list(r.rank / r.out_deg)")} AS s
             FROM g{t} r JOIN {edges_cte} e ON e.src = r.node
             GROUP BY e.dst)"""
        )
        parts.append(
            f"""g{t + 1} AS (SELECT g.node, g.out_deg, g.n,
               {base} / g.n + {d} * (coalesce(c.s, 0.0) + dg.ds / g.n) AS rank
             FROM g{t} g LEFT JOIN c{t} c ON c.node = g.node, dang{t} dg)"""
        )
    body = ",\n    ".join(parts)
    return body, f"g{iters}"
