"""Corpus-level statistics operators: vocabulary building and
self-trained bigram-LM fluency scoring.

Both are standard steps in large-scale training-data pipelines (vocab
coverage reports; CCNet-style LM quality filtering). The reference
engine has no analog — these extend the training-data surface the same
way dedup/similarity do. Everything is built-in Catalyst: the per-doc
word counting is a single O(n log n) in-row pass (sort + run-length
boundaries), so the vocabulary aggregation shuffles one row per
DISTINCT word per doc — the in-row pass IS the map-side combine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from loggie_spark.operators.dedup import _materialize, spread_small_input, tokenize
from loggie_spark.operators.sharing import shared_persist


def with_word_run_counts(
    df: DataFrame, text_col: str = "text", out_col: str = "_wc"
) -> DataFrame:
    """Append ``out_col: array<struct<word,cnt>>`` — per-document word
    frequencies computed entirely in-row in O(n log n): sort the word
    array once (materialized behind a Generate barrier so lambdas see
    a column reference, not a re-inlined sort), find run boundaries,
    and read each run's word + length off the boundary index list. No
    quadratic array-append fold, no explode of raw tokens — the
    shuffle that follows carries one row per DISTINCT word per
    document."""
    step = _materialize(df, {"_ws": F.array_sort(tokenize(F.col(text_col)))})
    step = _materialize(step, {"_ends": _boundary_ends(F.col("_ws"))})
    return step.withColumn(
        out_col, _pairs_from_ends(F.col("_ws"), F.col("_ends"))
    ).drop("_ws", "_ends")


def _boundary_ends(ws: Column) -> Column:
    n = F.size(ws)
    # sequence(1, 0) DESCENDS in Spark — guard the empty-array case
    # explicitly or the filter probes ws[1] of an empty array (ANSI error).
    return F.when(
        n > 0,
        F.filter(
            F.sequence(F.lit(1), n),
            lambda i: (i == n) | (F.element_at(ws, i) != F.element_at(ws, i + 1)),
        ),
    ).otherwise(F.array().cast("array<int>"))


def _pairs_from_ends(ws: Column, ends: Column) -> Column:
    pairs = F.transform(
        ends,
        lambda e, j: F.struct(
            F.element_at(ws, e).alias("word"),
            (e - F.when(j == 0, F.lit(0)).otherwise(F.element_at(ends, j)))
            .cast("int")
            .alias("cnt"),
        ),
    )
    return F.when(F.size(ws) > 0, pairs).otherwise(
        F.array().cast("array<struct<word:string,cnt:int>>")
    )


def vocab_stats(
    docs: DataFrame,
    top_k: int | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Corpus vocabulary: per-word total term frequency and document
    frequency, optionally cut to the ``top_k`` most frequent words
    (ties broken by word, deterministic).

    100 TB shape: :func:`with_word_run_counts` pre-aggregates inside the
    row, so the global aggregation shuffles (word, cnt) once per
    distinct word per doc (bounded by vocab size × docs, a fraction of
    raw token count) with map-side combine on top; heavy-hitter words
    ('the') are just one partial count per task, never a skewed
    reduce. ``top_k`` compiles to TakeOrdered (per-partition heap +
    driver merge of k rows), not a global sort.

    Returns ``(word, tf, df)``.
    """
    exploded = with_word_run_counts(spread_small_input(docs), text_col).select(
        F.explode(F.col("_wc")).alias("p")
    )
    out = exploded.groupBy(F.col("p.word").alias("word")).agg(
        F.sum("p.cnt").cast("long").alias("tf"),
        F.count(F.lit(1)).cast("long").alias("df"),
    )
    if top_k is not None:
        out = out.orderBy(F.col("tf").desc(), F.col("word")).limit(top_k)
    return out


def bigram_lm_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 1,
    model_docs: DataFrame | None = None,
) -> DataFrame:
    """CCNet-style LM fluency scoring: an MLE bigram model
    P(w2 | w1) = c(w1,w2) / c(w1·) is estimated from ``model_docs``
    (default: ``docs`` itself — the self-trained form), and each
    document is scored with the MEAN conditional probability of its
    bigrams. Template/boilerplate text scores high, shuffled or
    malformed text scores low — the same signal CCNet gets from a
    KenLM perplexity, without an external model artifact.

    ``model_docs`` is CCNet's actual recipe: train the LM on a trusted
    target-domain slice (CCNet uses Wikipedia) and score the whole
    crawl against it — documents whose bigrams never appear in the
    target domain contribute nothing to the mean (score NULL when no
    bigram survives), exactly like the floor-pruned case. Pass a
    filtered view of the same table or any frame with the same
    text/id columns.

    Probabilities (not log-probs) keep the score bit-reproducible
    across engines: c12/c1 is one IEEE-exact double division, and the
    per-doc mean folds the SORTED probability list sequentially, so
    Spark and the DuckDB oracle add in the same order and land on the
    same double.

    100 TB shape: two scalar aggregations build the model (bigram
    counts, context counts — both map-side combined); the per-doc
    score is one join of (id, w1, w2) scalars against the model table
    and one groupBy(id). ``min_count`` is the CCNet-style vocab floor
    that bounds the model: at corpus scale set it ≥ 2-5 so the model
    stays MiB-sized (rare bigrams carry no fluency signal anyway);
    bigrams pruned by the floor are excluded from both ``n_bigrams``
    and the mean. The broadcast hint is applied ONLY when the floor is
    active (``min_count ≥ 2``): a floored model is vocab-bounded and
    broadcast-hash keeps the skewed probe stream (one row per bigram
    OCCURRENCE, hot on natural keys like "of the") off any shuffle.
    With ``min_count=1`` the model is one row per DISTINCT bigram —
    unbounded at web scale — so the join is left to AQE, which
    broadcasts it when it measures small and falls back to a
    skew-split shuffle join when it does not (never an executor OOM
    from a forced hint). Text never shuffles either way.

    Returns ``(id_col, n_bigrams, lm_score)``; docs with fewer than
    two words (or none surviving the floor) get ``n_bigrams = 0`` and
    a NULL score.
    """
    # Materialize the word array before the lambda walk — Catalyst
    # re-inlines expression trees into every element_at reference, so
    # building bigrams off tokenize(...) directly re-splits the text
    # once per element.
    def exploded_bigrams(frame: DataFrame, *head_cols: str) -> DataFrame:
        base = _materialize(
            spread_small_input(frame).select(id_col, text_col),
            {"_w": tokenize(F.col(text_col))},
        )
        w = F.col("_w")
        bigrams = F.when(
            F.size(w) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(w) - 1),
                lambda i: F.struct(
                    F.element_at(w, i).alias("w1"),
                    F.element_at(w, i + 1).alias("w2"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        return base.select(*head_cols, F.explode(bigrams).alias("bg")).select(
            *head_cols, "bg.w1", "bg.w2"
        )

    doc_bg = exploded_bigrams(docs, id_col)
    model_bg = doc_bg if model_docs is None else exploded_bigrams(model_docs)
    c12 = model_bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    # context counts roll up from the bigram counts (vocab²-sized), not
    # from a second pass over the corpus: c(w1·) = Σ_w2 c(w1,w2).
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    # c(w1·) sums over ALL bigrams (the true MLE denominator) even when
    # the floor prunes which (w1,w2) rows survive into the model.
    model = (
        c12.filter(F.col("c12") >= F.lit(int(min_count)))
        .join(c1, "w1")
        .select("w1", "w2", (F.col("c12") / F.col("c1")).alias("p"))
    )
    if min_count >= 2:  # floored model is vocab-bounded -> safe to pin
        model = F.broadcast(model)
    scored = (
        doc_bg.join(model, ["w1", "w2"])
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_bigrams"),
            F.round(
                F.aggregate(
                    F.sort_array(F.collect_list("p")),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / F.count(F.lit(1)),
                4,
            ).alias("lm_score"),
        )
    )
    return (
        docs.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            "lm_score",
        )
    )


def corpus_report(
    docs: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    exact: bool = False,
) -> DataFrame:
    """Per-source corpus health report: doc counts, word totals and
    length percentiles — the dashboard frame a curation pipeline
    publishes next to every snapshot.

    The DEFAULT is ``exact=False``: ``approx_percentile`` (t-digest,
    bounded memory, map-side combinable) — the plan that survives a
    popular source at 100 TB, at ±ε on the percentiles.  ``exact=True``
    uses ``percentile_disc`` (discrete inverse distribution — the value
    semantics DuckDB's ``quantile_disc`` reproduces bit-exactly, so the
    report is oracle-checkable); exact percentiles buffer each group's
    values in the aggregation, fine up to ~10^8 rows per group.
    Counts/sums/means are exact either way.
    """
    from loggie_spark.operators.dedup import tokenize

    n = F.size(tokenize(F.col(text_col)))
    base = docs.select(F.col(group_col).alias("source"), n.alias("_n"))
    if exact:
        q = lambda p: F.expr(  # noqa: E731
            f"CAST(percentile_disc({p}) WITHIN GROUP (ORDER BY _n) AS BIGINT)"
        )
    else:
        q = lambda p: F.expr(f"approx_percentile(_n, {p})").cast("long")  # noqa: E731
    return base.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_n").cast("long").alias("total_words"),
        F.round(F.avg("_n"), 2).alias("avg_words"),
        q(0.5).alias("p50_words"),
        q(0.9).alias("p90_words"),
        q(0.99).alias("p99_words"),
    )


def tokenize_to_ids(
    docs: DataFrame,
    vocab_size: int = 25,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Encode text to token ids against a corpus-derived vocabulary —
    the step that turns a curated text corpus into the pre-tokenized
    (tokens: array<int32>) table every other operator here consumes.

    Vocabulary = top ``vocab_size`` words by term frequency (ties by
    word — deterministic), ids dense 1-based in that order; words off
    the vocab encode as -1 (OOV). The per-doc result is summarized as
    ``(n_tok, n_oov, ids_hash)`` where ids_hash is the md5 of the
    space-joined id sequence in document order — enough for an exact
    cross-engine oracle without shipping giant arrays through the
    compare.

    100 TB shape: the vocab is aggregated with the same in-row
    run-length pre-combine as :func:`vocab_stats` and then BROADCAST
    (real tokenizer vocabs are 10⁴-10⁵ rows); the corpus side is one
    posexplode → broadcast-hash lookup → per-doc fold. The id-assign
    window runs over the vocab frame only (vocab_size rows, one
    partition — never the corpus).
    """
    from pyspark.sql import Window

    vocab = vocab_stats(docs, top_k=vocab_size, text_col=text_col).withColumn(
        "id",
        F.row_number()
        .over(Window.orderBy(F.col("tf").desc(), F.col("word")))
        .cast("int"),
    ).select("word", "id")
    words = tokenize(F.col(text_col))
    doc_words = spread_small_input(docs).select(
        F.col(id_col), F.posexplode(words).alias("pos", "word")
    )
    encoded = doc_words.join(F.broadcast(vocab), "word", "left").select(
        id_col, "pos", F.coalesce("id", F.lit(-1)).alias("tid")
    )
    per_doc = encoded.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_tok"),
        F.sum((F.col("tid") == -1).cast("int")).cast("int").alias("n_oov"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tid"))),
                    lambda s: s["tid"].cast("string"),
                ),
                " ",
            )
        ).alias("ids_hash"),
    )
    import hashlib

    empty_hash = hashlib.md5(b"").hexdigest()
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_tok", F.lit(0)).alias("n_tok"),
            F.coalesce("n_oov", F.lit(0)).alias("n_oov"),
            F.coalesce("ids_hash", F.lit(empty_hash)).alias("ids_hash"),
        )
    )


def ccnet_buckets(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    min_count: int = 1,
) -> DataFrame:
    """CCNet-style quality bucketing: rank every document inside its
    group (CCNet uses language; here ``group_col``) by the self-trained
    bigram-LM fluency score and cut the ranking into head / middle /
    tail terciles — head is the most-fluent third, the slice CCNet
    feeds to LM training first.

    Bucket edges are INTEGER arithmetic over the dense rank (r·3 ≤ n
    etc.), not float quantiles — deterministic, no float thresholds to
    drift across engines; ties rank by (score, id). Docs with no
    scorable bigrams sort to the bottom (score coalesced below any
    probability) and land in tail.

    100 TB shape — no full-group window (a per-group row_number would
    put one group's every row in ONE task). Two-phase tercile cut,
    exact to the rank semantics above:

    1. rows collapse to per-(group, score) CLASS counts — map-side
       combinable, and bounded: scores are probabilities rounded to 4
       decimals, so a group has ≤ ~10⁴ classes no matter how many docs;
    2. a window over the CLASS frame (≤10⁴ rows/group, never the
       corpus) finds the two boundary classes where ranks ⌊n/3⌋ and
       ⌊2n/3⌋ fall, with the in-class position of each;
    3. a row_number window ranks ids ONLY inside the ≤2 boundary
       classes per group (partitioned by (group, score) — the worst
       partition is one tie-class, not one group) to extract the exact
       (score, id) threshold pairs;
    4. every row buckets by COMPARISON against the broadcast threshold
       pairs — tie semantics identical to the rank form: before-the-
       head-threshold ⟺ score > s_h ∨ (score = s_h ∧ id ≤ id_h).

    Returns ``(id_col, group_col, bucket)``.
    """
    from pyspark.sql import Window

    scores = bigram_lm_scores(docs, text_col, id_col, min_count=min_count)
    # Checkpoint the (id, group, score) scalar frame: it feeds THREE
    # branches (class counts, boundary-class ranking, final bucketing)
    # and per-branch pruning defeats ReuseExchange, so without sharing
    # each branch re-runs the whole bigram-LM scoring — measured 30
    # FileScans of the corpus per run. persist() maps all references
    # onto one InMemoryRelation of corpus-scalar rows, computed once.
    frame = (
        docs.select(id_col, group_col)
        .join(scores, id_col)
        .select(
            id_col,
            group_col,
            F.coalesce("lm_score", F.lit(-1.0)).alias("_s"),
        )
    )
    frame = shared_persist(frame)
    # (1) class counts: one row per (group, distinct rounded score) —
    # also multi-referenced (window marks, boundary scan), also tiny
    # (≤ ~10⁴ score classes per group), so share it too
    cls = shared_persist(
        frame.groupBy(group_col, "_s").agg(
            F.count(F.lit(1)).cast("long").alias("_c")
        )
    )
    # (2) cumulative ranks over the small class frame
    wc = (
        Window.partitionBy(group_col)
        .orderBy(F.col("_s").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n = F.sum("_c").over(Window.partitionBy(group_col))
    cum = F.sum("_c").over(wc)
    marked = cls.select(
        group_col,
        "_s",
        "_c",
        (cum - F.col("_c")).alias("_before"),
        cum.alias("_cum"),
        F.floor(n / 3).alias("_h"),
        F.floor(n * 2 / 3).alias("_m"),
    )
    bnd = None
    for kind, k in (("h", "_h"), ("m", "_m")):
        part = marked.filter(
            (F.col("_before") < F.col(k)) & (F.col(k) <= F.col("_cum"))
        ).select(
            group_col,
            "_s",
            F.lit(kind).alias("_kind"),
            (F.col(k) - F.col("_before")).alias("_pos"),
        )
        bnd = part if bnd is None else bnd.unionByName(part)
    # (3) rank ids only inside boundary classes (≤2 per group)
    bclasses = bnd.select(group_col, "_s").distinct()
    in_bnd = frame.join(F.broadcast(bclasses), [group_col, "_s"])
    wr = Window.partitionBy(group_col, "_s").orderBy(id_col)
    thr_rows = (
        in_bnd.withColumn("_rn", F.row_number().over(wr))
        .join(F.broadcast(bnd), [group_col, "_s"])
        .filter(F.col("_rn") == F.col("_pos"))
        .select(group_col, "_kind", "_s", F.col(id_col).alias("_tid"))
    )
    thr = thr_rows.groupBy(group_col).agg(
        F.max(F.when(F.col("_kind") == "h", F.struct("_s", "_tid"))).alias("_th"),
        F.max(F.when(F.col("_kind") == "m", F.struct("_s", "_tid"))).alias("_tm"),
    )
    # (4) bucket by comparison against the ≤|groups| threshold rows
    out = frame.join(F.broadcast(thr), group_col, "left")

    def _le(t):  # row key (score desc, id asc) at-or-before threshold t
        return t.isNotNull() & (
            (F.col("_s") > t["_s"])
            | ((F.col("_s") == t["_s"]) & (F.col(id_col) <= t["_tid"]))
        )

    head = _le(F.col("_th"))
    bucket = (
        F.when(head, "head")
        .when(_le(F.col("_tm")), "middle")
        .otherwise("tail")
    )
    return out.select(id_col, group_col, bucket.alias("bucket"))


def tfidf_keywords(
    docs: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 1,
    max_vocab: int | None = None,
) -> DataFrame:
    """Per-document top-``k`` TF-IDF keywords. The idf is the RATIONAL
    form tf/df (document frequency in the denominator, no logarithm):
    ranking is identical to the log form for fixed tf, and one IEEE
    division is bit-reproducible across engines where ``ln`` is not.

    100 TB shape: term frequencies come from the in-row run-length
    pass (:func:`with_word_run_counts` — one shuffled row per DISTINCT
    word per doc), document frequencies from the same aggregation as
    :func:`vocab_stats`; the final top-k is a per-doc window over
    (id, word, score) scalars. The df table is one row per DISTINCT
    WORD in the corpus — billions at web scale (URLs, typos, hashes) —
    so it is broadcast ONLY when explicitly bounded: ``min_df ≥ 2``
    (words below the floor drop out of scoring — they are the
    singleton noise tf-idf exists to discount) and/or ``max_vocab``
    (keep the top-V words by df, ties by word). Unbounded (the
    default), the join stays a hash join on ``word``, reusing the very
    exchange the df groupBy just produced — no second shuffle of the
    probe side's word column, and no driver/executor OOM from an
    unbounded forced broadcast.

    Returns ``(id_col, rank, word, score)`` with score rounded to 4.
    """
    from pyspark.sql import Window

    exploded = with_word_run_counts(spread_small_input(docs), text_col).select(
        F.col(id_col), F.explode(F.col("_wc")).alias("p")
    ).select(id_col, F.col("p.word").alias("word"), F.col("p.cnt").alias("cnt"))
    df_tbl = exploded.groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    if min_df > 1:
        df_tbl = df_tbl.filter(F.col("df") >= F.lit(int(min_df)))
    if max_vocab is not None:
        df_tbl = df_tbl.orderBy(F.col("df").desc(), "word").limit(int(max_vocab))
    if min_df > 1 or max_vocab is not None:  # bounded -> safe to pin
        df_tbl = F.broadcast(df_tbl)
    score = F.col("cnt").cast("double") / F.col("df").cast("double")
    w = Window.partitionBy(id_col).orderBy(score.desc(), F.col("word"))
    return (
        exploded.join(df_tbl, "word")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            id_col,
            F.col("rank").cast("int").alias("rank"),
            "word",
            F.round(score, 4).alias("score"),
        )
    )


def ngram_novelty(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of the doc's DISTINCT
    word n-grams that occur in no other document — high novelty marks
    original content, low novelty marks boilerplate/templated text
    (the corpus-global complement of the in-doc repetition signals).

    100 TB shape: grams are hashed to 60-bit integers IN-ROW before any
    wide op, so the gram-frequency shuffle and the join back carry
    (doc, hash) scalars, never gram strings; the hash is the
    engine-agnostic md5 family so the DuckDB oracle reproduces it (and
    any collision) exactly. groupBy(hash) and the join share one
    partitioning. Returns ``(id_col, n_grams, novelty)``; docs shorter
    than ``n`` words contribute their whole text as one gram.
    """
    from loggie_spark.functions.hashing import md5_60bit
    from loggie_spark.operators.dedup import word_ngrams

    grams = F.array_distinct(word_ngrams(tokenize(F.col(text_col)), n))
    base = _materialize(
        spread_small_input(docs).select(id_col, text_col), {"_gs": grams}
    )
    pairs = base.select(
        F.col(id_col), F.explode("_gs").alias("_g")
    ).select(id_col, md5_60bit(F.col("_g")).alias("_h"))
    freq = pairs.groupBy("_h").agg(F.count(F.lit(1)).cast("long").alias("_docs"))
    per_doc = (
        pairs.join(freq, "_h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_grams"),
            F.round(
                F.sum((F.col("_docs") == 1).cast("int"))
                / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("novelty"),
        )
    )
    return per_doc


def source_overlap(
    docs: DataFrame,
    shingle: int = 3,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Pairwise n-gram Jaccard overlap matrix between corpus groups
    (sources/domains/snapshots) — the cross-source contamination audit
    run before mixing corpora: high overlap between a "new" crawl and
    an existing source means it adds mostly duplicate mass.

    100 TB shape: grams are hashed to 60-bit integers IN-ROW, then
    reduced to DISTINCT (group, hash) scalars — the only data that ever
    shuffles; the per-gram self-join fans out at most |groups choose 2|
    rows per gram (groups are a bounded label set, not data-sized), and
    the final matrix is |groups|² rows. A gram shared by every group is
    the worst case; with G groups that is G²/2 join rows per gram —
    bounded by the label-set size, never by corpus size. Returns
    ``(src_a, src_b, n_common, n_a, n_b, jaccard)`` for pairs with at
    least one shared gram (disjoint pairs are absent, by construction).
    Docs shorter than ``shingle`` words contribute their whole text as
    one gram (:func:`loggie_spark.operators.dedup.word_ngrams`).
    """
    from loggie_spark.functions.hashing import md5_60bit
    from loggie_spark.operators.dedup import word_ngrams

    grams = F.array_distinct(word_ngrams(tokenize(F.col(text_col)), shingle))
    base = _materialize(
        spread_small_input(docs).select(group_col, text_col), {"_gs": grams}
    )
    # gset feeds THREE branches (both self-join sides + sizes); per
    # the repo's DataFrame-reuse rule the tokenize/shingle/hash lineage
    # would re-execute ~3x without sharing — it is distinct
    # (group, hash) scalars, bounded, so share it.
    gset = shared_persist(
        base.select(F.col(group_col).alias("grp"), F.explode("_gs").alias("_g"))
        .select("grp", md5_60bit(F.col("_g")).alias("_h"))
        .distinct()
    )
    sizes = gset.groupBy("grp").agg(F.count(F.lit(1)).cast("long").alias("n"))
    inter = (
        gset.alias("a")
        .join(
            gset.alias("b"),
            (F.col("a._h") == F.col("b._h")) & (F.col("a.grp") < F.col("b.grp")),
        )
        .groupBy(
            F.col("a.grp").alias("src_a"), F.col("b.grp").alias("src_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    out = (
        inter.join(sizes.select(F.col("grp").alias("src_a"), F.col("n").alias("n_a")), "src_a")
        .join(sizes.select(F.col("grp").alias("src_b"), F.col("n").alias("n_b")), "src_b")
    )
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast(
        "double"
    )
    return out.select(
        "src_a",
        "src_b",
        "n_common",
        "n_a",
        "n_b",
        F.round(jac, 4).alias("jaccard"),
    )


def quality_threshold_curve(
    docs: DataFrame,
    thresholds: list[float] | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Quality-cutoff planning curve: for each candidate threshold,
    how many documents and how many tokens survive ``quality ≥ t`` —
    the table a data team reads before choosing a filter cutoff
    ("0.6 keeps 48% of docs but 71% of tokens").

    100 TB shape: ONE narrow pass computes (quality, n_words) per row,
    ONE global aggregation evaluates every threshold as a conditional
    sum (map-side combined, |thresholds|·2 cells of state total), and
    the curve unpivots from that single row with a plan-time literal
    array — no per-threshold scan, no shuffle beyond the one
    aggregation.

    Returns ``(threshold, docs_kept, tokens_kept, frac_docs,
    frac_tokens)``, fractions rounded to 4.
    """
    from loggie_spark.operators.textstats import quality_score

    if thresholds is None:
        thresholds = [i / 10.0 for i in range(10)]
    base = spread_small_input(docs).select(
        F.round(quality_score(F.col(text_col)), 4).alias("_q"),
        F.size(tokenize(F.col(text_col))).cast("long").alias("_n"),
    )
    aggs = [
        F.count(F.lit(1)).cast("long").alias("_nd"),
        F.sum("_n").cast("long").alias("_nt"),
    ]
    for i, t in enumerate(thresholds):
        keep = F.col("_q") >= F.lit(float(t))
        aggs.append(
            F.sum(F.when(keep, F.lit(1)).otherwise(F.lit(0))).cast("long").alias(f"_d{i}")
        )
        aggs.append(
            F.sum(F.when(keep, F.col("_n")).otherwise(F.lit(0))).cast("long").alias(f"_t{i}")
        )
    row = base.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(float(t)).alias("threshold"),
                F.col(f"_d{i}").alias("docs_kept"),
                F.col(f"_t{i}").alias("tokens_kept"),
            )
            for i, t in enumerate(thresholds)
        ]
    )
    return row.select(F.explode(entries).alias("e"), "_nd", "_nt").select(
        F.col("e.threshold").alias("threshold"),
        F.col("e.docs_kept").alias("docs_kept"),
        F.col("e.tokens_kept").alias("tokens_kept"),
        F.round(F.col("e.docs_kept") / F.col("_nd"), 4).alias("frac_docs"),
        F.round(F.col("e.tokens_kept") / F.col("_nt"), 4).alias("frac_tokens"),
    )


def source_token_drift(
    docs: DataFrame,
    top_v: int = 100,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source token-distribution drift vs the whole corpus —
    chi-squared over the top-``top_v`` corpus words:
    ``chi2(s) = Σ_w (q_w|s − p_w)² / p_w`` with p the corpus and q the
    source distribution, both restricted to (and renormalized over)
    the top-V simplex. The monitoring signal that flags a source whose
    language suddenly shifts (spam influx, wrong-language crawl,
    template storm) without ever shipping text anywhere.

    Chi-squared, not KL: no logarithm, so every term is a subtract /
    multiply / divide of IEEE doubles that any engine reproduces
    bit-for-bit; the per-source sum folds in word order (sorted
    collect over exactly V items), keeping the total engine-exact the
    same way the LM/DSIR scores do.

    100 TB shape: the vocab is a V-row TakeOrdered broadcast; source
    word counts are one map-side-combined groupBy over rows that exist
    only for vocab words (broadcast semi-join prunes the rest in-task);
    the final fold is over V scalars per source. Text never shuffles.

    Returns ``(group_col, n_tokens_v, chi2)``; a source with zero
    top-V tokens has no distribution to compare and emits no row.
    """
    # ONE text scan: collapse straight to (source, word, c); the vocab
    # and the corpus totals both roll up from this scalar frame (the
    # same derivation chain the DuckDB oracle uses). The frame feeds
    # FIVE downstream branches, and per-branch column pruning makes the
    # canonicalized subtrees differ — ReuseExchange does NOT kick in
    # (measured: 6 FileScans of the corpus without the checkpoint) —
    # so the scalar aggregate is shared via persist() — every branch
    # reads one InMemoryRelation computed once inside the output job.
    # Its size is bounded by |sources| × |distinct words per source|,
    # a fraction of the text.
    src_counts_all = shared_persist(
        with_word_run_counts(spread_small_input(docs), text_col)
        .select(group_col, F.explode(F.col("_wc")).alias("p"))
        .groupBy(group_col, F.col("p.word").alias("word"))
        .agg(F.sum("p.cnt").cast("long").alias("c"))
    )
    vocab = (
        src_counts_all.groupBy("word")
        .agg(F.sum("c").cast("long").alias("tf"))
        .orderBy(F.col("tf").desc(), F.col("word"))
        .limit(int(top_v))
    )
    nv = vocab.agg(F.sum("tf").cast("long").alias("_nv"))
    pw = vocab.crossJoin(F.broadcast(nv)).select(
        "word", (F.col("tf").cast("double") / F.col("_nv")).alias("p")
    )
    src_counts = src_counts_all.join(F.broadcast(vocab.select("word")), "word")
    n_s = src_counts.groupBy(group_col).agg(
        F.sum("c").cast("long").alias("n_tokens_v")
    )
    # Full (source × vocab-word) grid so absent words contribute their
    # (0 − p)²/p = p mass; the grid is S·V rows of scalars, bounded.
    grid = n_s.crossJoin(F.broadcast(pw))
    terms = (
        grid.join(src_counts, [group_col, "word"], "left")
        .select(
            group_col,
            "n_tokens_v",
            "word",
            (
                (
                    F.coalesce(F.col("c"), F.lit(0)).cast("double")
                    / F.col("n_tokens_v")
                    - F.col("p")
                )
                * (
                    F.coalesce(F.col("c"), F.lit(0)).cast("double")
                    / F.col("n_tokens_v")
                    - F.col("p")
                )
                / F.col("p")
            ).alias("term"),
        )
    )
    return (
        terms.groupBy(group_col, "n_tokens_v")
        .agg(
            F.round(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("word", "term"))),
                    F.lit(0.0),
                    lambda acc, s: acc + s["term"],
                ),
                4,
            ).alias("chi2")
        )
        .select(group_col, "n_tokens_v", "chi2")
    )


def binary_auc(
    df: DataFrame, score: Column, label: Column
) -> DataFrame:
    """Exact ROC-AUC of a per-row ``score`` against a binary ``label``
    — the Mann-Whitney rank-sum with tied-rank averaging (the same
    statistic sklearn's roc_auc_score computes), as a corpus-level
    quality-scorer / classifier evaluation report.

    100 TB shape: one groupBy(score) shuffle compresses the corpus to
    its DISTINCT score values; the cumulative-rank window runs over
    that compact table (cardinality-bounded — rounded scores, not
    rows), never over the corpus. Every rank-sum term is an exact
    multiple of 0.5 (integers + halves), so partial-aggregation order
    cannot perturb the result — bit-reproducible across engines.

    Returns one row ``(n_pos, n_neg, auc)``.
    """
    from pyspark.sql import Window

    s = df.select(score.alias("_s"), label.cast("int").alias("_y"))
    g = s.groupBy("_s").agg(
        F.count("*").alias("_n"), F.sum("_y").alias("_np")
    )
    w = Window.orderBy("_s").rowsBetween(Window.unboundedPreceding, -1)
    cum = F.coalesce(F.sum("_n").over(w), F.lit(0))
    ranked = g.select(
        "_n",
        "_np",
        (
            F.col("_np").cast("double")
            * (cum.cast("double") + (F.col("_n") + 1).cast("double") / 2.0)
        ).alias("_rs"),
    )
    tot = ranked.agg(
        F.sum("_np").alias("_P"),
        F.sum(F.col("_n") - F.col("_np")).alias("_N"),
        F.sum("_rs").alias("_R"),
    )
    p, n = F.col("_P").cast("double"), F.col("_N").cast("double")
    return tot.select(
        F.col("_P").alias("n_pos"),
        F.col("_N").alias("n_neg"),
        F.round(
            (F.col("_R") - p * (p + 1.0) / 2.0) / (p * n), 4
        ).alias("auc"),
    )


def score_calibration(
    df: DataFrame, score: Column, label: Column, n_bins: int = 10
) -> DataFrame:
    """Reliability-diagram buckets for a [0, 1] score: equal-width
    bins, per-bin row count and positive fraction. The corpus
    aggregates in one partial-combine groupBy on the bin id; fractions
    are exact integer ratios (rounded once at the end), so the report
    is bit-reproducible. Returns (bin, n_docs, n_pos, frac_pos)."""
    b = F.least(
        F.floor(score * F.lit(float(n_bins))).cast("int"),
        F.lit(n_bins - 1),
    )
    return (
        df.select(b.alias("bin"), label.cast("int").alias("_y"))
        .groupBy("bin")
        .agg(F.count("*").alias("n_docs"), F.sum("_y").alias("n_pos"))
        .select(
            "bin",
            "n_docs",
            "n_pos",
            F.round(
                F.col("n_pos").cast("double") / F.col("n_docs").cast("double"),
                4,
            ).alias("frac_pos"),
        )
    )


def pmi_collocations(
    docs: DataFrame,
    min_count: int = 3,
    min_lift: float = 2.0,
    k: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """Top-k adjacent-word collocations by count, PMI-thresholded —
    the phrase-mining pass (Mikolov et al. 2013 word2vec phrases;
    Church & Hanks 1990 PMI) that finds multi-word units worth
    protecting from tokenizer splits.

    ``lift = P(x,y) / (P(x)·P(y))`` with unigram probabilities from the
    token stream and the pair probability from the adjacent-bigram
    stream; ``pmi = ln(lift)``.  Pairs must clear ``min_count`` (rare
    pairs have unstable PMI) and ``min_lift``.

    100 TB shape: two corpus scans (unigram explode, bigram explode) —
    each a map-side-combinable count onto vocab-bounded model frames —
    then every later join/window runs on those bounded frames only.
    The corpus total N_uni is a single-partition window over the VOCAB
    frame (standard bounded-model idiom, never over data) and N_bi
    rolls up from per-left-token subtotals the same way.  Ranking is
    orderBy+limit = distributed TakeOrdered, no global sort.  The lift
    filter compares doubles computed with an identical
    left-associative expression on the oracle side, so the cut is
    bit-deterministic cross-engine.
    """
    from pyspark.sql import Window

    ws = tokenize(F.col(text_col))
    words = spread_small_input(docs).select(ws.alias("_ws"))
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )

    # uni feeds THREE consumers (x-side join, y-side join, total) and
    # bi feeds TWO (subtotals + the candidate filter); per the repo's
    # DataFrame-reuse rule each reference would re-run the corpus
    # tokenize/explode lineage — both are vocab-bounded (word, count)
    # scalar frames, so share them (4 corpus scans → 2, measured in
    # tests/test_plan_shapes.py).
    uni = shared_persist(
        words.select(F.explode("_ws").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c_w"))
        .withColumn("n_uni", F.sum("c_w").over(w_all))
    )

    n = F.size("_ws")
    pair = F.zip_with(
        F.slice("_ws", 1, F.greatest(n - 1, F.lit(0))),
        F.slice("_ws", 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("x"), b.alias("y")),
    )
    bi = shared_persist(
        words.select(F.explode(pair).alias("_p"))
        .select("_p.x", "_p.y")
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("c_xy"))
    )
    # N_bi: per-left-token subtotals (vocab-bounded), then the same
    # bounded-frame window — the bigram model frame itself never feeds
    # a single-partition window.
    bix = (
        bi.groupBy("x")
        .agg(F.sum("c_xy").alias("_cx_bi"))
        .withColumn("n_bi", F.sum("_cx_bi").over(w_all))
        .select("x", "n_bi")
    )

    j = (
        bi.where(F.col("c_xy") >= min_count)
        .join(bix, "x")
        .join(
            uni.select(
                F.col("w").alias("x"), F.col("c_w").alias("c_x"), "n_uni"
            ),
            "x",
        )
        .join(uni.select(F.col("w").alias("y"), F.col("c_w").alias("c_y")), "y")
    )
    lift = (
        F.col("c_xy").cast("double")
        * F.col("n_uni")
        / F.col("c_x")
        * F.col("n_uni")
        / F.col("c_y")
        / F.col("n_bi")
    )
    return (
        j.withColumn("_lift", lift)
        .where(F.col("_lift") >= min_lift)
        .select(
            "x",
            "y",
            F.col("c_xy").cast("long").alias("c_xy"),
            F.round(F.log("_lift"), 4).alias("pmi"),
        )
        .orderBy(F.col("c_xy").desc(), "x", "y")
        .limit(k)
    )


def skipgram_cooc(
    docs: DataFrame,
    window: int = 3,
    min_count: int = 2,
    k: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """Top-k skip-gram co-occurrence pairs within a ±``window`` token
    window — the co-occurrence-matrix construction word2vec/GloVe
    train from (Mikolov et al. 2013; Pennington et al. 2014) and the
    input to distributional-similarity diagnostics.  Pairs are
    UNORDERED canonical ``(least, greatest)`` — the symmetric-window
    convention — so (a,b) and (b,a) pool counts.

    Complements :func:`pmi_collocations`, which scores ADJACENT
    bigrams only; the windowed counts surface non-adjacent
    associations (subject…verb, entity…qualifier) adjacency misses.

    100 TB shape: pair generation is IN-ROW (a nested transform over
    the token array — zero shuffle, no self-join on position), then
    one map-side-combinable count per canonical pair onto a
    vocab²-bounded (in practice far smaller) model frame; ranking is
    orderBy+limit = distributed TakeOrdered, no global sort.  The
    token array is materialized behind a Generate barrier before the
    nested element_at/transform walk (the lambda re-inlining rule).
    """
    mat = _materialize(
        spread_small_input(docs.select(text_col)),
        {"_ws": tokenize(F.col(text_col))},
    )
    n = F.size("_ws")
    idx = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    pairs = F.flatten(
        F.transform(
            idx,
            lambda p: F.transform(
                F.slice(F.col("_ws"), p + 1, window),
                lambda w2: F.struct(
                    F.least(F.element_at(F.col("_ws"), p), w2).alias("x"),
                    F.greatest(F.element_at(F.col("_ws"), p), w2).alias("y"),
                ),
            ),
        )
    )
    return (
        mat.select(F.explode(pairs).alias("_p"))
        .select("_p.x", "_p.y")
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= min_count)
        .select("x", "y", F.col("cnt").cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "x", "y")
        .limit(k)
    )


def zipf_fit(
    docs: DataFrame, top_v: int = 100, text_col: str = "text"
) -> DataFrame:
    """Zipf-law diagnostic: least-squares slope/intercept/R² of
    ln(freq) on ln(rank) over the top ``top_v`` vocabulary — natural
    text sits near slope −1; synthetic/boilerplate-heavy corpora
    drift off it (a one-row corpus-health check used alongside the
    quality-signal filters).

    100 TB shape: one corpus scan into vocab counts, top-V via
    orderBy+limit (distributed TakeOrdered), rank + regression sums on
    the V-row frame only.  Sums are SEQUENTIAL left folds over the
    rank-ordered array (``F.aggregate`` ≡ DuckDB ``list_reduce``) so
    float accumulation order is deterministic cross-engine.
    """
    from pyspark.sql import Window

    vocab = (
        spread_small_input(docs)
        .select(F.explode(tokenize(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "w")
        .limit(top_v)
    )
    # rank on the V-row frame (single-partition window over ≤top_v
    # rows — bounded by construction), THEN the logs.
    ranked = vocab.select(
        F.row_number()
        .over(Window.orderBy(F.col("c").desc(), "w"))
        .alias("r"),
        F.col("c"),
    ).select(
        "r",
        F.log(F.col("r").cast("double")).alias("lnx"),
        F.log(F.col("c").cast("double")).alias("lny"),
    )
    arr = F.sort_array(F.collect_list(F.struct("r", "lnx", "lny")))
    folded = ranked.agg(
        F.size(arr).cast("double").alias("_n"),
        F.aggregate(arr, F.lit(0.0), lambda a, s: a + s["lnx"]).alias("_sx"),
        F.aggregate(arr, F.lit(0.0), lambda a, s: a + s["lny"]).alias("_sy"),
        F.aggregate(arr, F.lit(0.0), lambda a, s: a + s["lnx"] * s["lnx"]).alias(
            "_sxx"
        ),
        F.aggregate(arr, F.lit(0.0), lambda a, s: a + s["lnx"] * s["lny"]).alias(
            "_sxy"
        ),
        F.aggregate(arr, F.lit(0.0), lambda a, s: a + s["lny"] * s["lny"]).alias(
            "_syy"
        ),
    )
    n, sx, sy = F.col("_n"), F.col("_sx"), F.col("_sy")
    sxx, sxy, syy = F.col("_sxx"), F.col("_sxy"), F.col("_syy")
    cov = n * sxy - sx * sy
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    slope = cov / varx
    return folded.select(
        n.cast("long").alias("n_ranks"),
        F.round(slope, 4).alias("slope"),
        F.round((sy - slope * sx) / n, 4).alias("intercept"),
        F.round(cov * cov / (varx * vary), 4).alias("r2"),
    )

def source_token_entropy(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source unigram Shannon entropy + KL divergence from the
    corpus mixture — the lexical-diversity / distribution-shift pair
    quality pipelines report next to the chi² drift test: low entropy
    flags template/boilerplate-heavy sources; high KL(source‖corpus)
    flags sources whose vocabulary usage diverges from the mixture
    they're about to be blended into (CCNet/DSIR lineage).

    No smoothing is needed for KL: a source's words are a subset of
    the corpus's, so q > 0 wherever p > 0 (zero-count terms drop by
    the 0·ln(0) = 0 convention on both sides).

    100 TB shape: ONE corpus scan collapses to (source, word, c)
    scalars (shared — the frame feeds the per-source totals, the
    corpus word totals, and the term join); everything after runs on
    the vocab-bounded model frame. Both reductions fold in word order
    (the repo's ordered-fold rule), so entropy and KL are
    bit-reproducible cross-engine.

    Returns ``(source, n_tokens, entropy, kl)`` rounded to 4.
    """
    cnt = shared_persist(
        with_word_run_counts(spread_small_input(docs), text_col)
        .select(group_col, F.explode(F.col("_wc")).alias("p"))
        .groupBy(group_col, F.col("p.word").alias("word"))
        .agg(F.sum("p.cnt").cast("long").alias("c"))
    )
    from pyspark.sql import Window

    n_s = cnt.groupBy(group_col).agg(F.sum("c").cast("long").alias("_n"))
    corpus = cnt.groupBy("word").agg(F.sum("c").cast("long").alias("_cw"))
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    corpus = corpus.withColumn("_nc", F.sum("_cw").over(w_all))
    p = F.col("c").cast("double") / F.col("_n").cast("double")
    q = F.col("_cw").cast("double") / F.col("_nc").cast("double")
    terms = (
        cnt.join(corpus, "word")
        .join(n_s, group_col)
        .select(
            group_col,
            "word",
            "_n",
            (p * F.log(p)).alias("_th"),
            (p * F.log(p / q)).alias("_tk"),
        )
    )

    def _fold(col: str):
        return F.aggregate(
            F.array_sort(F.collect_list(F.struct("word", col))),
            F.lit(0.0),
            lambda acc, t: acc + t[col],
        )

    return terms.groupBy(group_col, F.col("_n").alias("n_tokens")).agg(
        F.round(-_fold("_th"), 4).alias("entropy"),
        F.round(_fold("_tk"), 4).alias("kl"),
    )


def oov_rate(
    docs: DataFrame,
    top_v: int = 30,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Out-of-vocabulary token share per source against the corpus
    top-``top_v`` vocabulary — the tokenizer/vocab coverage audit run
    before fixing a vocab: a source whose OOV rate is an outlier will
    fragment into subwords (high fertility) or <unk> under the shared
    vocabulary, and either needs vocab budget or exclusion.

    100 TB shape: ONE corpus scan to (source, word, c) scalars
    (shared: vocab derivation + the coverage join), vocab by
    TakeOrdered, then a broadcast left join on the bounded model
    frame; all-integer until the final division.

    Returns ``(source, n_tokens, oov_tokens, oov_rate)`` rounded 4.
    """
    cnt = shared_persist(
        with_word_run_counts(spread_small_input(docs), text_col)
        .select(group_col, F.explode(F.col("_wc")).alias("p"))
        .groupBy(group_col, F.col("p.word").alias("word"))
        .agg(F.sum("p.cnt").cast("long").alias("c"))
    )
    vocab = (
        cnt.groupBy("word")
        .agg(F.sum("c").cast("long").alias("_tf"))
        .orderBy(F.col("_tf").desc(), "word")
        .limit(int(top_v))
        .select("word", F.lit(1).alias("_in"))
    )
    return (
        cnt.join(F.broadcast(vocab), "word", "left")
        .groupBy(group_col)
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("_in").isNull(), F.col("c")).otherwise(0))
            .cast("long")
            .alias("oov_tokens"),
        )
        .select(
            group_col,
            "n_tokens",
            "oov_tokens",
            F.round(
                F.col("oov_tokens").cast("double") / F.col("n_tokens").cast("double"),
                4,
            ).alias("oov_rate"),
        )
    )


def source_js_matrix(
    docs: DataFrame,
    top_v: int = 50,
    alpha: float = 0.5,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between source token
    distributions over the top-``top_v`` corpus vocabulary — the
    symmetric, bounded ([0, ln 2]) companion to
    :func:`source_token_drift`'s corpus-vs-source chi²: chi² flags ONE
    source drifting from the mixture; the JS matrix says WHICH sources
    are alike (merge candidates before mixture weighting) and which are
    outliers (review before inclusion). Add-``alpha`` smoothing over
    the shared vocab keeps every log argument positive, so JS is
    defined even for disjoint sources.

    100 TB shape: identical to drift's — one text scan collapses to
    (source, word, c) scalars (shared via persist: the frame feeds the
    vocab, the per-source totals and the grid); the smoothed q-vectors
    are V doubles per source, and the pairwise stage joins a
    |sources|-row frame with itself — bounded by the label set on both
    axes, never by data. The per-pair sum folds in word order
    (zip_with over identically-sorted V-vectors), the repo's
    ordered-fold rule, so any engine reproduces it bit-for-bit.

    Returns ``(src_a, src_b, js)`` for src_a < src_b; a source with
    zero top-V tokens has no distribution and emits no row (same
    contract as drift).
    """
    src_counts_all = shared_persist(
        with_word_run_counts(spread_small_input(docs), text_col)
        .select(group_col, F.explode(F.col("_wc")).alias("p"))
        .groupBy(group_col, F.col("p.word").alias("word"))
        .agg(F.sum("p.cnt").cast("long").alias("c"))
    )
    vocab = (
        src_counts_all.groupBy("word")
        .agg(F.sum("c").cast("long").alias("tf"))
        .orderBy(F.col("tf").desc(), F.col("word"))
        .limit(int(top_v))
        .select("word")
    )
    vcnt = vocab.agg(F.count(F.lit(1)).cast("double").alias("_v"))
    src_counts = src_counts_all.join(F.broadcast(vocab), "word")
    n_s = src_counts.groupBy(group_col).agg(
        F.sum("c").cast("long").alias("_n")
    )
    grid = n_s.crossJoin(F.broadcast(vocab)).crossJoin(F.broadcast(vcnt))
    q = (F.coalesce(F.col("c"), F.lit(0)).cast("double") + F.lit(alpha)) / (
        F.col("_n").cast("double") + F.lit(alpha) * F.col("_v")
    )
    vec = (
        grid.join(src_counts, [group_col, "word"], "left")
        .select(group_col, "word", q.alias("_q"))
        .groupBy(group_col)
        .agg(
            F.array_sort(F.collect_list(F.struct("word", "_q"))).alias("_qs")
        )
    )
    a, b = vec.alias("a"), vec.alias("b")
    pair_term = lambda x, y: F.lit(0.5) * (  # noqa: E731
        x * F.log((F.lit(2.0) * x) / (x + y))
    ) + F.lit(0.5) * (y * F.log((F.lit(2.0) * y) / (x + y)))
    pairs = a.join(
        F.broadcast(b), F.col(f"a.{group_col}") < F.col(f"b.{group_col}")
    ).select(
        F.col(f"a.{group_col}").alias("src_a"),
        F.col(f"b.{group_col}").alias("src_b"),
        F.round(
            F.aggregate(
                F.zip_with(
                    F.col("a._qs"),
                    F.col("b._qs"),
                    lambda s, t: pair_term(s["_q"], t["_q"]),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            4,
        ).alias("js"),
    )
    return pairs
