"""Distributed BPE merge training and encoding.

The most token-centric operator in the training-data surface: learn a
byte-pair-encoding merge table from the corpus (Sennrich et al. 2016)
and apply it to produce subword tokens. No reference-engine analog
(loggie has no tokenizer) — this extends the curation surface the same
way dedup/similarity do.

100 TB design:
- the corpus is scanned ONCE (word counts, map-side combine — the
  shuffle carries one row per distinct word), capped to the
  ``top_words`` most frequent words (Zipf: the cap carries ~all pair
  mass), so training state is vocab-bounded and corpus-size-
  independent;
- the capped table is collected ONCE (config-sized, the same contract
  as the manifest/centroid collects) and the merge loop runs in plain
  Python — total Spark job count is independent of ``n_merges`` (a
  32k-merge vocab costs zero extra jobs / scheduling overhead);
- encoding broadcasts the merge list (``n_merges`` entries) into one
  Arrow-batched pandas UDF pass — narrow, zero shuffle.

Determinism: pair argmax breaks ties by (count DESC, left ASC, right
ASC); the within-word merge application is a left-to-right greedy fold
(overlapping occurrences resolve leftmost-first: 'aaa' + (a,a) ->
[aa, a]). Both are reproduced exactly by the DuckDB oracle's unrolled
CTE stages (queries.py generates one stage per merge).
"""

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from loggie_spark.operators.dedup import spread_small_input, tokenize


def bpe_train(
    docs: DataFrame,
    n_merges: int = 6,
    top_words: int = 4096,
    text_col: str = "text",
) -> list[dict]:
    """Learn ``n_merges`` BPE merges from the corpus; returns the merge
    table as a list of dicts (rank, left, right, merged, pair_count) —
    driver-sized by construction (``n_merges`` entries).

    Job count is independent of ``n_merges``: the corpus is scanned ONCE
    (distributed word count, map-side combine), the state is already
    capped to ``top_words`` rows by that job, and the capped table is
    collected once — the merge loop then runs in plain Python over the
    vocab-bounded state (a 32k-merge vocab costs zero extra Spark jobs,
    vs the previous ~2 driver-coordinated jobs per merge). The pair
    argmax tiebreak (count DESC, left ASC, right ASC) and the greedy
    left-to-right fold are bit-identical to the prior per-iteration
    Spark plan: integer counts are exact and Python str comparison is
    code-point order = Spark's UTF-8 binary string order.
    """
    rows = (
        spread_small_input(docs)
        .select(F.explode(tokenize(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "word")
        .limit(top_words)
        .collect()  # top_words rows — config-bounded, the ONE Spark job
    )
    state: list[tuple[list[str], int]] = [
        (list(r["word"]), int(r["cnt"])) for r in rows
    ]

    merges: list[dict] = []
    for rank in range(1, n_merges + 1):
        pair_counts: dict[tuple[str, str], int] = {}
        for syms, cnt in state:
            for a, b in zip(syms, syms[1:]):
                pair_counts[(a, b)] = pair_counts.get((a, b), 0) + cnt
        if not pair_counts:
            break
        (left, right), cnt = min(
            pair_counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merged = left + right
        merges.append(
            {
                "rank": rank,
                "left": left,
                "right": right,
                "merged": merged,
                "pair_count": int(cnt),
            }
        )
        state = [
            (_apply_merge(syms, left, right, merged), c) for syms, c in state
        ]
    return merges


def _apply_merge(
    syms: list[str], left: str, right: str, merged: str
) -> list[str]:
    """Greedy left-to-right single-pass merge: scan once, and whenever
    the last emitted symbol is ``left`` and the next is ``right``, fuse
    them — leftmost-first overlap resolution (the classic BPE apply
    step; both train and encode share this one definition)."""
    out: list[str] = []
    for t in syms:
        if out and out[-1] == left and t == right:
            out[-1] = merged
        else:
            out.append(t)
    return out


def _encode_word(word: str, merges: list[tuple[str, str, str]]) -> list[str]:
    toks = list(word)
    for left, right, merged in merges:
        toks = _apply_merge(toks, left, right, merged)
    return toks


def bpe_encode(
    docs: DataFrame,
    merges: list[dict],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a learned merge table: (id, n_tokens, tokens) per doc,
    ``tokens`` space-joined for a stable cross-engine shape. One
    Arrow-batched pandas UDF pass, merge list broadcast as a closure
    constant (n_merges entries) — narrow, zero shuffle; the greedy fold
    is byte-identical to training's within-word merge semantics."""
    mlist = [(m["left"], m["right"], m["merged"]) for m in merges]

    def enc_batch(texts):
        # per-batch word memoization (same trick as tokenizer_fertility):
        # the Zipf word distribution means most words repeat within a
        # batch, so each distinct word runs the greedy merge fold once
        cache: dict = {}

        def enc(t):
            toks = []
            for w in (t or "").lower().split():
                got = cache.get(w)
                if got is None:
                    got = cache[w] = _encode_word(w, mlist)
                toks.extend(got)
            return " ".join(toks)

        return texts.map(enc)

    # lambda-style (no annotations): annotated defs would need pd.Series
    # hints, and stringified hints break pandas_udf inference
    encode_series = pandas_udf(enc_batch, "string")

    out = spread_small_input(docs).select(
        F.col(id_col), encode_series(F.col(text_col)).alias("tokens")
    )
    return out.select(
        id_col,
        F.when(F.col("tokens") == "", F.lit(0))
        .otherwise(F.size(F.split(F.col("tokens"), " ")))
        .cast("int")
        .alias("n_tokens"),
        "tokens",
    )


def tokenizer_fertility(
    docs: DataFrame,
    merges: list[dict],
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer-fertility audit: subword tokens per whitespace word
    under a learned merge table, aggregated per corpus group — the
    standard pre-training check for which sources a tokenizer serves
    poorly (high fertility = more sequence length spent per word).

    100 TB shape: one Arrow-batched pandas UDF pass computes each doc's
    subword count in-row (merge list rides the closure; per-batch word
    memoization exploits the Zipf word distribution), word counts are
    pure Catalyst, and the only shuffle is the |groups|-row aggregate.
    Returns ``(group_col, n_docs, n_words, n_subwords, fertility)``
    with fertility = subwords/word rounded to 4 places; groups whose
    docs have no words report fertility 0.0.
    """
    mlist = [(m["left"], m["right"], m["merged"]) for m in merges]

    def subw_batch(texts):
        # cache lives in the BATCH closure (one dict per Arrow batch,
        # shared across its ~10k docs) so the Zipf cross-doc word reuse
        # actually hits — mirrors bpe_encode's enc_batch
        cache: dict = {}

        def n_subwords(t):
            total = 0
            for w in (t or "").lower().split():
                got = cache.get(w)
                if got is None:
                    got = cache[w] = len(_encode_word(w, mlist))
                total += got
            return total

        return texts.map(n_subwords)

    # lambda-style (no annotations): annotated defs would need pd.Series
    # hints, and stringified hints break pandas_udf inference
    subw = pandas_udf(subw_batch, "long")

    per_doc = spread_small_input(docs).select(
        F.col(group_col),
        F.size(tokenize(F.coalesce(F.col(text_col), F.lit(""))))
        .cast("long")
        .alias("_nw"),
        subw(F.col(text_col)).alias("_ns"),
    )
    agg = per_doc.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_nw").alias("n_words"),
        F.sum("_ns").alias("n_subwords"),
    )
    fert = F.when(
        F.col("n_words") > 0,
        F.round(F.col("n_subwords").cast("double") / F.col("n_words"), 4),
    ).otherwise(F.lit(0.0))
    return agg.select(
        group_col, "n_docs", "n_words", "n_subwords", fert.alias("fertility")
    )
