"""Unit tests for training-data operators: dedup families find planted
duplicates, similarity search returns the planted neighbor, multimodal
plumbing round-trips through mapInPandas."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Row


def _docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    near = "the quick brown fox jumps over the lazy cat again and again"
    other = "completely different words compose this unrelated document here now"
    return spark.createDataFrame(
        [
            Row(doc_id=1, text=base),
            Row(doc_id=2, text=base),  # exact dup of 1
            Row(doc_id=3, text=near),  # near dup of 1
            Row(doc_id=4, text=other),
        ]
    )


def test_dedup_exact_keeps_min_id(spark):
    from loggie_spark.operators.dedup import dedup_exact

    kept = sorted(r.doc_id for r in dedup_exact(_docs(spark)).collect())
    assert kept == [1, 3, 4]


def test_minhash_finds_planted_near_dup(spark):
    from loggie_spark.operators.dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(
        _docs(spark), n_hashes=16, shingle=2, bands=8, jaccard_threshold=0.5
    ).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in got  # exact dup always collides
    assert (1, 3) in got or (2, 3) in got  # near dup via some band
    assert not any({a, b} == {1, 4} for a, b in got)


def test_simhash_near_dup_small_hamming(spark):
    from loggie_spark.operators.dedup import simhash

    df = _docs(spark).select("doc_id", simhash(F.col("text")).alias("fp"))
    fp = {r.doc_id: r.fp for r in df.collect()}
    assert fp[1] == fp[2]
    ham13 = bin(fp[1] ^ fp[3]).count("1")
    ham14 = bin(fp[1] ^ fp[4]).count("1")
    assert ham13 < ham14  # near dup closer than unrelated doc


def test_ngram_jaccard_pairs(spark):
    from loggie_spark.operators.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(_docs(spark), block_words=3, threshold=0.5).collect()
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs}
    assert got[(1, 2)] == 1.0
    assert (1, 3) in got and got[(1, 3)] >= 0.5


def _embeddings(spark):
    rows = [
        Row(vec_id=1, embedding=[1.0, 0.0, 0.0, 0.0]),
        Row(vec_id=2, embedding=[0.99, 0.1, 0.0, 0.0]),  # near 1
        Row(vec_id=3, embedding=[0.0, 1.0, 0.0, 0.0]),
        Row(vec_id=4, embedding=[0.0, 0.0, 1.0, 0.0]),
    ]
    return spark.createDataFrame(rows).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )


def test_embedding_cosine_pairs(spark):
    from loggie_spark.operators.dedup import embedding_cosine_pairs

    # Unbounded self-dedup delegates to the banded-SRP equi-join path;
    # the plan must never contain a cartesian/nested-loop join.
    df = embedding_cosine_pairs(_embeddings(spark), threshold=0.9, dim=4)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    pairs = df.collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}


def test_bucket_cap_bounds_degenerate_buckets(spark):
    """200 identical docs collapse into one band bucket; the cap must
    keep the self-join from enumerating all C(200,2) pairs."""
    from loggie_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(i, "the same boilerplate text repeated everywhere") for i in range(200)],
        "doc_id int, text string",
    )
    capped = minhash_lsh_pairs(
        docs, n_hashes=8, bands=4, jaccard_threshold=0.0, bucket_cap=10
    )
    n = capped.count()
    assert 0 < n < 19900  # full enumeration would be C(200,2) = 19900
    # every emitted pair is still a true duplicate
    assert capped.filter(F.col("jaccard") < 1.0).count() == 0


def test_brute_force_topk(spark):
    from loggie_spark.operators.similarity import brute_force_topk

    emb = _embeddings(spark)
    out = brute_force_topk(emb.filter(F.col("vec_id") == 1), emb, k=2).collect()
    ranked = sorted(((r.rank, r.neighbor_id) for r in out))
    assert ranked[0] == (1, 2)  # nearest is the planted neighbor


def test_lsh_topk_same_bucket_neighbor(spark):
    from loggie_spark.operators.similarity import lsh_topk

    emb = _embeddings(spark)
    out = lsh_topk(emb.filter(F.col("vec_id") == 1), emb, k=2, n_planes=2, dim=4)
    rows = out.collect()
    # vec 2 shares vec 1's bucket (nearly parallel vectors) and ranks first.
    by_rank = {r.rank: r.neighbor_id for r in rows}
    assert by_rank.get(1) == 2


def test_text_stats(spark):
    from loggie_spark.operators.textstats import text_stats

    df = spark.createDataFrame(
        [Row(doc_id=1, text="The quick fox! It is the best, the fastest fox.")]
    )
    r = text_stats(df).collect()[0]
    assert r.n_words == 10
    assert r.n_tokens_bpe == 13  # 10 letter-runs + 3 symbols (! , .)
    assert r.lang_pred == "en"
    assert 0.0 < r.quality <= 1.0
    assert r.fingerprint > 0


def test_langid_empty_text(spark):
    from loggie_spark.operators.textstats import language_id

    df = spark.createDataFrame([Row(text=""), Row(text="xyzzy plugh")])
    out = [r.p for r in df.select(language_id(F.col("text")).alias("p")).collect()]
    assert out == ["und", "und"]


def test_multimodal_plumbing(spark):
    from loggie_spark.operators.multimodal import (
        decode_and_featurize,
        frame_sample_plan,
        synthetic_media,
    )

    media = synthetic_media(spark, 12)
    feats = decode_and_featurize(media).collect()
    assert len(feats) == 12
    import hashlib

    expect = hashlib.md5(b"payload-0").hexdigest()
    got = {r.media_id: r for r in feats}
    assert got["m-000000"].feat_hash == expect
    assert got["m-000000"].n_bytes == len(b"payload-0")

    frames = frame_sample_plan(media, every_ms=1000)
    vids = media.filter(F.col("kind") == "video").count()
    assert frames.count() >= vids  # ≥1 sampled frame per video

    import pytest as _pytest

    with _pytest.raises(Exception):
        decode_and_featurize(media, strict=True).collect()


# -- sequence packing / chunking (operators/packing.py) ---------------------


def test_pack_sequences_greedy_no_straddle(spark):
    """Exact greedy packer: a sequence never splits; a bin flushes when
    the next sequence would overflow; over-long sequences get their own
    bin; doc order is preserved within each shard."""
    from loggie_spark.operators.packing import pack_sequences_greedy

    rows = [
        (1, "s", 1000),
        (2, "s", 1000),  # fits with 1 → bin fills to 2000
        (3, "s", 100),   # 2000+100 > 2048 → new bin
        (4, "s", 3000),  # longer than max_len → own bin (after flush)
        (5, "s", 10),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tok long")
    out = pack_sequences_greedy(df, max_len=2048, n_shards=1).collect()
    by_id = {r.doc_id: (r.pack_id, r.pack_offset) for r in out}
    p0 = by_id[1][0]
    assert by_id[1] == (p0, 0)
    assert by_id[2] == (p0, 1000)
    assert by_id[3][0] == p0 + 1 and by_id[3][1] == 0
    assert by_id[4][0] == p0 + 2 and by_id[4][1] == 0  # own bin
    assert by_id[5][0] == p0 + 3 and by_id[5][1] == 0  # 4 flushed at >= max

    # Sharded: pmod keeps shards in 0..n_shards-1 so pack_ids are
    # non-negative and the group count is bounded by n_shards (a signed
    # % would double the groups and emit negative ids — ADVICE r02).
    many = spark.createDataFrame(
        [(i, "s", 100) for i in range(500)], "doc_id long, source string, n_tok long"
    )
    sharded = pack_sequences_greedy(many, max_len=2048, n_shards=8).collect()
    assert all(r.pack_id >= 0 for r in sharded)
    assert len({r.pack_id >> 40 for r in sharded}) <= 8

    # Two sources sharing shards: a pack_id names one pack of one
    # source, so no pack mixes sources and none overflows max_len.
    lens = {(src, i): 300 + 37 * i for src in ("a", "b") for i in range(40)}
    two = spark.createDataFrame(
        [(i + (1000 if src == "b" else 0), src, n) for (src, i), n in lens.items()],
        "doc_id long, source string, n_tok long",
    )
    for n_shards in (1, 4):
        packs: dict[int, list] = {}
        for r in pack_sequences_greedy(two, max_len=2048, n_shards=n_shards).collect():
            n = lens[(r.source, r.doc_id % 1000)]
            packs.setdefault(r.pack_id, []).append((r.source, r.pack_offset, n))
        for members in packs.values():
            assert len({src for src, _, _ in members}) == 1, members
            members.sort(key=lambda m: m[1])
            assert members[0][1] == 0, members
            if len(members) > 1:
                assert sum(n for _, _, n in members) <= 2048, members


def test_chunk_sequences_disjoint_and_tail(spark):
    from pyspark.sql import functions as F

    from loggie_spark.operators.packing import chunk_sequences

    df = spark.createDataFrame(
        [(1, list(range(10)))], "doc_id long, tokens array<int>"
    )
    out = chunk_sequences(df, max_len=4, stride=4).orderBy("chunk_idx")
    got = [(r.chunk_idx, r.chunk, r.chunk_len) for r in out.collect()]
    assert got == [
        (0, [0, 1, 2, 3], 4),
        (1, [4, 5, 6, 7], 4),
        (2, [8, 9], 2),  # ragged tail kept by default
    ]
    # drop_last_shorter_than prunes the ragged tail
    out3 = chunk_sequences(df, max_len=4, stride=4, drop_last_shorter_than=4)
    assert out3.count() == 2
    # stride < max_len overlaps; short docs yield one whole-doc chunk
    out2 = chunk_sequences(df, max_len=20, stride=20).collect()
    assert len(out2) == 1 and out2[0].chunk_len == 10


def test_stratified_sample_rates(spark):
    """Deterministic mix: rate 0 excludes, integer rates give exact
    copy counts, fractional cohort is stable across calls."""
    from loggie_spark.operators.sampling import stratified_sample

    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b") for i in range(200)],
        "doc_id long, source string",
    )
    out = stratified_sample(df, {"a": 2.0, "b": 0.0}).collect()
    assert all(r.source == "a" for r in out)
    assert len(out) == 200  # 100 'a' rows x 2 epochs
    assert {r.mix_epoch for r in out} == {0, 1}
    # determinism: identical result on re-run
    again = stratified_sample(df, {"a": 2.0, "b": 0.0}).collect()
    assert sorted((r.doc_id, r.mix_epoch) for r in out) == sorted(
        (r.doc_id, r.mix_epoch) for r in again
    )
    # fractional rate lands near its expectation (hash-uniform)
    frac = stratified_sample(df, {"a": 0.5, "b": 0.5}).count()
    assert 60 <= frac <= 140


def test_stratified_sample_boundary_rate_cross_engine(spark):
    """Rates whose frac·1e6 lands just under an integer (0.15 →
    149999.999…97) must use the SAME cutoff in Spark and DuckDB —
    explicit floor() on both sides (ADVICE r02)."""
    import duckdb

    from loggie_spark.operators.sampling import sample_rates_sql, stratified_sample

    rates = {"a": 0.15, "b": 1.15}
    df = spark.createDataFrame(
        [Row(doc_id=i, source="a" if i % 2 else "b") for i in range(400)]
    )
    got = (
        stratified_sample(df, rates)
        .groupBy("doc_id")
        .count()
        .collect()
    )
    spark_copies = {r.doc_id: r["count"] for r in got}

    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT, source VARCHAR)")
    con.executemany(
        "INSERT INTO t VALUES (?, ?)",
        [(i, "a" if i % 2 else "b") for i in range(400)],
    )
    frag = sample_rates_sql(rates)
    duck_copies = dict(
        con.execute(f"SELECT doc_id, {frag} FROM t WHERE {frag} > 0").fetchall()
    )
    assert spark_copies == duck_copies
    # the fractional cohort actually selects some-but-not-all rows
    n_a = sum(1 for d, s in spark_copies.items() if d % 2)
    assert 0 < n_a < 200


def test_dup_clusters_chain_and_islands(spark):
    """A 4-node chain (1-2, 2-3, 3-4) needs >1 propagation round to
    converge; two islands must not merge; singleton docs never appear."""
    from loggie_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [
            Row(id_a=1, id_b=2),
            Row(id_a=2, id_b=3),
            Row(id_a=3, id_b=4),
            Row(id_a=10, id_b=11),
        ]
    )
    got = {r.doc_id: r.cluster_id for r in dup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    # the distributed label-propagation path (driver_cap=None forces
    # it) must produce the identical labeling
    dist = {
        r.doc_id: r.cluster_id
        for r in dup_clusters(pairs, driver_cap=None).collect()
    }
    assert dist == got
    # and an empty edge list yields an empty, correctly-typed frame on
    # the driver fast path
    empty = dup_clusters(pairs.filter("id_a > 1000"))
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["doc_id", "cluster_id"]


def test_dup_clusters_reliable_checkpoint(spark, tmp_path):
    """reliable=True truncates lineage via durable df.checkpoint()
    (cluster mode: survives executor loss mid-iteration)."""
    from loggie_spark.operators.dedup import dup_clusters

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    pairs = spark.createDataFrame(
        [Row(id_a=1, id_b=2), Row(id_a=2, id_b=3), Row(id_a=10, id_b=11)]
    )
    got = {
        r.doc_id: r.cluster_id for r in dup_clusters(pairs, reliable=True).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_dup_clusters_nonconvergence_raises(spark):
    """A chain whose diameter exceeds max_iter must raise, not return
    silently split clusters (ADVICE r02)."""
    import pytest as _pytest

    from loggie_spark.operators.dedup import dup_clusters

    chain = spark.createDataFrame([Row(id_a=i, id_b=i + 1) for i in range(12)])
    # the max_iter budget governs the DISTRIBUTED loop; driver_cap=None
    # forces it (the driver union-find cannot fail to converge)
    with _pytest.raises(RuntimeError, match="did not converge"):
        dup_clusters(chain, max_iter=2, driver_cap=None)
    # and a budget that fits the diameter still converges exactly
    got = {
        r.doc_id: r.cluster_id
        for r in dup_clusters(chain, max_iter=15, driver_cap=None).collect()
    }
    assert set(got.values()) == {0} and len(got) == 13
    # the driver fast path ignores max_iter entirely — a 2-round budget
    # on a diameter-12 chain still labels exactly
    fast = {r.doc_id: r.cluster_id for r in dup_clusters(chain, max_iter=2).collect()}
    assert fast == got


def test_boilerplate_fraction_planted(spark):
    """Three docs share a planted 5-gram banner; unique prose doesn't
    trip the min_docs=3 threshold."""
    from loggie_spark.operators.curation import boilerplate_fraction

    banner = "all rights reserved cookie policy"
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=f"{banner} alpha beta gamma delta"),
            Row(doc_id=2, text=f"{banner} epsilon zeta eta theta"),
            Row(doc_id=3, text=f"{banner} iota kappa lambda mu"),
            Row(doc_id=4, text="nu xi omicron pi rho sigma tau upsilon"),
        ]
    )
    got = {
        r.doc_id: (r.n_grams, r.n_common, r.boilerplate_frac)
        for r in boilerplate_fraction(docs, n=5, min_docs=3).collect()
    }
    # 9 words → 5 grams; only the banner gram itself repeats in 3 docs
    assert got[1][0] == 5 and got[1][1] == 1 and abs(got[1][2] - 0.2) < 1e-9
    assert got[4] == (4, 0, 0.0)
    from loggie_spark.operators.curation import contamination_flags

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="alpha beta gamma delta epsilon zeta"),
            Row(doc_id=2, text="unrelated words entirely here folks okay"),
            Row(doc_id=3, text="xx alpha beta gamma delta epsilon yy"),
        ]
    )
    bench = docs.filter("doc_id = 1")
    got = {
        r.doc_id: r.contaminated
        for r in contamination_flags(docs, bench, n=5).collect()
    }
    # 1 matches itself; 3 shares the 5-gram "alpha beta gamma delta epsilon"
    assert got == {1: True, 2: False, 3: True}


def test_redact_pii_masks_all_kinds(spark):
    from loggie_spark.operators.curation import pii_stats

    df = spark.createDataFrame(
        [Row(doc_id=1, text="mail a.b+c@x.io ip 10.1.2.3 ssn 123-45-6789 "
                            "tel +44 20 7946 0958 clean 1.2 done")]
    )
    row = pii_stats(df).collect()[0]
    assert (row.n_email, row.n_ipv4, row.n_ssn, row.n_phone) == (1, 1, 1, 1)
    assert row.redacted == "mail <EMAIL> ip <IP> ssn <SSN> tel <PHONE> clean 1.2 done"


def test_repetition_signals_long_doc(spark):
    """50k-word web-scale documents: the sort+run-length fold must stay
    O(n log n) per row (the earlier O(distinct·n) nested filter took
    minutes here) and match exact Python-computed values."""
    import math
    import time
    from collections import Counter

    from loggie_spark.operators.textstats import (
        dup_word_fraction,
        top_word_fraction,
        word_entropy,
    )

    def make_doc(seed: int, n: int) -> str:
        # Zipf-ish: word w_k appears with frequency ∝ 1/(k+1); ~20k
        # distinct words in a 50k-word doc — the shape that made the
        # quadratic version a straggler.
        words, k = [], 0
        while len(words) < n:
            words.extend([f"w{seed}x{k}"] * (1 + (k % 3 == 0) + 2 * (k % 17 == 0)))
            k += 1
        return " ".join(words[:n])

    docs = [(i, make_doc(i, 50_000)) for i in range(4)]

    def expected(text: str):
        ws = text.lower().split()
        n = len(ws)
        c = Counter(ws)
        ent = -sum((v / n) * math.log2(v / n) for v in c.values())
        return (1 - len(c) / n, max(c.values()) / n, ent)

    df = spark.createDataFrame(docs, ["doc_id", "text"]).repartition(4)
    t = F.col("text")
    t0 = time.monotonic()
    got = {
        r.doc_id: (r.dup, r.top, r.ent)
        for r in df.select(
            "doc_id",
            dup_word_fraction(t).alias("dup"),
            top_word_fraction(t).alias("top"),
            word_entropy(t).alias("ent"),
        ).collect()
    }
    elapsed = time.monotonic() - t0
    for i, text in docs:
        exp = expected(text)
        for g, e in zip(got[i], exp):
            assert abs(g - e) < 1e-9, (i, got[i], exp)
    # Generous bound: the fold finishes in well under a second per doc;
    # the quadratic version needed minutes (10^9 comparisons/row).
    assert elapsed < 60, f"long-doc repetition stats took {elapsed:.1f}s"


def test_repetition_signals_edges(spark):
    from loggie_spark.operators.textstats import (
        dup_word_fraction,
        top_word_fraction,
        word_entropy,
    )

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="spam spam spam spam"),
            Row(doc_id=2, text="four distinct words here"),
            Row(doc_id=3, text="solo"),
            Row(doc_id=4, text=""),
        ]
    )
    t = F.col("text")
    got = {
        r.doc_id: (r.dup, r.top, r.ent)
        for r in df.select(
            "doc_id",
            dup_word_fraction(t).alias("dup"),
            top_word_fraction(t).alias("top"),
            word_entropy(t).alias("ent"),
        ).collect()
    }
    assert got[1] == (0.75, 1.0, 0.0)
    assert got[2] == (0.0, 0.25, 2.0)
    assert got[3] == (0.0, 1.0, 0.0)
    assert str(got[3][2]) == "0.0"  # -0.0 clamped
    assert got[4] == (0.0, 0.0, 0.0)


def test_ivf_topk_recall_vs_brute(spark):
    """IVF with nprobe=n_cells degenerates to exact search (every cell
    probed); with nprobe=2 recall@3 stays useful on clustered data."""
    from loggie_spark.operators.similarity import brute_force_topk, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    brute = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(q, emb, k=3).collect()
    }
    exact = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(q, emb, k=3, n_cells=4, nprobe=4).collect()
    }
    assert exact == brute  # all cells probed == exact search
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(q, emb, k=3, n_cells=8, nprobe=2).collect()
    }
    recall = len(approx & brute) / len(brute)
    assert recall >= 0.3, f"recall@3 {recall:.2f}"


def test_pq_encode_codes_shape_and_self_consistency(spark):
    """Every vector gets exactly m codes in [0, n_centroids); a vector
    that IS a codebook entry must encode to its own code in every
    subspace (its subspace distance to itself is exactly 0.0)."""
    from loggie_spark.operators.similarity import pq_codebook_prefix, pq_encode

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cb = pq_codebook_prefix(emb, n_centroids=8)
    assert len(cb) == 8 and len(cb[0]) == 64
    enc = {r.vec_id: list(r.codes) for r in pq_encode(emb, cb, m=4).collect()}
    assert all(len(c) == 4 and all(0 <= x < 8 for x in c) for c in enc.values())
    # codebook rows are vec_ids 0..7 in id order -> perfect self-codes
    for code, vid in enumerate(sorted(enc)[:8]):
        assert enc[vid] == [code] * 4, (vid, enc[vid])


def test_pq_topk_recall_vs_brute_l2(spark):
    """ADC over 16 prefix centroids is lossy but must beat chance: the
    true L2-nearest neighbors show up in the PQ top-10 well above the
    ~2% random-pair rate on 500 vectors."""
    from loggie_spark.operators.similarity import pq_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = {r.vec_id: [float(x) for x in r.embedding] for r in emb.collect()}
    qids = list(range(10))
    brute = set()
    for q in qids:
        d = sorted(
            (sum((a - b) ** 2 for a, b in zip(rows[q], rows[n])), n)
            for n in rows
            if n != q
        )[:3]
        brute |= {(q, n) for _, n in d}
    approx = {
        (r.query_id, r.neighbor_id)
        for r in pq_topk(emb, query_ids=qids, k=10, m=4, n_centroids=16).collect()
    }
    recall = len(approx & brute) / len(brute)
    assert recall >= 0.2, f"PQ recall@10-of-true-3 {recall:.2f}"


def test_pq_rerank_is_exact_on_shortlist(spark):
    """Rerank restores exact cosine: every pair it returns must be in
    the ADC shortlist, carry the bit-identical brute-force cos, and
    with shortlist=corpus the result degenerates to brute force."""
    from loggie_spark.operators.similarity import (
        brute_force_topk,
        pq_rerank_topk,
        pq_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qids = list(range(5))
    brute = {
        (r.query_id, r.neighbor_id): r.cos
        for r in brute_force_topk(emb.filter(F.col("vec_id") < 5), emb, k=3).collect()
    }
    short = {
        (r.query_id, r.neighbor_id)
        for r in pq_topk(emb, query_ids=qids, k=10).collect()
    }
    rr = {
        (r.query_id, r.neighbor_id): r.cos
        for r in pq_rerank_topk(emb, query_ids=qids, k=3, shortlist=10).collect()
    }
    assert set(rr) <= short
    for pair, cos in rr.items():
        if pair in brute:
            assert cos == brute[pair], pair
    n = emb.count()
    full = {
        (r.query_id, r.neighbor_id): r.cos
        for r in pq_rerank_topk(emb, query_ids=qids, k=3, shortlist=n).collect()
    }
    assert full == brute


def test_ivfpq_degenerates_to_flat_pq_when_all_cells_probed(spark):
    """With nprobe=n_cells the coarse gate admits every candidate, so
    IVF-PQ must reproduce flat PQ's ADC ranking exactly; with nprobe=2
    its pairs carry the identical ADC distance flat PQ assigns them
    (same codebook -> same codes -> same table sums)."""
    from loggie_spark.operators.similarity import ivfpq_topk, pq_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qids = list(range(5))
    emb5 = emb.filter(F.col("vec_id") < 200)  # keep the all-pairs side small
    flat = {
        (r.query_id, r.neighbor_id): (r.adc_dist, r.rank)
        for r in pq_topk(emb5, query_ids=qids, k=3, m=4, n_centroids=8).collect()
    }
    full = {
        (r.query_id, r.neighbor_id): (r.adc_dist, r.rank)
        for r in ivfpq_topk(
            emb5, query_ids=qids, k=3, n_cells=4, nprobe=4, m=4, n_centroids=8
        ).collect()
    }
    assert full == flat
    flat_all = {
        (r.query_id, r.neighbor_id): r.adc_dist
        for r in pq_topk(emb5, query_ids=qids, k=10**6, m=4, n_centroids=8).collect()
    }
    probed = ivfpq_topk(
        emb5, query_ids=qids, k=3, n_cells=4, nprobe=2, m=4, n_centroids=8
    ).collect()
    assert len(probed) > 0
    for r in probed:
        assert flat_all[(r.query_id, r.neighbor_id)] == r.adc_dist


def test_binary_auc_matches_hand_computed_rank_sum(spark):
    """Textbook cases: separable -> 1.0, anti-separable -> 0.0, the
    classic interleaved example -> 0.75, and a tie group resolved by
    AVERAGE rank (three tied scores -> rank 3 each) -> 0.75."""
    from loggie_spark.operators.corpusstats import binary_auc

    def auc(pairs):
        df = spark.createDataFrame(pairs, "s double, y int")
        return binary_auc(df, F.col("s"), F.col("y") == 1).collect()[0]

    r = auc([(0.1, 0), (0.2, 0), (0.8, 1), (0.9, 1)])
    assert (r.n_pos, r.n_neg, r.auc) == (2, 2, 1.0)
    assert auc([(0.9, 0), (0.8, 0), (0.1, 1), (0.2, 1)]).auc == 0.0
    assert auc([(0.1, 0), (0.35, 1), (0.4, 0), (0.8, 1)]).auc == 0.75
    # ties: ranks of the three 0.5s average to 3 -> R+ = 3+3 = 6
    assert auc([(0.5, 1), (0.5, 0), (0.5, 1), (0.1, 0)]).auc == 0.75


def test_score_calibration_bins_and_clamp(spark):
    """Bin ids are floor(score*n_bins) clamped to the top bin; counts
    and positive fractions are exact."""
    from loggie_spark.operators.corpusstats import score_calibration

    df = spark.createDataFrame(
        [(0.05, 1), (0.09, 0), (0.95, 1), (1.0, 1), (0.55, 0)],
        "s double, y int",
    )
    out = {
        r.bin: (r.n_docs, r.n_pos, r.frac_pos)
        for r in score_calibration(df, F.col("s"), F.col("y") == 1).collect()
    }
    assert out == {0: (2, 1, 0.5), 5: (1, 0, 0.0), 9: (2, 2, 1.0)}


def test_span_dedup_removes_repeated_span(spark):
    """A 20-word span duplicated across two docs survives only in the
    doc with the smaller id; unique spans survive everywhere; an empty
    doc yields 0 spans and md5('')."""
    from loggie_spark.operators.curation import span_dedup

    shared = " ".join(f"w{i}" for i in range(20))  # exactly one span
    uniq_a = " ".join(f"a{i}" for i in range(20))
    uniq_b = " ".join(f"b{i}" for i in range(7))  # partial tail span
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text=f"{uniq_a} {shared}"),
            Row(doc_id=2, text=f"{shared} {uniq_b}"),
            Row(doc_id=3, text=""),
        ]
    )
    out = {r.doc_id: r for r in span_dedup(df, span_words=20).collect()}
    assert (out[1].n_spans, out[1].n_kept) == (2, 2)  # first occurrence kept
    assert (out[2].n_spans, out[2].n_kept) == (2, 1)  # shared span removed
    assert (out[3].n_spans, out[3].n_kept) == (0, 0)
    import hashlib

    assert out[3].clean_hash == hashlib.md5(b"").hexdigest()
    assert out[2].clean_hash == hashlib.md5(uniq_b.encode()).hexdigest()
    assert out[1].clean_hash == hashlib.md5(f"{uniq_a} {shared}".encode()).hexdigest()


def test_vocab_stats_counts(spark):
    from loggie_spark.operators.corpusstats import vocab_stats

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b a c"),
            Row(doc_id=2, text="a  a"),
            Row(doc_id=3, text=""),
        ]
    )
    got = {r.word: (r.tf, r.df) for r in vocab_stats(df).collect()}
    assert got == {"a": (4, 2), "b": (1, 1), "c": (1, 1)}
    top1 = vocab_stats(df, top_k=1).collect()
    assert [(r.word, r.tf) for r in top1] == [("a", 4)]


def test_bigram_lm_scores(spark):
    """Corpus 'x y' twice and 'x z' once: P(y|x)=2/3, P(z|x)=1/3; a
    one-word doc gets 0 bigrams and a NULL score."""
    from loggie_spark.operators.corpusstats import bigram_lm_scores

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="x y"),
            Row(doc_id=2, text="x y"),
            Row(doc_id=3, text="x z"),
            Row(doc_id=4, text="solo"),
        ]
    )
    out = {r.doc_id: r for r in bigram_lm_scores(df).collect()}
    assert out[1].lm_score == out[2].lm_score == round(2 / 3, 4)
    assert out[3].lm_score == round(1 / 3, 4)
    assert out[4].n_bigrams == 0 and out[4].lm_score is None


def test_token_window_dedup(spark):
    """A duplicated 4-token window survives only at its first
    (doc_id, pos) occurrence; partial tail windows hash as their own
    (shorter) spans."""
    from loggie_spark.operators.dedup import token_window_dedup

    shared = [1, 2, 3, 4]
    df = spark.createDataFrame(
        [
            Row(doc_id="a", tokens=[9, 9, 9, 9] + shared),
            Row(doc_id="b", tokens=shared + [7, 7]),
            Row(doc_id="c", tokens=[]),
        ]
    )
    out = {r.doc_id: r for r in token_window_dedup(df, window=4).collect()}
    assert (out["a"].n_windows, out["a"].n_kept, out["a"].kept_tok) == (2, 2, 8)
    assert (out["b"].n_windows, out["b"].n_kept, out["b"].kept_tok) == (2, 1, 2)
    assert (out["c"].n_windows, out["c"].n_kept, out["c"].kept_tok) == (0, 0, 0)
    import hashlib

    assert out["b"].clean_hash == hashlib.md5(b"7 7").hexdigest()


def test_corpus_report_exact_and_approx(spark):
    from loggie_spark.operators.corpusstats import corpus_report

    df = spark.createDataFrame(
        [Row(doc_id=i, source="s", text=" ".join(["w"] * (i + 1))) for i in range(11)]
    )
    r = corpus_report(df, exact=True).collect()[0]
    assert (r.n_docs, r.total_words) == (11, 66)
    assert (r.p50_words, r.p90_words, r.p99_words) == (6, 10, 11)
    # DEFAULT is the bounded-memory t-digest plan (exact=False)
    ra = corpus_report(df).collect()[0]
    assert ra.n_docs == 11 and abs(ra.p50_words - 6) <= 1


def test_dedup_incremental_flags(spark):
    """Exact dup of a corpus doc flags dup_exact (and near, since
    identical text shares every band); a near-dup flags dup_near only;
    an unrelated doc keeps."""
    from loggie_spark.operators.dedup import dedup_incremental

    base = "the quick brown fox jumps over the lazy dog again and again"
    near = "the quick brown fox jumps over the lazy cat again and again"
    other = "completely different words compose this unrelated document here now"
    corpus = spark.createDataFrame([Row(doc_id=1, text=base)])
    shard = spark.createDataFrame(
        [
            Row(doc_id=10, text=base),
            Row(doc_id=11, text=near),
            Row(doc_id=12, text=other),
        ]
    )
    out = {r.doc_id: r for r in dedup_incremental(shard, corpus).collect()}
    assert out[10].dup_exact and not out[10].keep
    assert (not out[11].dup_exact) and out[11].dup_near and not out[11].keep
    assert out[12].keep and not out[12].dup_exact and not out[12].dup_near


def test_epoch_order_deterministic_and_epoch_varying(spark):
    from loggie_spark.operators.sampling import epoch_order

    df = spark.createDataFrame([Row(doc_id=i) for i in range(50)])
    e1a = {(r.doc_id): (r.shard, r.pos) for r in epoch_order(df, 1, 4).collect()}
    e1b = {(r.doc_id): (r.shard, r.pos) for r in epoch_order(df, 1, 4).collect()}
    e2 = {(r.doc_id): (r.shard, r.pos) for r in epoch_order(df, 2, 4).collect()}
    assert e1a == e1b  # reproducible
    assert e1a != e2  # epoch changes the permutation
    # positions are a dense 0..k-1 within every shard
    from collections import defaultdict

    by_shard = defaultdict(list)
    for shard, pos in e1a.values():
        by_shard[shard].append(pos)
    for poss in by_shard.values():
        assert sorted(poss) == list(range(len(poss)))


def test_multimodal_real_ppm_and_wav_decode(spark):
    """PPM and PCM WAV decode for REAL (pure numpy/struct): true
    dimensions/duration come back, and the feat_hash is a CONTENT hash
    — two PPMs with identical pixels but different header comments
    hash equal (the dedup property a byte-hash cannot give)."""
    import hashlib
    import struct

    from loggie_spark.operators.multimodal import decode_and_featurize

    w, h = 4, 3
    pixels = bytes(range(w * h * 3))
    ppm_a = b"P6\n4 3\n255\n" + pixels
    ppm_b = b"P6\n# a comment\n4 3\n255\n" + pixels

    sr, n = 8000, 1200  # 1200 samples @ 8 kHz = 150 ms
    data = struct.pack("<%dh" % n, *([100] * n))
    fmt = struct.pack("<HHIIHH", 1, 1, sr, sr * 2, 2, 16)
    wav = (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )
    media = spark.createDataFrame(
        [
            Row(media_id="img-a", kind="image", payload=bytearray(ppm_a),
                mime="image/x-portable-pixmap", width=None, height=None, duration_ms=None),
            Row(media_id="img-b", kind="image", payload=bytearray(ppm_b),
                mime="image/x-portable-pixmap", width=None, height=None, duration_ms=None),
            Row(media_id="aud-a", kind="audio", payload=bytearray(wav),
                mime="audio/wav", width=None, height=None, duration_ms=None),
        ],
        "media_id string, kind string, payload binary, mime string, "
        "width int, height int, duration_ms int",
    )
    # strict=True must SUCCEED here: every payload has a real codec.
    got = {r.media_id: r for r in decode_and_featurize(media, strict=True).collect()}
    assert (got["img-a"].width, got["img-a"].height) == (4, 3)
    assert got["img-a"].feat_hash == hashlib.md5(pixels).hexdigest()
    assert got["img-a"].feat_hash == got["img-b"].feat_hash  # content hash
    assert got["aud-a"].duration_ms == 150
    assert got["aud-a"].feat_hash == hashlib.md5(data).hexdigest()


def test_cluster_survivors_prefers_quality(spark):
    from loggie_spark.operators.dedup import cluster_survivors

    clusters = spark.createDataFrame(
        [Row(doc_id=1, cluster_id=1), Row(doc_id=2, cluster_id=1), Row(doc_id=5, cluster_id=5)]
    )
    scores = spark.createDataFrame(
        [Row(doc_id=1, q=0.3), Row(doc_id=2, q=0.9), Row(doc_id=5, q=0.1)]
    )
    out = {r.cluster_id: r for r in cluster_survivors(clusters, scores).collect()}
    assert out[1].survivor_id == 2 and out[1].cluster_size == 2  # best q wins
    assert out[5].survivor_id == 5 and out[5].cluster_size == 1
    # tie -> smallest id
    scores_tie = spark.createDataFrame(
        [Row(doc_id=1, q=0.5), Row(doc_id=2, q=0.5), Row(doc_id=5, q=0.1)]
    )
    out2 = {r.cluster_id: r for r in cluster_survivors(clusters, scores_tie).collect()}
    assert out2[1].survivor_id == 1
    # string doc ids (the 'doc-…' form the sequences tables use) must
    # work too — the tie-break negates the SCORE, never the id
    clusters_s = spark.createDataFrame(
        [Row(doc_id="doc-b", cluster_id=1), Row(doc_id="doc-a", cluster_id=1)]
    )
    scores_s = spark.createDataFrame(
        [Row(doc_id="doc-a", q=0.5), Row(doc_id="doc-b", q=0.5)]
    )
    out3 = {r.cluster_id: r for r in cluster_survivors(clusters_s, scores_s).collect()}
    assert out3[1].survivor_id == "doc-a"


def test_containment_and_jaccard_empty_doc_guard(spark):
    """Two empty docs share the empty-string block; without a guard the
    overlap is 0/0 = NaN and Spark's NaN >= threshold is TRUE — assert
    no phantom pair is emitted (and no crash)."""
    from loggie_spark.operators.dedup import containment_pairs, ngram_jaccard_pairs

    df = spark.createDataFrame(
        [
            Row(doc_id="d1", text=""),
            Row(doc_id="d2", text="   "),
            Row(doc_id="d3", text="real words here"),
            Row(doc_id="d4", text="real words here"),
        ]
    )
    pairs = containment_pairs(df, block_words=2, threshold=0.8).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {("d3", "d4")}
    jpairs = ngram_jaccard_pairs(df, block_words=2, threshold=0.5).collect()
    assert {(r.id_a, r.id_b) for r in jpairs} == {("d3", "d4")}


def test_word_run_counts_property(spark):
    """Property: the in-row run-length word counter equals a Python
    Counter for arbitrary whitespace-soup inputs."""
    from collections import Counter

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from loggie_spark.operators.corpusstats import with_word_run_counts

    @settings(max_examples=15, deadline=None)
    @given(
        st.lists(
            st.text(alphabet="ab \t", min_size=0, max_size=12), min_size=1, max_size=4
        )
    )
    def check(texts):
        df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, text string")
        got = {
            r.i: {p.word: p.cnt for p in r._wc}
            for r in with_word_run_counts(df).collect()
        }
        for i, t in enumerate(texts):
            assert got[i] == dict(Counter(w for w in t.lower().split() if w))

    check()


def test_sessionize_gap_boundaries(spark):
    from loggie_spark.operators.sessionize import sessionize

    rows = [
        (1, "2024-01-01 00:00:00"),
        (1, "2024-01-01 00:10:00"),  # same session (gap 600 <= 1800)
        (1, "2024-01-01 01:00:00"),  # new session (gap 3000 > 1800)
        (2, "2024-01-01 05:00:00"),  # other user, own session
    ]
    df = spark.createDataFrame(rows, "user_id long, t string").withColumn(
        "ts", F.col("t").cast("timestamp")
    )
    out = {(r.user_id, r.session_idx): r for r in sessionize(df).collect()}
    assert out[(1, 0)].n_events == 2 and out[(1, 0)].duration_sec == 600
    assert out[(1, 1)].n_events == 1 and out[(1, 1)].duration_sec == 0
    assert out[(2, 0)].n_events == 1
    assert len(out) == 3


def test_tokenize_to_ids(spark):
    """vocab top-2 by tf: 'a'(id 1), 'b'(id 2); 'z' is OOV (-1)."""
    import hashlib

    from loggie_spark.operators.corpusstats import tokenize_to_ids

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="a a a b b z"),
            Row(doc_id=2, text="b a"),
            Row(doc_id=3, text=""),
        ]
    )
    out = {r.doc_id: r for r in tokenize_to_ids(df, vocab_size=2).collect()}
    assert (out[1].n_tok, out[1].n_oov) == (6, 1)
    assert out[1].ids_hash == hashlib.md5(b"1 1 1 2 2 -1").hexdigest()
    assert out[2].ids_hash == hashlib.md5(b"2 1").hexdigest()
    assert (out[3].n_tok, out[3].n_oov) == (0, 0)
    assert out[3].ids_hash == hashlib.md5(b"").hexdigest()


def test_compression_ratio_signal(spark):
    """Repetitive text compresses far below varied text; empty -> NULL."""
    from loggie_spark.operators.textstats import with_compression_ratio

    rep = "spam " * 200
    import random

    rng = random.Random(7)
    varied = " ".join(
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(8))
        for _ in range(200)
    )
    df = spark.createDataFrame(
        [Row(doc_id=1, text=rep), Row(doc_id=2, text=varied), Row(doc_id=3, text="")]
    )
    out = {r.doc_id: r.zlib_ratio for r in with_compression_ratio(df).collect()}
    assert out[1] < 0.05  # template compresses to almost nothing
    assert out[2] > 0.5  # random prose barely compresses
    assert out[3] is None


def test_kmeans_refine_tightens_cells(spark):
    """One Lloyd iteration must not lower the mean member-to-centroid
    cosine (Lloyd is monotone in the k-means objective); empty-cell
    handling keeps the centroid count stable."""
    from loggie_spark.operators.similarity import ivf_centroids, kmeans_refine
    from loggie_spark.operators.similarity import _cell_scores
    import pyspark.sql.functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    init = ivf_centroids(emb, n_cells=4)
    best0 = F.array_max(_cell_scores(F.col("embedding"), init))
    mean0 = emb.select(F.avg(best0.getField("cos"))).collect()[0][0]
    assigned, cents = kmeans_refine(emb, n_cells=4, iters=1)
    assert len(cents) == 4
    mean1 = assigned.select(F.avg("cos")).collect()[0][0]
    assert mean1 >= mean0 - 1e-9


def test_domain_filter(spark):
    from loggie_spark.operators.curation import domain_filter

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="see https://evil.org/x and http://good.com/y"),
            Row(doc_id=2, text="no links at all"),
            Row(doc_id=3, text="https://good.com/a http://good.com/b"),
        ]
    )
    out = {r.doc_id: r for r in domain_filter(df, ["evil.org"]).collect()}
    assert out[1].blocked and out[1].n_urls == 2
    assert out[1].domains == ["evil.org", "good.com"]
    assert not out[2].blocked and out[2].n_urls == 0
    assert not out[3].blocked and out[3].domains == ["good.com"]


def test_containment_catches_quote_inclusion(spark):
    """A short doc fully contained in a long one: overlap 1.0 while
    Jaccard stays below a typical dedup threshold."""
    from loggie_spark.operators.dedup import containment_pairs, ngram_jaccard_pairs

    short = "alpha beta gamma delta"
    long = short + " " + " ".join(f"filler{i}" for i in range(40))
    df = spark.createDataFrame(
        [Row(doc_id=1, text=short), Row(doc_id=2, text=long)]
    )
    ov = containment_pairs(df, block_words=2, threshold=0.8).collect()
    assert [(r.id_a, r.id_b, r.overlap) for r in ov] == [(1, 2, 1.0)]
    jac = ngram_jaccard_pairs(df, block_words=2, threshold=0.5).collect()
    assert jac == []  # jaccard misses it


def test_ivf_with_refined_centroids_composes(spark):
    """kmeans_refine's centroids drop straight into ivf_topk; recall
    vs brute force must not degrade below the unrefined quantizer on
    the same (n_cells, nprobe) budget."""
    import pyspark.sql.functions as F

    from loggie_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        kmeans_refine,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)

    def recall(res):
        truth = {
            (r.query_id, r.neighbor_id)
            for r in brute_force_topk(q, emb, k=3).collect()
        }
        got = {(r.query_id, r.neighbor_id) for r in res.collect()}
        return len(truth & got) / len(truth)

    base = recall(ivf_topk(q, emb, k=3, n_cells=4, nprobe=2))
    _, cents = kmeans_refine(emb, n_cells=4, iters=2)
    refined = recall(ivf_topk(q, emb, k=3, n_cells=4, nprobe=2, centroids=cents))
    assert refined >= base - 0.15  # same budget, no collapse
    assert refined > 0.5


def test_resize_media_real_ppm(spark):
    """4x4 PPM resizes to 2x2 by nearest-neighbor (top-left gather);
    non-image payloads pass through untouched."""
    from loggie_spark.operators.multimodal import resize_media

    px = bytes(range(4 * 4 * 3))
    ppm = b"P6\n4 4\n255\n" + px
    media = spark.createDataFrame(
        [
            ("i1", "image", bytearray(ppm), "image/x-portable-pixmap", None, None, None),
            ("a1", "audio", bytearray(b"not-an-image"), "audio/wav", None, None, None),
        ],
        "media_id string, kind string, payload binary, mime string, "
        "width int, height int, duration_ms int",
    )
    out = {r.media_id: r for r in resize_media(media, 2, 2).collect()}
    got = bytes(out["i1"].payload)
    assert got.startswith(b"P6\n2 2\n255\n")
    import numpy as np

    src = np.frombuffer(px, np.uint8).reshape(4, 4, 3)
    expect = src[[0, 2]][:, [0, 2]].tobytes()
    assert got[len(b"P6\n2 2\n255\n"):] == expect
    assert (out["i1"].width, out["i1"].height) == (2, 2)
    assert bytes(out["a1"].payload) == b"not-an-image"


def test_span_dedup_unique_corpus_keeps_everything(spark):
    """Invariant: with no duplicated spans anywhere, every span
    survives and the reconstruction round-trips the original text."""
    import hashlib

    from loggie_spark.operators.curation import span_dedup

    docs = [(i, " ".join(f"u{i}w{j}" for j in range(37))) for i in range(6)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r for r in span_dedup(df, span_words=10).collect()}
    for i, text in docs:
        assert out[i].n_spans == out[i].n_kept == 4
        assert out[i].clean_hash == hashlib.md5(text.encode()).hexdigest()


def test_token_window_dedup_matches_span_semantics(spark):
    """The token-domain op and the text-domain op implement the same
    keeper rule: on a corpus where tokens are 1:1 with chars, both
    keep the same per-doc window counts."""
    from loggie_spark.operators.curation import span_dedup
    from loggie_spark.operators.dedup import token_window_dedup

    texts = [(1, "a b c d e f"), (2, "a b c d x y"), (3, "q r s t u v")]
    tdf = spark.createDataFrame(texts, "doc_id long, text string")
    spans = {r.doc_id: r.n_kept for r in span_dedup(tdf, span_words=2).collect()}
    seq = spark.createDataFrame(
        [(str(i), [ord(w) for w in t.split()]) for i, t in texts],
        "doc_id string, tokens array<int>",
    )
    wins = {
        int(r.doc_id): r.n_kept
        for r in token_window_dedup(seq, window=2).collect()
    }
    assert spans == wins


def test_audio_segments_real_wav(spark):
    """Constant-amplitude PCM: every full segment's RMS equals the
    amplitude; the tail segment is shorter; non-WAV rows emit nothing."""
    import struct

    from loggie_spark.operators.multimodal import audio_segments

    sr, amp, n = 8000, 1000, 20_000  # 2.5 s
    data = struct.pack("<%dh" % n, *([amp] * n))
    fmt = struct.pack("<HHIIHH", 1, 1, sr, sr * 2, 2, 16)
    wav = (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    media = spark.createDataFrame(
        [
            ("w1", "audio", bytearray(wav), "audio/wav", None, None, None),
            ("x1", "image", bytearray(b"nope"), "", None, None, None),
        ],
        "media_id string, kind string, payload binary, mime string, "
        "width int, height int, duration_ms int",
    )
    rows = sorted(
        audio_segments(media, segment_ms=1000).collect(), key=lambda r: r.seg
    )
    assert [r.media_id for r in rows] == ["w1", "w1", "w1"]
    assert [r.n_samples for r in rows] == [8000, 8000, 4000]
    assert [r.start_ms for r in rows] == [0, 1000, 2000]
    assert all(r.rms == "1000.0000" for r in rows)


def test_multimodal_corrupt_magic_fallback(spark):
    """Payloads that START with a real-codec magic but are corrupt must
    not crash the stage (untrusted corpus media): under strict=False
    decode falls back to the deterministic fake, resize passes through
    un-resized, audio segmentation skips; under strict=True the decode
    error surfaces."""
    import hashlib

    import pytest

    from loggie_spark.operators.multimodal import (
        audio_segments,
        decode_and_featurize,
        resize_media,
    )

    bad_ppm = b"P6\n4"                      # truncated header -> int(b'')
    bad_ppm2 = b"P6\n# comment never ends"  # comment loop runs off the end
    bad_wav = b"RIFF\x10\x00\x00\x00WAVEfmt \x02\x00\x00\x00\x01\x00"  # short fmt
    schema = (
        "media_id string, kind string, payload binary, mime string, "
        "width int, height int, duration_ms int"
    )
    rows = [
        ("p1", "image", bytearray(bad_ppm), "", None, None, None),
        ("p2", "image", bytearray(bad_ppm2), "", None, None, None),
        ("w1", "audio", bytearray(bad_wav), "", None, None, None),
    ]
    media = spark.createDataFrame(rows, schema)

    got = {r.media_id: r for r in decode_and_featurize(media).collect()}
    assert got["p1"].feat_hash == hashlib.md5(bad_ppm).hexdigest()  # fake
    assert got["w1"].duration_ms is None

    with pytest.raises(Exception):
        decode_and_featurize(media, strict=True).collect()

    out = {r.media_id: r for r in resize_media(media, 2, 2).collect()}
    assert bytes(out["p1"].payload) == bad_ppm  # pass-through, untouched
    assert out["p1"].width is None  # NOT stamped with the target size

    assert audio_segments(media).collect() == []


def test_multimodal_pil_probe_path(spark, monkeypatch):
    """When PIL is present (probed at import), JPEG/PNG route through the
    real decoder; exercised here with a monkeypatched codec since the
    container lacks PIL."""
    import loggie_spark.operators.multimodal as mm

    jpeg = b"\xff\xd8\xff\xe0fakejpegbytes"
    monkeypatch.setattr(mm, "_HAVE_PIL", True)
    monkeypatch.setattr(
        mm,
        "_pil_decode",
        lambda p: {
            "feat_hash": "pil-" + str(len(p)),
            "width": 640,
            "height": 480,
            "duration_ms": None,
        },
    )
    got = mm._decode_media(jpeg, strict=True)
    assert got == {
        "feat_hash": "pil-" + str(len(jpeg)),
        "width": 640,
        "height": 480,
        "duration_ms": None,
    }
    # without PIL the same payload is a declared stub: strict raises,
    # lax falls back to the deterministic fake
    monkeypatch.setattr(mm, "_HAVE_PIL", False)
    import pytest

    with pytest.raises(NotImplementedError):
        mm._decode_media(jpeg, strict=True)
    assert mm._decode_media(jpeg, strict=False) == mm._fake_decode(jpeg)


def test_multimodal_soundfile_probe_path(spark, monkeypatch):
    """When soundfile/libsndfile is present (probed at import), FLAC and
    OGG route through the real decoder; exercised with a monkeypatched
    codec since the container lacks libsndfile. Without it the payload
    is a declared stub: strict raises, lax falls back to the fake."""
    import pytest

    import loggie_spark.operators.multimodal as mm

    flac = b"fLaCfakeflacstream"
    monkeypatch.setattr(mm, "_HAVE_SOUNDFILE", True)
    monkeypatch.setattr(
        mm,
        "_soundfile_decode",
        lambda p: {
            "feat_hash": "sf-" + str(len(p)),
            "width": None,
            "height": None,
            "duration_ms": 1234,
        },
    )
    for payload in (flac, b"OggSfakeoggstream"):
        got = mm._decode_media(payload, strict=True)
        assert got["feat_hash"] == "sf-" + str(len(payload))
        assert got["duration_ms"] == 1234
    monkeypatch.setattr(mm, "_HAVE_SOUNDFILE", False)
    with pytest.raises(NotImplementedError):
        mm._decode_media(flac, strict=True)
    assert mm._decode_media(flac, strict=False) == mm._fake_decode(flac)
    # a truncated stream with the right magic must not crash the stage:
    # decode failure falls back to the fake under lax mode
    monkeypatch.setattr(mm, "_HAVE_SOUNDFILE", True)

    def boom(p):
        raise ValueError("truncated stream")

    monkeypatch.setattr(mm, "_soundfile_decode", boom)
    assert mm._decode_media(flac, strict=False) == mm._fake_decode(flac)
    with pytest.raises(ValueError):
        mm._decode_media(flac, strict=True)


def test_kmeans_refine_max_members_caps_skewed_cell(spark):
    """A popular cell folds only its max_members deterministically
    chosen members (smallest (md5-hash, id)) — the aggregation-buffer
    bound that keeps Lloyd refinement safe at scale."""
    import hashlib

    from loggie_spark.operators.similarity import kmeans_refine

    vecs = {
        "v1": [1.0, 0.0],
        "v2": [0.9, 0.1],
        "v3": [0.8, 0.2],
        "v4": [0.7, 0.3],
        "v5": [0.6, 0.4],
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in vecs.items()], "vec_id string, embedding array<double>"
    )
    # every vector lands in the single cell -> maximally skewed
    _, capped = kmeans_refine(df, n_cells=1, iters=1, max_members=2)
    _, full = kmeans_refine(df, n_cells=1, iters=1, max_members=None)

    h = lambda s: int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
    sample = sorted(vecs, key=lambda k: (h(k), k))[:2]
    expect = [
        sum(vecs[k][i] for k in sample) / 2 for i in range(2)
    ]
    assert [round(x, 10) for x in capped[0][1]] == [round(x, 10) for x in expect]
    assert capped[0][1] != full[0][1]  # the cap genuinely changed the fold
    # determinism: same sample every run
    _, again = kmeans_refine(df, n_cells=1, iters=1, max_members=2)
    assert again[0][1] == capped[0][1]


def test_bigram_lm_min_count_floor(spark):
    """min_count prunes rare bigrams from the model (the CCNet-style
    vocab floor that bounds the broadcast); pruned bigrams drop out of
    both n_bigrams and the mean, while the MLE denominator still counts
    ALL bigrams."""
    from loggie_spark.operators.corpusstats import bigram_lm_scores

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b a b a b"),  # (a,b)x3 (b,a)x2
            Row(doc_id=2, text="a b z q"),      # (a,b) (b,z) (z,q) — last two unique
        ]
    )
    out = {r.doc_id: r for r in bigram_lm_scores(df, min_count=2).collect()}
    # doc 2: only (a,b) survives the floor (c(a,b)=4 across the corpus);
    # p(a->b) = c(a,b)/c(a·) = 4/4 = 1.0; (b,z),(z,q) are pruned
    assert out[2].n_bigrams == 1
    assert abs(out[2].lm_score - 1.0) < 1e-9
    # doc 1: (a,b)x3 p=1.0; (b,a)x2 p=c(b,a)/c(b·)=2/3
    assert out[1].n_bigrams == 5
    assert abs(out[1].lm_score - round((3 * 1.0 + 2 * (2 / 3)) / 5, 4)) < 1e-9


def test_centroid_persistence_skips_corpus_scan(spark, tmp_path, monkeypatch):
    """save/load round-trips the quantizer exactly, and a query armed
    with loaded centroids never re-runs the corpus-wide centroid
    TakeOrdered (certified by making a recompute explode)."""
    import loggie_spark.operators.similarity as sim

    emb = _embeddings(spark)
    cents = sim.ivf_centroids(emb, n_cells=2)
    path = str(tmp_path / "cents")
    sim.save_centroids(spark, cents, path)
    loaded = sim.load_centroids(spark, path)
    assert loaded == cents

    baseline = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.ivf_topk(emb.limit(1), emb, k=2, n_cells=2).collect()
    )

    def boom(*a, **kw):
        raise AssertionError("ivf_centroids re-ran despite persisted quantizer")

    monkeypatch.setattr(sim, "ivf_centroids", boom)
    reused = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.ivf_topk(
            emb.limit(1), emb, k=2, n_cells=2, centroids=loaded
        ).collect()
    )
    assert reused == baseline


def test_funnel_counts_first_touch_order(spark):
    """Stage i+1 counts only events strictly AFTER the user's earliest
    stage-i event: u1 converts fully; u2 clicked BEFORE viewing (no
    conversion); u3 views only."""
    import datetime as dt

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    from loggie_spark.operators.sessionize import funnel_counts

    rows = [
        (1, t(0), "view"), (1, t(5), "click"), (1, t(9), "purchase"),
        (2, t(3), "click"), (2, t(4), "view"),
        (3, t(1), "view"),
        # u4: purchase before click -> reaches click only
        (4, t(0), "view"), (4, t(1), "purchase"), (4, t(2), "click"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    out = {r.stage: r.users for r in funnel_counts(ev, ["view", "click", "purchase"]).collect()}
    assert out == {1: 4, 2: 2, 3: 1}


def test_ccnet_buckets_tercile_rule(spark):
    """Integer-rank terciles: 6 docs in one source split 2/2/2.
    MLE-on-itself scoring gives p=1.0 to bigrams whose context is
    unambiguous, so docs 3/4 (every bigram deterministic given w1)
    score a perfect 1.0 and take head; docs 1/2 mix p(a->b)=1.0 with
    p(b->a)=5/6 (contexts 'b a' vs 'b c' compete) and take middle;
    doc 6 (1/6 on 'b c') and the unscorable doc 5 (NULL sorts below
    every score) take tail."""
    from loggie_spark.operators.corpusstats import ccnet_buckets

    rows = [
        (1, "s", "a b a b a b a b"),
        (2, "s", "a b a b a b"),
        (3, "s", "c d e f g h"),
        (4, "s", "x y z w q r"),
        (5, "s", "one"),
        (6, "s", "a b c d"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r.doc_id: r.bucket for r in ccnet_buckets(df).collect()}
    assert out == {3: "head", 4: "head", 2: "middle", 1: "middle",
                   6: "tail", 5: "tail"}


def test_tfidf_keywords_rare_word_wins(spark):
    from loggie_spark.operators.corpusstats import tfidf_keywords

    rows = [
        (1, "common common rare"),
        (2, "common boring words"),
        (3, "common words again"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r.doc_id, r.rank): (r.word, r.score) for r in tfidf_keywords(df, k=2).collect()}
    # doc 1: 'rare' df=1 cnt=1 -> 1.0; 'common' df=3 cnt=2 -> 0.6667
    assert out[(1, 1)] == ("rare", 1.0)
    assert out[(1, 2)] == ("common", 0.6667)


def test_ngram_novelty_fraction(spark):
    from loggie_spark.operators.corpusstats import ngram_novelty

    rows = [
        (1, "a b c d"),       # grams: abc, bcd
        (2, "a b c x"),       # grams: abc (shared), bcx (unique)
        (3, "short"),         # <3 words -> whole text is one gram
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: (r.n_grams, r.novelty) for r in ngram_novelty(df, n=3).collect()}
    assert out[1] == (2, 0.5)   # bcd unique, abc shared
    assert out[2] == (2, 0.5)
    assert out[3] == (1, 1.0)


def test_dsir_weights_target_like_scores_higher(spark):
    """Docs resembling the target domain carry a higher mean
    probability ratio than raw-typical docs; featureless (one-word)
    docs score NULL with n_feats 0."""
    from loggie_spark.operators.curation import dsir_weights

    rows = [
        (1, "medical trial patient dosage medical trial"),
        (2, "medical trial patient outcome"),
        (3, "football score goal referee football match"),
        (4, "football referee goal"),
        (5, "word"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    target = docs.filter("doc_id <= 2")  # medical = target domain
    out = {r.doc_id: r for r in dsir_weights(docs, target).collect()}
    assert out[5].n_feats == 0 and out[5].dsir_score is None
    assert out[1].dsir_score > out[3].dsir_score
    assert out[2].dsir_score > out[4].dsir_score
    # every medical doc beats every football doc
    assert min(out[1].dsir_score, out[2].dsir_score) > max(
        out[3].dsir_score, out[4].dsir_score
    )


def test_training_shard_export_manifest_protocol(spark, tmp_path):
    """Data-first / manifest-last export: a complete export verifies;
    deleting a shard directory (simulated torn export) makes verify
    raise naming the drifted/missing shard; an export with no manifest
    is rejected outright."""
    import os
    import shutil

    import pytest

    from loggie_spark.layout import verify_training_shards, write_training_shards

    df = spark.createDataFrame(
        [(i, f"doc-{i}", i % 3, 100 + i) for i in range(30)],
        "seq long, doc_id string, shard int, n_tok long",
    )
    out = str(tmp_path / "shards")
    manifest = write_training_shards(df, out)
    assert manifest["total_rows"] == 30
    assert manifest["total_tokens"] == sum(100 + i for i in range(30))
    assert set(manifest["shards"]) == {"0", "1", "2"}
    verify_training_shards(spark, out)  # round-trips clean

    shutil.rmtree(os.path.join(out, "shard=2"))
    with pytest.raises(RuntimeError, match="missing=\\['2'\\]"):
        verify_training_shards(spark, out)

    out2 = str(tmp_path / "aborted")
    df.write.partitionBy("shard").parquet(out2)  # no manifest
    with pytest.raises(RuntimeError, match="aborted export"):
        verify_training_shards(spark, out2)


def test_shard_manifest_describes_written_data_not_input(spark, tmp_path):
    """The manifest must be aggregated from the parquet that LANDED,
    not from a re-evaluation of the input frame: with a
    nondeterministic upstream (rand ids here — the stand-in for
    shuffle-order-sensitive ops or task retries), a second evaluation
    would certify ids the export never contained and verify would
    reject its own fresh export."""
    import pyspark.sql.functions as F

    from loggie_spark.layout import verify_training_shards, write_training_shards

    df = spark.range(100).select(
        (F.rand() * 1e12).cast("long").cast("string").alias("doc_id"),
        (F.col("id") % 3).cast("int").alias("shard"),
        F.lit(7).cast("long").alias("n_tok"),
    )
    out = str(tmp_path / "nondet")
    manifest = write_training_shards(df, out)
    assert manifest["total_rows"] == 100
    verify_training_shards(spark, out)  # manifest == what landed


def test_asof_join_semantics(spark):
    """<= semantics, per-key isolation, left-join nulls, and strict
    mode excluding the equal-timestamp dimension row."""
    import datetime as dt

    from loggie_spark.operators.joins import asof_join

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    dim = spark.createDataFrame(
        [(1, t(0), "bronze"), (1, t(10), "gold"), (2, t(5), "silver")],
        "user_id long, ts timestamp, plan string",
    )
    ev = spark.createDataFrame(
        [(100, 1, t(4)), (101, 1, t(10)), (102, 1, t(30)),
         (103, 2, t(1)), (104, 3, t(9))],
        "event_id long, user_id long, ts timestamp",
    )
    out = {r.event_id: r.plan for r in asof_join(ev, dim, key="user_id").collect()}
    assert out == {
        100: "bronze",   # before the upgrade
        101: "gold",     # equal ts -> dim row counts (<=)
        102: "gold",
        103: None,       # user 2's dim row is later
        104: None,       # unknown user
    }
    strict = {r.event_id: r.plan for r in
              asof_join(ev, dim, key="user_id", strict=True).collect()}
    assert strict[101] == "bronze"  # strictly-before excludes the t(10) row


def test_asof_join_adopts_null_columns_whole(spark):
    """A dim row with a legitimately NULL column must be adopted WHOLE:
    the NULL comes along, never that column's value stitched in from an
    OLDER dim row (the torn-row defect a per-column carry has)."""
    import datetime as dt

    from loggie_spark.operators.joins import asof_join

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    dim = spark.createDataFrame(
        [(1, t(0), "bronze", 10), (1, t(10), "gold", None)],
        "user_id long, ts timestamp, plan string, credits int",
    )
    ev = spark.createDataFrame(
        [(100, 1, t(5)), (101, 1, t(20))],
        "event_id long, user_id long, ts timestamp",
    )
    out = {r.event_id: (r.plan, r.credits)
           for r in asof_join(ev, dim, key="user_id").collect()}
    assert out[100] == ("bronze", 10)
    # the t(10) row wins whole: credits is NULL, NOT the stale 10
    assert out[101] == ("gold", None)


def test_asof_join_duplicate_dim_ts_deterministic(spark):
    """Duplicate (key, dim_ts) dimension rows resolve to the LARGEST
    dim-value struct — deterministically, on every run."""
    import datetime as dt

    from loggie_spark.operators.joins import asof_join

    t0 = dt.datetime(2024, 1, 1)
    dim = spark.createDataFrame(
        [(1, t0, "aaa"), (1, t0, "zzz"), (1, t0, "mmm")],
        "user_id long, ts timestamp, plan string",
    )
    ev = spark.createDataFrame(
        [(100, 1, dt.datetime(2024, 1, 2))],
        "event_id long, user_id long, ts timestamp",
    )
    for _ in range(3):
        got = asof_join(
            ev.repartition(8), dim.repartition(8), key="user_id"
        ).collect()
        assert [r.plan for r in got] == ["zzz"]


def test_asof_join_bucketed_equivalent_and_splits_hot_key(spark):
    """bucket_sec mode returns IDENTICAL results to the unbucketed
    construction (<=, strict, cross-bucket carry over empty buckets,
    left-join NULLs) while partitioning the final window by
    (key, bucket) so one hot key's history spreads across tasks."""
    import datetime as dt

    from pyspark.sql import functions as F

    from loggie_spark.operators.joins import asof_join

    base = dt.datetime(2024, 1, 1).timestamp()
    # one hot key: 5000 events over ~14 hours, dim changes every 1000 s,
    # plus a cold key with sparse rows and an unknown key
    ev = (
        spark.range(5000)
        .select(
            F.col("id").alias("event_id"),
            F.lit(1).alias("k"),
            F.timestamp_seconds(F.lit(base) + F.col("id") * 10).alias("ts"),
        )
        .unionByName(
            spark.createDataFrame(
                [(90001, 2, dt.datetime(2024, 1, 1, 5)),
                 (90002, 3, dt.datetime(2024, 1, 1, 6))],
                "event_id long, k long, ts timestamp",
            )
        )
    )
    dim = spark.range(50).select(
        F.lit(1).alias("k"),
        F.timestamp_seconds(F.lit(base) + F.col("id") * 1000 + 5).alias("ts"),
        (F.col("id") * 7).alias("v"),
    ).unionByName(
        spark.createDataFrame(
            [(2, dt.datetime(2024, 1, 1, 4), 999)], "k long, ts timestamp, v long"
        )
    )
    for strict in (False, True):
        plain = {
            r.event_id: r.v
            for r in asof_join(ev, dim, key="k", strict=strict).collect()
        }
        bucketed_df = asof_join(
            ev, dim, key="k", strict=strict, bucket_sec=600
        )
        bucketed = {r.event_id: r.v for r in bucketed_df.collect()}
        assert bucketed == plain
    # the final carry window partitions by (key, bucket): its spec names
    # the bucket column, so a hot key is NOT one partition
    plan = bucketed_df._jdf.queryExecution().executedPlan().toString()
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    # the carry window is the one ordering by the seed-first column _o;
    # its PARTITION clause (everything before the first ASC) must name
    # the bucket column _ab
    carry = [s for s in specs if "_o#" in s]
    assert carry, specs
    for s in carry:
        part = s.split(" ASC")[0]
        assert "_ab" in part, s


def test_range_join_containment_and_plan(spark):
    """Half-open [start, end) containment across bucket boundaries;
    the plan is an equi-join on the grain, never a nested-loop."""
    import datetime as dt

    from loggie_spark.operators.joins import range_join

    iv = spark.createDataFrame(
        [("w1", dt.datetime(2024, 1, 1, 1, 0), dt.datetime(2024, 1, 1, 3, 30))],
        "label string, start_ts timestamp, end_ts timestamp",
    )
    ev = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 0, 59)),   # before
         (2, dt.datetime(2024, 1, 1, 1, 0)),    # == start -> in
         (3, dt.datetime(2024, 1, 1, 2, 30)),   # middle bucket
         (4, dt.datetime(2024, 1, 1, 3, 29)),   # last minute -> in
         (5, dt.datetime(2024, 1, 1, 3, 30))],  # == end -> out (half-open)
        "event_id long, ts timestamp",
    )
    df = range_join(ev, iv, bucket_sec=3600)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert sorted(r.event_id for r in df.collect()) == [2, 3, 4]


def test_countmin_one_sided_and_mergeable(spark):
    """est >= true count for every item (one-sided error); a wide
    sketch over few distinct items is exact; merging two half-stream
    sketches equals the whole-stream sketch."""
    from loggie_spark.operators.sketches import cms_build, cms_estimate, cms_merge

    rows = [(w,) for w in ["a"] * 50 + ["b"] * 30 + ["c"] * 5 + ["d"] * 1]
    items = spark.createDataFrame(rows, "word string")
    q = spark.createDataFrame([("a",), ("b",), ("c",), ("d",), ("missing",)], "word string")

    sketch = cms_build(items, "word", depth=4, width=64)
    est = {r.word: r.est for r in cms_estimate(sketch, q, "word", depth=4, width=64).collect()}
    true = {"a": 50, "b": 30, "c": 5, "d": 1, "missing": 0}
    for w, t in true.items():
        assert est[w] >= t
    # 4 distinct items vs 64 buckets x 4 rows: collisions in every row
    # are vanishingly unlikely -> exact
    assert est == true

    half1 = cms_build(spark.createDataFrame(rows[:40], "word string"), "word", depth=4, width=64)
    half2 = cms_build(spark.createDataFrame(rows[40:], "word string"), "word", depth=4, width=64)
    merged = cms_merge(half1, half2)
    est_m = {r.word: r.est for r in cms_estimate(merged, q, "word", depth=4, width=64).collect()}
    assert est_m == est


def test_bloom_no_false_negatives(spark):
    """Every inserted item reports maybe_member; a superset relation
    holds against exact membership; misses are possible but never for
    members."""
    from loggie_spark.operators.sketches import bloom_build, bloom_maybe_contains

    members = spark.createDataFrame([(f"gram-{i}",) for i in range(200)], "g string")
    others = spark.createDataFrame([(f"other-{i}",) for i in range(200)], "g string")
    bloom = bloom_build(members, "g", n_bits=4096, k=4)
    got_m = bloom_maybe_contains(bloom, members, "g", n_bits=4096, k=4)
    assert got_m.filter("NOT maybe_member").count() == 0  # no false negatives
    fp = bloom_maybe_contains(bloom, others, "g", n_bits=4096, k=4).filter(
        "maybe_member"
    ).count()
    assert fp < 100  # 200 items in 4096 bits, k=4: fp-rate well under 50%


def test_quantize_embeddings_roundtrip_quality(spark):
    """Quantized vectors reconstruct within 1/127 of scale per
    coordinate; zero vectors quantize to zeros with scale 0; the
    transform is a narrow projection (no shuffle in the plan)."""
    from loggie_spark.operators.similarity import quantize_embeddings

    rows = [
        (1, [0.5, -1.0, 0.25, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in quantize_embeddings(df).collect()}
    r1 = out[1]
    assert r1.scale == 1.0 and r1.dim == 4
    for orig, q in zip(rows[0][1], r1.q):
        assert abs(orig - q * r1.scale / 127) <= r1.scale / 127 + 1e-9
    assert out[2].scale == 0.0 and list(out[2].q) == [0, 0, 0, 0]
    plan = quantize_embeddings(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # narrow projection, no shuffle


def test_asof_join_rejects_column_clash(spark):
    import datetime as dt

    import pytest

    from loggie_spark.operators.joins import asof_join

    t0 = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame([(1, 1, t0, 9.0)], "event_id long, k long, ts timestamp, v double")
    dim = spark.createDataFrame([(1, t0, 5.0)], "k long, ts timestamp, v double")
    with pytest.raises(ValueError, match="collide"):
        asof_join(ev, dim, key="k")


def test_leakage_safe_split_keeps_near_dups_together(spark):
    """Every dup pair lands on the same side; singletons split by own
    id; assignment is deterministic across runs."""
    from loggie_spark.operators.sampling import leakage_safe_split

    docs = spark.createDataFrame(
        [(i,) for i in range(40)], "doc_id long"
    )
    # chain 0-1-2 one cluster; 10-11 another; rest singletons
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11)], "id_a long, id_b long"
    )
    out = {r.doc_id: (r.split_unit, r.split) for r in
           leakage_safe_split(docs, pairs, val_pct=30).collect()}
    assert out[0] == out[1] == out[2]      # whole component together
    assert out[10] == out[11]
    assert out[5][0] == 5                  # singleton unit = own id
    sides = {s for _, s in out.values()}
    assert sides == {"train", "val"}       # 30% val over 40 units hits both
    again = {r.doc_id: (r.split_unit, r.split) for r in
             leakage_safe_split(docs, pairs, val_pct=30).collect()}
    assert again == out


def test_line_dedup_removes_boilerplate_everywhere(spark):
    """A line in >= min_docs distinct docs is dropped from EVERY doc
    (no first-occurrence keeper); unique lines survive; clean_hash is
    the md5 of surviving lines re-joined in order."""
    import hashlib

    from loggie_spark.operators.curation import line_dedup

    footer = "all rights reserved"
    rows = [
        (1, f"alpha one\n{footer}\nbeta two"),
        (2, f"{footer}\ngamma three"),
        (3, "delta four\nepsilon five"),
        (4, footer),  # nothing survives
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in line_dedup(df, min_docs=2).collect()}
    assert (out[1].n_lines, out[1].n_kept) == (3, 2)
    assert out[1].clean_hash == hashlib.md5(b"alpha one\nbeta two").hexdigest()
    assert (out[2].n_lines, out[2].n_kept) == (2, 1)
    assert (out[3].n_lines, out[3].n_kept) == (2, 2)
    assert out[3].clean_hash == hashlib.md5(b"delta four\nepsilon five").hexdigest()
    assert (out[4].n_lines, out[4].n_kept) == (1, 0)
    assert out[4].clean_hash == hashlib.md5(b"").hexdigest()
    # custom delimiter path
    df2 = spark.createDataFrame(
        [(1, "x | y"), (2, "x | z")], "doc_id long, text string"
    )
    out2 = {r.doc_id: r.n_kept for r in
            line_dedup(df2, min_docs=2, delim=" | ").collect()}
    assert out2 == {1: 1, 2: 1}  # shared "x" dropped from both


def test_gopher_quality_flags_rules(spark):
    """Each Gopher rule fires on its crafted violator and the clean doc
    passes; ratios are exact rounded divisions."""
    from loggie_spark.operators.curation import gopher_quality_flags

    good = "the quick brown fox jumps over that lazy dog and then it ran off with great speed " * 4
    rows = [
        (1, good),                          # passes all
        (2, "short text only"),             # too few words
        (3, ("a b c d e " * 20).strip()),   # mean word len 1 < 3
        (4, ("the of #### ##### " + "word " * 60).strip()),  # symbol ratio
        (5, ("12 34 56 78 " * 20 + "the of and").strip()),   # alpha frac
        (6, ("zebra quartz viper " * 20).strip()),           # no stopwords
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in gopher_quality_flags(df, min_words=20).collect()}
    assert out[1].passes
    assert not out[2].passes and out[2].n_words == 3
    assert not out[3].passes and out[3].mean_word_len == 1.0
    assert not out[4].passes and out[4].symbol_ratio > 0.1
    assert not out[5].passes and out[5].alpha_frac < 0.8
    assert not out[6].passes and out[6].stop_hits == 0
    assert out[1].stop_hits >= 2


def test_cms_heavy_hitters_exact_despite_collisions(spark):
    """The sketch-gated result equals the exact GROUP BY ... HAVING
    answer even with a deliberately tiny sketch (width=4 -> heavy
    collisions): one-sided estimates admit false candidates, the exact
    verify discards them, and no true hitter can be missed."""
    import pyspark.sql.functions as F

    from loggie_spark.operators.sketches import cms_heavy_hitters

    rows = [(f"u{i % 17}",) for i in range(500)] + [("whale",)] * 120
    items = spark.createDataFrame(rows, "user string")
    got = {
        (r.user, r.cnt)
        for r in cms_heavy_hitters(items, "user", min_count=40, width=4).collect()
    }
    want = {
        (r.user, r.cnt)
        for r in items.groupBy("user")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .filter(F.col("cnt") >= 40)
        .collect()
    }
    assert got == want and ("whale", 120) in got


def test_bpe_train_and_encode_hand_checked(spark):
    """Sennrich toy corpus: merge order and counts are hand-derivable
    ('lo' carries low+lower+lowest mass -> rank 1, then 'low'; 'ew'
    then 'new'; rank-5 tie between er/es/st breaks to 'er' by the
    (count DESC, left, right) rule), and encoding applies the merges
    rank-ordered with the leftmost-first greedy fold."""
    from loggie_spark.operators.bpe import bpe_encode, bpe_train

    docs = spark.createDataFrame(
        [
            (1, "low lower lowest low low"),
            (2, "new newer newest new"),
            (3, "low new low"),
        ],
        "doc_id LONG, text STRING",
    )
    merges = bpe_train(docs, n_merges=5, top_words=100)
    assert [(m["left"], m["right"], m["pair_count"]) for m in merges] == [
        ("l", "o", 7),
        ("lo", "w", 7),
        ("e", "w", 5),
        ("n", "ew", 5),
        ("e", "r", 2),
    ]
    got = {
        r.doc_id: (r.n_tokens, r.tokens)
        for r in bpe_encode(docs, merges).collect()
    }
    assert got == {
        1: (9, "low low er low e s t low low"),
        2: (8, "new new er new e s t new"),
        3: (3, "low new low"),
    }
    # overlap rule: 'aaa' + (a,a) merges leftmost-first -> [aa, a]
    tri = spark.createDataFrame([(1, "aaa aaa")], "doc_id LONG, text STRING")
    m2 = bpe_train(tri, n_merges=1, top_words=10)
    assert [(m["left"], m["right"]) for m in m2] == [("a", "a")]
    enc = bpe_encode(tri, m2).collect()[0]
    assert (enc.n_tokens, enc.tokens) == (4, "aa a aa a")


def test_retention_cohorts_hand_checked(spark):
    """Two cohorts, one returning user: u1 first seen day 0 and active
    again day 2 (two events that day collapse to ONE distinct period);
    u2 first seen day 1 only."""
    from loggie_spark.operators.sessionize import retention_cohorts

    ev = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00"),
            (1, "2024-01-03 09:00:00"),
            (1, "2024-01-03 23:00:00"),
            (2, "2024-01-02 12:00:00"),
        ],
        "user_id LONG, ts STRING",
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"))
    got = {
        (str(r.cohort), r.offset): r.users
        for r in retention_cohorts(ev, grain="day").collect()
    }
    assert got == {
        ("2024-01-01", 0): 1,
        ("2024-01-01", 2): 1,
        ("2024-01-02", 0): 1,
    }


def test_token_budget_plan_caps_and_rates(spark):
    """sqrt-temperature shares: sources with 400 vs 100 tokens split a
    30-token budget 2:1 (sqrt(400):sqrt(100)); a tiny source whose
    proportional allocation exceeds its stock is capped at the stock
    and its sample_rate pins to 1.0."""
    from loggie_spark.operators.sampling import token_budget_plan

    rows = []
    for i in range(40):
        rows.append((i, "web", "w " * 10))          # 400 tokens
    for i in range(40, 50):
        rows.append((i, "wiki", "w " * 10))         # 100 tokens
    rows.append((50, "tiny", "a b c d"))            # 4 tokens
    docs = spark.createDataFrame(rows, "doc_id LONG, source STRING, text STRING")
    got = {
        r.source: (r.tokens, r.alloc_tokens, r.sample_rate)
        for r in token_budget_plan(docs, budget_tokens=30, alpha=0.5).collect()
    }
    # weights: 20, 10, 2 -> denom 32; allocs: floor(30*20/32)=18,
    # floor(30*10/32)=9, floor(30*2/32)=1 (< its 4-token stock)
    assert got["web"] == (400, 18, round(18 / 400, 4))
    assert got["wiki"] == (100, 9, round(9 / 100, 4))
    assert got["tiny"] == (4, 1, 0.25)
    # budget larger than a source's stock -> capped, rate 1.0
    got2 = {
        r.source: (r.alloc_tokens, r.sample_rate)
        for r in token_budget_plan(docs, budget_tokens=10_000, alpha=0.5).collect()
    }
    assert got2["tiny"] == (4, 1.0)
    assert got2["wiki"] == (100, 1.0)


def test_hashed_linear_score_matches_python_oracle(spark):
    """Exact-integer classifier scores: recompute each doc's score in
    pure Python with the same md5 bucket hash + pseudo-weights and
    require equality (no float tolerance — the operator is integer
    arithmetic end to end). Also: custom weights, empty text, and the
    n_buckets contract."""
    import hashlib

    import pytest

    from loggie_spark.operators.textstats import (
        hashed_linear_score,
        pseudo_model_weights,
    )

    W = pseudo_model_weights()

    def h(word):
        return int(hashlib.md5(word.encode()).hexdigest()[:15], 16) % 1024

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "  "), (3, "zebra"), (4, None)],
        "doc_id LONG, text STRING",
    )
    got = {
        r.doc_id: (r.n_words, r.score, r.score_per_token)
        for r in hashed_linear_score(docs).collect()
    }
    for doc_id, text in [
        (1, "the cat sat on the mat"),
        (2, "  "),
        (3, "zebra"),
        (4, None),  # NULL text must score (0, 0, 0.0), not NULL
    ]:
        words = (text or "").lower().split()
        score = sum(W[h(w)] for w in words)
        spt = round(score / len(words), 4) if words else 0.0
        assert got[doc_id] == (len(words), score, spt), doc_id
    # a drop-in custom model changes the score deterministically
    flat = [1] * 1024
    got2 = {r.doc_id: r.score for r in hashed_linear_score(docs, weights=flat).collect()}
    assert got2 == {1: 6, 2: 0, 3: 1, 4: 0}
    with pytest.raises(ValueError):
        hashed_linear_score(docs, weights=[1, 2, 3])


def test_burst_detect_flags_only_3sigma_buckets(spark):
    """One type with a clear burst hour, one constant-rate type (zero
    variance — must never flag), one single-bucket type (n<2 — must
    never flag). Expected z recomputed in pure Python from the same
    exact-integer moments."""
    from datetime import datetime, timedelta

    from loggie_spark.operators.sessionize import burst_detect

    rows = []
    base = datetime(2024, 1, 1)
    # type A: 1 event/hour for 20 hours, then 50 events in hour 20
    for h in range(20):
        rows.append((h, base + timedelta(hours=h), "A"))
    rows += [(100 + i, base + timedelta(hours=20, minutes=i % 50), "A") for i in range(50)]
    # type B: exactly 2 events in each of 10 hours (zero variance)
    for h in range(10):
        rows += [(1000 + 2 * h, base + timedelta(hours=h), "B"),
                 (1001 + 2 * h, base + timedelta(hours=h, minutes=30), "B")]
    # type C: one bucket only
    rows.append((2000, base, "C"))
    ev = spark.createDataFrame(
        [(i, ts, t) for i, ts, t in rows],
        "event_id LONG, ts TIMESTAMP, event_type STRING",
    )
    got = burst_detect(ev, grain="hour").collect()
    assert {r.event_type for r in got} == {"A"}
    assert len(got) == 1
    r = got[0]
    # python recompute: counts = [1]*20 + [50]
    import math

    cnts = [1] * 20 + [50]
    n, s, s2 = len(cnts), sum(cnts), sum(c * c for c in cnts)
    mean = s / n
    var = (s2 - s * s / n) / (n - 1.0)
    z = (50 - mean) / math.sqrt(var)
    assert r.cnt == 50
    assert r.mean_cnt == round(mean, 4)
    assert r.zscore == round(z, 4)
    assert z >= 3.0


def test_source_overlap_matches_python_sets(spark):
    """Three-source corpus with engineered shared 3-grams; pairwise
    Jaccard recomputed from python set arithmetic. A disjoint pair is
    absent from the result by construction."""
    from loggie_spark.operators.corpusstats import source_overlap

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps", "s1"),
            (2, "the quick brown cat", "s2"),
            (3, "totally different words here", "s3"),
            (4, "hi", "s3"),  # short doc: whole text is one gram
        ],
        "doc_id LONG, text STRING, source STRING",
    )
    got = {(r.src_a, r.src_b): r for r in source_overlap(docs).collect()}

    def grams(t):
        ws = t.lower().split()
        if len(ws) >= 3:
            return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}
        return {" ".join(ws)}

    g1 = grams("the quick brown fox jumps")
    g2 = grams("the quick brown cat")
    g3 = grams("totally different words here") | grams("hi")
    # s1∩s2 = {"the quick brown"}; s3 disjoint from both
    assert set(got) == {("s1", "s2")}
    r = got[("s1", "s2")]
    inter = len(g1 & g2)
    assert (r.n_common, r.n_a, r.n_b) == (inter, len(g1), len(g2))
    assert r.jaccard == round(inter / len(g1 | g2), 4)


def test_tokenizer_fertility_per_source(spark):
    """Fixed two-merge table; expected subword counts recomputed via
    the operator's own _encode_word on the python side. NULL text
    counts as a doc with zero words; a source whose docs are all empty
    reports fertility 0.0."""
    from loggie_spark.operators.bpe import _encode_word, tokenizer_fertility

    merges = [
        {"left": "a", "right": "b", "merged": "ab"},
        {"left": "ab", "right": "c", "merged": "abc"},
    ]
    docs = spark.createDataFrame(
        [
            (1, "abc ab xyz", "s1"),
            (2, "abcabc", "s1"),
            (3, None, "s2"),
            (4, "", "s2"),
        ],
        "doc_id LONG, text STRING, source STRING",
    )
    got = {
        r.source: (r.n_docs, r.n_words, r.n_subwords, r.fertility)
        for r in tokenizer_fertility(docs, merges).collect()
    }
    mlist = [(m["left"], m["right"], m["merged"]) for m in merges]
    words = ["abc", "ab", "xyz", "abcabc"]
    ns = sum(len(_encode_word(w, mlist)) for w in words)
    assert got["s1"] == (2, 4, ns, round(ns / 4, 4))
    assert got["s2"] == (2, 0, 0, 0.0)


def test_semdedup_one_survivor_per_group(spark):
    """Within a near-identical group exactly one member survives — the
    LEAST centroid-similar (ties by id); singletons pass; keeps ==
    distinct clusters; deterministic across runs."""
    from loggie_spark.operators.dedup import semdedup

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.02, 0.0, 0.0]),
        (3, [0.98, 0.05, 0.0, 0.0]),
        (4, [0.0, 1.0, 0.0, 0.0]),  # other direction: singleton
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semdedup(emb, n_cells=2, threshold=0.95, iters=1).collect()
    by_id = {r.vec_id: r for r in out}
    assert len(out) == 4
    # 1-2-3 are one transitive group (all pairwise cos > 0.99)
    assert by_id[1].cluster_id == by_id[2].cluster_id == by_id[3].cluster_id == 1
    group = [by_id[i] for i in (1, 2, 3)]
    keepers = [r for r in group if r.keep]
    assert len(keepers) == 1
    assert keepers[0].cos == min(r.cos for r in group)
    assert by_id[4].keep and by_id[4].cluster_id == 4
    n_clusters = len({r.cluster_id for r in out})
    assert sum(1 for r in out if r.keep) == n_clusters
    again = semdedup(emb, n_cells=2, threshold=0.95, iters=1).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


def test_dsir_resample_deterministic_hash_bernoulli(spark):
    """keep == (md5_u < min(1, kf*w)) recomputed in Python from the
    returned scores; featureless docs always drop; runs are identical."""
    import hashlib

    from loggie_spark.operators.curation import dsir_resample

    docs = spark.createDataFrame(
        [
            (i, "the quick brown fox jumps over the lazy dog " * (1 + i % 3))
            for i in range(30)
        ]
        + [(97, "the quick target fox " * 4), (98, ""), (99, "solo")],
        "doc_id long, text string",
    )
    target = docs.filter(F.col("doc_id") % 2 == 0)
    out = dsir_resample(docs, target, keep_fraction=0.5).collect()
    assert len(out) == 33
    for r in out:
        if r.dsir_score is None:
            assert not r.keep  # "" and single-word docs have no bigrams
            continue
        h = int(
            hashlib.md5(f"dsir:{r.doc_id}".encode()).hexdigest()[:15], 16
        )
        u = h / float(1 << 60)
        assert r.keep == (u < min(1.0, 0.5 * r.dsir_score))
    again = dsir_resample(docs, target, keep_fraction=0.5).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


def test_bigram_lm_target_domain_model(spark):
    """model_docs trains the LM on a slice: bigrams absent from the
    target slice contribute nothing, purely-OOV docs score NULL, and
    an in-domain doc reproduces the hand-computed MLE mean."""
    from loggie_spark.operators.corpusstats import bigram_lm_scores

    docs = spark.createDataFrame(
        [
            (1, "a b a b"),    # in-domain (model doc)
            (2, "a b c"),      # bigram (a,b) in model; (b,c) OOV
            (3, "x y z"),      # fully OOV -> NULL score
        ],
        "doc_id long, text string",
    )
    model_docs = docs.filter(F.col("doc_id") == 1)
    got = {
        r.doc_id: (r.n_bigrams, r.lm_score)
        for r in bigram_lm_scores(docs, model_docs=model_docs).collect()
    }
    # model from doc 1: c(a,b)=2, c(b,a)=1, c(a.)=2, c(b.)=1
    # doc1 bigrams: ab,ba,ab -> p: 1.0, 1.0, 1.0 -> mean 1.0
    assert got[1] == (3, 1.0)
    # doc2: only (a,b) survives -> p=1.0, n=1
    assert got[2] == (1, 1.0)
    assert got[3] == (0, None)


def test_hll_merge_equals_global_and_estimates_sanely(spark):
    """Register-table HLL: sharded build + merge == one global build
    (max is associative/commutative/idempotent); the raw estimate
    lands within 15% of truth for n >> 2.5m; merge is idempotent."""
    from loggie_spark.operators.sketches import hll_build, hll_estimate, hll_merge

    n = 50_000
    items = spark.range(n).select(F.col("id").cast("string").alias("v"))
    p = 8  # m=256 so n >> 2.5m and the raw estimator is in its regime
    whole = hll_build(items, "v", p=p)
    a = hll_build(items.filter(F.col("v").cast("long") % 2 == 0), "v", p=p)
    b = hll_build(items.filter(F.col("v").cast("long") % 2 == 1), "v", p=p)
    merged = hll_merge(a, b)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )
    est = hll_estimate(merged, p=p).collect()[0]
    assert est.m == 256
    assert abs(est.estimate - n) / n < 0.15
    again = hll_merge(merged, a)  # idempotent: re-merging a shard is a no-op
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, whole.collect()))


def test_image_dhash_real_ppm_and_pairs(spark):
    """Real PPM dHash: a brightness-shifted copy (gradient signs
    preserved) collides at hamming 0 with its original; a noise image
    stays far; non-PPM payloads fall back to the md5 hash; the banded
    pair join finds exactly the near-dup pair."""
    import numpy as np

    from loggie_spark.operators.dedup import fingerprint_hamming_pairs
    from loggie_spark.operators.multimodal import _dhash_ppm, image_dhash

    def ppm(arr):
        h, w, _ = arr.shape
        return b"P6\n%d %d\n255\n" % (w, h) + arr.astype(np.uint8).tobytes()

    rng = np.random.RandomState(7)
    # smooth horizontal ramp -> strong, stable gradients
    base = np.repeat(
        np.tile(np.linspace(10, 240, 33, dtype=np.uint8), (18, 1))[:, :, None],
        3,
        axis=2,
    )
    brighter = np.clip(base.astype(np.int32) + 10, 0, 255).astype(np.uint8)
    noise = rng.randint(0, 256, size=base.shape).astype(np.uint8)

    d_base = _dhash_ppm(ppm(base))
    assert d_base == _dhash_ppm(ppm(brighter))  # brightness-invariant
    d_noise = _dhash_ppm(ppm(noise))
    assert bin(d_base ^ d_noise).count("1") > 10

    media = spark.createDataFrame(
        [
            ("a", ppm(base)),
            ("b", ppm(brighter)),
            ("c", ppm(noise)),
            ("d", b"not an image"),
        ],
        "media_id string, payload binary",
    )
    out = {r.media_id: r for r in image_dhash(media).collect()}
    assert out["a"].real_decode and out["b"].real_decode and out["c"].real_decode
    assert not out["d"].real_decode
    assert out["a"].dhash == d_base

    pairs = fingerprint_hamming_pairs(
        image_dhash(media), fp_col="dhash", id_col="media_id", max_hamming=3
    ).collect()
    assert [(p.id_a, p.id_b, p.hamming) for p in pairs] == [("a", "b", 0)]


def test_audio_ahash_volume_invariant_pairs(spark):
    """Envelope hash: a half-volume copy of the same clip collides at
    hamming 0; a different envelope diverges; non-WAV falls back."""
    import struct

    import numpy as np

    from loggie_spark.operators.dedup import fingerprint_hamming_pairs
    from loggie_spark.operators.multimodal import _ahash_wav, audio_ahash

    def wav(samples):
        data = np.asarray(samples, dtype="<i2").tobytes()
        fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        return (
            b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
            + b"fmt " + struct.pack("<I", 16) + fmt
            + b"data" + struct.pack("<I", len(data)) + data
        )

    rng = np.random.RandomState(3)
    # asymmetric envelope (slow rise, fast fall) so the reversed clip
    # has genuinely different frame-to-frame gradients
    env = np.concatenate([np.linspace(100, 8000, 700), np.linspace(8000, 100, 100)])
    carrier = rng.choice([-1, 1], size=800)
    clip = (env * carrier).astype(np.int64)
    quiet = clip // 2
    other = clip[::-1]  # mirrored envelope -> opposite gradients

    assert _ahash_wav(wav(clip)) == _ahash_wav(wav(quiet))
    d = _ahash_wav(wav(clip)) ^ _ahash_wav(wav(other))
    assert bin(d).count("1") > 10

    media = spark.createDataFrame(
        [("a", wav(clip)), ("b", wav(quiet)), ("c", wav(other)), ("d", b"mp3??")],
        "media_id string, payload binary",
    )
    out = {r.media_id: r for r in audio_ahash(media).collect()}
    assert out["a"].real_decode and not out["d"].real_decode
    pairs = fingerprint_hamming_pairs(
        audio_ahash(media), fp_col="dhash", id_col="media_id", max_hamming=3
    ).collect()
    assert [(p.id_a, p.id_b, p.hamming) for p in pairs] == [("a", "b", 0)]


def test_semdedup_standing_quantizer_assignment_only(spark, tmp_path):
    """centroids= + iters=0 is a pure assignment pass against a
    persisted quantizer: same verdicts as training in-line, and a new
    shard dedups against the SAME cells without re-running Lloyd."""
    from loggie_spark.operators.dedup import semdedup
    from loggie_spark.operators.similarity import (
        kmeans_refine,
        load_centroids,
        save_centroids,
    )

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.02, 0.0, 0.0]),
        (3, [0.98, 0.05, 0.0, 0.0]),
        (4, [0.0, 1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    _, cents = kmeans_refine(emb, n_cells=2, iters=1)
    path = str(tmp_path / "quantizer")
    save_centroids(spark, cents, path)
    loaded = load_centroids(spark, path)

    inline = sorted(map(tuple, semdedup(emb, n_cells=2, threshold=0.95,
                                        iters=1).collect()))
    standing = sorted(map(tuple, semdedup(emb, n_cells=2, threshold=0.95,
                                          iters=0, centroids=loaded).collect()))
    assert standing == inline  # trained cells reproduce inline verdicts

    shard = spark.createDataFrame(
        [(10, [0.97, 0.08, 0.0, 0.0]), (11, [0.0, 0.99, 0.01, 0.0])],
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: r for r in semdedup(shard, n_cells=2, threshold=0.95,
                                         iters=0, centroids=loaded).collect()}
    assert out[10].keep and out[11].keep  # no dups within the shard
    assert out[10].cell != out[11].cell   # assigned to the standing cells


def test_substring_dedup_spans_and_rebuild(spark):
    """Lee-et-al exact substring dedup: a verbatim block shared across
    docs (or repeated within one) is cut out as one maximal span; docs
    without ≥min_len duplicated substrings — and empty docs — pass
    through byte-identical."""
    import hashlib

    from loggie_spark.operators.dedup import substring_dedup

    block = "0123456789abcdefghijklmnop"  # 26 verbatim chars
    rows = [
        (1, "unique prefix one " + block + " unique tail one"),
        (2, "different start two " + block + " and other end"),
        (3, "no duplicated content here at all, promise!!"),
        (4, ""),
        (5, "self " + block + " repeat " + block + " twice"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r.doc_id: r for r in substring_dedup(df, min_len=20).collect()}

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    # the shared span is " <block> " (the flanking spaces are shared
    # verbatim too, so grams covering them are duplicated): 28 chars
    assert (got[1].n_spans, got[1].dup_chars) == (1, 28)
    assert got[1].clean_hash == md5("unique prefix oneunique tail one")
    assert (got[2].n_spans, got[2].dup_chars) == (1, 28)
    assert got[2].clean_hash == md5("different start twoand other end")
    assert (got[3].n_spans, got[3].dup_chars) == (0, 0)
    assert got[3].clean_hash == md5(rows[2][1])
    assert got[4].clean_hash == md5("")
    assert (got[5].n_spans, got[5].dup_chars) == (2, 56)
    assert got[5].clean_hash == md5("selfrepeattwice")


def test_canonical_url_normalization(spark):
    """URL canonicalization: case, www, default ports, fragments,
    tracking params, param order, trailing slashes — all collapse;
    significant differences (path case, non-default port, real params)
    survive; non-URLs canonicalize to ''."""
    from loggie_spark.operators.curation import canonical_url, url_host

    rows = [
        (1, "HTTP://WWW.Site.COM:80/A/b/?utm_source=x&b=2&a=1#frag"),
        (2, "http://site.com/A/b?a=1&b=2"),          # same page as 1
        (3, "https://Site.com:443/A/b?b=2&a=1"),     # https ≠ http
        (4, "http://site.com:8080/A/b?a=1&b=2"),     # real port kept
        (5, "http://site.com/a/b?a=1&b=2"),          # path case kept
        (6, "not a url at all"),
        (7, "http://x.org/p/?fbclid=zzz&utm_medium=email"),
        # '?' INSIDE the fragment is not a query — same page as a bare path
        (8, "http://site.com/A/b#sec?b=2&a=1"),
    ]
    df = spark.createDataFrame(rows, "id int, url string")
    got = {
        r.id: (r.c, r.h)
        for r in df.select(
            "id",
            canonical_url(F.col("url")).alias("c"),
            url_host(F.col("url")).alias("h"),
        ).collect()
    }
    assert got[1] == ("http://site.com/A/b?a=1&b=2", "site.com")
    assert got[2] == got[1]
    assert got[3] == ("https://site.com/A/b?a=1&b=2", "site.com")
    assert got[4] == ("http://site.com:8080/A/b?a=1&b=2", "site.com:8080")
    assert got[5] == ("http://site.com/a/b?a=1&b=2", "site.com")
    assert got[6][0] == ""
    assert got[7] == ("http://x.org/p", "x.org")
    assert got[8] == ("http://site.com/A/b", "site.com")


def test_url_dedup_and_host_stats(spark):
    from loggie_spark.operators.curation import host_dedup_stats, url_dedup

    rows = [
        (1, "http://www.a.com/x?utm_source=s"),
        (2, "HTTP://A.com:80/x"),            # dup of 1
        (3, "http://a.com/y"),
        (4, "https://b.net/only"),
        # non-URLs canonicalize to '' but are NOT dups of each other
        (5, "/relative/page1.html"),
        (6, "/relative/page2.html"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, url string")
    keep = {r.doc_id: r.keep for r in url_dedup(df).collect()}
    assert keep == {1: True, 2: False, 3: True, 4: True, 5: True, 6: True}
    stats = {r.host: (r.n_urls, r.n_canonical, r.dup_ratio)
             for r in host_dedup_stats(df).collect()}
    assert stats == {
        "a.com": (3, 2, 0.3333),
        "b.net": (1, 1, 0.0),
        "": (2, 2, 0.0),  # non-URLs: distinct pages, zero dup ratio
    }


def test_substring_decontaminate_cuts_benchmark_spans(spark):
    """Substring decontamination: only spans covered by >=min_len-char
    substrings of the BENCHMARK are cut — corpus-internal duplication
    is untouched (that's substring_dedup's job)."""
    import hashlib

    from loggie_spark.operators.dedup import substring_decontaminate

    eval_q = "what is the airspeed velocity of an unladen swallow?"
    docs = spark.createDataFrame(
        [
            (1, "intro text then " + eval_q + " and a closing thought"),
            (2, "totally clean document with original content only"),
            # corpus-internal dup, absent from the benchmark: kept
            (3, "totally clean document with original content only"),
        ],
        "doc_id int, text string",
    )
    bench = spark.createDataFrame(
        [(100, "Q: " + eval_q + " A: an african or european swallow?")],
        "doc_id int, text string",
    )
    got = {r.doc_id: r for r in substring_decontaminate(docs, bench, min_len=20).collect()}
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert got[1].n_spans == 1 and got[1].contam_chars >= len(eval_q)
    assert (got[2].n_spans, got[2].contam_chars) == (0, 0)
    assert got[2].clean_hash == md5("totally clean document with original content only")
    assert got[3].clean_hash == got[2].clean_hash  # internal dup untouched


def test_nfc_normalize_composes_and_audits(spark):
    from loggie_spark.operators.curation import nfc_normalize

    rows = [
        (1, "café plain"),        # decomposed -> composed, shrinks
        (2, "café plain"),         # already NFC -> unchanged
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r.doc_id: r for r in nfc_normalize(df).collect()}
    assert got[1].changed and got[1].n_before == 11 and got[1].n_after == 10
    assert not got[2].changed and got[2].n_before == got[2].n_after == 10
    assert got[1].norm_hash == got[2].norm_hash  # same text after NFC
    assert not got[3].changed and got[3].n_after == 0


def test_mixture_waterfill_redistributes_capped_surplus(spark):
    """Hand-computed water level: A(100 tok) and B(400) cap at 3
    epochs, their unused share flows to C — allocations sum to the
    budget instead of dropping the surplus like a naive capped split."""
    from pyspark.sql import Row

    from loggie_spark.operators.sampling import mixture_waterfill

    def mk(src, n, wpd):
        return [
            Row(doc_id=i, source=src, text=" ".join(f"w{j}" for j in range(wpd)))
            for i in range(n)
        ]

    docs = spark.createDataFrame(mk("A", 10, 10) + mk("B", 10, 40) + mk("C", 10, 1000))
    out = {
        r.source: r
        for r in mixture_waterfill(
            docs, budget_tokens=9000, alpha=0.5, max_epochs=3.0
        ).collect()
    }
    # caps: A 300, B 1200; water level t = (9000-1500)/sqrt(10000) = 75
    assert (out["A"].alloc_tokens, out["A"].capped) == (300, True)
    assert (out["B"].alloc_tokens, out["B"].capped) == (1200, True)
    assert (out["C"].alloc_tokens, out["C"].capped) == (7500, False)
    assert sum(r.alloc_tokens for r in out.values()) == 9000
    assert out["A"].epochs == 3.0 and out["C"].epochs == 0.75


def test_mixture_waterfill_all_capped_when_budget_exceeds_capacity(spark):
    from pyspark.sql import Row

    from loggie_spark.operators.sampling import mixture_waterfill

    docs = spark.createDataFrame(
        [Row(doc_id=i, source=f"s{i%2}", text="a b c") for i in range(4)]
    )
    rows = mixture_waterfill(docs, budget_tokens=10**9, max_epochs=2.0).collect()
    assert all(r.capped for r in rows)
    assert all(r.epochs == 2.0 for r in rows)


def test_mixture_waterfill_requires_exactly_one_budget(spark):
    import pytest
    from pyspark.sql import Row

    from loggie_spark.operators.sampling import mixture_waterfill

    docs = spark.createDataFrame([Row(doc_id=1, source="a", text="x")])
    with pytest.raises(ValueError):
        mixture_waterfill(docs)
    with pytest.raises(ValueError):
        mixture_waterfill(docs, budget_tokens=10, budget_frac=1.0)


def test_log_template_mask_order_ip_before_digits(spark):
    from loggie_spark.operators.logmine import mine_templates

    rows = [
        (1, "GET /page/42 200 317ms from 10.0.3.118"),
        (2, "GET /page/7 200 88ms from 10.0.15.2"),
        (3, "ERR timeout user=9 after 12ms retry=0"),
        (4, "session 0xdeadbeef opened"),
    ]
    df = spark.createDataFrame(rows, "event_id long, body string")
    out = {
        r.template: (r.cnt, r.example_id)
        for r in mine_templates(df, col="body", id_col="event_id").collect()
    }
    # IPv4 masks as ONE <IP> token (not four <N> octets) because the
    # composite pattern runs before the digit-run rule.
    assert out["GET /page/<N> <N> <N>ms from <IP>"] == (2, 1)
    assert out["ERR timeout user=<N> after <N>ms retry=<N>"] == (1, 3)
    assert out["session <HEX> opened"] == (1, 4)


def test_binned_quantiles_upper_edge_bound(spark):
    import math

    from loggie_spark.operators.sketches import binned_quantiles

    vals = [float(v) for v in range(1, 201)]  # 1..200, two groups
    rows = [("a", v) for v in vals] + [("b", v * 2) for v in vals]
    df = spark.createDataFrame(rows, "g string, value double")
    out = {r.g: r for r in binned_quantiles(df, "value", "g", (0.5, 0.9), 64).collect()}
    for g, scale in (("a", 1.0), ("b", 2.0)):
        n = out[g].n
        assert n == 200
        for q, col in ((0.5, "p50"), (0.9, "p90")):
            true_q = sorted(v * scale for v in vals)[math.ceil(q * n) - 1]
            got = getattr(out[g], col)
            # reported value is the bin UPPER edge: >= true quantile,
            # < true + one global bin width ((400-1)/64)
            assert true_q <= got + 1e-9 < true_q + (400.0 - 1.0) / 64 + 1e-9


def test_binned_quantiles_degenerate_single_value(spark):
    from loggie_spark.operators.sketches import binned_quantiles

    df = spark.createDataFrame([("a", 5.0)] * 3, "g string, value double")
    out = binned_quantiles(df, "value", "g", (0.5,), 64).collect()
    assert len(out) == 1 and out[0].n == 3
    # hi == lo: everything lands in bin 0 and the edge is lo + 1*0 = lo
    assert abs(out[0].p50 - 5.0) < 1e-9


def test_bm25_explicit_query_terms_and_saturation(spark):
    from loggie_spark.operators.retrieval import bm25_topk

    rows = [
        (1, "spark spark spark spark table"),
        (2, "spark table"),
        (3, "table row line"),
        (4, "row line batch window"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = bm25_topk(df, query_terms=["spark"], k=10).collect()
    # only docs containing the term appear; tf saturation (k1) keeps
    # the 4x-tf doc ahead of but not 4x above the 1x-tf doc
    ids = [r.doc_id for r in out]
    assert ids == [1, 2]
    assert out[0].rank == 1 and out[1].rank == 2
    assert out[0].score > out[1].score
    assert out[0].score < 4 * out[1].score
    assert all(r.n_terms == 1 for r in out)


def test_bitext_margin_prefers_true_pair_over_hub(spark):
    from loggie_spark.operators.similarity import bitext_margin_mine

    # src 0 is (nearly) identical to tgt 11; tgt 1 is a central "hub"
    # vector moderately close to everything. Raw cosine alone would
    # still pick 11 here, but the margin must be > 1 for a true pair
    # (cos far above its neighborhood mean) and the hub's margin is
    # dampened by its own high dy.
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.0, 1.0, 0.0]),
        (11, [0.99, 0.01, 0.0, 0.0]),
        (1, [0.5, 0.5, 0.5, 0.02]),
        (3, [0.0, 0.0, 0.02, 1.0]),
        (5, [0.3, 0.0, 0.9, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    src = emb.filter("vec_id % 2 = 0")
    tgt = emb.filter("vec_id % 2 = 1")
    out = {r.src_id: r for r in bitext_margin_mine(src, tgt, src, k=2).collect()}
    assert set(out) == {0, 2, 4}  # one row per source query
    assert out[0].tgt_id == 11 and out[0].margin > 1.0
    # every winner is the margin-argmax, not necessarily the cos-argmax
    for r in out.values():
        assert r.margin > 0


def test_weighted_sample_contract_and_size_bias(spark):
    """rank ∈ 1..k per group; a row whose weight dwarfs the rest is
    effectively guaranteed in (the fixture is deterministic, so this
    pins the ids forever); k ≥ group size returns everything; and the
    pick is idempotent across calls."""
    from loggie_spark.operators.sampling import weighted_sample

    rows = [(g, i, 1000000 if i == 7 else 1) for g in ("a", "b") for i in range(40)]
    df = spark.createDataFrame(rows, "source string, doc_id long, weight long")
    out = weighted_sample(df, k=5).collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r.source, []).append(r)
    for g, rs in by_g.items():
        assert sorted(r.rank for r in rs) == [1, 2, 3, 4, 5]
        assert 7 in {r.doc_id for r in rs}, f"heavy row missed in {g}"
    again = weighted_sample(df, k=5).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))
    tiny = spark.createDataFrame(
        [("a", 1, 5), ("a", 2, 1)], "source string, doc_id long, weight long"
    )
    assert weighted_sample(tiny, k=10).count() == 2


def test_weighted_sample_priority_is_u_over_w(spark):
    """The priority column is exactly (md5_60bit(id, seed=7)+1)/2^60/w
    rounded to 8 — recompute it in Python and match."""
    import hashlib

    from loggie_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [("g", 123, 17)], "source string, doc_id long, weight long"
    )
    r = weighted_sample(df, k=1).collect()[0]
    h = int(hashlib.md5(b"7|123").hexdigest()[:15], 16)
    assert r.priority == round(((h + 1) / 2**60) / 17.0, 8)


def test_skipgram_cooc_window_semantics(spark):
    """'a b c d' with window 2 yields exactly the 5 within-2 unordered
    pairs; repeated tokens pool into canonical pairs; a 1-token doc and
    an empty doc contribute nothing."""
    from loggie_spark.operators.corpusstats import skipgram_cooc

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "b a b"), (3, "solo"), (4, "")],
        "doc_id long, text string",
    )
    out = {
        (r.x, r.y): r.cnt
        for r in skipgram_cooc(docs, window=2, min_count=1, k=100).collect()
    }
    # doc1: (a,b),(a,c),(b,c),(b,d),(c,d); doc2: (a,b)x2, (b,b)
    assert out == {
        ("a", "b"): 3,
        ("a", "c"): 1,
        ("b", "c"): 1,
        ("b", "d"): 1,
        ("c", "d"): 1,
        ("b", "b"): 1,
    }


def test_skipgram_cooc_min_count_and_k_bound(spark):
    from loggie_spark.operators.corpusstats import skipgram_cooc

    docs = spark.createDataFrame(
        [(i, "x y z") for i in range(3)] + [(99, "p q")],
        "doc_id long, text string",
    )
    out = skipgram_cooc(docs, window=3, min_count=2, k=2).collect()
    # (p,q) appears once -> filtered; (x,y),(x,z),(y,z) tie at 3, k=2
    # keeps the lexicographically first two
    assert [(r.x, r.y) for r in out] == [("x", "y"), ("x", "z")]
    assert all(r.cnt == 3 for r in out)


def test_rrf_fuse_exact_scores_and_membership(spark):
    """Hand-check: fused score is exactly 1/(60+ra) + 1/(60+rb); a doc
    in one list only contributes one term; ranking ties break by id."""
    from loggie_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame([(10, 1), (20, 2), (30, 3)], "doc_id long, rank int")
    b = spark.createDataFrame([(20, 1), (10, 2), (40, 3)], "doc_id long, rank int")
    out = {r.doc_id: r for r in rrf_fuse([a, b], k=10).collect()}
    assert out[10].rrf_score == round(1 / 61 + 1 / 62, 8)
    assert out[20].rrf_score == round(1 / 62 + 1 / 61, 8)
    assert out[30].rrf_score == round(1 / 63, 8)
    assert out[30].n_lists == 1 and out[10].n_lists == 2
    # 10 and 20 tie exactly (symmetric ranks) -> doc_id order
    ranked = sorted(out.values(), key=lambda r: r.rank)
    assert [r.doc_id for r in ranked[:2]] == [10, 20]
    assert {r.doc_id for r in ranked[2:]} == {30, 40}


def test_source_token_entropy_uniform_and_degenerate(spark):
    """A uniform 4-word source has entropy ln(4); a one-word source has
    entropy 0; and when one source IS the corpus, KL = 0."""
    import math

    from loggie_spark.operators.corpusstats import source_token_entropy

    docs = spark.createDataFrame(
        [("u", "a b c d"), ("m", "z z z z")], "source string, text string"
    )
    out = {r.source: r for r in source_token_entropy(docs).collect()}
    assert abs(out["u"].entropy - round(math.log(4), 4)) < 1e-12
    assert out["m"].entropy == 0.0
    solo = spark.createDataFrame([("only", "a a b")], "source string, text string")
    r = source_token_entropy(solo).collect()[0]
    assert r.kl == 0.0 and r.n_tokens == 3


def test_oov_rate_vocab_cut(spark):
    """top_v=2 keeps the two most frequent words; everything else is
    OOV mass; a fully-in-vocab source rates 0."""
    from loggie_spark.operators.corpusstats import oov_rate

    docs = spark.createDataFrame(
        [("s1", "a a a b b rare1 rare2"), ("s2", "a b a b")],
        "source string, text string",
    )
    out = {r.source: r for r in oov_rate(docs, top_v=2).collect()}
    assert out["s1"].n_tokens == 7 and out["s1"].oov_tokens == 2
    assert out["s1"].oov_rate == round(2 / 7, 4)
    assert out["s2"].oov_tokens == 0 and out["s2"].oov_rate == 0.0


def test_hll_build_by_matches_per_group_build_and_merge(spark):
    """The grouped register table equals per-group hll_build outputs,
    and the ALL-merge row's estimate equals the global single-sketch
    estimate (window merge ≡ rescan)."""
    from loggie_spark.operators.sketches import (
        hll_build,
        hll_build_by,
        hll_estimate,
        hll_estimate_by,
    )

    df = spark.createDataFrame(
        [(f"g{i % 3}", f"u{i % 40}") for i in range(200)], "grp string, v string"
    )
    by = hll_build_by(df, "v", "grp", p=5)
    for g in ("g0", "g1", "g2"):
        solo = sorted(
            map(tuple, hll_build(df.filter(F.col("grp") == g), "v", p=5).collect())
        )
        grouped = sorted(
            (r.idx, r.rho)
            for r in by.filter(F.col("group") == g).select("idx", "rho").collect()
        )
        assert grouped == solo
    merged = (
        by.groupBy("idx")
        .agg(F.max("rho").alias("rho"))
        .select(F.lit("ALL").alias("group"), "idx", "rho")
    )
    e_merged = hll_estimate_by(merged, p=5).collect()[0]
    e_global = hll_estimate(hll_build(df, "v", p=5), p=5).collect()[0]
    assert e_merged.estimate == e_global.estimate
    assert e_merged.n_filled == e_global.n_filled


def test_path_ngrams_order_and_tiebreak(spark):
    """Paths follow (ts, event_id) order — a timestamp tie resolves by
    event_id; windows never cross users; short histories emit nothing."""
    from datetime import datetime

    from loggie_spark.operators.sessionize import path_ngrams

    t0 = datetime(2024, 1, 1)
    rows = [
        # user 1: a,b (tie at t0: ids 2,3 -> b then c), d
        (1, t0, 1, "a"),
        (2, datetime(2024, 1, 1, 1), 1, "b"),
        (3, datetime(2024, 1, 1, 1), 1, "c"),
        (4, datetime(2024, 1, 1, 2), 1, "d"),
        # user 2: too short for a trigram
        (5, t0, 2, "x"),
        (6, datetime(2024, 1, 1, 1), 2, "y"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    out = {
        (r.step_1, r.step_2, r.step_3): r.cnt
        for r in path_ngrams(df, n=3, k=10).collect()
    }
    assert out == {("a", "b", "c"): 1, ("b", "c", "d"): 1}


def test_cdc_chunks_realign_after_insertion(spark):
    """The CDC claim: prepending words to a shared passage must leave
    the passage's interior chunks identical (boundaries are local), so
    the two docs surface duplicate chunks; a fixed-width chunker would
    shift every block."""
    from loggie_spark.operators.dedup import cdc_dedup_chunks

    base = " ".join(f"w{i}" for i in range(60))  # long shared passage
    docs = spark.createDataFrame(
        [(1, base), (2, "zz yy xx qq pp " + base)],
        "doc_id long, text string",
    )
    out = cdc_dedup_chunks(docs, w=3, divisor=4, min_occ=2, k=100).collect()
    shared = [r for r in out if r.n_docs == 2]
    assert shared, "no chunk shared across the shifted near-duplicates"
    # counts are internally consistent and n_words matches the chunk
    for r in out:
        assert r.n_occ >= 2 and r.n_words == len(r.chunk.split(" "))
