"""Dedup & similarity: LSH recall vs exact oracle, approx-distinct rsd,
partition invariance of merged stats (reference n_jobs-invariance)."""

from __future__ import annotations

from pyspark.sql import functions as F

from physicsnemo_curator_spark.operators import dedup, similarity, stats
from physicsnemo_curator_spark.sources.tables import load_table


def test_minhash_lsh_recall_vs_exact(spark, sf_correctness_dir):
    docs = load_table(spark, sf_correctness_dir, "documents")
    sh = dedup.shingle_table(docs, k=3, unit="word")
    exact = {
        (r["a"], r["b"])
        for r in dedup.jaccard_pairs(sh).filter(F.col("jaccard") >= 0.8).collect()
    }
    lsh = {
        (r["a"], r["b"])
        for r in dedup.minhash_near_duplicates(docs, threshold=0.8).collect()
    }
    assert lsh <= exact  # verify step guarantees no false positives
    assert len(exact) > 0
    recall = len(lsh) / len(exact)
    assert recall >= 0.9, f"LSH recall {recall:.2f} below 0.9 ({len(lsh)}/{len(exact)})"


def test_lsh_topk_overlaps_exact(spark, sf_correctness_dir):
    emb = load_table(spark, sf_correctness_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.cosine_topk(emb, qs, k=10)
    approx = similarity.lsh_topk(emb, qs, dim=64, k=10)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    # every query must at least find itself (identical vectors share all
    # bands), and multi-band amplification must recover a majority of
    # the true top-10 even on near-orthogonal random embeddings
    assert all((q, q) in a for q in range(5))
    assert len(a & e) / len(e) >= 0.5


def test_approx_count_distinct_rsd(spark, sf_correctness_dir):
    orders = load_table(spark, sf_correctness_dir, "orders")
    exact = orders.select(F.countDistinct("o_custkey")).collect()[0][0]
    approx = orders.select(
        F.approx_count_distinct("o_custkey", rsd=0.02)
    ).collect()[0][0]
    assert abs(approx - exact) / exact < 0.06  # 3x the configured rsd


def test_stats_partition_invariance(spark, sf_correctness_dir):
    """Merged moments must not depend on partitioning (reference
    n_jobs-invariance of Welford merge, SURVEY §5)."""
    li = load_table(spark, sf_correctness_dir, "lineitem")

    def run(df):
        row = stats.moment_stats(df, ["l_returnflag"], "l_quantity").orderBy(
            "l_returnflag"
        ).collect()
        return [
            (r["l_returnflag"], r["n"], round(r["mean"], 9), round(r["skew_v"], 9))
            for r in row
        ]

    assert run(li.repartition(1)) == run(li.repartition(37))


def test_simhash_hamming_similarity(spark):
    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy dog"),  # exact dup
            (2, "completely different words entirely unrelated content"),
        ],
        ["doc_id", "text"],
    )
    groups = {r["doc_id"]: r["canonical_id"] for r in dedup.simhash_duplicates(docs).collect()}
    assert groups[0] == groups[1] == 0
    assert groups[2] == 2


def test_winnow_fingerprints_shared_substring(spark):
    """Documents sharing a long substring share a winnowing fingerprint;
    unrelated documents (different alphabets) share none; short-doc
    edges behave (one window below `window`, empty below `k`)."""
    from physicsnemo_curator_spark.operators.textops import winnow_fingerprints
    from pyspark.sql import functions as F

    shared = "the quick brown fox jumps over the lazy dog"
    rows = [
        (0, f"AAA {shared} BBB"),
        (1, f"xyz {shared} qqq"),
        (2, "0123456789" * 5),   # digits only — disjoint k-grams
        (3, "tiny"),              # shorter than k=8 → no fingerprints
        (4, "exactly9!"),         # 2 k-grams < window=4 → one window
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {
        r["doc_id"]: set(r["fps"])
        for r in df.select(
            "doc_id", winnow_fingerprints(F.col("text")).alias("fps")
        ).collect()
    }
    assert out[0] & out[1], "shared substring must share fingerprints"
    assert not (out[0] & out[2])
    assert out[3] == set()
    assert len(out[4]) == 1


def test_winnow_near_duplicates_recall_vs_exact(spark, sf_correctness_dir):
    """Winnow-candidate near-dup must recover most exact-Jaccard pairs
    at the same threshold (near-dups share long substrings)."""
    from physicsnemo_curator_spark.operators import dedup
    from physicsnemo_curator_spark.sources.tables import load_table

    docs = load_table(spark, sf_correctness_dir, "documents").limit(300)
    sh = dedup.shingle_table(docs, "text", "doc_id", 3, unit="word")
    exact = {
        (r["a"], r["b"])
        for r in dedup.jaccard_pairs(sh).filter("jaccard >= 0.8").collect()
    }
    got = {
        (r["a"], r["b"])
        for r in dedup.winnow_near_duplicates(docs, threshold=0.8).collect()
    }
    assert got <= exact or not exact  # verify stage guarantees precision 1
    if exact:
        assert len(got & exact) / len(exact) >= 0.8


def test_sq8_topk_recall_and_rescore(spark, sf_correctness_dir):
    """8-bit scalar quantization must (a) keep codes in [0, 255], (b)
    recover a strong majority of the exact top-10 (8-bit per-dim error
    is tiny relative to cosine gaps), (c) with rescore the surviving
    candidates carry EXACT cosine scores — identical to cosine_topk's
    for the same pairs, and (d) accept a precomputed codebook without
    re-training."""
    emb = load_table(spark, sf_correctness_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    mins, maxs = similarity.sq8_train(emb, dim=64)
    codes = emb.select(
        similarity.sq8_code_expr("embedding", mins, maxs).alias("c")
    ).collect()
    flat = [v for r in codes for v in r["c"]]
    assert min(flat) >= 0 and max(flat) <= 255
    exact = similarity.cosine_topk(emb, qs, k=10, dim=64)
    approx = similarity.sq8_topk(
        emb, qs, k=10, dim=64, codebook=(mins, maxs)
    )
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    assert all((q, q) in a for q in range(5))  # self-match survives SQ8
    assert len(a & e) / len(e) >= 0.8
    rescored = similarity.sq8_topk(
        emb, qs, k=10, dim=64, codebook=(mins, maxs), rescore=2
    )
    ex = {
        (r["query_id"], r["vec_id"]): r["cosine"] for r in exact.collect()
    }
    for r in rescored.collect():
        key = (r["query_id"], r["vec_id"])
        if key in ex:  # shared pairs must score EXACTLY (same kernel)
            assert abs(r["cosine"] - ex[key]) < 1e-12


def test_sq8_constant_dimension_codes_zero(spark):
    """A constant dimension (mx == mn) must code to 0 and reconstruct
    to the constant — not divide by zero under ANSI mode."""
    rows = [(i, [float(i), 7.0]) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    mins, maxs = similarity.sq8_train(df, dim=2)
    assert mins[1] == maxs[1] == 7.0
    rec = df.select(
        similarity.sq8_reconstruct_expr(
            similarity.sq8_code_expr("embedding", mins, maxs), mins, maxs
        ).alias("r")
    ).collect()
    for r in rec:
        assert r["r"][1] == 7.0


def _random_corpus(spark, n_docs: int = 60, seed: int = 3):
    """Docs over a 40-word vocabulary; every third doc copies an earlier
    one with a few words changed, so the corpus has pairs at every
    Jaccard level."""
    import random

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(40)]
    texts: list[str] = []
    for i in range(n_docs):
        if i % 3 == 2:
            words = texts[rng.randrange(i)].split()
            for _ in range(rng.randint(1, 4)):
                words[rng.randrange(len(words))] = rng.choice(vocab)
        else:
            words = [rng.choice(vocab) for _ in range(rng.randint(5, 25))]
        texts.append(" ".join(words))
    return spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")


def test_jaccard_pairs_candidates_match_filtered_full_path(spark):
    """With candidates, jaccard_pairs returns exactly the candidate-free
    rows restricted to the candidate pairs — duplicate and reversed
    candidates included — with and without max_df."""
    import random

    docs = _random_corpus(spark)
    sh = dedup.shingle_table(docs, k=2, unit="word")
    rng = random.Random(7)
    cand = [(a, b) for a in range(60) for b in range(60) if a != b and rng.random() < 0.3]
    cand += cand[:20]  # duplicates
    candidates = spark.createDataFrame(cand, "a long, b long")
    keep = set(cand)
    for max_df in (None, 4):
        full = {
            (r.a, r.b): r.jaccard
            for r in dedup.jaccard_pairs(sh, max_df=max_df).collect()
            if (r.a, r.b) in keep
        }
        got = dedup.jaccard_pairs(sh, candidates, max_df=max_df).collect()
        assert len(got) == len({(r.a, r.b) for r in got})
        assert {(r.a, r.b): r.jaccard for r in got} == full
        assert full  # the corpus has shared shingles among the candidates


def test_rebalance_narrow_runs_no_job(spark, tmp_path):
    """rebalance_narrow decides from the plan: a shuffled input is
    returned as is without running it, and a one-file scan is still
    spread to the cluster's parallelism — neither costs a Spark job."""
    path = str(tmp_path / "docs.parquet")
    _random_corpus(spark, 20).coalesce(1).write.parquet(path)
    docs = spark.read.parquet(path)
    shuffled = docs.join(docs.groupBy("doc_id").count(), "doc_id", "left_anti")
    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup(None))
    same = dedup.rebalance_narrow(shuffled, "doc_id")
    spread = dedup.rebalance_narrow(docs, "doc_id")
    assert set(st.getJobIdsForGroup(None)) == before
    assert same is shuffled
    assert spread.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
