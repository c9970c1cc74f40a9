"""Incremental near-dup detection against a persisted MinHash store
(operators/dedup.py: write_minhash_store / incremental_near_duplicates)."""

from __future__ import annotations

from pyspark.sql import functions as F

from physicsnemo_curator_spark.operators import dedup


def persisted_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _sentence(seed: int, n: int = 30) -> str:
    # deterministic token soup, distinct across seeds
    return " ".join(f"w{seed}x{i}" for i in range(n))


def test_incremental_matches_full_recompute(spark, tmp_path):
    store = str(tmp_path / "mh_store")
    # corpus: 20 distinct docs
    corpus = _mk_docs(spark, [(i, _sentence(i)) for i in range(20)])
    dedup.write_minhash_store(corpus, store)

    # batch: 3 near-dups of corpus docs (one token changed), 2 exact-ish
    # intra-batch near-dups of each other, 3 fresh docs
    near = _sentence(5).replace("w5x7", "CHANGED")
    batch = _mk_docs(
        spark,
        [
            (100, _sentence(3)),             # dup of corpus doc 3
            (101, near),                     # near-dup of corpus doc 5
            (102, _sentence(11)),            # dup of corpus doc 11
            (103, _sentence(40)),            # fresh, has a twin in batch
            (104, _sentence(40) + " tail"),  # near-dup of 103 (J≈0.97)
            (105, _sentence(50)),
            (106, _sentence(51)),
            (107, _sentence(52)),
        ],
    )
    out = dedup.incremental_near_duplicates(
        spark, batch, store, threshold=0.7
    ).collect()

    corpus_pairs = {(r.a, r.b) for r in out if r.scope == "corpus"}
    batch_pairs = {(r.a, r.b) for r in out if r.scope == "batch"}
    assert corpus_pairs == {(3, 100), (5, 101), (11, 102)}
    assert batch_pairs == {(103, 104)}

    # cross-check against the batch-mode pipeline over corpus ∪ batch,
    # restricted to pairs touching the batch
    full = dedup.minhash_near_duplicates(
        corpus.unionByName(batch), threshold=0.7
    ).collect()
    full_pairs = {
        (r.a, r.b) for r in full if r.a >= 100 or r.b >= 100
    }
    assert full_pairs == corpus_pairs | batch_pairs

    # estimates for the exact-duplicate pairs are 1.0
    exact_est = {r.jaccard for r in out if (r.a, r.b) in {(3, 100), (11, 102)}}
    assert exact_est == {1.0}


def test_incremental_update_store_appends(spark, tmp_path):
    store = str(tmp_path / "mh_store")
    corpus = _mk_docs(spark, [(i, _sentence(i)) for i in range(5)])
    dedup.write_minhash_store(corpus, store)

    b1 = _mk_docs(spark, [(200, _sentence(60))])
    import pytest

    with pytest.raises(ValueError, match="batch_id"):
        dedup.incremental_near_duplicates(
            spark, b1, store, threshold=0.7, update_store=True
        )
    out1 = dedup.incremental_near_duplicates(
        spark, b1, store, threshold=0.7, update_store=True, batch_id="b1"
    )
    assert out1.count() == 0  # fresh doc, no pairs

    # retrying the same batch must NOT double-append (idempotent)
    dedup.incremental_near_duplicates(
        spark, b1, store, threshold=0.7, update_store=True, batch_id="b1"
    )

    # a later batch duplicating doc 200 must now match it as corpus
    b2 = _mk_docs(spark, [(300, _sentence(60))])
    out2 = dedup.incremental_near_duplicates(
        spark, b2, store, threshold=0.7
    ).collect()
    assert {(r.a, r.b, r.scope) for r in out2} == {(200, 300, "corpus")}

    # store now holds corpus + b1 signatures
    n_sigs = spark.read.parquet(f"{store}/signatures").count()
    assert n_sigs == 6


def test_minhash_store_lease(spark, tmp_path):
    """The MinHash store's opt-in single-maintainer lease: exclusion
    while held, sibling .maint placement outside the store path, and
    a leased probe+ingest end to end."""
    import os

    import pytest

    from physicsnemo_curator_spark.core import store as core_store

    store = str(tmp_path / "mh_leased")
    corpus = _mk_docs(spark, [(i, _sentence(i)) for i in range(10)])
    dedup.write_minhash_store(corpus, store, lease=True)
    mr = core_store.maintenance_root(store)
    assert os.path.isdir(mr) and not (mr + os.sep).startswith(
        store + os.sep
    )

    batch = _mk_docs(spark, [(100, _sentence(3)), (101, _sentence(42))])
    rec = core_store.acquire_lease(mr)
    with pytest.raises(RuntimeError, match="leased by"):
        dedup.write_minhash_store(
            batch, store, mode="append", batch_id="b1", lease=True
        )
    with pytest.raises(RuntimeError, match="leased by"):
        dedup.incremental_near_duplicates(
            spark, batch, store,
            update_store=True, batch_id="b1", lease=True,
        )
    core_store.release_lease(mr, rec["token"])

    pairs = dedup.incremental_near_duplicates(
        spark, batch, store, update_store=True, batch_id="b1", lease=True
    ).collect()
    assert any(r["scope"] == "corpus" for r in pairs)  # 100 ~ corpus 3
    # released: fresh acquire works
    rec2 = core_store.acquire_lease(mr)
    core_store.release_lease(mr, rec2["token"])


def test_steady_state_ingest_op_job_budget(spark, tmp_path):
    """One steady-state op of the incremental ingest flow
    (examples/incremental_ingest.py: store probe, left-anti drop, store
    append, connected components, split assignment, sketch append,
    curated write) against stores a first batch seeded stays within
    its Spark job budget.  Each operator computes every intermediate
    once: a hidden action, a shared frame recomputed per consumer or an
    aggregate whose output is dropped shows up here as extra jobs.  The
    op leaves persisted RDDs only for the frames the operators hand
    back: the probe pairs, the component labels and the assignments."""
    from physicsnemo_curator_spark.operators import components, sampling, sketches

    mh, splits, hll, out = (str(tmp_path / d) for d in ("mh", "split", "hll", "out"))
    weights = {"train": 0.9, "val": 0.1}
    seed = _mk_docs(spark, [(i, _sentence(i)) for i in range(30)]).withColumn(
        "lang", F.lit("en")
    )
    dedup.write_minhash_store(seed, mh, batch_id="b0")
    pairs0 = dedup.minhash_near_duplicates(seed, threshold=0.8)
    groups0 = components.dedup_groups(pairs0.select("a", "b")).select("doc_id", "component")
    sampling.write_split_store(
        sampling.leakage_free_splits(seed, groups0, weights, seed=7).select(
            "doc_id", "split", "component"
        ),
        splits,
        batch_id="b0",
    )
    rows = [(100 + i, _sentence(i % 30) if i % 4 == 0 else _sentence(200 + i)) for i in range(20)]
    rows += [(130, _sentence(201) + " tail")]  # near-dup of the fresh 101
    path = str(tmp_path / "batch.parquet")
    _mk_docs(spark, rows).withColumn("lang", F.lit("en")).write.parquet(path)

    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup(None))
    rdds_before = persisted_ids(spark)
    batch = spark.read.parquet(path)
    pairs = dedup.incremental_near_duplicates(spark, batch, mh, threshold=0.8)
    losers = pairs.select(F.col("b").alias("doc_id")).distinct()
    survivors = batch.join(losers, "doc_id", "left_anti")
    dedup.write_minhash_store(survivors, mh, mode="append", batch_id="b1")
    groups = components.dedup_groups(pairs.select("a", "b")).select("doc_id", "component")
    assigned = sampling.assign_splits_incremental(
        spark, survivors, groups, weights, splits, seed=7, update_store=True, batch_id="b1"
    )
    sketches.append_sketch_store(survivors, hll, ["lang"], "doc_id", batch_id="b1")
    survivors.join(assigned.select("doc_id", "split"), "doc_id").write.mode(
        "append"
    ).partitionBy("split").parquet(out)
    jobs = len(set(st.getJobIdsForGroup(None)) - before)
    left = persisted_ids(spark) - rdds_before

    # the copies of seed docs and the in-batch near-dup are dropped
    assert {r.doc_id for r in losers.collect()} == {100, 104, 108, 112, 116, 130}
    assert jobs <= 54, f"{jobs} Spark jobs for one ingest op"
    assert len(left) <= 3, f"one ingest op left {len(left)} persisted RDDs"
