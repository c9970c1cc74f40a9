"""The release policy for materialized frames (core.store.release): an
operator leaves persisted RDDs behind only for the frame it hands back,
which the caller owns.  Everything else it persists or checkpoints is
released before it returns, or never persisted."""

from __future__ import annotations

import random

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from physicsnemo_curator_spark.core.store import release
from physicsnemo_curator_spark.operators import (
    bpe,
    components,
    dedup,
    imagehash,
    sampling,
    similarity,
)


def persisted_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def owned_ids(df) -> set[int]:
    """The RDD a returned local checkpoint holds, if it is one."""
    if df is None:
        return set()
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "LogicalRDD":
        return set()
    return {plan.rdd().id()}


def _docs(spark, n=60):
    rnd = random.Random(3)
    rows = []
    for i in range(n):
        words = [f"t{i // 3}_{j}" for j in range(20)]
        if i % 3:
            words[rnd.randrange(20)] = f"x{i}"
        rows.append((i, " ".join(words)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _components(spark, tmp_path):
    # two chains: a few pointer-jumping rounds, each checkpointed
    edges = [(i, i + 1) for i in range(24)] + [(i, i + 1) for i in range(25, 49)]
    return components.connected_components(
        spark.createDataFrame(edges, "a long, b long")
    )


def _assign_splits(spark, tmp_path):
    store = str(tmp_path / "splits")
    docs = spark.range(40).select(F.col("id").alias("doc_id"))
    w = {"train": 0.8, "val": 0.2}
    groups = spark.createDataFrame([(0, 0), (1, 0), (30, 0)], "doc_id long, component long")
    sampling.write_split_store(
        sampling.leakage_free_splits(docs.filter("doc_id < 20"), groups, w, seed=7).select(
            "doc_id", "split", "component"
        ),
        store,
    )
    return sampling.assign_splits_incremental(
        spark, docs.filter("doc_id >= 20"), groups, w, store,
        seed=7, update_store=True, batch_id="b1",
    )


def _banded_hamming(spark, tmp_path):
    rnd = random.Random(5)
    rows = []
    for i in range(40):
        rows.append((i, rows[-1][1] ^ 1 if i % 4 == 1 else rnd.getrandbits(62)))
    sig = spark.createDataFrame(rows, "media_id long, hash long")
    return imagehash.banded_hamming_pairs(sig)


def _pairwise(spark, tmp_path):
    rnd = random.Random(7)
    rows = []
    for i in range(40):
        v = [x + 1e-3 for x in rows[-1][1]] if i % 5 == 1 else [rnd.gauss(0, 1) for _ in range(8)]
        rows.append((i, v))
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return similarity.pairwise_near_duplicates(e, 0.95)


def _trainer(train):
    def run(spark, tmp_path):
        train(_docs(spark, 12), n_merges=2)  # returns a merge table, no frame

    return run


CASES = {
    "connected_components": _components,
    "assign_splits_incremental": _assign_splits,
    "train_bpe": _trainer(bpe.train_bpe),
    "train_bpe_hist": _trainer(bpe.train_bpe_hist),
    "simhash_duplicates": lambda s, t: dedup.simhash_duplicates(_docs(s)),
    "simhash_near_duplicates": lambda s, t: dedup.simhash_near_duplicates(_docs(s)),
    "minhash_near_duplicates": lambda s, t: dedup.minhash_near_duplicates(_docs(s)),
    "banded_hamming_pairs": _banded_hamming,
    "pairwise_near_duplicates": _pairwise,
}


@pytest.mark.parametrize("op", sorted(CASES))
def test_operator_leaves_only_what_it_returns(spark, tmp_path, op):
    before = persisted_ids(spark)
    out = CASES[op](spark, tmp_path)
    if out is not None:
        out.collect()  # a lazy result's plan runs, and may persist, here
    left = persisted_ids(spark) - before
    assert left == owned_ids(out), f"{op} left {len(left)} persisted RDDs"


def test_release_frees_a_persisted_checkpoint(spark):
    # a persist over a local checkpoint (Pipeline.run persists whatever
    # its source returns) leaves the CacheManager; the checkpoint's own
    # RDD stays with whoever made it
    before = persisted_ids(spark)
    cp = spark.range(10).localCheckpoint()
    df = cp.persist()
    assert df.count() == 10
    release(df)
    assert df.storageLevel == StorageLevel.NONE
    assert persisted_ids(spark) - before == owned_ids(cp)
    release(cp)
    assert persisted_ids(spark) == before
