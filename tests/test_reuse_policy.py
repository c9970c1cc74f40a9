"""The session reuse policy: the dedup family's shared frames are
persisted and shared through Spark's CacheManager, and freshness
lives in the session plan memo (core/store.py ``memoized_read``).

Each test runs on its own copy of the sf0.01 tables, so no other test's
persisted frames are in play:

- a documents table rewritten in place is never answered from frames
  persisted over its old bytes (the shingle table, the pair stream, and
  the candidate set ``dedup.minhash_near_duplicates`` persists inside);
- ``spark.catalog.clearCache()`` costs one rebuild, after which warm
  calls read the re-persisted pairs again;
- warm calls keep reading the shared persisted frames.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from test_oracle import _duck, _normalize

from physicsnemo_curator_spark.plans.queries import QUERIES
from physicsnemo_curator_spark.sources.tables import TABLE_NAMES

_FAMILY = ("q_dedup_ngram_jaccard", "q_minhash_near_dup")


def _copy_tables(src: str, dst) -> str:
    for t in TABLE_NAMES:
        shutil.copyfile(
            os.path.join(src, f"{t}.parquet"), os.path.join(dst, f"{t}.parquet")
        )
    return str(dst)


def _assert_matches_oracle(spark, sf_dir: str, name: str) -> None:
    spec = QUERIES[name]
    sdf = spec.spark(spark, sf_dir)
    got = _normalize([tuple(r) for r in sdf.collect()], sdf.columns)
    res = _duck(sf_dir).execute(spec.oracle)
    want = _normalize(res.fetchall(), [d[0] for d in res.description])
    assert len(got) == len(want), f"{name}: {len(got)} rows != oracle {len(want)}"
    assert got == want, f"{name}: rows differ from the oracle"


def _jobs(spark, name: str, sf_dir: str, group: str) -> int:
    """Spark jobs one collect of ``name`` runs, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, name)
    try:
        QUERIES[name].spark(spark, sf_dir).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_rewritten_documents_refresh_persisted_dedup_frames(
    spark, sf_correctness_dir, tmp_path
):
    sf_dir = _copy_tables(sf_correctness_dir, tmp_path)
    for name in _FAMILY:
        _assert_matches_oracle(spark, sf_dir, name)

    # rewrite in place: every odd document copies its even neighbour's
    # text, so the near-dup pair set grows by one pair per neighbour pair
    path = os.path.join(sf_dir, "documents.parquet")
    docs = pq.read_table(path)
    ids, texts = docs["doc_id"].to_pylist(), docs["text"].to_pylist()
    by_id = dict(zip(ids, texts))
    text = [by_id.get(d - 1, t) if d % 2 else t for d, t in zip(ids, texts)]
    docs = docs.set_column(
        docs.schema.get_field_index("text"), "text", pa.array(text, pa.string())
    )
    pq.write_table(docs, path)

    for name in _FAMILY:
        _assert_matches_oracle(spark, sf_dir, name)


def test_clear_cache_recaches_on_next_call(spark, sf_correctness_dir, tmp_path):
    sf_dir = _copy_tables(sf_correctness_dir, tmp_path)
    name = "q_minhash_near_dup"
    _jobs(spark, name, sf_dir, "pcs-reuse-cold")
    warm = _jobs(spark, name, sf_dir, "pcs-reuse-warm")
    spark.catalog.clearCache()
    _jobs(spark, name, sf_dir, "pcs-reuse-rebuild")
    again = _jobs(spark, name, sf_dir, "pcs-reuse-again")
    assert again <= warm, f"warm after clearCache ran {again} jobs, {warm} before"


def test_warm_dedup_family_reads_shared_persisted_frames(
    spark, sf_correctness_dir, tmp_path
):
    """Warm job counts with AQE off (the bench's configuration): a warm
    q_minhash_near_dup only sorts and collects the persisted pairs, and
    q_dedup_components runs its graph stage over them.  Rebuilding the
    signatures → bands → verify pipeline takes more jobs, so losing the
    sharing fails these counts."""
    sf_dir = _copy_tables(sf_correctness_dir, tmp_path)
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        warm = {}
        for name in ("q_minhash_near_dup", "q_dedup_components"):
            _jobs(spark, name, sf_dir, f"pcs-share-cold-{name}")
            warm[name] = _jobs(spark, name, sf_dir, f"pcs-share-warm-{name}")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert warm == {"q_minhash_near_dup": 2, "q_dedup_components": 6}
