"""Connected components / dedup groups vs a Python union-find oracle."""

from __future__ import annotations

import random

import pytest

from physicsnemo_curator_spark.operators.components import (
    connected_components,
    dedup_groups,
)


def _uf_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _check(spark, edges, **kw):
    df = spark.createDataFrame(edges, "a long, b long")
    got = {
        (r["node"], r["comp"])
        for r in connected_components(df, **kw).collect()
    }
    want = set(_uf_components(edges).items())
    assert got == want


def test_two_triangles_and_isolated_edge(spark):
    _check(spark, [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (20, 21)])


def test_long_chain_converges_via_pointer_jumping(spark):
    # a 300-node path needs ~log2(300) ≈ 9 hop+jump rounds; without the
    # jump step it would need 300 and trip max_iter
    edges = [(i, i + 1) for i in range(300)]
    random.Random(7).shuffle(edges)
    _check(spark, edges, max_iter=15)


def test_duplicate_reversed_and_self_edges(spark):
    _check(spark, [(2, 1), (1, 2), (2, 2), (1, 2), (3, 2), (5, 4)])


def test_random_graph_matches_union_find(spark):
    rng = random.Random(42)
    nodes = list(range(0, 500, 3))
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(400)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    _check(spark, edges)


def test_dedup_groups_canonical_and_sizes(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (30, 31), (31, 32), (32, 33)],
        "a long, b long",
    )
    rows = {r["doc_id"]: r for r in dedup_groups(pairs).collect()}
    assert rows[3]["component"] == 1 and rows[3]["group_size"] == 3
    assert rows[11]["component"] == 10 and rows[11]["group_size"] == 2
    assert rows[33]["component"] == 30 and rows[33]["group_size"] == 4
    keeps = {n for n, r in rows.items() if r["keep"]}
    assert keeps == {1, 10, 30}


def test_uncheckpointed_path_matches_union_find(spark):
    edges = [(i, i + 1) for i in range(0, 40, 2)] + [(1, 3), (5, 7), (30, 33)]
    _check(spark, edges, checkpoint=False)


def test_nonconvergence_guard(spark):
    df = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "a long, b long")
    with pytest.raises(RuntimeError):
        connected_components(df, max_iter=1)


def test_dedup_groups_keep_best_score(spark):
    from physicsnemo_curator_spark.operators.components import dedup_groups

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "a long, b long"
    )
    scores = spark.createDataFrame(
        # group {1,2,3}: doc 2 best; group {10,11}: tie -> lower id 10
        [(1, 0.2), (2, 0.9), (3, 0.5), (10, 0.7), (11, 0.7)],
        "doc_id long, score double",
    )
    out = {r.doc_id: r.keep for r in dedup_groups(pairs, scores=scores).collect()}
    assert out == {1: False, 2: True, 3: False, 10: True, 11: False}


def test_dedup_groups_missing_score_never_wins(spark):
    from physicsnemo_curator_spark.operators.components import dedup_groups

    pairs = spark.createDataFrame([(1, 2)], "a long, b long")
    scores = spark.createDataFrame([(2, 0.1)], "doc_id long, score double")
    out = {r.doc_id: r.keep for r in dedup_groups(pairs, scores=scores).collect()}
    assert out == {1: False, 2: True}
