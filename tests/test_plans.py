"""Physical-plan audits: the plan shape IS the 100 TB story.

Each assertion pins a scale property: predicate/projection pushdown
reaching the parquet scan, broadcast joins for small dims, partial
(map-side) aggregation before the shuffle, and no Python in the hot
path of JVM-only operators.
"""

from __future__ import annotations

from physicsnemo_curator_spark.plans.queries import QUERIES


def plan_of(spark, name, sf_dir):
    df = QUERIES[name].spark(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_pushdown_reaches_parquet(spark, sf_dir):
    plan = plan_of(spark, "q_scan_pushdown", sf_dir)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThanOrEqual(l_quantity,45.0)" in plan
    assert "ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>" in plan


def test_small_dims_broadcast(spark, sf_dir):
    plan = plan_of(spark, "q_j1_broadcast_join", sf_dir)
    assert plan.count("BroadcastHashJoin") == 2  # nation and region
    assert "SortMergeJoin" not in plan


def test_rollup_join_broadcasts(spark, sf_dir):
    # nation is hinted broadcast; customer side under the threshold also
    # broadcasts — there must be no shuffle-side sort-merge join at all
    plan = plan_of(spark, "q_a6_rollup", sf_dir)
    assert "BroadcastHashJoin" in plan


def test_partial_aggregation_before_shuffle(spark, sf_dir):
    plan = plan_of(spark, "q_a1_moment_stats", sf_dir)
    # HashAggregate(partial) -> Exchange -> HashAggregate(final/merge)
    assert "partial_avg" in plan or "partial_count" in plan
    assert "Exchange hashpartitioning(l_returnflag" in plan


def test_semi_and_anti_join_strategies(spark, sf_dir):
    semi = plan_of(spark, "q_j5_semi_join", sf_dir)
    anti = plan_of(spark, "q_j6_anti_join", sf_dir)
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_jvm_only_operators_have_no_python(spark, sf_dir):
    # text features / stats / joins are pure Catalyst — no Python UDF
    # evaluation may appear in their plans
    for name in ["q_text_features", "q_a1_moment_stats", "q_j2_point_to_cell"]:
        plan = plan_of(spark, name, sf_dir)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_partition_pruning_on_partitioned_layout(spark, sf_dir, tmp_path):
    """A hive-partitioned output read back with a partition-key filter
    must prune at planning time (PartitionFilters), reading only the
    matching directories — the engine's resume and year-split layouts
    depend on this."""
    from physicsnemo_curator_spark.sinks.partitioned import (
        split_key_year,
        write_partitioned,
    )
    from physicsnemo_curator_spark.sources.tables import load_table

    out = str(tmp_path / "orders_by_year")
    orders = load_table(spark, sf_dir, "orders")
    write_partitioned(split_key_year(orders, "o_orderdate"), out, ["year"])

    back = spark.read.parquet(out).filter("year = 1995").select("o_orderkey")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "year" in plan
    assert back.count() > 0


def test_topk_uses_takeordered(spark, sf_dir):
    # ORDER BY + LIMIT must compile to TakeOrderedAndProject, not a
    # global sort of the whole aggregate output
    plan = plan_of(spark, "q_t1_topk", sf_dir)
    assert "TakeOrderedAndProject" in plan


def test_rollup_cascade_single_raw_scan(spark, sf_dir):
    """The day level re-aggregates hourly STATE: exactly two hash
    aggregations (hour, then day) and exactly one parquet scan of the
    raw events table."""
    plan = plan_of(spark, "q_ts_rollup_daily", sf_dir)
    assert plan.count("Scan parquet") == 1
    # partial+final per level = 4 HashAggregate nodes
    assert plan.count("HashAggregate") == 4


def test_winnow_is_jvm_only(spark, sf_dir):
    """Fingerprint selection is pure JVM (explode + window min): no
    Python anywhere; two scans of the narrow documents table (one for
    the fingerprint stream, one to keep zero-fingerprint docs)."""
    plan = plan_of(spark, "q_text_winnow", sf_dir)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Scan parquet") == 2


def test_grouping_sets_expand(spark, sf_dir):
    """GROUPING SETS lowers to Expand + one partial/final aggregate pair
    — grouping replication happens map-side, not as repeated scans."""
    plan = plan_of(spark, "q_a12_grouping_sets", sf_dir)
    assert "Expand" in plan
    assert plan.count("Scan parquet") == 1


def test_chunking_is_single_stage_jvm(spark, sf_dir):
    """chunk_documents: no shuffle (posexplode + slices run in the scan
    stage) and no Python evaluation."""
    from physicsnemo_curator_spark.operators.textops import chunk_documents
    from physicsnemo_curator_spark.sources.tables import load_table

    df = chunk_documents(load_table(spark, sf_dir, "documents"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan


def test_sampling_filter_is_scan_stage(spark, sf_dir):
    """hash_sample compiles to a scan-stage filter — no shuffle, no
    Python; the stratified CASE variant likewise."""
    from physicsnemo_curator_spark.operators import sampling
    from physicsnemo_curator_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    for df in (
        sampling.hash_sample(docs, "doc_id", 0.25),
        sampling.stratified_sample(
            docs, "lang", {"en": 0.5}, "doc_id", default_rate=1.0
        ),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "Python" not in plan


def test_incremental_probe_broadcasts_batch_side(spark, sf_dir, tmp_path):
    """The corpus store is only scanned, never shuffled: every join in
    the new-vs-corpus path broadcasts the batch side."""
    from pyspark.sql import functions as F

    from physicsnemo_curator_spark.operators import dedup
    from physicsnemo_curator_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    store = str(tmp_path / "mh")
    dedup.write_minhash_store(docs.filter(F.col("doc_id") % 2 == 0), store)
    out = dedup.incremental_near_duplicates(
        spark, docs.filter(F.col("doc_id") % 2 == 1), store, materialize=False
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_semantic_probe_broadcasts_and_prunes_partitions(spark, sf_dir, tmp_path):
    """The semantic store probe must BROADCAST the batch side into the
    corpus join AND prune the store scan to the batch's cell
    partitions (PartitionFilters on the cell-partitioned parquet) —
    the two properties that keep a probe proportional to the batch at
    100 TB, never to the store."""
    from pyspark.sql import functions as F

    from physicsnemo_curator_spark.operators import mllib_ann
    from physicsnemo_curator_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 2 == 0)
    batch = emb.filter(F.col("vec_id") % 2 == 1).limit(40)
    centers = mllib_ann.md5_sample_centroids(corpus, k=8)
    store = str(tmp_path / "sem")
    mllib_ann.write_semantic_store(corpus, centers, store)
    out = mllib_ann.incremental_semantic_dedup(
        spark, batch, centers, store, threshold=0.35
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # dynamic partition pruning on the store side: the scan node must
    # carry a non-empty partition filter on `cell`
    assert "PartitionFilters" in plan
    import re

    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "cell" in pf.group(1), pf.group(0) if pf else plan[:500]


def test_image_data_views_share_one_parse(spark, tmp_path):
    """read_image_data's grid and cell_grid are filter views over ONE
    section-tagged parsed table: each view's plan contains exactly one
    MapInPandas node (the shared parse_all kernel), not a per-table
    parser — the review finding that tripled decode CPU."""
    import numpy as np

    from physicsnemo_curator_spark.sources import vtk, vtk_xml

    vtk_xml.write_vti(
        (3, 2, 2), {"t": [float(i) for i in range(12)]},
        str(tmp_path / "g.vti"), cell_data={"c": [1.0, 2.0]}, fmt="binary",
    )
    t = vtk.read_image_data(spark, str(tmp_path))
    for view in ("grid", "cell_grid"):
        plan = t[view]._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInPandas") == 1, view
    # meta's header-only parse is its own (cheap) kernel
    assert (
        t["meta"]._jdf.queryExecution().executedPlan().toString().count(
            "MapInPandas"
        )
        == 1
    )


def test_bigram_lm_partial_aggregation_and_single_sort(spark, sf_dir):
    """q_text_bigram_lm: the count tables build with map-side partial
    aggregation before their shuffles, and the pair stream needs only
    doc-keyed sorts (the lead() window) — no Python in the hot path."""
    plan = plan_of(spark, "q_text_bigram_lm", sf_dir)
    assert "partial_count" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_openradioss_rekey_broadcasts_keymap(spark, tmp_path):
    """read_openradioss attaches (run_id, t) to every scanned row via a
    broadcast of the tiny path→timestep map — a shuffle there would
    repartition every points table once per rekey.  The tables come
    back materialized, so the plan checked is the one the source ran:
    its point-count check, which joins nothing but the rekey."""
    from physicsnemo_curator_spark.sources.openradioss import read_openradioss
    from physicsnemo_curator_spark.sources.vtk_xml import write_vtu

    rdir = tmp_path / "runA"
    rdir.mkdir()
    pts = [(float(j), 0.0, 0.0) for j in range(4)]
    cells = [[0, 1, 2], [0, 2, 3]]
    for t in range(2):
        write_vtu(pts, cells, None, {}, str(rdir / f"ts{t}.vtu"))
    read_openradioss(spark, str(tmp_path), vtk_glob="*.vtu")
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    sql = spark._jsparkSession.sharedState().statusStore()
    n = sql.executionsCount()
    recent = sql.executionsList(max(n - 20, 0), 20)
    plans = [
        recent.apply(i).physicalPlanDescription()
        for i in range(recent.size())
        if recent.apply(i).description() == "openradioss.read_openradioss/check"
    ]
    assert "BroadcastHashJoin" in plans[-1]


def test_r12_retrieval_family_plan_shapes(spark, sf_dir):
    """The r12 retrieval/curation tails keep their designed shapes:
    hard_negatives is ONE broadcast-nested-loop join (inherent to the
    label-inequality predicate; anchors broadcast, corpus never
    shuffles, no CartesianProduct, no Python); cluster_sample is one
    scan + one Arrow assignment + a cell-keyed window; embedding_drift
    is exactly two scans (one per corpus) with pure-JVM aggregates;
    rrf fusion adds NO scan beyond its two retrievers' own."""
    from physicsnemo_curator_spark.plans.queries import QUERIES

    def plan_str(name):
        df = QUERIES[name].spark(spark, sf_dir)
        return df._jdf.queryExecution().executedPlan().toString()

    hn = plan_str("q_hard_negatives")
    assert hn.count("BroadcastNestedLoopJoin") == 1
    assert "CartesianProduct" not in hn
    assert "EvalPython" not in hn and "ArrowEval" not in hn

    cs = plan_str("q_cluster_sample")
    assert cs.count("Scan parquet") == 1
    assert "CartesianProduct" not in cs

    dr = plan_str("q_embedding_drift")
    assert dr.count("Scan parquet") == 2
    assert "EvalPython" not in dr and "ArrowEval" not in dr

    rrf = plan_str("q_ann_rrf")
    # two retrievers x (corpus + queries) = 4 scans; the fusion itself
    # contributes none
    assert rrf.count("Scan parquet") == 4
    assert "CartesianProduct" not in rrf


def test_publish_tree_writes_once_and_heals_unmarked(tmp_path):
    """r15 wave 5: q_grid_federated's zarr fixture stores publish ONCE
    per source identity (atomic rename + .published marker).  The
    marker — not bare directory existence — gates the skip, so an
    in-place store from before the discipline is rebuilt exactly
    once."""
    import os

    from physicsnemo_curator_spark.plans.queries import _publish_tree

    target = str(tmp_path / "store")
    calls = []

    def write(tmp):
        calls.append(tmp)
        os.makedirs(tmp)
        with open(os.path.join(tmp, "payload"), "w") as fh:
            fh.write(f"gen{len(calls)}")

    _publish_tree(target, write)
    assert open(os.path.join(target, "payload")).read() == "gen1"
    assert os.path.exists(target + ".published")

    # marker present: the writer must not run again
    _publish_tree(target, write)
    assert len(calls) == 1
    assert open(os.path.join(target, "payload")).read() == "gen1"

    # pre-discipline in-place store (no marker): rebuilt once
    os.remove(target + ".published")
    with open(os.path.join(target, "stale"), "w") as fh:
        fh.write("x")
    _publish_tree(target, write)
    assert len(calls) == 2
    assert open(os.path.join(target, "payload")).read() == "gen2"
    assert not os.path.exists(os.path.join(target, "stale"))
    assert os.path.exists(target + ".published")


def test_fixtures_ready_requires_every_target(tmp_path):
    """r15 wave 6: the scan gates skip their fixture-builder collect
    only when EVERY expected fixture file exists — a partial set (torn
    earlier process) must fall back to the cold build path, whose
    per-file _publish fills exactly the missing files."""
    from physicsnemo_curator_spark.plans.queries import _fixtures_ready

    a, b = tmp_path / "a", tmp_path / "b"
    a.write_text("x")
    assert not _fixtures_ready(str(a), str(b))
    b.write_text("y")
    assert _fixtures_ready(str(a), str(b))
