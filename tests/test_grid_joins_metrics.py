"""Grid operators, salted join equivalence, metrics ledger."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from physicsnemo_curator_spark.core.metrics import MetricsStore
from physicsnemo_curator_spark.core.pipeline import Pipeline
from physicsnemo_curator_spark.operators import grid, joins
from physicsnemo_curator_spark.sources.synthetic import random_grid
from physicsnemo_curator_spark.sources.tables import load_table


def test_grid_stats_and_anomaly(spark):
    g = random_grid(spark, n_times=4, n_lat=6, n_lon=6)
    st = grid.grid_stats_over_time(g)
    assert st.count() == 2 * 6 * 6  # per (variable, lat, lon)
    assert st.filter("n != 4").count() == 0

    an = grid.anomaly(g)
    # per-cell anomalies sum to ~0 by construction
    resid = an.groupBy("variable", "lat", "lon").agg(
        F.abs(F.sum("anomaly")).alias("r")
    )
    assert resid.filter("r > 1e-9").count() == 0


def test_coarsen_counts(spark):
    g = random_grid(spark, n_times=1, n_lat=8, n_lon=8, variables=("t2m",))
    c = grid.coarsen(g, 4)
    assert c.count() == 4  # 2x2 coarse grid
    assert c.filter("n_fine != 16").count() == 0


def test_align_check_and_merge(spark):
    a = random_grid(spark, n_times=1, n_lat=4, n_lon=4, variables=("t2m",))
    b = random_grid(spark, n_times=1, n_lat=4, n_lon=4, variables=("u10",))
    assert grid.align_check(a, b)
    m = grid.merge_variable_groups([a, b])
    assert m.count() == a.count() + b.count()
    shifted = b.withColumn("lat", F.col("lat") + 100)
    assert not grid.align_check(a, shifted)


def test_salted_join_matches_plain_join(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier").withColumnRenamed(
        "s_suppkey", "l_suppkey"
    )
    plain = (
        li.join(supp, "l_suppkey")
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    salted = (
        joins.salted_join(li, supp, "l_suppkey", salt=4)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_warehouse_retention(spark, sf_dir, tmp_path):
    import os
    import time

    from physicsnemo_curator_spark.core import warehouse
    from physicsnemo_curator_spark.core.manifest import Manifest

    w = str(tmp_path / "wh")
    Manifest(w, "abc123").mark_completed(["p1"])
    os.makedirs(os.path.join(w, "out_dir"))
    open(os.path.join(w, "out_dir", "f.parquet"), "w").write("x" * 100)

    arts = warehouse.list_artifacts(w)
    assert {a.kind for a in arts} == {"manifest", "output"}
    assert warehouse.total_size(w) > 100

    # nothing old enough → dry run removes nothing
    assert warehouse.remove_older_than(w, max_age_seconds=3600, dry_run=True) == []
    # age everything out
    old = time.time() - 7200
    for a in arts:
        os.utime(a.path, (old, old))
    would = warehouse.remove_older_than(w, max_age_seconds=3600, dry_run=True)
    assert len(would) == 2
    removed = warehouse.remove_older_than(w, max_age_seconds=3600)
    assert sorted(removed) == sorted(would)
    assert warehouse.list_artifacts(w) == []


def test_metrics_ledger(spark, sf_dir, tmp_path):
    store = MetricsStore(str(tmp_path))
    p = (
        Pipeline.read("parquet", path=f"{sf_dir}/lineitem.parquet")
        .transform("filter", condition="l_quantity > 10")
        .write("parquet", path=str(tmp_path / "out"))
    )
    for _ in range(2):
        store.record(spark, p.run(spark))
    s = store.summary(spark).collect()
    assert len(s) == 1
    assert s[0]["n_runs"] == 2 and s[0]["total_rows"] > 0


def test_dashboard_sql_frames(spark, tmp_path):
    """The three dashboard frames (reference dashboard/data.py:34-332):
    index_df latest-record-wins per idx with errors surfaced, stage_df
    ordered per (idx, stage), workers_df completed/failed computed from
    the actual index results."""
    store = MetricsStore(str(tmp_path))
    store.record_index_results(
        spark,
        "run1",
        [
            {"idx": 0, "worker_id": "exec-1", "wall_time_s": 1.5,
             "peak_memory_mb": 100.0},
            {"idx": 1, "worker_id": "exec-2", "status": "error",
             "error": "boom"},
            {"idx": 2, "worker_id": "exec-1", "wall_time_s": 2.0},
        ],
    )
    # retry of idx 1 succeeds later → latest-record-wins
    import time as _time

    _time.sleep(1.1)
    store.record_index_results(
        spark, "run1", [{"idx": 1, "worker_id": "exec-2", "wall_time_s": 3.0}]
    )
    store.record_stage_results(
        spark,
        "run1",
        [
            {"idx": 0, "stage_name": "read", "stage_order": 0, "wall_time_s": 0.5},
            {"idx": 0, "stage_name": "clean", "stage_order": 1, "wall_time_s": 1.0},
            {"idx": 1, "stage_name": "read", "stage_order": 0, "wall_time_s": 0.7},
        ],
    )

    idx = store.index_df(spark, "run1").collect()
    assert [r["idx"] for r in idx] == [0, 1, 2]
    by_idx = {r["idx"]: r for r in idx}
    assert by_idx[1]["status"] == "completed"  # retry won
    assert by_idx[1]["wall_time_s"] == 3.0
    assert by_idx[0]["peak_memory_mb"] == 100.0

    st = store.stage_df(spark, "run1").collect()
    assert [(r["idx"], r["stage_name"]) for r in st] == [
        (0, "read"), (0, "clean"), (1, "read")
    ]

    w = {r["worker_id"]: r for r in store.workers_df(spark, "run1").collect()}
    assert w["exec-1"]["completed"] == 2 and w["exec-1"]["failed"] == 0
    assert w["exec-2"]["completed"] == 1 and w["exec-2"]["failed"] == 1
    assert w["exec-2"]["current_idx"] == 1

    # empty-store frames keep the reference column shape
    empty = MetricsStore(str(tmp_path / "empty"))
    assert empty.index_df(spark).columns == [
        "idx", "status", "wall_time_s", "peak_memory_mb", "error"
    ]
    assert empty.workers_df(spark).count() == 0


def test_dashboard_summary_and_views(spark, tmp_path):
    """run_summary_df mirrors reference PipelineStore.summary
    (total/completed/failed/remaining/total_elapsed_s/workers,
    latest-record-wins so a retried idx counts once) and
    dashboard_views bundles the four frames as pcs_dash_* temp views
    (reference DashboardStore, dashboard/data.py:34-332)."""
    store = MetricsStore(str(tmp_path))
    store.record_index_results(
        spark,
        "run1",
        [
            {"idx": 0, "worker_id": "exec-1", "wall_time_s": 1.5},
            {"idx": 1, "worker_id": "exec-2", "status": "error",
             "error": "boom"},
        ],
    )
    import time as _time

    _time.sleep(1.1)
    store.record_index_results(
        spark, "run1", [{"idx": 1, "worker_id": "exec-2", "wall_time_s": 3.0}]
    )
    store.record_stage_results(
        spark, "run1",
        [{"idx": 0, "stage_name": "read", "stage_order": 0,
          "wall_time_s": 0.5}],
    )
    s = store.run_summary_df(spark, total=5, run_id="run1").collect()[0]
    assert s["total"] == 5
    assert s["completed"] == 2 and s["failed"] == 0  # retry won
    assert s["remaining"] == 3
    assert abs(s["total_elapsed_s"] - 4.5) < 1e-9
    assert s["workers"] == 2
    # stored-total fallback: total = recorded distinct idx count
    s2 = store.run_summary_df(spark, run_id="run1").collect()[0]
    assert s2["total"] == 2 and s2["remaining"] == 0

    frames = store.dashboard_views(spark, total=5, run_id="run1")
    assert set(frames) == {"index", "stage", "workers", "summary"}
    # the temp views are queryable SQL surfaces
    assert spark.sql("SELECT COUNT(*) c FROM pcs_dash_index").collect()[0][
        "c"
    ] == 2
    assert spark.sql(
        "SELECT completed FROM pcs_dash_summary"
    ).collect()[0]["completed"] == 2
    assert spark.sql(
        "SELECT stage_name FROM pcs_dash_stage"
    ).collect()[0]["stage_name"] == "read"
    # empty store: summary row still has the reference shape
    empty = MetricsStore(str(tmp_path / "none"))
    e = empty.run_summary_df(spark, total=7).collect()[0]
    assert e["total"] == 7 and e["remaining"] == 7 and e["workers"] == 0
    # ledger exists but the run_id matches nothing: counts must be 0,
    # not NULL (the SUM-over-zero-rows trap)
    z = store.run_summary_df(spark, total=4, run_id="no-such").collect()[0]
    assert z["completed"] == 0 and z["failed"] == 0 and z["remaining"] == 4


def test_metrics_run_id_is_not_spliced_into_sql(spark, tmp_path):
    """A quote-bearing run_id must filter safely (no ParseException, no
    cross-run leakage)."""
    from physicsnemo_curator_spark.core.metrics import MetricsStore

    ms = MetricsStore(str(tmp_path / "m"))
    ms.record_index_results(spark, "run'a", [{"idx": 0, "worker_id": "w1"}])
    ms.record_index_results(spark, "other", [{"idx": 1, "worker_id": "w2"}])
    got = ms.index_df(spark, run_id="run'a").collect()
    assert [r.idx for r in got] == [0]
    # an injection-shaped id matches nothing instead of everything
    assert ms.index_df(spark, run_id="x' OR '1'='1").count() == 0


def test_dash_store_rebuild_clears_crashed_debris(spark, tmp_path, monkeypatch):
    """A ledger rebuild after a crashed write (part files present, no
    _SUCCESS) must clear the directory first: record_index_results
    APPENDS, so orphaned part files would double-count raw-record
    consumers like workers_df."""
    import os
    import tempfile

    from physicsnemo_curator_spark.plans import queries as Q

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    sf = "/root/testdata/sf0.001"
    store = Q._dash_store(spark, sf)
    n_clean = spark.read.parquet(store.index_path).count()
    # simulate the crash: keep the part files, drop the marker
    os.remove(os.path.join(store.index_path, "_SUCCESS"))
    store2 = Q._dash_store(spark, sf)
    assert store2.index_path == store.index_path
    assert spark.read.parquet(store2.index_path).count() == n_clean


def test_dashboard_report_golden(spark, tmp_path):
    """dashboard_report renders the four frames into one deterministic
    plain-text report (the engine's stand-in for the reference's
    Textual dashboard render layer, dashboard/app.py) — golden-checked
    against a seeded ledger with the only wall-clock column (heartbeat
    epochs) masked."""
    import re

    store = MetricsStore(str(tmp_path))
    store.record_index_results(
        spark,
        "runG",
        [
            {"idx": 0, "worker_id": "exec-1", "wall_time_s": 1.5,
             "peak_memory_mb": 10.0},
            {"idx": 1, "worker_id": "exec-2", "wall_time_s": 3.25,
             "peak_memory_mb": 20.0},
            {"idx": 2, "worker_id": "exec-1", "status": "error",
             "error": "boom", "wall_time_s": 0.5},
        ],
    )
    store.record_stage_results(
        spark,
        "runG",
        [
            {"idx": 0, "stage_name": "read", "stage_order": 0,
             "wall_time_s": 0.5},
            {"idx": 1, "stage_name": "read", "stage_order": 0,
             "wall_time_s": 1.5},
            {"idx": 1, "stage_name": "agg", "stage_order": 1,
             "wall_time_s": 1.0},
        ],
    )
    report = store.dashboard_report(spark, total=5, run_id="runG")
    masked = re.sub(r"\b17\d{8}\b", "<epoch>   ", report)
    assert masked == """\
PIPELINE RUN REPORT
===================

Summary
  total=5  completed=2  failed=1  remaining=2
  elapsed_completed_s=4.750  workers=2

Workers
  worker_id  completed  failed  last_heartbeat_epoch  current_idx
  exec-1     1          1       <epoch>               2
  exec-2     1          0       <epoch>               1

Stages
  stage_name  stage_order  n  mean_s  total_s
  read        0            2  1.000   2.000
  agg         1            1  1.000   1.000

Slowest indices (top 10)
  idx  status     wall_time_s  peak_memory_mb
  1    completed  3.250        20.000
  0    completed  1.500        10.000
  2    error      0.500        0.000

Failures
  idx  status  error
  2    error   boom
"""
    # empty store: report still renders with (none) sections
    empty = MetricsStore(str(tmp_path / "none"))
    r = empty.dashboard_report(spark, total=3)
    assert "total=3" in r and "(none)" in r


def test_ledger_probe_absent_is_empty_and_broken_raises(spark, tmp_path):
    """An absent local ledger reads as the empty frame without a Spark
    job; a ledger that exists but cannot be read raises instead of
    rendering as empty."""
    sc = spark.sparkContext
    before = set(sc.statusTracker().getJobIdsForGroup(None))
    empty = MetricsStore(str(tmp_path / "none")).stage_df(spark)
    assert set(sc.statusTracker().getJobIdsForGroup(None)) == before
    assert empty.columns == ["idx", "stage_name", "stage_order", "wall_time_s"]

    broken = MetricsStore(str(tmp_path / "broken"))
    os.makedirs(broken.stage_path)
    with open(os.path.join(broken.stage_path, "part-0.parquet"), "wb") as fh:
        fh.write(b"not a parquet file")
    with pytest.raises(Exception):
        broken.stage_df(spark).collect()
