"""OpenRadioss named-source assembly: run discovery, timestep pairing,
t0-relative displacements, unreferenced-point pruning + remap, and the
consistency guard (reference domains/mesh/sources/openradioss.py:85-700)."""

from __future__ import annotations

import pytest

from physicsnemo_curator_spark.sources.openradioss import (
    discover_runs,
    read_openradioss,
)
from physicsnemo_curator_spark.sources.vtk_xml import write_vtu


def _write_run(rdir, n_steps=2, n_pts=4, dangling=True):
    rdir.mkdir(parents=True, exist_ok=True)
    # point 0 dangling (when enabled), fan around point 1
    first = 1 if dangling else 0
    cells = [[first, i, i + 1] for i in range(first + 1, n_pts - 1)]
    for t in range(n_steps):
        pts = [(float(10 * j + t), float(j), 0.0) for j in range(n_pts)]
        write_vtu(pts, cells, None, {}, str(rdir / f"ts{t}.vtu"), fmt="ascii")


def test_discover_runs_excludes_top_level(tmp_path):
    _write_run(tmp_path / "runA")
    # a stray file at the top level is NOT a run
    write_vtu([(0, 0, 0)] * 3, [[0, 1, 2]], None, {}, str(tmp_path / "x.vtu"))
    runs = discover_runs(str(tmp_path), "*.vtu")
    assert list(runs) == ["runA"]
    assert [p.endswith(f"ts{t}.vtu") for t, p in enumerate(runs["runA"])] == [
        True,
        True,
    ]


def test_discover_runs_raises_when_empty(tmp_path):
    with pytest.raises(FileNotFoundError):
        discover_runs(str(tmp_path), "*.vtu")


def test_prune_and_displacements(spark, tmp_path):
    _write_run(tmp_path / "runA", n_steps=3, n_pts=5, dangling=True)
    t = read_openradioss(spark, str(tmp_path), vtk_glob="*.vtu")
    pts = {r["point_id"]: r["x"] for r in t["points"].collect()}
    # dangling point 0 pruned; ids remapped down by one (old 1..4 -> 0..3)
    assert pts == {0: 10.0, 1: 20.0, 2: 30.0, 3: 40.0}
    cells = sorted(
        tuple(r["vs"]) for r in t["cells"].collect()
    )
    assert cells == [(0, 1, 2), (0, 2, 3)]
    # displacement at t: every point moved +t in x
    d = {
        (r["t"], r["point_id"]): r["dx"] for r in t["displacements"].collect()
    }
    assert d[(0, 0)] == 0.0 and d[(1, 2)] == 1.0 and d[(2, 3)] == 2.0
    traj = {r["point_id"]: r for r in t["trajectory"].collect()}
    assert traj[1]["n_timesteps"] == 3
    assert [v[0] for v in traj[1]["trajectory"]] == [0.0, 1.0, 2.0]
    g = t["globals"].collect()[0]
    assert (g["mesh_id"], g["num_timesteps"]) == ("runA", 3)


def test_no_prune_keeps_dangling(spark, tmp_path):
    _write_run(tmp_path / "runA", n_steps=2, n_pts=4, dangling=True)
    t = read_openradioss(
        spark, str(tmp_path), vtk_glob="*.vtu", prune_unreferenced=False
    )
    assert t["points"].count() == 4
    assert sorted(tuple(r["vs"]) for r in t["cells"].collect()) == [(1, 2, 3)]


def test_point_count_mismatch_raises(spark, tmp_path):
    rdir = tmp_path / "runA"
    rdir.mkdir(parents=True)
    write_vtu(
        [(0, 0, 0), (1, 0, 0), (2, 0, 0)],
        [[0, 1, 2]],
        None,
        {},
        str(rdir / "ts0.vtu"),
    )
    write_vtu(
        [(0, 0, 0), (1, 0, 0), (2, 0, 0), (3, 0, 0)],
        [[0, 1, 2]],
        None,
        {},
        str(rdir / "ts1.vtu"),
    )
    with pytest.raises(ValueError, match="point count"):
        read_openradioss(spark, str(tmp_path), vtk_glob="*.vtu")


def test_duplicate_run_leaf_names_raise(tmp_path):
    _write_run(tmp_path / "caseA" / "run1")
    _write_run(tmp_path / "caseB" / "run1")
    with pytest.raises(ValueError, match="share the leaf name"):
        discover_runs(str(tmp_path), "*.vtu")
