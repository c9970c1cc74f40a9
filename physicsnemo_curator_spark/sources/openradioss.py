"""OpenRadioss per-run timestep-stack assembly.

Parity target: the reference ``OpenRadiossSource`` (reference
``domains/mesh/sources/openradioss.py:85-700``) — each subdirectory of
the input dir holding VTK files (one per timestep, produced by
``anim_to_vtk``) is one simulation run; the source reads the t=0 mesh
structure, validates point-count consistency across timesteps, computes
displacements relative to t=0, prunes points referenced by no cell
(remapping connectivity), and exposes ``num_timesteps`` as global data.

Spark-first layout: the file scan is the existing ``read_vtk``
(binaryFile task-per-file); the per-run assembly is declarative —
displacements are a self-join of the points table against its t=0
slice, pruning is a semi-join against the exploded connectivity with a
``row_number`` dense remap, and the trajectory stack is
``operators.mesh.stack_timesteps``.  No driver-side mesh data ever
materializes; only run discovery and the consistency check (one count
aggregate, |runs| x |timesteps| rows) touch the driver.
"""

from __future__ import annotations

import fnmatch
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from physicsnemo_curator_spark.core.jobs import job_label
from physicsnemo_curator_spark.core.store import release
from physicsnemo_curator_spark.sources.vtk import path_mesh_id, read_vtk


def discover_runs(
    input_dir: str, vtk_glob: str = "*.vtk"
) -> dict[str, list[str]]:
    """Run discovery (reference ``openradioss.py:280-293``): every
    subdirectory (recursive, excluding the input dir itself) holding at
    least one file matching ``vtk_glob`` is a run; its sorted file list
    is the timestep sequence.  Driver-side — metadata scale.

    Two run directories sharing one leaf name raise: a dict overwrite
    would silently drop an entire simulation run."""
    runs: dict[str, list[str]] = {}
    for root, _dirs, files in os.walk(input_dir):
        if os.path.abspath(root) == os.path.abspath(input_dir):
            continue
        hits = sorted(
            os.path.join(root, f)
            for f in files
            if fnmatch.fnmatch(f, vtk_glob)
        )
        if hits:
            name = os.path.basename(root)
            if name in runs:
                raise ValueError(
                    f"two run directories share the leaf name {name!r} "
                    f"under {input_dir} — run ids must be unique (a "
                    "silent overwrite would drop one run's timesteps)"
                )
            runs[name] = hits
    if not runs:
        raise FileNotFoundError(
            f"no run subdirectories with files matching {vtk_glob!r} "
            f"under {input_dir}"
        )
    return runs


def read_openradioss(
    spark: SparkSession,
    input_dir: str,
    *,
    vtk_glob: str = "*.vtk",
    prune_unreferenced: bool = True,
) -> dict[str, DataFrame]:
    """Scan OpenRadioss run directories → assembled per-run tables.

    Returns ``points`` (t=0 coordinates, pruned + densely remapped),
    ``cells`` (t=0 connectivity, remapped), ``displacements`` (long:
    one row per (mesh_id, t, point_id) with dx/dy/dz relative to t=0),
    ``trajectory`` ((T, 3) stacked displacement arrays per point, the
    MeshZarrSink shape), ``point_data`` / ``cell_data`` (per-timestep
    long fields, e.g. velocity/stress for the von Mises kernel), and
    ``globals`` (mesh_id, num_timesteps).

    Point-count mismatches across a run's timesteps raise (reference
    ``openradioss.py:371-374``) — a silent inner-join drop would
    corrupt every downstream displacement.

    The points and cells are parsed once each (persisted, released on
    return): ``points``, ``cells``, ``displacements`` and
    ``trajectory`` come back as local checkpoints the caller owns;
    ``point_data`` / ``cell_data`` / ``globals`` stay lazy.
    """
    runs = discover_runs(input_dir, vtk_glob)
    keymap_rows = [
        (path_mesh_id(p), run, t)
        for run, files in sorted(runs.items())
        for t, p in enumerate(files)
    ]
    all_paths = [p for files in runs.values() for p in files]
    t = read_vtk(spark, all_paths, mesh_id_from="path")
    keymap = F.broadcast(
        spark.createDataFrame(
            keymap_rows, "mesh_key string, run_id string, t int"
        )
    )

    def _rekey(df: DataFrame) -> DataFrame:
        return (
            df.join(keymap, df["mesh_id"] == keymap["mesh_key"])
            .drop("mesh_id", "mesh_key")
            .withColumnRenamed("run_id", "mesh_id")
        )

    # one points parse: the consistency-check collect below fills the
    # cache, and the t=0 base and the displacement window reuse it
    pts = _rekey(t["points"]).persist()

    # consistency check: every timestep of a run must carry the same
    # point count (one tiny aggregate: |runs| x |timesteps| rows)
    with job_label(spark, "openradioss.read_openradioss/check"):
        counts = (
            pts.groupBy("mesh_id", "t").count().groupBy("mesh_id").agg(
                F.countDistinct("count").alias("k"),
                F.max("count").alias("n"),
            )
        ).collect()
    # completeness first: _rekey's inner join drops rows whose
    # reconstructed path id drifts from Spark's reported path, and an
    # EMPTY counts result would otherwise pass the per-run check
    # vacuously — the same loud-on-drift contract as read_vtk_domain
    seen = {r["mesh_id"] for r in counts}
    missing = sorted(set(runs) - seen)
    bad = [r["mesh_id"] for r in counts if r["k"] != 1]
    if missing or bad:
        release(pts)
    if missing:
        raise ValueError(
            f"runs {missing} produced no scanned rows — path-format "
            "drift between the driver listing and Spark's binaryFile "
            "path (or empty timestep files)"
        )
    if bad:
        raise ValueError(
            f"point count differs across timesteps for runs {bad} — "
            "anim_to_vtk output is expected to keep the node set fixed"
        )

    base = pts.filter(F.col("t") == 0).select(
        "mesh_id",
        "point_id",
        F.col("x").alias("x0"),
        F.col("y").alias("y0"),
        F.col("z").alias("z0"),
    )
    # one cells parse: the referenced-point scan and the connectivity
    # rewrite both reuse it
    cells0 = _rekey(t["cells"]).filter(F.col("t") == 0).drop("t").persist()

    if prune_unreferenced:
        referenced = (
            cells0.select("mesh_id", F.explode("vs").alias("point_id"))
            .filter(F.col("point_id") >= 0)
            .distinct()
        )
        # dense per-mesh remap in point_id order (reference
        # ``openradioss.py:383-395`` old_to_new) — per-mesh window, no
        # global sort
        remap = referenced.withColumn(
            "new_id",
            F.row_number().over(
                Window.partitionBy("mesh_id").orderBy("point_id")
            )
            - 1,
        )
    else:
        remap = base.select(
            "mesh_id", "point_id", F.col("point_id").alias("new_id")
        )

    points_out = (
        base.join(remap, ["mesh_id", "point_id"])
        .select(
            "mesh_id",
            F.col("new_id").alias("point_id"),
            F.col("x0").alias("x"),
            F.col("y0").alias("y"),
            F.col("z0").alias("z"),
        )
    )
    # connectivity remap: explode, map ids (-1 padding sentinels pass
    # through), regroup preserving slot order
    cells_out = (
        cells0.select(
            "mesh_id", "cell_id", "ctype", F.posexplode("vs").alias("slot", "v")
        )
        .join(
            remap.withColumnRenamed("point_id", "v"),
            ["mesh_id", "v"],
            "left",
        )
        .select(
            "mesh_id",
            "cell_id",
            "ctype",
            "slot",
            F.coalesce("new_id", F.lit(-1)).alias("nv"),
        )
        .groupBy("mesh_id", "cell_id", "ctype")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("slot"), F.col("nv")))
                ),
                lambda s: s.getField("nv"),
            ).alias("vs")
        )
        .select("mesh_id", "cell_id", "vs", "ctype")
    )

    # t=0-relative displacement via ONE window pass instead of a
    # self-join against the t=0 slice (guide §2.4: the join shuffled
    # BOTH sides — and re-parsed the points table a second time — where
    # a window over the same key needs one exchange and one parse).
    # first-by-t IS the t=0 coordinate: point ids are POSITIONAL
    # (parse_points enumerates 0..n-1 per file), so the equal-count
    # consistency check above implies identical id SETS across a run's
    # timesteps — a (mesh, point) missing t=0 cannot occur through
    # read_vtk's parse
    wp = Window.partitionBy("mesh_id", "point_id").orderBy("t")
    disp = (
        pts.withColumn("x0", F.first("x").over(wp))
        .withColumn("y0", F.first("y").over(wp))
        .withColumn("z0", F.first("z").over(wp))
        .join(remap, ["mesh_id", "point_id"])
        .select(
            "mesh_id",
            "t",
            F.col("new_id").alias("point_id"),
            (F.col("x") - F.col("x0")).alias("dx"),
            (F.col("y") - F.col("y0")).alias("dy"),
            (F.col("z") - F.col("z0")).alias("dz"),
        )
    )

    def _field_table(df: DataFrame, id_col: str) -> DataFrame:
        out = _rekey(df)
        if id_col == "point_id":
            out = (
                out.join(remap, ["mesh_id", "point_id"])
                .drop("point_id")
                .withColumnRenamed("new_id", "point_id")
            )
        return out.select("mesh_id", "t", id_col, "field", "value")

    globals_df = keymap.groupBy(F.col("run_id").alias("mesh_id")).agg(
        F.count("*").alias("num_timesteps")
    )

    from physicsnemo_curator_spark.operators.mesh import stack_timesteps

    with job_label(spark, "openradioss.read_openradioss/assemble"):
        points_out = points_out.localCheckpoint()
        cells_out = cells_out.localCheckpoint()
        disp = disp.localCheckpoint()
        traj = stack_timesteps(disp, value_cols=("dx", "dy", "dz")).localCheckpoint()
    release(pts, cells0)
    return {
        "points": points_out,
        "cells": cells_out,
        "displacements": disp,
        "trajectory": traj,
        "point_data": _field_table(t["point_data"], "point_id"),
        "cell_data": _field_table(t["cell_data"], "cell_id"),
        "globals": globals_df,
    }
