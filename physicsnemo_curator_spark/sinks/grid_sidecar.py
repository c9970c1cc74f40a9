"""Structured-grid sidecar sink + inverse reader.

The reference's ``GridSidecarSink`` (reference ``domains/mesh/sinks/
grid_sidecar.py:50-208``) persists each structured grid as a
``<name>.grid`` directory of memory-mappable per-field files, mirroring
the source layout ``{relpath}/{stem}`` so grids land beside the mesh
outputs of the same sample, with atomic tmp-dir + rename commits.

Spark-first form: the engine's structured-grid encoding is the long
table pair from :func:`~physicsnemo_curator_spark.sources.vtk.
read_structured_points` — ``grid(grid_id, iz, iy, ix, field, value)``
and ``meta(grid_id, nx..sz)``.  The sidecar write is one
``applyInPandas`` task per grid (the grid is the reference's output
unit), each field stored as a ``.npy`` file (the public numpy format —
``np.load(..., mmap_mode="r")`` gives the same lazy memmap access the
reference gets from tensordict) plus a ``meta.json`` with dimensions/
origin/spacing.  tensordict itself is not in the container; the layout
contract (sidecar mirroring, per-field memmap files, atomic commit) is
what this preserves.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

GRID_SUFFIX = ".grid"

_SIDE_SCHEMA = "grid_id string, path string"


def write_grid_sidecar(
    grid: DataFrame,
    meta: DataFrame,
    output_dir: str,
    *,
    suffix: str = GRID_SUFFIX,
) -> DataFrame:
    """Write one ``<stem>.grid`` sidecar directory per grid.

    ``meta`` may carry an optional ``relpath`` column (the source-mirror
    path, reference ``{relpath}/{stem}`` naming); absent → flat layout.
    Returns ``(grid_id, path)`` of the written sidecars, a local
    checkpoint the caller owns.  Each task owns
    exactly one grid and commits via tmp-dir + ``os.replace`` — the
    reference's atomicity discipline (``grid_sidecar.py:186-196``),
    which also makes re-runs idempotent (last writer wins whole dirs).
    """
    out_abs = os.path.abspath(output_dir)
    mcols = ["grid_id", "nx", "ny", "nz", "ox", "oy", "oz", "sx", "sy", "sz"] + (
        ["relpath"] if "relpath" in meta.columns else []
    )
    joined = grid.join(F.broadcast(meta.select(*mcols)), "grid_id")

    def _write(pdf: pd.DataFrame) -> pd.DataFrame:
        gid = pdf["grid_id"].iloc[0]
        nx, ny, nz = (int(pdf[c].iloc[0]) for c in ("nx", "ny", "nz"))
        rel = (
            str(pdf["relpath"].iloc[0])
            if "relpath" in pdf.columns and pd.notna(pdf["relpath"].iloc[0])
            else ""
        )
        name = f"{gid}{suffix}"
        subdir = os.path.join(out_abs, rel, name) if rel else os.path.join(out_abs, name)
        # data-driven relpath must stay INSIDE output_dir: an absolute
        # relpath makes os.path.join discard out_abs entirely, and a
        # '..' component escapes it — either would point the
        # rmtree+replace commit at an arbitrary filesystem path
        resolved = os.path.normpath(subdir)
        if os.path.isabs(rel) or not (
            resolved == out_abs
            or resolved.startswith(out_abs + os.sep)
        ):
            raise ValueError(
                f"relpath {rel!r} escapes the output directory"
            )
        os.makedirs(os.path.dirname(subdir), exist_ok=True)
        tmp = tempfile.mkdtemp(prefix=".tmp_", dir=os.path.dirname(subdir))
        try:
            fields = []
            for fname, sub in pdf.groupby("field"):
                arr = np.full((nz, ny, nx), np.nan)
                arr[
                    sub["iz"].to_numpy(),
                    sub["iy"].to_numpy(),
                    sub["ix"].to_numpy(),
                ] = sub["value"].to_numpy(dtype=float)
                np.save(os.path.join(tmp, f"{fname}.npy"), arr)
                fields.append(str(fname))
            with open(os.path.join(tmp, "meta.json"), "w") as f:
                json.dump(
                    {
                        "grid_id": str(gid),
                        "dimensions": [nx, ny, nz],
                        "origin": [float(pdf[c].iloc[0]) for c in ("ox", "oy", "oz")],
                        "spacing": [float(pdf[c].iloc[0]) for c in ("sx", "sy", "sz")],
                        "fields": sorted(fields),
                    },
                    f,
                )
            if os.path.exists(subdir):
                shutil.rmtree(subdir)
            try:
                os.replace(tmp, subdir)
            except OSError:
                # a concurrent attempt (speculative/zombie task)
                # committed between our exists-check and replace;
                # retry once so last-writer-wins actually holds
                shutil.rmtree(subdir, ignore_errors=True)
                os.replace(tmp, subdir)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        return pd.DataFrame({"grid_id": [str(gid)], "path": [subdir]})

    out = joined.groupBy("grid_id").applyInPandas(_write, _SIDE_SCHEMA)
    # force the side effects exactly once (the sibling zarr sinks do
    # the same): an unused lazy plan would write nothing, and a twice-
    # actioned one would re-run every rmtree+replace cycle
    return out.localCheckpoint()


def read_grid_sidecar(
    spark: SparkSession, output_dir: str, *, suffix: str = GRID_SUFFIX
) -> dict[str, DataFrame]:
    """Inverse scan: sidecar directories → the engine's structured-grid
    long-table pair (parity with :func:`write_grid_sidecar`).

    The driver walks the layout for ``*.grid`` directory PATHS only
    (O(grids) — each sidecar is a whole output unit, the same driver
    budget as the reference's per-index naming); field decode runs one
    task per sidecar via ``mapInPandas``.

    NaN is RESERVED as the missing-point sentinel: the writer pre-fills
    each field plane with NaN and this scan emits only non-NaN cells,
    so a source row whose ``value`` is literally NaN does not survive
    the round-trip.  Encode such data with an explicit validity field
    (a second ``<field>_mask`` plane) instead of NaN payloads — the
    same convention the dense tensor formats this mirrors assume.
    """
    paths = []
    for root, dirs, _files in os.walk(output_dir):
        for d in list(dirs):
            if d.endswith(suffix):
                paths.append(os.path.join(root, d))
                dirs.remove(d)
    inv = spark.createDataFrame([(p,) for p in sorted(paths)], "path string")
    inv = inv.repartition(max(1, len(paths)))

    def _decode_grid(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            for r in pdf.itertuples(index=False):
                with open(os.path.join(r.path, "meta.json")) as f:
                    m = json.load(f)
                for fname in m["fields"]:
                    arr = np.load(
                        os.path.join(r.path, f"{fname}.npy"), mmap_mode="r"
                    )
                    iz, iy, ix = np.nonzero(~np.isnan(arr))
                    yield pd.DataFrame(
                        {
                            "grid_id": m["grid_id"],
                            "iz": pd.array(iz, dtype="int32"),
                            "iy": pd.array(iy, dtype="int32"),
                            "ix": pd.array(ix, dtype="int32"),
                            "field": fname,
                            "value": np.asarray(arr[iz, iy, ix], dtype=float),
                        }
                    )

    def _decode_meta(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            for r in pdf.itertuples(index=False):
                with open(os.path.join(r.path, "meta.json")) as f:
                    m = json.load(f)
                yield pd.DataFrame(
                    {
                        "grid_id": [m["grid_id"]],
                        "nx": [m["dimensions"][0]],
                        "ny": [m["dimensions"][1]],
                        "nz": [m["dimensions"][2]],
                        "ox": [m["origin"][0]],
                        "oy": [m["origin"][1]],
                        "oz": [m["origin"][2]],
                        "sx": [m["spacing"][0]],
                        "sy": [m["spacing"][1]],
                        "sz": [m["spacing"][2]],
                    }
                )

    grid_schema = (
        "grid_id string, iz int, iy int, ix int, field string, value double"
    )
    meta_schema = (
        "grid_id string, nx int, ny int, nz int, ox double, oy double,"
        " oz double, sx double, sy double, sz double"
    )
    return {
        "grid": inv.mapInPandas(_decode_grid, grid_schema),
        "meta": inv.mapInPandas(_decode_meta, meta_schema),
    }
