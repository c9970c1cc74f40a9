"""Ansys ``.rst`` result-file source — dependency-gated scaffold.

Parity target: ``AnsysRSTSource`` (reference ``domains/mesh/sources/
ansys_rst.py:187-419``, result-type discovery ``:114-137``, field
extraction ``:83-111``, connectivity padding ``:140-183``).  The
``.rst`` format is proprietary binary: reading it requires the
``ansys-dpf-core`` package AND a licensed Ansys installation, neither
of which is available here, and faking the decode would be dishonest.
What IS implementable from public knowledge is everything around the
decode — and that is exactly what the reference itself does: it never
parses ``.rst`` bytes, it drives the public ``ansys.dpf.core`` API
(``dpf.Model``) and normalizes what comes back.

This module therefore mirrors the reference's availability gating
(reference ``core/registry.py:26-273``): the dpf-independent logic —
result-type discovery, nodal/elemental shape validation, ragged
connectivity padding with 0-based node remapping — is real, pure
Python over the documented DPF object shapes, and unit-tested against
a fake model object.  The Spark entry point ``read_ansys_rst`` lists
``*.rst`` files on the driver and opens each in its own executor task
(one ``dpf.Model`` per file — the same task-per-file layout as
``read_vtk``); with no dpf installed it raises a loud, actionable
RuntimeError at call time, and its tests skip at collection time.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

from physicsnemo_curator_spark.core.jobs import job_label
from physicsnemo_curator_spark.core.store import release

try:  # pragma: no cover — not installed in this environment
    from ansys.dpf import core as _dpf  # type: ignore  # noqa: F401

    HAS_DPF = True
except ImportError:
    HAS_DPF = False

# DPF result operator name -> output field name + data layout
# ("nodal" = per-node, "elemental" = per-element).  These are public
# ansys-dpf-core API names (reference ansys_rst.py:72-81 keeps the
# same lexicon).
KNOWN_RESULT_TYPES: dict[str, dict[str, str]] = {
    "temperature": {"field_name": "temperature", "location": "nodal"},
    "displacement": {"field_name": "displacement", "location": "nodal"},
    "heat_flux": {"field_name": "heat_flux", "location": "elemental"},
    "stress": {"field_name": "stress", "location": "elemental"},
    "elastic_strain": {"field_name": "elastic_strain", "location": "elemental"},
    "structural_temperature": {
        "field_name": "structural_temperature",
        "location": "nodal",
    },
    "velocity": {"field_name": "velocity", "location": "nodal"},
    "acceleration": {"field_name": "acceleration", "location": "nodal"},
}


def extract_result_field(model: Any, result_name: str):
    """``(data, location)`` for one DPF result, or None if the model
    doesn't carry it (reference ``_extract_result_field``,
    ansys_rst.py:83-111).  ``model`` only needs the documented DPF
    shape: ``model.results.<name>()`` → operator whose
    ``outputs.fields_container()`` yields fields with ``.data``."""
    import numpy as np

    try:
        op = getattr(model.results, result_name)()
        fc = op.outputs.fields_container()
        if len(fc) == 0:
            return None
        data = np.array(fc[0].data, dtype=np.float64)
        location = KNOWN_RESULT_TYPES.get(result_name, {}).get(
            "location", "nodal"
        )
        return data, location
    except Exception:  # noqa: BLE001 — absent result, not an error
        return None


def discover_available_results(model: Any) -> list[str]:
    """Sorted result-type names the model actually carries (reference
    ``_discover_available_results``, ansys_rst.py:114-137): probe each
    known operator and keep those with a non-empty first field."""
    available = []
    for name in KNOWN_RESULT_TYPES:
        try:
            fc = getattr(model.results, name)().outputs.fields_container()
            if len(fc) > 0 and len(fc[0].data) > 0:
                available.append(name)
        except Exception:  # noqa: BLE001
            continue
    return sorted(available)


def extract_connectivity(meshed_region: Any):
    """Element connectivity ``(E, max_nodes)`` int64, ragged elements
    padded with ``-1`` and node IDs remapped to 0-based indices
    (reference ``_extract_connectivity``, ansys_rst.py:140-183)."""
    import numpy as np

    elements = meshed_region.elements
    n_elements = elements.n_elements
    conn_lists = [
        list(elements.element_by_index(i).node_ids) for i in range(n_elements)
    ]
    max_nodes = max((len(c) for c in conn_lists), default=0)
    nodes = meshed_region.nodes
    id_to_index = {
        nodes.node_by_index(i).id: i for i in range(nodes.n_nodes)
    }
    out = np.full((n_elements, max_nodes), -1, dtype=np.int64)
    for i, nids in enumerate(conn_lists):
        for j, nid in enumerate(nids):
            out[i, j] = id_to_index.get(nid, -1)
    return out


def model_to_meshfile(model: Any, result_types: list[str] | None = None):
    """Normalize one DPF model into the engine's MeshFile (points /
    cells / point_data / cell_data) — the dpf-independent half of the
    reference's ``_read_rst`` (ansys_rst.py:301-419), including its
    nodal/elemental shape validation (wrong-shaped results are skipped,
    multi-component results emit ``name_<c>`` per component, the same
    convention as the XML mesh parser)."""
    import numpy as np

    from physicsnemo_curator_spark.sources.vtk import MeshFile

    region = model.metadata.meshed_region
    n_nodes = region.nodes.n_nodes
    coords = np.array(
        region.nodes.coordinates_field.data, dtype=np.float64
    ).reshape(n_nodes, 3)
    conn = extract_connectivity(region)
    n_elements = conn.shape[0]
    cells = [[int(v) for v in row if v >= 0] for row in conn]

    requested = result_types or discover_available_results(model)
    point_data: dict[str, list[float]] = {}
    cell_data: dict[str, list[float]] = {}
    for name in requested:
        got = extract_result_field(model, name)
        if got is None:
            continue
        data, location = got
        n_expected = n_nodes if location == "nodal" else n_elements
        if data.shape[0] != n_expected or data.ndim > 2:
            continue  # reference logs-and-skips wrong shapes; so do we
        field = KNOWN_RESULT_TYPES.get(name, {}).get("field_name", name)
        dest = point_data if location == "nodal" else cell_data
        if data.ndim == 1:
            dest[field] = [float(v) for v in data]
        else:
            for c in range(data.shape[1]):
                dest[f"{field}_{c}"] = [float(v) for v in data[:, c]]
    return MeshFile(
        points=[(float(x), float(y), float(z)) for x, y, z in coords],
        cells=cells,
        cell_types=[0] * len(cells),
        point_data=point_data,
        cell_data=cell_data,
        grid_meta={},
    )


def read_ansys_rst(
    spark,
    path: str,
    *,
    result_types: list[str] | None = None,
):
    """Scan a directory of ``.rst`` files into the normalized mesh
    tables (points/cells/point_data/cell_data — the ``read_vtk``
    schemas).

    Each file's ``dpf.Model`` is opened ONCE: a single ``mapInPandas``
    kernel extracts everything into one section-tagged long frame
    (persisted, since a DPF open is a licensed-server round-trip — far
    heavier than the VTK parsers' re-scan), the four mesh tables are
    materialized from it as local checkpoints the caller owns, and the
    persisted frame is released.

    Requires ``ansys-dpf-core`` (and a licensed Ansys install) on the
    executors; without it this raises immediately with the reason —
    the honest availability gate, not a fake decode."""
    import glob as _glob
    import os as _os

    if not HAS_DPF:
        raise RuntimeError(
            "read_ansys_rst requires the ansys-dpf-core package (and a "
            "licensed Ansys installation) to open proprietary .rst "
            "files; neither is available in this environment. The "
            "surrounding logic (discovery, shape validation, "
            "connectivity normalization) is tested against fake DPF "
            "models in tests/test_ansys_rst.py."
        )
    import pandas as pd
    from pyspark.sql import functions as F

    files = sorted(_glob.glob(_os.path.join(path, "*.rst")))
    if not files:
        raise ValueError(f"no .rst files under {path!r}")
    paths_df = spark.createDataFrame(
        [(p,) for p in files], "path string"
    ).repartition(len(files))

    def parse_all(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ansys.dpf import core as dpf

        for pdf in it:
            rows = []
            for p in pdf["path"]:
                mid = p.rsplit("/", 1)[-1].rsplit(".", 1)[0]
                mf = model_to_meshfile(dpf.Model(p), result_types)
                for i, (x, y, z) in enumerate(mf.points):
                    rows.append(
                        ("points", mid, i, x, y, z, None, None, None, None)
                    )
                for i, (vs, ct) in enumerate(zip(mf.cells, mf.cell_types)):
                    rows.append(
                        ("cells", mid, i, None, None, None, vs, ct, None, None)
                    )
                for sec, data in (
                    ("point_data", mf.point_data),
                    ("cell_data", mf.cell_data),
                ):
                    for name, vals in data.items():
                        for i, v in enumerate(vals):
                            rows.append(
                                (sec, mid, i, None, None, None, None, None,
                                 name, v)
                            )
            yield pd.DataFrame(
                rows,
                columns=[
                    "section", "mesh_id", "idx", "x", "y", "z",
                    "vs", "ctype", "field", "value",
                ],
            )

    unified = paths_df.mapInPandas(
        parse_all,
        "section string, mesh_id string, idx long, x double, y double, "
        "z double, vs array<long>, ctype int, field string, value double",
    ).persist()

    def _data_view(section: str, id_name: str):
        return unified.filter(F.col("section") == section).select(
            "mesh_id", F.col("idx").alias(id_name), "field", "value"
        )

    views = {
        "points": unified.filter(F.col("section") == "points").select(
            "mesh_id", F.col("idx").alias("point_id"), "x", "y", "z"
        ),
        "cells": unified.filter(F.col("section") == "cells").select(
            "mesh_id", F.col("idx").alias("cell_id"), "vs", "ctype"
        ),
        "point_data": _data_view("point_data", "point_id"),
        "cell_data": _data_view("cell_data", "cell_id"),
    }
    with job_label(spark, "ansys_rst.read_ansys_rst/extract"):
        tables = {k: v.localCheckpoint() for k, v in views.items()}
    release(unified)
    return tables
