"""Pure-Python Zarr v2 directory store: metadata, chunk codec, readers,
and distributed chunk writers.

The container has no ``zarr``/``numcodecs``, but the Zarr v2 format is a
small public spec (directory of ``.zarray``/``.zgroup`` JSON plus
separately-compressed C-order chunk files), so the encoders here are
implemented with stdlib ``json``/``zlib`` + numpy only.  Metadata is
emitted in numcodecs-compatible form (``{"id": "zlib", "level": N}``),
so stores written here open unchanged with the real ``zarr`` library.

This replaces the import-gates that previously made the Zarr sinks
"plumbing-only" (reference ``domains/da/sinks/zarr_writer.py:118-772``,
``domains/atm/sinks/zarr_writer.py:209-735``, ``domains/mesh/sinks/
mesh_zarr.py:105-381``).

Scale design: chunk files are written inside Spark tasks — the frame is
repartitioned so each task owns whole chunks (the declarative form of
the reference's chunk-aligned index partitioning, ``zarr_writer.py:
471-511``), and Spark's task-isolated commit replaces its pre-allocated
region-write locking.  Only array *metadata* (shape, dtype, coordinate
maps) touches the driver, never data.
"""

from __future__ import annotations

import json
import math
import os
import zlib
from datetime import timezone
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_COMPRESSOR: dict[str, Any] = {"id": "zlib", "level": 1}


# ---------------------------------------------------------------- codec


def _compress(raw: bytes, compressor: dict[str, Any] | None) -> bytes:
    if compressor is None:
        return raw
    if compressor["id"] != "zlib":
        raise ValueError(f"unsupported compressor {compressor['id']!r}")
    return zlib.compress(raw, compressor.get("level", 1))


def _decompress(blob: bytes, compressor: dict[str, Any] | None) -> bytes:
    if compressor is None:
        return blob
    if compressor["id"] != "zlib":
        raise ValueError(f"unsupported compressor {compressor['id']!r}")
    return zlib.decompress(blob)


def encode_chunk(arr: np.ndarray, compressor: dict[str, Any] | None) -> bytes:
    """C-order bytes of one (full-size) chunk, compressed."""
    return _compress(np.ascontiguousarray(arr).tobytes(), compressor)


# ------------------------------------------------------------- metadata


def _atomic_json(path: str, obj: Any) -> None:
    """Write JSON atomically (tmp + rename) so concurrent first-writer
    races on shared metadata files are benign: every contender writes
    identical bytes and os.replace is atomic on POSIX."""
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def init_group(store: str, attrs: dict[str, Any] | None = None) -> None:
    os.makedirs(store, exist_ok=True)
    _atomic_json(os.path.join(store, ".zgroup"), {"zarr_format": 2})
    if attrs:
        _atomic_json(os.path.join(store, ".zattrs"), attrs)


def init_array(
    store: str,
    name: str,
    *,
    shape: tuple[int, ...],
    chunks: tuple[int, ...],
    dtype: str | np.dtype,
    compressor: dict[str, Any] | None = None,
    fill_value: float | int | None = 0,
    attrs: dict[str, Any] | None = None,
) -> str:
    """Write ``.zarray`` (+``.zattrs``) for one array; returns its dir.

    ``fill_value`` NaN is serialized as the string ``"NaN"`` per spec.
    """
    adir = os.path.join(store, name)
    os.makedirs(adir, exist_ok=True)
    fv: Any = fill_value
    if isinstance(fv, float) and math.isnan(fv):
        fv = "NaN"
    meta = {
        "zarr_format": 2,
        "shape": list(shape),
        "chunks": list(chunks),
        "dtype": np.dtype(dtype).str,
        "compressor": compressor if compressor is None else dict(compressor),
        "fill_value": fv,
        "order": "C",
        "filters": None,
    }
    _atomic_json(os.path.join(adir, ".zarray"), meta)
    if attrs:
        _atomic_json(os.path.join(adir, ".zattrs"), attrs)
    return adir


def write_chunk(
    adir: str,
    chunk_index: tuple[int, ...],
    arr: np.ndarray,
    compressor: dict[str, Any] | None = None,
) -> str:
    """Write one chunk file (``i.j.k`` naming). ``arr`` must be the full
    chunk shape — pad partial edge chunks with the fill value upstream
    (the v2 spec stores edge chunks at full chunk shape)."""
    path = os.path.join(adir, ".".join(str(i) for i in chunk_index))
    # tmp + atomic rename (same discipline as the v3 twins and
    # _atomic_json): a concurrent zombie/speculative attempt must
    # never interleave bytes into the final chunk file
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "wb") as f:
        f.write(encode_chunk(arr, compressor))
    os.replace(tmp, path)
    return path


# -------------------------------------------------------------- reading


def read_array_meta(adir: str) -> dict[str, Any]:
    with open(os.path.join(adir, ".zarray")) as f:
        return json.load(f)


def read_array(adir: str) -> np.ndarray:
    """Assemble a full array from its chunk files (missing chunk →
    fill value).  Test/verification path — driver-side by design."""
    meta = read_array_meta(adir)
    shape = tuple(meta["shape"])
    chunks = tuple(meta["chunks"])
    dtype = np.dtype(meta["dtype"])
    fv = meta["fill_value"]
    if fv == "NaN":
        fv = math.nan
    out = np.full(shape, fv if fv is not None else 0, dtype=dtype)
    ncdim = [max(1, -(-s // c)) for s, c in zip(shape, chunks)]
    compressor = meta["compressor"]
    for idx in np.ndindex(*ncdim):
        path = os.path.join(adir, ".".join(str(i) for i in idx))
        if not os.path.exists(path):
            continue
        with open(path, "rb") as f:
            raw = _decompress(f.read(), compressor)
        block = np.frombuffer(raw, dtype=dtype).reshape(chunks)
        sel = tuple(
            slice(i * c, min((i + 1) * c, s))
            for i, c, s in zip(idx, chunks, shape)
        )
        out[sel] = block[tuple(slice(0, sl.stop - sl.start) for sl in sel)]
    return out


# ------------------------------------------- distributed grid sink (da)


def _as_epoch_float(x: Any) -> float:
    # Naive datetimes out of the UTC-pinned session are UTC wall clock;
    # .timestamp() would re-interpret them in the OS-local zone, so pin
    # the conversion explicitly (matches tables.py NTZ normalization
    # and the netcdf3 unix_timestamp epoch).
    if hasattr(x, "timestamp"):
        if getattr(x, "tzinfo", None) is None:
            return x.replace(tzinfo=timezone.utc).timestamp()
        return x.timestamp()
    return float(x)


def _collect_grid_coords(
    grid: DataFrame, var_col: str, time_col: str, lat_col: str, lon_col: str
) -> tuple[list, list, list, list, dict[str, np.ndarray]]:
    """One aggregate → sorted coordinate vectors + variable inventory.
    O(nt + nlat + nlon + nvars) driver memory — metadata-scale."""
    coords = (
        grid.select(
            F.col(var_col).alias("v"),
            F.col(time_col).alias("t"),
            F.col(lat_col).alias("la"),
            F.col(lon_col).alias("lo"),
        )
        .agg(
            F.sort_array(F.collect_set("t")).alias("ts"),
            F.sort_array(F.collect_set("la")).alias("lats"),
            F.sort_array(F.collect_set("lo")).alias("lons"),
            F.sort_array(F.collect_set("v")).alias("vars"),
        )
        .first()
    )
    times, lats, lons, variables = (
        list(coords["ts"]),
        list(coords["lats"]),
        list(coords["lons"]),
        list(coords["vars"]),
    )
    coord_vecs = {
        "time": np.asarray([_as_epoch_float(t) for t in times]),
        "lat": np.asarray([float(v) for v in lats]),
        "lon": np.asarray([float(v) for v in lons]),
    }
    return times, lats, lons, variables, coord_vecs


def write_grid_zarr(
    grid: DataFrame,
    store: str,
    *,
    time_col: str = "time_idx",
    var_col: str = "variable",
    lat_col: str = "lat",
    lon_col: str = "lon",
    value_col: str = "value",
    compressor: dict[str, Any] | None = DEFAULT_COMPRESSOR,
) -> dict[str, tuple[int, int, int]]:
    """ZarrSink semantics (reference ``zarr_writer.py:118-772``): one
    group per variable, array ``data`` of shape (T, nlat, nlon) with
    chunks ``(1, nlat, nlon)`` — the reference's own chunking
    (``zarr_writer.py:215``).

    Driver work is metadata-only: the sorted coordinate vectors (≈ 721 +
    1440 values for ERA5) and the variable/time inventory.  The data
    path is one shuffle keyed on (variable, time) so each task owns
    exactly the chunks it writes.
    """
    times, lats, lons, variables, coord_vecs = _collect_grid_coords(
        grid, var_col, time_col, lat_col, lon_col
    )
    t_idx = {t: i for i, t in enumerate(times)}
    la_idx = {v: i for i, v in enumerate(lats)}
    lo_idx = {v: i for i, v in enumerate(lons)}
    nt, nla, nlo = len(times), len(lats), len(lons)
    init_group(store)
    for v in variables:
        vdir = os.path.join(store, str(v))
        init_group(vdir)
        init_array(
            vdir,
            "data",
            shape=(nt, nla, nlo),
            chunks=(1, nla, nlo),
            dtype="<f8",
            compressor=compressor,
            fill_value=math.nan,
            attrs={"_ARRAY_DIMENSIONS": ["time", "lat", "lon"]},
        )
        # 1-D coordinate arrays (xarray convention) so read-side scans
        # recover real coordinates, not indices; timestamps stored as
        # epoch seconds.  O(nt + nlat + nlon) — metadata-scale.
        for cname, vec in coord_vecs.items():
            cdir = init_array(
                vdir,
                cname,
                shape=(len(vec),),
                chunks=(max(len(vec), 1),),
                dtype="<f8",
                compressor=None,
                fill_value=0,
                attrs={"_ARRAY_DIMENSIONS": [cname]},
            )
            write_chunk(cdir, (0,), vec, None)

    comp = dict(compressor) if compressor else None
    store_abs = os.path.abspath(store)

    def _write_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf[var_col].iloc[0]
        t = pdf[time_col].iloc[0]
        block = np.full((1, nla, nlo), math.nan)
        ila = pdf[lat_col].map(la_idx).to_numpy()
        ilo = pdf[lon_col].map(lo_idx).to_numpy()
        block[0, ila, ilo] = pdf[value_col].to_numpy(dtype=float)
        adir = os.path.join(store_abs, str(v), "data")
        path = write_chunk(adir, (t_idx[t], 0, 0), block, comp)
        return pd.DataFrame({"variable": [str(v)], "chunk": [path]})

    # groupBy.applyInPandas shuffles on (variable, time) — exactly the
    # chunk-ownership partitioning; no extra repartition needed.
    written = (
        grid.groupBy(var_col, time_col)
        .applyInPandas(_write_chunk, "variable string, chunk string")
        .count()
    )
    return {str(v): (nt, nla, nlo) for v in variables} | {
        "__chunks__": (int(written), 0, 0)
    }


# --------------------------------- distributed ragged flat sink (atoms)


def write_flat_zarr(
    rows: DataFrame,
    adir_store: str,
    name: str,
    *,
    index_col: str,
    value_cols: list[str],
    chunk_rows: int,
    dtype: str = "<f8",
    compressor: dict[str, Any] | None = DEFAULT_COMPRESSOR,
    n_rows: int | None = None,
) -> str:
    """Write a (N, len(value_cols)) — or (N,) — array from a long table
    whose ``index_col`` is the global row position (e.g. atom offsets
    from :func:`~physicsnemo_curator_spark.operators.atomic.pack_offsets`).

    The AtomicDataZarrSink pattern (reference ``domains/atm/sinks/
    zarr_writer.py:209-735``): ragged per-system fields become one flat
    array + an offsets index.  A system whose rows straddle a chunk
    boundary simply contributes rows to both chunk groups — chunk
    ownership is by ``index_col // chunk_rows``, so tasks never share a
    file and no pre-allocation/locking is needed.
    """
    if n_rows is None:
        max_idx = rows.agg(F.max(index_col)).first()[0]
        # empty input: write a valid zero-row array instead of an
        # opaque None + 1 TypeError (the grid sinks degrade the same way)
        n_rows = 0 if max_idx is None else max_idx + 1
    width = len(value_cols)
    shape = (n_rows,) if width == 1 else (n_rows, width)
    chunks = (chunk_rows,) if width == 1 else (chunk_rows, width)
    adir = init_array(
        adir_store,
        name,
        shape=shape,
        chunks=chunks,
        dtype=dtype,
        compressor=compressor,
        fill_value=0,
    )
    adir_abs = os.path.abspath(adir)
    comp = dict(compressor) if compressor else None
    np_dtype = np.dtype(dtype)

    keyed = rows.withColumn(
        "_chunk", (F.col(index_col) / chunk_rows).cast("long")
    )

    def _write(pdf: pd.DataFrame) -> pd.DataFrame:
        cid = int(pdf["_chunk"].iloc[0])
        block = np.zeros((chunk_rows, width), dtype=np_dtype)
        local = pdf[index_col].to_numpy() - cid * chunk_rows
        block[local] = pdf[value_cols].to_numpy()
        out = block if width > 1 else block[:, 0]
        path = write_chunk(adir_abs, (cid, 0)[: len(chunks)], out, comp)
        return pd.DataFrame({"chunk": [path]})

    keyed.groupBy("_chunk").applyInPandas(_write, "chunk string").count()
    return adir


# ------------------------------------------ distributed mesh_pos sink


def write_mesh_zarr(
    points: DataFrame,
    displacements: DataFrame,
    store: str,
    *,
    compressor: dict[str, Any] | None = DEFAULT_COMPRESSOR,
    return_shapes: bool = True,
) -> dict[str, tuple[int, int, int]]:
    """MeshZarrSink semantics (reference ``domains/mesh/sinks/
    mesh_zarr.py:105-381``): reconstruct ``mesh_pos (T, N, 3)`` =
    reference points + per-timestep displacement, one Zarr group per
    mesh, chunked ``(1, N, 3)`` so each (mesh, timestep) chunk is owned
    by exactly one task.

    Inputs: ``points(mesh_id, point_id, x, y, z)`` and
    ``displacements(mesh_id, point_id, t, dx, dy, dz)``.

    Driver work is O(1): the root ``.zgroup`` only.  Per-mesh dims ride
    the data shuffle (a mesh_id-keyed join onto the position stream) and
    group/array metadata is created TASK-SIDE, first-writer-wins —
    every writer of a mesh emits identical metadata bytes atomically
    (tmp+rename), so the race is benign and 10⁵ meshes never serialize
    through a driver loop.  ``return_shapes=False`` skips the shape
    inventory collect for fire-and-forget pipelines (the summary is
    O(meshes) driver memory — fine for tests/CLI, pointless at scale).
    """
    dims = displacements.groupBy("mesh_id").agg(
        (F.max("t") + 1).cast("int").alias("_nt"),
        (F.max("point_id") + 1).cast("int").alias("_npts"),
        F.min("t").cast("int").alias("_t0"),
        F.min("point_id").cast("int").alias("_p0"),
        F.countDistinct("t").cast("int").alias("_ct"),
    )
    # the (T, N, 3) tensor layout assumes DENSE 0-based t and point_id;
    # 1-based timesteps or unrenumbered point ids would silently pad
    # fabricated zero planes at the origin — validate instead (run
    # dense_renumber / stack_timesteps upstream to densify)
    bad = dims.filter(
        (F.col("_t0") != 0) | (F.col("_p0") != 0) | (F.col("_ct") != F.col("_nt"))
    ).select("mesh_id")
    bad_rows = [r["mesh_id"] for r in bad.limit(3).collect()]
    if bad_rows:
        raise ValueError(
            "write_mesh_zarr needs dense 0-based t and point_id; "
            f"meshes with gaps/offsets: {bad_rows} — run dense_renumber "
            "first"
        )
    dims = dims.select("mesh_id", "_nt", "_npts")

    init_group(store)

    pos = (
        displacements.join(points, ["mesh_id", "point_id"])
        .select(
            "mesh_id",
            "t",
            "point_id",
            (F.col("x") + F.col("dx")).alias("px"),
            (F.col("y") + F.col("dy")).alias("py"),
            (F.col("z") + F.col("dz")).alias("pz"),
        )
        .join(dims, "mesh_id")
    )
    store_abs = os.path.abspath(store)
    comp = dict(compressor) if compressor else None

    def _write(pdf: pd.DataFrame) -> pd.DataFrame:
        mesh_id = int(pdf["mesh_id"].iloc[0])
        t = int(pdf["t"].iloc[0])
        nt = int(pdf["_nt"].iloc[0])
        npts = int(pdf["_npts"].iloc[0])
        mdir = os.path.join(store_abs, f"mesh_{mesh_id}")
        adir = os.path.join(mdir, "mesh_pos")
        if not os.path.exists(os.path.join(adir, ".zarray")):
            init_group(mdir)
            init_array(
                mdir,
                "mesh_pos",
                shape=(nt, npts, 3),
                chunks=(1, npts, 3),
                dtype="<f8",
                compressor=comp,
                fill_value=0,
            )
        block = np.zeros((1, npts, 3))
        pid = pdf["point_id"].to_numpy()
        block[0, pid, 0] = pdf["px"].to_numpy()
        block[0, pid, 1] = pdf["py"].to_numpy()
        block[0, pid, 2] = pdf["pz"].to_numpy()
        write_chunk(adir, (t, 0, 0), block, comp)
        return pd.DataFrame({"mesh_id": [mesh_id], "nt": [nt], "npts": [npts]})

    written = pos.groupBy("mesh_id", "t").applyInPandas(
        _write, "mesh_id long, nt int, npts int"
    )
    if not return_shapes:
        written.count()
        return {}
    return {
        str(r["mesh_id"]): (int(r["nt"]), int(r["npts"]), 3)
        for r in written.distinct().collect()
    }


# ------------------------------------------------- Zarr v3 + sharding
#
# The reference's ZarrSink exposes v3 shard sizes (reference
# ``domains/da/sinks/zarr_writer.py:146-149,336-338,724-727``: a
# ``shards`` dict handed to zarr>=3's ``sharding_indexed`` codec).  The
# container has no zarr package, so the v3 format is implemented here
# from the public spec: ``zarr.json`` node metadata, ``c/<i>/<j>``
# chunk keys, and the sharding_indexed binary layout — concatenated
# encoded inner chunks followed by a uint64-pair (offset, nbytes) index
# (missing chunk = 2^64-1) and a crc32c of the index, index_location
# "end".  Stores written here open unchanged with zarr>=3.

V3_DEFAULT_CODEC: dict[str, Any] = {"name": "gzip", "configuration": {"level": 1}}
_V3_MISSING = 2**64 - 1
_V3_DTYPES = {
    "<f8": "float64",
    "<f4": "float32",
    "<i8": "int64",
    "<i4": "int32",
    "<u8": "uint64",
    "<u4": "uint32",
}
_V3_DTYPES_INV = {v: k for k, v in _V3_DTYPES.items()}

_CRC32C_TABLE: list[int] | None = None


def _crc32c(data: bytes) -> int:
    """CRC-32C (Castagnoli, reflected poly 0x82F63B78) — the checksum
    the v3 sharding index uses; table-driven, stdlib-only."""
    global _CRC32C_TABLE
    if _CRC32C_TABLE is None:
        tbl = []
        for i in range(256):
            c = i
            for _ in range(8):
                c = (c >> 1) ^ 0x82F63B78 if c & 1 else c >> 1
            tbl.append(c)
        _CRC32C_TABLE = tbl
    crc = 0xFFFFFFFF
    for b in data:
        crc = _CRC32C_TABLE[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


def _encode_v3(raw: bytes, codec: dict[str, Any] | None) -> bytes:
    if codec is None:
        return raw
    if codec["name"] == "gzip":
        import gzip

        return gzip.compress(raw, codec.get("configuration", {}).get("level", 1))
    raise ValueError(f"unsupported v3 codec {codec['name']!r}")


def _decode_v3(blob: bytes, codec: dict[str, Any] | None) -> bytes:
    if codec is None:
        return blob
    if codec["name"] == "gzip":
        import gzip

        return gzip.decompress(blob)
    raise ValueError(f"unsupported v3 codec {codec['name']!r}")


def _v3_bytes_codec() -> dict[str, Any]:
    return {"name": "bytes", "configuration": {"endian": "little"}}


def init_group_v3(store: str, attrs: dict[str, Any] | None = None) -> None:
    os.makedirs(store, exist_ok=True)
    obj: dict[str, Any] = {"zarr_format": 3, "node_type": "group"}
    if attrs:
        obj["attributes"] = attrs
    _atomic_json(os.path.join(store, "zarr.json"), obj)


def init_array_v3(
    store: str,
    name: str,
    *,
    shape: tuple[int, ...],
    chunk_shape: tuple[int, ...],
    shard_shape: tuple[int, ...] | None = None,
    dtype: str | np.dtype = "<f8",
    codec: dict[str, Any] | None = V3_DEFAULT_CODEC,
    fill_value: float | int | None = 0,
    attrs: dict[str, Any] | None = None,
) -> str:
    """Write v3 ``zarr.json`` for one array; returns its directory.

    With ``shard_shape`` the on-disk unit becomes the SHARD (the
    chunk_grid advertises shard_shape; the sharding_indexed codec
    carries the inner ``chunk_shape``) — exactly how zarr v3 models the
    reference's ``shards=`` option.  Every shard dim must be a multiple
    of its chunk dim (v3 spec requirement).
    """
    adir = os.path.join(store, name)
    os.makedirs(adir, exist_ok=True)
    fv: Any = fill_value
    if isinstance(fv, float) and math.isnan(fv):
        fv = "NaN"
    inner = [_v3_bytes_codec()] + ([dict(codec)] if codec else [])
    if shard_shape is not None:
        if any(s % c for s, c in zip(shard_shape, chunk_shape)):
            raise ValueError(
                f"shard shape {shard_shape} not a multiple of chunk "
                f"shape {chunk_shape}"
            )
        grid_shape = shard_shape
        codecs: list[dict[str, Any]] = [
            {
                "name": "sharding_indexed",
                "configuration": {
                    "chunk_shape": list(chunk_shape),
                    "codecs": inner,
                    "index_codecs": [_v3_bytes_codec(), {"name": "crc32c"}],
                    "index_location": "end",
                },
            }
        ]
    else:
        grid_shape = chunk_shape
        codecs = inner
    meta = {
        "zarr_format": 3,
        "node_type": "array",
        "shape": list(shape),
        "data_type": _V3_DTYPES[np.dtype(dtype).str],
        "chunk_grid": {
            "name": "regular",
            "configuration": {"chunk_shape": list(grid_shape)},
        },
        "chunk_key_encoding": {
            "name": "default",
            "configuration": {"separator": "/"},
        },
        "fill_value": fv,
        "codecs": codecs,
        "attributes": attrs or {},
    }
    _atomic_json(os.path.join(adir, "zarr.json"), meta)
    return adir


def encode_shard(
    blocks: dict[int, np.ndarray], n_inner: int, codec: dict[str, Any] | None
) -> bytes:
    """Assemble one sharding_indexed blob from inner-chunk arrays keyed
    by flat inner-grid position (C-order).  Missing positions get the
    2^64-1 sentinel in the index."""
    index = np.full((n_inner, 2), _V3_MISSING, dtype="<u8")
    parts: list[bytes] = []
    offset = 0
    for i in range(n_inner):
        if i not in blocks:
            continue
        enc = _encode_v3(np.ascontiguousarray(blocks[i]).tobytes(), codec)
        index[i] = (offset, len(enc))
        parts.append(enc)
        offset += len(enc)
    idx_bytes = index.tobytes()
    idx_bytes += np.uint32(_crc32c(idx_bytes)).astype("<u4").tobytes()
    return b"".join(parts) + idx_bytes


def decode_shard(
    blob: bytes,
    n_inner: int,
    chunk_shape: tuple[int, ...],
    dtype: np.dtype,
    codec: dict[str, Any] | None,
) -> dict[int, np.ndarray]:
    """Inverse of :func:`encode_shard`: flat inner position → array."""
    idx_len = n_inner * 16
    index = np.frombuffer(
        blob[-(idx_len + 4) : -4], dtype="<u8"
    ).reshape(n_inner, 2)
    out: dict[int, np.ndarray] = {}
    for i in range(n_inner):
        off, nb = int(index[i, 0]), int(index[i, 1])
        if off == _V3_MISSING:
            continue
        raw = _decode_v3(blob[off : off + nb], codec)
        out[i] = np.frombuffer(raw, dtype=dtype).reshape(chunk_shape)
    return out


def read_array_meta_v3(adir: str) -> dict[str, Any]:
    with open(os.path.join(adir, "zarr.json")) as f:
        return json.load(f)


def _v3_layout(meta: dict[str, Any]) -> dict[str, Any]:
    """Normalize v3 array metadata: outer (on-disk) grid shape, inner
    chunk shape, inner codec, numpy dtype, sharded flag."""
    grid = tuple(meta["chunk_grid"]["configuration"]["chunk_shape"])
    codecs = meta["codecs"]
    if codecs and codecs[0]["name"] == "sharding_indexed":
        conf = codecs[0]["configuration"]
        inner_chunk = tuple(conf["chunk_shape"])
        inner_codecs = [c for c in conf["codecs"] if c["name"] != "bytes"]
    else:
        inner_chunk = grid
        inner_codecs = [c for c in codecs if c["name"] != "bytes"]
    fv = meta["fill_value"]
    if fv == "NaN":
        fv = math.nan
    return {
        "shape": tuple(meta["shape"]),
        "grid": grid,
        "chunk": inner_chunk,
        "codec": inner_codecs[0] if inner_codecs else None,
        "dtype": np.dtype(_V3_DTYPES_INV[meta["data_type"]]),
        "fill_value": fv,
        "sharded": bool(codecs) and codecs[0]["name"] == "sharding_indexed",
    }


def write_shard_v3(
    adir: str,
    grid_index: tuple[int, ...],
    blocks: dict[int, np.ndarray],
    n_inner: int,
    codec: dict[str, Any] | None,
) -> str:
    """Write one on-disk unit (shard, or plain chunk when n_inner==1 and
    the array is unsharded is handled by the caller) under the v3
    ``c/<i>/<j>/...`` key layout."""
    key = os.path.join(adir, "c", *(str(i) for i in grid_index))
    os.makedirs(os.path.dirname(key), exist_ok=True)
    tmp = f"{key}.tmp.{os.getpid()}"
    with open(tmp, "wb") as f:
        f.write(encode_shard(blocks, n_inner, codec))
    os.replace(tmp, key)
    return key


def write_chunk_v3(
    adir: str,
    grid_index: tuple[int, ...],
    arr: np.ndarray,
    codec: dict[str, Any] | None,
) -> str:
    """Write one UNsharded v3 chunk (raw encoded bytes, no index)."""
    key = os.path.join(adir, "c", *(str(i) for i in grid_index))
    os.makedirs(os.path.dirname(key), exist_ok=True)
    tmp = f"{key}.tmp.{os.getpid()}"
    with open(tmp, "wb") as f:
        f.write(_encode_v3(np.ascontiguousarray(arr).tobytes(), codec))
    os.replace(tmp, key)
    return key


def read_array_v3(adir: str) -> np.ndarray:
    """Assemble a full v3 array (sharded or not) from its store files.
    Test/verification path — driver-side by design."""
    lay = _v3_layout(read_array_meta_v3(adir))
    shape, grid, chunk = lay["shape"], lay["grid"], lay["chunk"]
    fv = lay["fill_value"]
    out = np.full(shape, fv if fv is not None else 0, dtype=lay["dtype"])
    ngrid = [max(1, -(-s // g)) for s, g in zip(shape, grid)]
    cps = [g // c for g, c in zip(grid, chunk)]
    n_inner = int(np.prod(cps))
    for gidx in np.ndindex(*ngrid):
        key = os.path.join(adir, "c", *(str(i) for i in gidx))
        if not os.path.exists(key):
            continue
        with open(key, "rb") as f:
            blob = f.read()
        if lay["sharded"]:
            blocks = decode_shard(blob, n_inner, chunk, lay["dtype"], lay["codec"])
        else:
            raw = _decode_v3(blob, lay["codec"])
            blocks = {0: np.frombuffer(raw, dtype=lay["dtype"]).reshape(chunk)}
        for flat, arr in blocks.items():
            inner = np.unravel_index(flat, cps) if n_inner > 1 else (0,) * len(cps)
            sel = []
            ok = True
            for d, (gi, ii) in enumerate(zip(gidx, inner)):
                lo = gi * grid[d] + ii * chunk[d]
                hi = min(lo + chunk[d], shape[d])
                if lo >= shape[d]:
                    ok = False
                    break
                sel.append(slice(lo, hi))
            if ok:
                out[tuple(sel)] = arr[
                    tuple(slice(0, s.stop - s.start) for s in sel)
                ]
    return out


def write_grid_zarr_v3(
    grid: DataFrame,
    store: str,
    *,
    time_col: str = "time_idx",
    var_col: str = "variable",
    lat_col: str = "lat",
    lon_col: str = "lon",
    value_col: str = "value",
    shard_time: int = 8,
    codec: dict[str, Any] | None = V3_DEFAULT_CODEC,
) -> dict[str, tuple[int, int, int]]:
    """Zarr v3 SHARDED variant of :func:`write_grid_zarr` — the
    reference ZarrSink's ``shards=`` mode (reference
    ``zarr_writer.py:146-149,336-338``): inner chunks stay
    ``(1, nlat, nlon)`` but ``shard_time`` of them pack into one shard
    file ``(shard_time, nlat, nlon)``, collapsing the object count by
    ``shard_time``× — the many-small-chunk archive fix at object-store
    scale.

    Shuffle key is (variable, shard index): each task owns ALL inner
    chunks of its shard, builds the shard blob (data + index + crc32c)
    in memory (shard_time × chunk bytes — size shards to the executor,
    same budgeting rule as chunk_size_budget), and writes it atomically.
    No two tasks ever touch the same file, the exact concurrency
    discipline the reference enforces via chunk-aligned index
    partitioning (``zarr_writer.py:471-511``).
    """
    times, lats, lons, variables, coord_vecs = _collect_grid_coords(
        grid, var_col, time_col, lat_col, lon_col
    )
    if not times:
        # empty input: match the v2 twin — write an empty group, no
        # arrays (createDataFrame on the empty time map would throw)
        init_group_v3(store)
        return {}
    t_idx = {t: i for i, t in enumerate(times)}
    la_idx = {v: i for i, v in enumerate(lats)}
    lo_idx = {v: i for i, v in enumerate(lons)}
    nt, nla, nlo = len(times), len(lats), len(lons)

    init_group_v3(store)
    for v in variables:
        vdir = os.path.join(store, str(v))
        init_group_v3(vdir)
        init_array_v3(
            vdir,
            "data",
            shape=(nt, nla, nlo),
            chunk_shape=(1, nla, nlo),
            shard_shape=(shard_time, nla, nlo),
            dtype="<f8",
            codec=codec,
            fill_value=math.nan,
            attrs={"_ARRAY_DIMENSIONS": ["time", "lat", "lon"]},
        )
        for cname, vec in coord_vecs.items():
            cdir = init_array_v3(
                vdir,
                cname,
                shape=(len(vec),),
                chunk_shape=(max(len(vec), 1),),
                dtype="<f8",
                codec=None,
                fill_value=0,
                attrs={"_ARRAY_DIMENSIONS": [cname]},
            )
            write_chunk_v3(cdir, (0,), vec, None)

    codec_c = dict(codec) if codec else None
    store_abs = os.path.abspath(store)
    n_inner = shard_time

    def _write_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf[var_col].iloc[0]
        sid = int(pdf["_shard"].iloc[0])
        blocks: dict[int, np.ndarray] = {}
        for t, sub in pdf.groupby("_t_idx"):
            block = np.full((1, nla, nlo), math.nan)
            ila = sub[lat_col].map(la_idx).to_numpy()
            ilo = sub[lon_col].map(lo_idx).to_numpy()
            block[0, ila, ilo] = sub[value_col].to_numpy(dtype=float)
            blocks[int(t) - sid * shard_time] = block
        adir = os.path.join(store_abs, str(v), "data")
        path = write_shard_v3(adir, (sid, 0, 0), blocks, n_inner, codec_c)
        return pd.DataFrame({"variable": [str(v)], "shard": [path]})

    # time → index as a broadcast join (O(nt) rows — metadata scale),
    # not a giant literal map expression
    spark = grid.sparkSession
    tmap_df = spark.createDataFrame(
        [(t, i) for t, i in t_idx.items()], [time_col, "_t_idx"]
    )
    keyed = grid.join(F.broadcast(tmap_df), time_col).withColumn(
        "_shard", (F.col("_t_idx") / shard_time).cast("int")
    )
    written = (
        keyed.groupBy(var_col, "_shard")
        .applyInPandas(_write_shard, "variable string, shard string")
        .count()
    )
    return {str(v): (nt, nla, nlo) for v in variables} | {
        "__shards__": (int(written), 0, 0)
    }
