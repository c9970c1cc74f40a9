"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes the
same bytes.  The program under test only ever sees the files written
here, never the seed.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
ADJ = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "nut", "pipe"]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

# Rows per table at sf0.1, the row counts of the repository's sf0.1
# fixture; ``tables`` scales them (lineitem follows orders, four lines
# an order).
SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
EMB_DIM = 64


def _ts(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    us = (seconds * 1e6).astype(np.int64)
    epoch_us = int((base - dt.datetime(1970, 1, 1)).total_seconds() * 1e6)
    return pa.array(us + epoch_us, type=pa.timestamp("us"))


def _days(rng: np.random.Generator, n: int, lo: dt.date, hi: dt.date) -> pa.Array:
    span = (hi - lo).days
    secs = rng.integers(0, span, n).astype(np.float64) * 86_400.0
    return _ts(dt.datetime(lo.year, lo.month, lo.day), secs)


def _pick(rng: np.random.Generator, options: list[str], n: int) -> list[str]:
    return [options[i] for i in rng.integers(0, len(options), n)]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _text(rng: np.random.Generator, n_words: int) -> list[str]:
    return [WORDS[i] for i in rng.integers(0, len(WORDS), n_words)]


def documents(rng: np.random.Generator, n: int, exact_frac: float = 0.0) -> pa.Table:
    """Documents with planted near-duplicate families: about a third of
    the rows are copies of an earlier row, so the MinHash, SimHash and
    span-dedup operators find real pairs.  A copy keeps the text exactly
    with probability ``exact_frac``; otherwise one or two words change."""
    texts: list[list[str]] = []
    for i in range(n):
        if i >= 4 and rng.random() < 0.33:
            words = list(texts[int(rng.integers(0, i))])
            n_changes = 0 if rng.random() < exact_frac else int(rng.integers(1, 3))
            for _ in range(n_changes):
                words[int(rng.integers(0, len(words)))] = WORDS[
                    int(rng.integers(0, len(WORDS)))
                ]
        else:
            words = _text(rng, int(rng.integers(10, 90)))
        texts.append(words)
    joined = [" ".join(w) for w in texts]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(joined, pa.string()),
        "lang": pa.array(_pick(rng, LANGS, n), pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in joined], pa.int64()),
    })


def tables(rng: np.random.Generator, scale: float) -> dict[str, pa.Table]:
    """The ten-table catalog the declared queries read, with the column
    names, types and value domains of the repository's fixtures, at
    ``scale`` times the sf0.1 row counts."""
    r = {k: max(1, round(v * scale)) for k, v in SF01_ROWS.items()}
    n_cust, n_supp, n_part, n_ord = r["customer"], r["supplier"], r["part"], r["orders"]
    n_li = n_ord * 4
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), pa.float64()),
        "c_mktsegment": pa.array(_pick(rng, SEGMENTS, n_cust), pa.string()),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), pa.float64()),
    })
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(
            [f"{a} {b}" for a, b in zip(_pick(rng, ADJ, n_part), _pick(rng, NOUN, n_part))],
            pa.string(),
        ),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": pa.array(_pick(rng, PTYPES, n_part), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2), pa.float64()
        ),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(_pick(rng, ["F", "O", "P"], n_ord), pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord), pa.float64()),
        "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 2)),
        "o_orderpriority": pa.array(_pick(rng, PRIORITIES, n_ord), pa.string()),
    })
    # (l_orderkey, l_linenumber) is a key: queries that ORDER BY it and
    # LIMIT must have one right answer
    line = np.sort(rng.choice(n_ord * 7, n_li, replace=False))
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(line // 7, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(line % 7 + 1, pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64), pa.float64()),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, pa.float64()),
        "l_returnflag": pa.array(_pick(rng, ["A", "N", "R"], n_li), pa.string()),
        "l_linestatus": pa.array(_pick(rng, ["F", "O"], n_li), pa.string()),
        "l_shipdate": _days(rng, n_li, dt.date(1995, 1, 2), dt.date(2001, 11, 5)),
    })
    n_ev = r["events"]
    secs = np.sort(rng.uniform(0.0, 30 * 86_400.0, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(dt.datetime(2024, 1, 1), secs),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": pa.array(_pick(rng, EVENT_TYPES, n_ev), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2) + 0.01, pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string()),
    })
    out["documents"] = documents(rng, r["documents"])
    n_vec = r["embeddings"]
    centers = rng.normal(size=(10, EMB_DIM))
    labels = rng.integers(0, 10, n_vec)
    vecs = centers[labels] + 0.6 * rng.normal(size=(n_vec, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def write_tables(seed: int, out_dir: str, scale: float) -> int:
    """Write the catalog for ``seed`` at ``scale`` times sf0.1 under
    ``out_dir``; returns bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in tables(np.random.default_rng(seed), scale).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total


def ingest_batches(seed: int, out_dir: str, n_batches: int, batch_size: int) -> list[str]:
    """Split one seeded document pool into ``n_batches`` parquet files.

    The seed draws the documents (with near-duplicate families that span
    batches; a third of the copies are exact) and a permutation that
    assigns them to batches, so later batches carry copies of documents
    stored by earlier ones."""
    rng = np.random.default_rng(seed)
    pool = documents(rng, n_batches * batch_size, exact_frac=1 / 3)
    order = rng.permutation(pool.num_rows)
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for b in range(n_batches):
        idx = np.sort(order[b * batch_size:(b + 1) * batch_size])
        path = os.path.join(out_dir, f"batch{b:02d}.parquet")
        pq.write_table(pool.take(pa.array(idx)), path)
        paths.append(path)
    return paths


MESH_FORMATS = ["ascii", "binary", "appended", "appended-raw"]


def meshes(seed: int, out_dir: str, n_meshes: int, grid: int) -> dict[str, dict]:
    """Write ``n_meshes`` triangulated ``grid`` x ``grid`` surfaces as
    .vtu files, cycling through the four VTK XML encodings, with planted
    duplicate points that the cleaning step must merge.

    Returns, per mesh id, what the generator knows: the unique point
    count, the cell count, and the raw ``temp`` and ``pressure`` values
    of every written point (duplicates included)."""
    from physicsnemo_curator_spark.sources.vtk_xml import write_vtu

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    truth: dict[str, dict] = {}
    for m in range(n_meshes):
        ij = np.stack(np.meshgrid(np.arange(grid), np.arange(grid), indexing="ij"), -1)
        ij = ij.reshape(-1, 2).astype(np.float64)
        z = rng.normal(0.0, 0.05, len(ij))
        pts = np.column_stack([ij * 0.01, z])
        cells = []
        for i in range(grid - 1):
            for j in range(grid - 1):
                p = i * grid + j
                cells.append([p, p + grid, p + 1])
                cells.append([p + 1, p + grid, p + grid + 1])
        # duplicates: copies of random points appended at the end, and
        # about half of the cells that touch an original are rewired to
        # its copy, so connectivity remapping has real work
        n_dup = max(1, len(pts) // 20)
        src = rng.choice(len(pts), n_dup, replace=False)
        dup_of = {int(s): len(pts) + k for k, s in enumerate(src)}
        pts = np.vstack([pts, pts[src]])
        for c in cells:
            for slot, v in enumerate(c):
                if v in dup_of and rng.random() < 0.5:
                    c[slot] = dup_of[v]
        temp = rng.normal(300.0, 15.0, len(pts))
        pressure = rng.normal(1.0e5, 2.5e3, len(pts))
        mesh_id = f"mesh{m:03d}"
        write_vtu(
            [tuple(p) for p in pts.tolist()], cells, None,
            {"temp": temp.tolist(), "pressure": pressure.tolist()},
            os.path.join(out_dir, f"{mesh_id}.vtu"),
            fmt=MESH_FORMATS[m % len(MESH_FORMATS)],
        )
        truth[mesh_id] = {
            "unique_points": grid * grid,
            "cells": len(cells),
            "points": len(pts),
            "temp": temp,
            "pressure": pressure,
        }
    return truth
