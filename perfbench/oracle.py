"""DuckDB oracle results for the declared queries, and the output check.

Results are canonicalized as ``tools/verify_oracles.py`` does (columns
sorted by name, rows sorted by all columns) and compared cell by cell:
floats within 1e-6 relative (summation order moves the sixth decimal at
this scale), everything else exactly.  Oracle results are cached once per
input fingerprint, so repeated runs on the same seed skip DuckDB.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
import os

REL_TOL = 1e-6
ABS_TOL = 1e-9
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def canon_value(v):
    """JSON-able canonical form of one cell, from Spark or DuckDB."""
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (dt.datetime, dt.date, dt.time)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return [[canon_value(k), canon_value(v[k])] for k in sorted(v, key=repr)]
    if hasattr(v, "asDict"):  # pyspark Row (struct)
        d = v.asDict()
        return [canon_value(d[k]) for k in sorted(d)]
    if isinstance(v, (list, tuple)):
        return [canon_value(x) for x in v]
    if hasattr(v, "tolist"):  # numpy scalar or array
        return canon_value(v.tolist())
    return str(v)


def _sort_key(v):
    if isinstance(v, float):
        return (1, float(f"{v:.5g}"))
    if isinstance(v, list):
        return (2, [_sort_key(x) for x in v])
    if v is None:
        return (0, 0)
    return (3, str(v)) if isinstance(v, str) else (1, v)


def canon_rows(columns: list[str], rows) -> list[list]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [[canon_value(r[i]) for i in order] for r in rows]
    out.sort(key=lambda r: repr([_sort_key(x) for x in r]))
    return out


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if isinstance(a, (int, float)) and isinstance(b, (int, float)) and not isinstance(a, bool):
            return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)
        return a == b
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def compare(got: list[list], want: list[list]) -> str | None:
    """None when equal within tolerance, else a one-line reason."""
    if len(got) != len(want):
        return f"{len(got)} rows, oracle {len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        if not _close(g, w):
            return f"row {i}: {g!r:.200} != oracle {w!r:.200}"
    return None


def fingerprint(sf_dir: str, sql: dict[str, str]) -> str:
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(sf_dir, f"{t}.parquet"), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update(json.dumps(sql, sort_keys=True).encode())
    return h.hexdigest()[:24]


def oracle_results(sf_dir: str, sql: dict[str, str], cache_dir: str) -> dict[str, dict]:
    """{query: {"columns": [...], "rows": canon rows}}, from the cache when
    this input fingerprint was seen before."""
    path = os.path.join(cache_dir, f"{fingerprint(sf_dir, sql)}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            p = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        out = {}
        for name, text in sql.items():
            res = con.execute(text)
            cols = [d[0] for d in res.description]
            out[name] = {"columns": sorted(cols), "rows": canon_rows(cols, res.fetchall())}
    finally:
        con.close()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as fh:
        json.dump(out, fh)
    os.replace(tmp, path)
    return out
