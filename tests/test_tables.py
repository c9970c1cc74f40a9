"""Session plan-memo tests (core/store.py memoized_read, reached through
sources/tables.py load_table and core/store.py memoized_parquet).

The memo keeps the resolved lazy plan per session keyed on the path's
identity (core/store.py path_ident): schema inference +
file listing ran on EVERY call (~100 ms driver-side) for tables that
never change within a session.  These tests pin the contract: hits
return the same plan object, a regenerated file misses, and the memo
never caches data (a rewritten table's new rows are visible after the
identity changes).
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from physicsnemo_curator_spark.sources.tables import load_table


def _write(path: str, ids: list[int]) -> None:
    pq.write_table(pa.table({"r_regionkey": pa.array(ids, pa.int64())}), path)


def test_load_table_memo_hit_and_identity_miss(spark, tmp_path):
    p = os.path.join(str(tmp_path), "region.parquet")
    _write(p, [1, 2, 3])
    df1 = load_table(spark, str(tmp_path), "region")
    df2 = load_table(spark, str(tmp_path), "region")
    assert df1 is df2, "same path+identity must serve the memoized plan"
    assert df1.count() == 3

    # regenerate with different content: identity changes -> fresh plan,
    # and the NEW rows are what the plan reads (no data caching)
    _write(p, [1, 2, 3, 4, 5])
    os.utime(p, (1_000_000_000, 1_000_000_000))
    df3 = load_table(spark, str(tmp_path), "region")
    assert df3 is not df1
    assert df3.count() == 5

    # the superseded identity entry for the same path was evicted
    cache = spark.__dict__["_pcs_plan_memo"]
    assert sum(1 for k in cache if k[0] == p) == 1


def test_load_table_memo_directory_inplace_rewrite(spark, tmp_path):
    """A directory-backed table whose part file is rewritten IN PLACE
    (same filename — the directory's own stat does not move) must
    still miss the memo: the identity token folds in each child's
    (name, mtime_ns, size)."""
    d = os.path.join(str(tmp_path), "region.parquet")
    os.makedirs(d)
    part = os.path.join(d, "part-0.parquet")
    _write(part, [1, 2, 3])
    os.utime(d, (1_000_000_000, 1_000_000_000))
    assert load_table(spark, str(tmp_path), "region").count() == 3

    _write(part, [1, 2, 3, 4, 5])  # in-place rewrite, same entry name
    os.utime(d, (1_000_000_000, 1_000_000_000))  # pin dir stat unchanged
    assert load_table(spark, str(tmp_path), "region").count() == 5


def test_load_table_memo_is_per_path(spark, tmp_path):
    a = tmp_path / "a"
    b = tmp_path / "b"
    a.mkdir()
    b.mkdir()
    _write(os.path.join(str(a), "region.parquet"), [1])
    _write(os.path.join(str(b), "region.parquet"), [1, 2])
    assert load_table(spark, str(a), "region").count() == 1
    assert load_table(spark, str(b), "region").count() == 2


# --- store plan memo (core/store.py memoized_parquet) ----------------------


def test_memoized_parquet_hit_and_deep_mutation_miss(spark, tmp_path):
    """The store-read memo must hit on an unchanged tree and miss when
    a file mutates BELOW the top level (dynamic partition overwrite
    rewrites files inside an existing partition dir without touching
    the root's entry set) — the failure mode the recursive token
    exists for."""
    from physicsnemo_curator_spark.core.store import memoized_parquet

    store = os.path.join(str(tmp_path), "store")
    sub = os.path.join(store, "_batch=seed")
    os.makedirs(sub)
    part = os.path.join(sub, "part-0.parquet")
    _write(part, [1, 2, 3])

    df1 = memoized_parquet(spark, store)
    df2 = memoized_parquet(spark, store)
    assert df1 is df2, "unchanged tree must serve the memoized plan"
    assert df1.count() == 3

    # in-place rewrite two levels down; pin every DIRECTORY stat so only
    # the leaf file's own (mtime, size) can carry the change
    _write(part, [1, 2, 3, 4, 5])
    for d in (store, sub):
        os.utime(d, (1_000_000_000, 1_000_000_000))
    df3 = memoized_parquet(spark, store)
    assert df3 is not df1
    assert df3.count() == 5

    cache = spark.__dict__["_pcs_plan_memo"]
    assert sum(1 for k in cache if k[0] == store) == 1
