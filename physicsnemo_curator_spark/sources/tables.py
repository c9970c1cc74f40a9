"""Catalog of the benchmark/test tables (TPC-H-ish star schema + events,
documents, embeddings).

Mirrors the reference's registry-of-sources idea (reference
``core/registry.py:26-120``) in the thinnest possible Spark form: names
map to parquet paths under a scale-factor directory; Catalyst handles
pushdown/pruning from there.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from physicsnemo_curator_spark.core.store import memoized_read

TABLE_NAMES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Columns written as parquet TIMESTAMP(NANOS); Spark reads them as long
# (spark.sql.legacy.parquet.nanosAsLong) and we rebuild micros timestamps
# — the same nanos→micros truncation DuckDB applies on read.
_NANO_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}

# Runtime-settable confs the catalog depends on.  Set defensively on
# every load so the tables read correctly from ANY SparkSession (e.g. a
# driver-owned session built without physicsnemo_curator_spark.session),
# not just ours: nanos parquet timestamps would otherwise fail the scan
# outright, and a non-UTC session timezone would shift every timestamp
# relative to the DuckDB oracle.
_REQUIRED_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
}


def _ensure_confs(spark: SparkSession) -> None:
    for k, v in _REQUIRED_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            pass  # non-settable in this deployment; reads may still work
    # If the session carries the stock 200-partition value, right-size
    # shuffles to the local core count — 200 near-empty shuffle
    # partitions dominate wall time on small/medium inputs (AQE
    # coalescing reduces but does not remove the overhead).  The conf
    # API cannot distinguish an EXPLICIT 200 from the untouched
    # default, so a deployment that genuinely wants 200 must either
    # pick any other value or set SPARK_GRAFT_KEEP_SHUFFLE=1.
    try:
        if os.environ.get("SPARK_GRAFT_KEEP_SHUFFLE"):
            return
        if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
            cores = spark.sparkContext.defaultParallelism
            spark.conf.set("spark.sql.shuffle.partitions", str(max(cores, 8)))
    except Exception:
        pass


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table; filters/projections on the result push down to parquet.

    The resolved plan comes from the session plan memo
    (:func:`~physicsnemo_curator_spark.core.store.memoized_read`):
    ``spark.read.parquet`` re-runs driver-side file listing + footer
    schema inference on every call (~100 ms), and a suite loads the
    same static table hundreds of times per session.  A replaced or
    regenerated table changes the path's identity, rebuilds the plan
    and refreshes every persisted frame over the old bytes."""
    _ensure_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    return memoized_read(spark, path, path, lambda: _read_table(spark, path, name))


def _read_table(spark: SparkSession, path: str, name: str) -> DataFrame:
    df = spark.read.parquet(path)
    dtypes = dict(df.dtypes)
    for col in _NANO_TS_COLS.get(name, ()):
        if dtypes.get(col) == "bigint":
            df = df.withColumn(
                col, F.timestamp_micros(F.expr(f"{col} div 1000"))
            )
    # Parquet TIMESTAMP(isAdjustedToUTC=false) reads as TIMESTAMP_NTZ,
    # which rejects casts to numeric and cannot carry a watermark.  With
    # the session pinned to UTC (above), reinterpreting NTZ wall-clock
    # values as UTC instants is exactly what DuckDB does on the same
    # files, so normalize every NTZ column to plain TIMESTAMP here —
    # one boundary cast instead of per-query special cases.
    for col, dtype in dtypes.items():
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` can use it."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
