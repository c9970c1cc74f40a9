"""SparkSession factory tuned for the engine.

Scale posture: these configs are chosen for a 1000-executor / 100 TB
deployment first and local[32] testing second.  AQE handles runtime
re-planning (partition coalescing, skew-join splitting); Arrow makes
every pandas-UDF hop vectorized; UTC session timezone pins timestamp
semantics to match columnar stores and the DuckDB differential oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS: dict[str, str] = {
    # Runtime re-planning: coalesce small shuffle partitions, split skewed
    # ones — replaces the reference's hand-rolled bin-packing/work-stealing
    # (reference run/base.py:316-465, run/process_pool.py:137-170).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every Python<->JVM hop (pandas UDFs, toPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # DuckDB timestamps are UTC-naive; pin Spark to UTC so differential
    # comparisons and partition keys like year(ts) agree.
    "spark.sql.session.timeZone": "UTC",
    # Parquet pushdown & vectorized read are on by default; keep explicit
    # so a misconfigured cluster profile can't silently disable them.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.enableVectorizedReader": "true",
    # At 100 TB the default 128 MB split is fine; local tests override
    # shuffle partitions to core count via get_spark(cores=...).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Read TIMESTAMP(NANOS) parquet columns as long; the table catalog
    # rebuilds them as micros timestamps (DuckDB-equivalent truncation).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Generated-class cache sized to a long-lived session's working set.
    # Spark's default LRU of 100 is smaller than one warm pass of either
    # perfbench workload, so every warm pass recompiled every class.
    # Janino compiles per repeat pass, 100 -> 4096: relational ~130 -> 0,
    # an ingest_batches op ~245 -> 0-36 (AQE re-plans renumber codegen
    # stages); bench.py's 162 queries compile ~2380 classes, and their
    # repeat pass recompiles 1600 at 2048 entries and 20 at 4096
    # (BENCH_NOTES.md).  A static conf: it applies only when this
    # builder starts the JVM, so a session built elsewhere keeps 100.
    "spark.sql.codegen.cache.maxEntries": "4096",
}


def _driver_mem() -> str:
    """Local-mode heap: a quarter of physical RAM, clamped to [8g, 64g].

    In local mode the driver JVM IS the whole cluster — all 32 task
    slots share its heap.  A fixed 8g was measured GC-thrashing a
    61-query session at sf1 (~180 MB parquet): suite wall time 274 s vs
    174 s with a right-sized heap, with individual queries degrading up
    to 11x (BENCH_NOTES.md, scale soak).  On a real cluster this is
    irrelevant — spark-submit sizes executors — so the env override
    stays authoritative.
    """
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return override
    try:
        total_gb = (
            os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
        ) // (1 << 30)
    except (ValueError, OSError):
        total_gb = 32
    return f"{max(8, min(64, int(total_gb) // 4))}g"


def get_spark(
    app_name: str = "physicsnemo-curator-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a
    real cluster leave it unset and submit through spark-submit.
    ``shuffle_partitions`` defaults to the local core count so tiny
    local runs don't fan out into 200 empty partitions.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    builder = builder.config("spark.driver.memory", _driver_mem())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    """Stop the active session if any (test teardown helper)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
