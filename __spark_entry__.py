"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001;
``queries()`` / ``oracle_sql()`` expose every implemented operator from
SURVEY.md §2 with its DuckDB differential oracle (see
``physicsnemo_curator_spark/plans/queries.py``).

The caller owns the session, so static confs that ``get_spark`` sets
before the JVM starts cannot reach it: such a session keeps Spark's
generated-code cache of 100 classes, and warm re-runs of the queries
recompile what ``get_spark`` sessions keep cached.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from physicsnemo_curator_spark.plans import queries as _plans


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the Welford-class moment
    statistics pipeline (the reference's flagship machinery, SURVEY §2.5)."""
    return _plans.q_a1_moment_stats(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator family from SURVEY.md §2."""
    return _plans.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL for each hash-matchable query."""
    return _plans.oracle_sql()
