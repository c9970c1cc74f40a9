"""Session defaults that a long-lived curation session relies on."""

from __future__ import annotations


def _compiles(spark) -> int:
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_keeps_a_warm_working_set(spark):
    # Each plan inlines its literal into the generated code, so 150
    # plans are 150 distinct classes: more than Spark's default cache
    # of 100 holds.  Replaying the first 50 must hit the cache; with the
    # default size they were evicted and every replay recompiles.
    def plan(i):
        return spark.range(10).selectExpr(f"id * {7919 + i} AS x")

    c0 = _compiles(spark)
    for i in range(150):
        plan(i).collect()
    c1 = _compiles(spark)
    assert c1 - c0 >= 150
    for i in range(50):
        plan(i).collect()
    assert _compiles(spark) == c1
