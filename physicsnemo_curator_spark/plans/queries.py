"""Declared correctness queries (SURVEY.md §2.9) + DuckDB oracles.

Every entry exercises one operator family from the inventory in
SURVEY.md §2, implemented through the operator library and checked
against an equivalent DuckDB SQL oracle (same column names, floats
rounded identically on both sides so the driver's order-insensitive
value hash is stable).

Numeric policy for oracle-matched outputs:
- counts / min / max: exact, no rounding (no FP arithmetic involved);
- means / ratios / moments on O(1..100) values: ROUND(x, 6);
- large-magnitude sums: ROUND(x, 2) (engines sum doubles in different
  orders; the residual is << 0.005 for these group sizes);
- Spark's population skew/kurtosis reproduced in DuckDB via two-pass
  central moments (DuckDB's built-ins are sample-corrected).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from physicsnemo_curator_spark.core.store import path_ident, release
from physicsnemo_curator_spark.functions import math as M
from physicsnemo_curator_spark.operators import (
    components,
    dedup,
    sampling,
    similarity,
    stats,
    textops,
    timeseries,
)
from physicsnemo_curator_spark.sources.tables import load_table

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    spark: SparkQuery
    oracle: str | None  # None → driver records rows-only check
    doc: str = ""
    # Production-path twin for the benchmark.  Some declared queries
    # deliberately run an engine-reproducible slow variant (md5 hashes,
    # exact all-pairs) so the DuckDB oracle can replay them bit-for-bit;
    # ``bench`` points at the xxhash64/banded variant a real deployment
    # would run (each has its own equivalence/recall test).  The bench
    # harness times ``bench or spark``; the correctness gate always
    # checks ``spark`` vs ``oracle``.
    bench: SparkQuery | None = None


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _r6(c, name):
    return F.round(c, 6).alias(name)


# --------------------------------------------------------------------------
# Aggregations (SURVEY §2.5 — MeshStats/DataArrayStats/Mean/Quality filters)
# --------------------------------------------------------------------------


def q_a1_moment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MeshStatsFilter semantics (reference domains/mesh/filters/stats.py:
    232-498): per-group count/mean/min/max/stddev_pop/var_pop/skew/
    excess-kurtosis/abs_mean/abs_max, single partial+final aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    s = stats.moment_stats(li, ["l_returnflag"], "l_quantity")
    return s.select(
        "l_returnflag",
        "n",
        _r6(F.col("mean"), "mean"),
        F.col("min_v"),
        F.col("max_v"),
        _r6(F.col("stddev_pop_v"), "stddev_pop_v"),
        _r6(F.col("var_pop_v"), "var_pop_v"),
        _r6(F.col("skew_v"), "skew_v"),
        _r6(F.col("kurt_v"), "kurt_v"),
        _r6(F.col("abs_mean"), "abs_mean"),
        F.col("abs_max"),
    ).orderBy("l_returnflag")


ORACLE_A1 = """
WITH m AS (SELECT l_returnflag g, AVG(l_quantity) mu FROM lineitem GROUP BY 1),
a AS (
  SELECT l.l_returnflag,
         CAST(COUNT(*) AS BIGINT) n,
         AVG(l.l_quantity) mean,
         MIN(l.l_quantity) min_v,
         MAX(l.l_quantity) max_v,
         AVG((l.l_quantity - mu) * (l.l_quantity - mu)) m2,
         AVG(POW(l.l_quantity - mu, 3)) m3,
         AVG(POW(l.l_quantity - mu, 4)) m4,
         AVG(ABS(l.l_quantity)) abs_mean,
         MAX(ABS(l.l_quantity)) abs_max
  FROM lineitem l JOIN m ON l.l_returnflag = m.g GROUP BY 1)
SELECT l_returnflag, n, ROUND(mean, 6) mean, min_v, max_v,
       ROUND(SQRT(m2), 6) stddev_pop_v, ROUND(m2, 6) var_pop_v,
       ROUND(m3 / POW(m2, 1.5), 6) skew_v,
       ROUND(m4 / (m2 * m2) - 3, 6) kurt_v,
       ROUND(abs_mean, 6) abs_mean, abs_max
FROM a ORDER BY l_returnflag
"""


def q_a2_elementwise_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataArrayStatsFilter semantics (reference domains/da/filters/
    stats.py:47-483): per-cell stats reduced over the remaining dims."""
    li = _t(spark, sf_dir, "lineitem").withColumn("cell", F.col("l_partkey") % 1000)
    s = stats.elementwise_stats(li, ["cell"], "l_quantity")
    return s.select(
        "cell",
        _r6(F.col("mean"), "mean"),
        _r6(F.col("var_pop_v"), "var_pop_v"),
        F.col("min_v"),
        F.col("max_v"),
        "n",
    ).orderBy("cell")


ORACLE_A2 = """
SELECT l_partkey % 1000 AS cell,
       ROUND(AVG(l_quantity), 6) mean,
       ROUND(VAR_POP(l_quantity), 6) var_pop_v,
       MIN(l_quantity) min_v, MAX(l_quantity) max_v,
       CAST(COUNT(*) AS BIGINT) n
FROM lineitem GROUP BY cell ORDER BY cell
"""


def q_a3_pivot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MeanFilter dynamic-column semantics (reference domains/mesh/
    filters/mean.py:123-135): pivot to a wide, NULL-filled table."""
    orders = _t(spark, sf_dir, "orders")
    wide = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .na.fill(0)
    )
    return wide.select(
        "o_orderpriority",
        F.col("F").alias("f_cnt"),
        F.col("O").alias("o_cnt"),
        F.col("P").alias("p_cnt"),
    ).orderBy("o_orderpriority")


ORACLE_A3 = """
SELECT o_orderpriority,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) f_cnt,
       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) o_cnt,
       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) p_cnt
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q_a10_pivot_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MeanFilter's wide dynamic-column form (reference mean.py:123-135):
    per-group mean pivoted to one column per field value, NULL-filled."""
    orders = _t(spark, sf_dir, "orders")
    wide = stats.spatial_mean(
        orders.select(
            F.col("o_orderpriority").alias("id"),
            F.col("o_orderstatus").alias("field"),
            F.col("o_totalprice").alias("value"),
        ),
        "id",
        "field",
        "value",
    )
    return wide.select(
        F.col("id").alias("o_orderpriority"),
        F.round("F", 4).alias("avg_f"),
        F.round("O", 4).alias("avg_o"),
        F.round("P", 4).alias("avg_p"),
    ).orderBy("o_orderpriority")


ORACLE_A10 = """
SELECT o_orderpriority,
       ROUND(AVG(o_totalprice) FILTER (o_orderstatus = 'F'), 4) avg_f,
       ROUND(AVG(o_totalprice) FILTER (o_orderstatus = 'O'), 4) avg_o,
       ROUND(AVG(o_totalprice) FILTER (o_orderstatus = 'P'), 4) avg_p
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q_str2_like_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-predicate scan: LIKE '%...%' compiles to a pushed
    StringContains filter at the parquet reader."""
    part = _t(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_type").like("%BRASS%"))
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("p_brand")
    )


ORACLE_STR2 = """
SELECT p_brand, CAST(COUNT(*) AS BIGINT) cnt
FROM part WHERE p_type LIKE '%BRASS%'
GROUP BY p_brand ORDER BY p_brand
"""


def q_sketch_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL cardinality (operators/sketches.py): per-type
    distinct users via DataSketches HLL, gated against the exact count
    — est_ok flips false (and the hash breaks) if the estimate drifts
    past the 5 % bound, so the driver check is meaningful even though
    the estimate itself is not SQL-reproducible."""
    from physicsnemo_curator_spark.operators import sketches

    ev = _t(spark, sf_dir, "events")
    est = sketches.estimate_distinct(
        sketches.distinct_sketches(ev, ["event_type"], "user_id")
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return (
        exact.join(est, "event_type")
        .select(
            "event_type",
            "n_exact",
            (
                F.abs(F.col("n_distinct") - F.col("n_exact"))
                / F.col("n_exact")
                < 0.05
            ).alias("est_ok"),
        )
        .orderBy("event_type")
    )


ORACLE_SKETCH_DISTINCT = """
SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
       TRUE AS est_ok
FROM events GROUP BY 1 ORDER BY event_type
"""


def q_sketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketches (operators/sketches.py): per-flag
    fixed-bin histograms built on TWO disjoint batches, merged by
    elementwise array addition (the mergeability percentile_approx's
    hidden GK state lacks), then interpolated quantile estimates —
    every step is deterministic arithmetic the DuckDB oracle replays
    by binning the full table directly (counts add, so batch-merge ≡
    whole-table binning, which is exactly the property being gated)."""
    from physicsnemo_curator_spark.operators import sketches

    li = _t(spark, sf_dir, "lineitem")
    b1 = li.filter(F.col("l_orderkey") % 2 == 0)
    b2 = li.filter(F.col("l_orderkey") % 2 == 1)
    mk = lambda b: sketches.value_histograms(
        b, ["l_returnflag"], "l_quantity", lo=0.0, hi=64.0, n_bins=64
    )
    merged = sketches.merge_histogram_tables(
        mk(b1).unionByName(mk(b2)), ["l_returnflag"]
    )
    out = sketches.histogram_quantiles(
        merged, ["l_returnflag"], [0.25, 0.5, 0.9], lo=0.0, hi=64.0
    )
    return out.select(
        "l_returnflag", "quantile", _r6(F.col("estimate"), "estimate")
    ).orderBy("l_returnflag", "quantile")


ORACLE_SKETCH_QUANTILES = """
WITH b AS (
  SELECT l_returnflag, CAST(FLOOR(l_quantity) AS INT) AS bin, COUNT(*) c
  FROM lineitem GROUP BY 1, 2),
r AS (
  SELECT l_returnflag, bin, c,
         SUM(c) OVER (PARTITION BY l_returnflag ORDER BY bin) cum,
         SUM(c) OVER (PARTITION BY l_returnflag) n
  FROM b),
q AS (SELECT CAST(x AS DOUBLE) q FROM (VALUES (0.25), (0.5), (0.9)) v(x)),
hit AS (
  SELECT r.l_returnflag, q.q, r.bin, r.c, r.cum, r.n,
         GREATEST(CAST(CEIL(q.q * r.n) AS BIGINT), 1) target
  FROM r CROSS JOIN q)
SELECT l_returnflag, q AS quantile,
       ROUND(CAST(bin AS DOUBLE)
             + CAST(target - (cum - c) AS DOUBLE) / CAST(c AS DOUBLE),
             6) AS estimate
FROM hit
WHERE cum >= target AND cum - c < target
ORDER BY l_returnflag, quantile
"""


def q_sketch_bloom(
    spark: SparkSession, sf_dir: str, hash_fn: str = "md5"
) -> DataFrame:
    """Mergeable Bloom-filter membership (operators/sketches.py): the
    crawl-scale "seen before?" primitive — build one fixed-size filter
    per order priority over its customer keys, probe a customer slice
    without shuffling it (filters broadcast), and report per group
    n_probed / n_maybe / n_true / no_false_neg.  The md5 position
    derivation is fully deterministic, so the DuckDB oracle replays
    membership EXACTLY (a probe key is 'maybe' iff each of its k bit
    positions was set by some build key — set containment in SQL);
    n_true is the exact semi-join answer, so n_maybe - n_true is the
    measured false-positive count under the design bound.  The benched
    twin keys positions on xxhash64 (fixed-width, no hex)."""
    from physicsnemo_curator_spark.operators import sketches

    n_bits, k = 16384, 4
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    build = orders.select(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_custkey").alias("key"),
    )
    bf = sketches.bloom_filters(
        build, ["priority"], "key", n_bits=n_bits, k=k, hash_fn=hash_fn
    )
    probes = (
        customer.filter(F.col("c_custkey") < 1000)
        .select(F.col("c_custkey").alias("key"))
        .crossJoin(build.select("priority").distinct())
    )
    probed = sketches.bloom_might_contain(
        bf, probes, ["priority"], "key", n_bits=n_bits, k=k, hash_fn=hash_fn
    )
    truth = (
        build.filter(F.col("key") < 1000)
        .distinct()
        .withColumn("has_orders", F.lit(True))
    )
    return (
        probed.join(truth, ["priority", "key"], "left")
        .groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n_probed"),
            F.sum(F.col("might_contain").cast("int"))
            .cast("bigint")
            .alias("n_maybe"),
            F.sum(F.coalesce(F.col("has_orders"), F.lit(False)).cast("int"))
            .cast("bigint")
            .alias("n_true"),
            F.every(
                F.col("might_contain")
                | ~F.coalesce(F.col("has_orders"), F.lit(False))
            ).alias("no_false_neg"),
        )
        .orderBy("priority")
    )


ORACLE_SKETCH_BLOOM = """
WITH build AS (
  SELECT DISTINCT o_orderpriority g, CAST(o_custkey AS VARCHAR) kk
  FROM orders),
probe AS (
  SELECT g, CAST(c_custkey AS VARCHAR) kk, c_custkey ck
  FROM (SELECT DISTINCT g FROM build),
       (SELECT c_custkey FROM customer WHERE c_custkey < 1000)),
seeds AS (SELECT unnest(range(0, 4)) i),
set_bits AS (
  SELECT DISTINCT g,
         CAST(CAST(concat('0x', substr(md5(i || ':' || kk), 1, 15)) AS BIGINT)
              % 16384 AS INT) pos
  FROM build, seeds),
probe_bits AS (
  SELECT g, kk,
         CAST(CAST(concat('0x', substr(md5(i || ':' || kk), 1, 15)) AS BIGINT)
              % 16384 AS INT) pos
  FROM probe, seeds),
maybe AS (
  SELECT p.g, p.kk, BOOL_AND(s.pos IS NOT NULL) ok
  FROM probe_bits p
  LEFT JOIN set_bits s ON p.g = s.g AND p.pos = s.pos
  GROUP BY p.g, p.kk),
truth AS (SELECT g, kk FROM build WHERE CAST(kk AS BIGINT) < 1000)
SELECT m.g priority,
       CAST(COUNT(*) AS BIGINT) n_probed,
       CAST(SUM(CASE WHEN m.ok THEN 1 ELSE 0 END) AS BIGINT) n_maybe,
       CAST(SUM(CASE WHEN t.kk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) n_true,
       BOOL_AND(m.ok OR t.kk IS NULL) no_false_neg
FROM maybe m LEFT JOIN truth t ON m.g = t.g AND m.kk = t.kk
GROUP BY m.g ORDER BY priority
"""


def q_sketch_cms(
    spark: SparkSession, sf_dir: str, hash_fn: str = "md5"
) -> DataFrame:
    """Mergeable count-min frequency sketches (operators/sketches.py):
    bounded-memory per-key counts — build one depth×width counter grid
    per returnflag over supplier keys, probe a key slice against the
    broadcast sketches, and report estimate vs exact count with the
    never-undercount contract as a verified column.  The md5 position
    derivation is deterministic, so the DuckDB oracle replays every
    counter (sum per (group, row, column)) and every min-over-rows
    estimate EXACTLY; true_count is the exact aggregate, so the
    overestimate error is measured.  The benched twin hashes with
    xxhash64."""
    from physicsnemo_curator_spark.operators import sketches

    depth, width = 4, 1024
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"), F.col("l_suppkey").alias("key")
    )
    cms = sketches.cms_sketches(
        li, ["flag"], "key", depth=depth, width=width, hash_fn=hash_fn
    )
    probes = li.filter(F.col("key") < 40).distinct()
    est = sketches.cms_estimate(
        cms, probes, ["flag"], "key", depth=depth, width=width, hash_fn=hash_fn
    )
    truth = (
        li.filter(F.col("key") < 40)
        .groupBy("flag", "key")
        .agg(F.count(F.lit(1)).alias("true_count"))
    )
    return (
        est.join(truth, ["flag", "key"])
        .select(
            "flag",
            "key",
            F.col("est_count").cast("bigint").alias("est_count"),
            F.col("true_count").cast("bigint").alias("true_count"),
            (F.col("est_count") >= F.col("true_count")).alias("no_undercount"),
        )
        .orderBy("flag", "key")
    )


ORACLE_SKETCH_CMS = """
WITH li AS (
  SELECT l_returnflag g, CAST(l_suppkey AS VARCHAR) kk, l_suppkey sk
  FROM lineitem),
seeds AS (SELECT unnest(range(0, 4)) r),
build AS (
  SELECT g, r,
         CAST(CAST(concat('0x', substr(md5(r || ':' || kk), 1, 15)) AS BIGINT)
              % 1024 AS INT) col,
         COUNT(*) c
  FROM li, seeds GROUP BY 1, 2, 3),
probe AS (SELECT DISTINCT g, kk, sk FROM li WHERE sk < 40),
pb AS (
  SELECT g, kk, sk, r,
         CAST(CAST(concat('0x', substr(md5(r || ':' || kk), 1, 15)) AS BIGINT)
              % 1024 AS INT) col
  FROM probe, seeds),
est AS (
  SELECT p.g, p.sk, MIN(COALESCE(b.c, 0)) e
  FROM pb p LEFT JOIN build b ON p.g = b.g AND p.r = b.r AND p.col = b.col
  GROUP BY p.g, p.sk),
truth AS (SELECT g, sk, COUNT(*) cnt FROM li WHERE sk < 40 GROUP BY 1, 2)
SELECT e.g flag, e.sk "key",
       CAST(e.e AS BIGINT) est_count,
       CAST(t.cnt AS BIGINT) true_count,
       e.e >= t.cnt no_undercount
FROM est e JOIN truth t ON e.g = t.g AND e.sk = t.sk
ORDER BY flag, "key"
"""


def q_a11_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k heavy hitters (curation: dominant sources/dup groups);
    the freqItems sketch variant is validated separately in tests."""
    docs = _t(spark, sf_dir, "documents")
    return stats.heavy_hitters(docs, "source", k=5)


ORACLE_A11 = """
SELECT source, CAST(COUNT(*) AS BIGINT) cnt
FROM documents GROUP BY source ORDER BY cnt DESC, source LIMIT 5
"""


def q_a4_conditional_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MeshQualityFilter report semantics (reference domains/mesh/filters/
    quality.py:434-836): per-group count_if + companion aggregates."""
    li = _t(spark, sf_dir, "lineitem")
    out = stats.conditional_counts(
        li,
        ["l_linestatus"],
        {"high_tax_cnt": F.col("l_tax") > 0.05},
        {
            "sum_qty": F.round(F.sum("l_quantity"), 4),
            "avg_disc": F.round(F.avg("l_discount"), 6),
        },
    )
    return out.orderBy("l_linestatus")


ORACLE_A4 = """
SELECT l_linestatus,
       CAST(COUNT_IF(l_tax > 0.05) AS BIGINT) high_tax_cnt,
       ROUND(SUM(l_quantity), 4) sum_qty,
       ROUND(AVG(l_discount), 6) avg_disc
FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus
"""


def q_a5_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (north-star dedup accounting)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
    )


ORACLE_A5 = """
SELECT CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) n_supp,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) n_part
FROM lineitem
"""


def q_a6_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets / rollup over a 3-table join (free in Catalyst;
    absent in the reference — SURVEY §2.5 'missing vs standard')."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    j = orders.join(
        customer, orders.o_custkey == customer.c_custkey
    ).join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
    return (
        j.rollup("n_name", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.asc_nulls_first("n_name"), F.asc_nulls_first("o_orderpriority"))
    )


ORACLE_A6 = """
SELECT n_name, o_orderpriority, CAST(COUNT(*) AS BIGINT) cnt
FROM orders JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
GROUP BY ROLLUP(n_name, o_orderpriority)
ORDER BY n_name NULLS FIRST, o_orderpriority NULLS FIRST
"""


def q_a9_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (the other half of the grouping-sets family
    next to q_a6_rollup — both free in Catalyst, absent in the
    reference)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        )
        .orderBy(
            F.asc_nulls_first("l_returnflag"), F.asc_nulls_first("l_linestatus")
        )
    )


ORACLE_A9 = """
SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) cnt,
       ROUND(SUM(l_quantity), 4) sum_qty
FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
"""


def q_a12_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the general form behind rollup/cube
    (q_a6/q_a9); expressed through spark.sql because the DataFrame API
    exposes only the rollup/cube shorthands."""
    from physicsnemo_curator_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
               ROUND(SUM(l_quantity), 4) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
        """
    )


ORACLE_A12 = """
SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) cnt,
       ROUND(SUM(l_quantity), 4) sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
"""


def q_a7_distinct_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact fallback for approx_count_distinct (the approximate path is
    validated with an rsd bound in tests, not hash-matched)."""
    return _t(spark, sf_dir, "orders").agg(
        F.countDistinct("o_custkey").alias("n_cust")
    )


ORACLE_A7 = "SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) n_cust FROM orders"


def q_a8_welford_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resumable mergeable moment state finalized to stats (reference
    persists Welford state n/mean/M2/M3/M4, stats.py:96-102; we persist
    power sums and finalize — SURVEY §7 'what's hard')."""
    li = _t(spark, sf_dir, "lineitem")
    state = stats.welford_state(li, ["l_returnflag"], "l_quantity")
    out = stats.finalize_welford_state(state, ["l_returnflag"])
    return out.select(
        "l_returnflag",
        "n",
        _r6(F.col("mean"), "mean"),
        _r6(F.col("var_pop_v"), "var_pop_v"),
        _r6(F.col("skew_v"), "skew_v"),
        _r6(F.col("kurt_v"), "kurt_v"),
    ).orderBy("l_returnflag")


ORACLE_A8 = """
WITH s AS (
  SELECT l_returnflag, CAST(COUNT(l_quantity) AS BIGINT) n,
         SUM(l_quantity) s1, SUM(l_quantity*l_quantity) s2,
         SUM(POW(l_quantity,3)) s3, SUM(POW(l_quantity,4)) s4
  FROM lineitem GROUP BY 1),
f AS (
  SELECT l_returnflag, n, s1/n mean,
         s2/n - (s1/n)*(s1/n) m2,
         s3/n - 3*(s1/n)*s2/n + 2*POW(s1/n,3) m3,
         s4/n - 4*(s1/n)*s3/n + 6*POW(s1/n,2)*s2/n - 3*POW(s1/n,4) m4
  FROM s)
SELECT l_returnflag, n, ROUND(mean,6) mean,
       ROUND(GREATEST(m2, 0), 6) var_pop_v,
       ROUND(CASE WHEN m2 <= 0 THEN 0 ELSE m3/POW(m2,1.5) END, 6) skew_v,
       ROUND(CASE WHEN m2 <= 0 THEN 0 ELSE m4/(m2*m2)-3 END, 6) kurt_v
FROM f ORDER BY l_returnflag
"""


# --------------------------------------------------------------------------
# Joins (SURVEY §2.3/§2.6 — structural ops are joins in disguise)
# --------------------------------------------------------------------------


def q_j1_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-geometry/metadata broadcast join (reference ns_cylinder.py:
    70-297, ahmedml.py:65-70): small dims broadcast, no fact shuffle."""
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    j = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return (
        j.groupBy("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_cust"))
        .orderBy("r_name", "n_name")
    )


ORACLE_J1 = """
SELECT r_name, n_name, CAST(COUNT(*) AS BIGINT) n_cust
FROM customer JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name ORDER BY r_name, n_name
"""


def q_j2_point_to_cell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PointDataToCellData join+group shape (reference point_data_to_cell
    .py:39-226): child rows averaged onto the parent key."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    j = orders.join(li, orders.o_orderkey == li.l_orderkey)
    return (
        j.groupBy("o_orderkey")
        .agg(_r6(F.avg(F.col("l_extendedprice") * (1 - F.col("l_discount"))), "avg_rev"))
        .orderBy("o_orderkey")
        .limit(100)
    )


ORACLE_J2 = """
SELECT o_orderkey, ROUND(AVG(l_extendedprice * (1 - l_discount)), 6) avg_rev
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderkey ORDER BY o_orderkey LIMIT 100
"""


def q_j3_scatter_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Node-thickness scatter-average shape (reference d3plot.py:230-280):
    explode element values to nodes, mean over incidence."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .agg(_r6(F.avg("l_quantity"), "avg_qty"))
        .orderBy("l_suppkey")
    )


ORACLE_J3 = """
SELECT l_suppkey, ROUND(AVG(l_quantity), 6) avg_qty
FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey
"""


def q_j4_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/theta join (declared for coverage — reference has none)."""
    customer = _t(spark, sf_dir, "customer")
    events = _t(spark, sf_dir, "events")
    j = customer.join(
        events,
        (events.user_id == customer.c_custkey)
        & (events.value >= customer.c_acctbal * 0.1)
        & (events.value <= customer.c_acctbal),
    )
    return (
        j.groupBy("c_custkey")
        .agg(F.count("event_id").alias("n_events"))
        .orderBy("c_custkey")
        .limit(100)
    )


ORACLE_J4 = """
SELECT c_custkey, CAST(COUNT(e.event_id) AS BIGINT) n_events
FROM customer c JOIN events e
  ON e.user_id = c.c_custkey AND e.value BETWEEN c.c_acctbal * 0.1 AND c.c_acctbal
GROUP BY c_custkey ORDER BY c_custkey LIMIT 100
"""


def q_j5_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join — unused-point retention (reference clean.py:39-187)."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    kept = part.join(li, part.p_partkey == li.l_partkey, "left_semi")
    return kept.agg(F.count(F.lit(1)).alias("n_used"))


ORACLE_J5 = """
SELECT CAST(COUNT(*) AS BIGINT) n_used FROM part
WHERE p_partkey IN (SELECT l_partkey FROM lineitem)
"""


def q_j6_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join — cells touching dropped nodes (reference wall_node.py:
    103-154)."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    dropped = part.join(li, part.p_partkey == li.l_partkey, "left_anti")
    return dropped.agg(F.count(F.lit(1)).alias("n_unused"))


ORACLE_J6 = """
SELECT CAST(COUNT(*) AS BIGINT) n_unused FROM part
WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem WHERE l_partkey IS NOT NULL)
"""


# --------------------------------------------------------------------------
# Set operations (boundary merge / dedup — SURVEY §2.6)
# --------------------------------------------------------------------------


def q_s2_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    customer = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    return orders.intersect(customer).orderBy("k").limit(100)


ORACLE_S2 = """
SELECT o_custkey k FROM orders INTERSECT SELECT c_custkey FROM customer
ORDER BY k LIMIT 100
"""


def q_s3_edge_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unique-undirected-edge derivation (reference edge_compute.py:40-136):
    normalize (least, greatest), distinct."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.select(
            F.least("l_partkey", "l_suppkey").alias("a"),
            F.greatest("l_partkey", "l_suppkey").alias("b"),
        )
        .distinct()
        .orderBy("a", "b")
        .limit(100)
    )


ORACLE_S3 = """
SELECT DISTINCT LEAST(l_partkey, l_suppkey) a, GREATEST(l_partkey, l_suppkey) b
FROM lineitem ORDER BY a, b LIMIT 100
"""


def q_s4_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL with a region tag (reference DomainMesh boundary merge,
    boundaries/inject.py:40-75)."""
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("k"), F.lit("customer").alias("src")
    )
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("k"), F.lit("supplier").alias("src")
    )
    return c.unionByName(s).groupBy("k").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.countDistinct("src").alias("n_src"),
    ).orderBy("k")


ORACLE_S4 = """
SELECT k, CAST(COUNT(*) AS BIGINT) cnt, CAST(COUNT(DISTINCT src) AS BIGINT) n_src
FROM (SELECT c_nationkey k, 'customer' src FROM customer
      UNION ALL SELECT s_nationkey, 'supplier' FROM supplier)
GROUP BY k ORDER BY k
"""


def q_s5_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    return s.subtract(c).orderBy("k")


ORACLE_S5 = """
SELECT s_nationkey k FROM supplier EXCEPT SELECT c_nationkey FROM customer
ORDER BY k
"""


# --------------------------------------------------------------------------
# Window functions (remap / permutation / prefix-sum — SURVEY §2.6)
# --------------------------------------------------------------------------


def q_w1_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense renumbering (reference wall_node.py:137-138 index map)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.select("o_orderkey", F.row_number().over(w).alias("rn"))
        .orderBy("o_orderkey")
        .limit(100)
    )


ORACLE_W1 = """
SELECT o_orderkey,
       CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INT) rn
FROM orders ORDER BY o_orderkey LIMIT 100
"""


def q_w2_prefix_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-sum offsets (reference AtomicData Zarr pre-allocation,
    atm/sinks/zarr_writer.py:209+).  Two-phase distributed cumsum —
    a global Window.orderBy would put every order in one task; the
    inclusive sum is the exclusive distributed prefix plus the row's
    own value."""
    from physicsnemo_curator_spark.operators.ranking import (
        distributed_prefix_sum,
    )

    orders = _t(spark, sf_dir, "orders")
    pre = distributed_prefix_sum(
        orders.select("o_orderkey", "o_totalprice"),
        "o_totalprice",
        [F.asc("o_orderkey")],
        name="_pre",
    )
    return (
        pre.select(
            "o_orderkey",
            F.round(F.col("_pre") + F.col("o_totalprice"), 2).alias("cum_total"),
        )
        .orderBy("o_orderkey")
        .limit(100)
    )


ORACLE_W2 = """
SELECT o_orderkey,
       ROUND(SUM(o_totalprice) OVER
         (ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) cum_total
FROM orders ORDER BY o_orderkey LIMIT 100
"""


def q_w3_delta_vs_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Displacement delta vs t0 (reference wall_node.py:93-99 uses the
    first-timestep sample as the baseline)."""
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.select(
            "user_id",
            "event_id",
            _r6(F.col("value") - F.first("value").over(w), "delta"),
        )
        .orderBy("user_id", "event_id")
        .limit(100)
    )


ORACLE_W3 = """
SELECT user_id, event_id,
       ROUND(value - FIRST_VALUE(value) OVER
         (PARTITION BY user_id ORDER BY ts, event_id), 6) delta
FROM events ORDER BY user_id, event_id LIMIT 100
"""


def q_w5_group_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise z-score normalization (a curation staple: normalize a
    field within its group) — window aggregate functions (avg/stddev
    over partition), the remaining window class after W1-W4."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag")
    mu = F.avg("l_quantity").over(w)
    sd = F.stddev_pop("l_quantity").over(w)
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            _r6((F.col("l_quantity") - mu) / sd, "qty_z"),
        )
        .orderBy("l_orderkey", "l_linenumber")
        .limit(200)
    )


ORACLE_W5 = """
SELECT l_orderkey, l_linenumber,
       ROUND((l_quantity - AVG(l_quantity) OVER w)
             / STDDEV_POP(l_quantity) OVER w, 6) qty_z
FROM lineitem WINDOW w AS (PARTITION BY l_returnflag)
ORDER BY l_orderkey, l_linenumber LIMIT 200
"""


# --------------------------------------------------------------------------
# Sort / top-k
# --------------------------------------------------------------------------


def q_t1_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("rev"))
        .orderBy(F.desc("rev"), F.asc("l_orderkey"))
        .limit(10)
    )


ORACLE_T1 = """
SELECT l_orderkey, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) rev
FROM lineitem GROUP BY l_orderkey ORDER BY rev DESC, l_orderkey LIMIT 10
"""


# --------------------------------------------------------------------------
# Scalar / date / string / array / json kernels (SURVEY §2.4)
# --------------------------------------------------------------------------


def q_m1_von_mises(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Von Mises kernel shape (reference openradioss.py:64-84) as a pure
    column expression over proxy columns."""
    li = _t(spark, sf_dir, "lineitem")
    zero = F.lit(0.0)
    vm = M.von_mises(
        F.col("l_tax"), F.col("l_discount"), zero, F.col("l_discount"), zero, zero
    )
    return (
        li.select("l_orderkey", "l_linenumber", _r6(vm, "vm"))
        .orderBy("l_orderkey", "l_linenumber")
        .limit(100)
    )


ORACLE_M1 = """
SELECT l_orderkey, l_linenumber,
       ROUND(SQRT(0.5 * ((l_tax - l_discount) * (l_tax - l_discount)
                         + l_discount * l_discount + l_tax * l_tax)
                  + 3.0 * l_discount * l_discount), 6) vm
FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 100
"""


def q_m2_validity_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NaN/Inf/validity tallies (reference quality.py:692-738) as count_if."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count_if(F.col("l_discount") > F.col("l_tax")).alias("disc_gt_tax"),
        F.count_if(F.col("l_quantity") >= 25).alias("qty_ge_25"),
        F.count_if(F.isnan(F.col("l_quantity"))).alias("nan_qty"),
    )


ORACLE_M2 = """
SELECT CAST(COUNT_IF(l_discount > l_tax) AS BIGINT) disc_gt_tax,
       CAST(COUNT_IF(l_quantity >= 25) AS BIGINT) qty_ge_25,
       CAST(COUNT_IF(isnan(l_quantity)) AS BIGINT) nan_qty
FROM lineitem
"""


def q_d1_year_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year split key (reference netcdf_writer.py:54-71 year-based file
    splitting) — also the partitionBy expression for the NetCDF sink."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.year("o_orderdate").cast("int").alias("y"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("y")
    )


ORACLE_D1 = """
SELECT CAST(YEAR(o_orderdate) AS INT) y, CAST(COUNT(*) AS BIGINT) cnt
FROM orders GROUP BY y ORDER BY y
"""


def q_str1_string_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    return (
        customer.select(
            "c_custkey",
            F.upper(F.substring("c_name", 1, 8)).alias("name8"),
            F.length("c_name").alias("name_len"),
            F.concat_ws("_", "c_mktsegment", "c_name").alias("seg_name"),
        )
        .orderBy("c_custkey")
        .limit(100)
    )


ORACLE_STR1 = """
SELECT c_custkey, UPPER(SUBSTRING(c_name, 1, 8)) name8,
       CAST(LENGTH(c_name) AS INT) name_len,
       CONCAT(c_mktsegment, '_', c_name) seg_name
FROM customer ORDER BY c_custkey LIMIT 100
"""


def q_str3_regexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex surface (extract / replace / split-index) — the pattern
    layer behind the reference's glob key-filters and the text-pipeline
    tokenizers, as plain codegen expressions."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    j = customer.join(orders, customer.c_custkey == orders.o_custkey)
    return (
        j.select(
            "o_orderkey",
            F.regexp_extract("c_name", r"([0-9]+)$", 1).alias("name_num"),
            F.regexp_replace("c_name", "[0-9]", "x").alias("masked"),
            F.split(F.col("o_orderpriority"), "-").getItem(0).alias("prio_code"),
        )
        .orderBy("o_orderkey")
        .limit(100)
    )


ORACLE_STR3 = """
SELECT o_orderkey, regexp_extract(c_name, '([0-9]+)$', 1) name_num,
       regexp_replace(c_name, '[0-9]', 'x', 'g') masked,
       string_split(o_orderpriority, '-')[1] prio_code
FROM customer JOIN orders ON c_custkey = o_custkey
ORDER BY o_orderkey LIMIT 100
"""


def q_d2_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date kernel surface beyond the year split key (q_d1): month
    truncation (NetCDF split granularity), day deltas, weekday, and
    month-end — all codegen date arithmetic."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_orderkey",
            F.trunc("o_orderdate", "month").alias("month_start"),
            F.datediff(F.lit("1998-01-01").cast("date"), F.col("o_orderdate")).alias(
                "days_to_98"
            ),
            F.dayofweek("o_orderdate").alias("dow"),
            F.last_day("o_orderdate").alias("month_end"),
        )
        .orderBy("o_orderkey")
        .limit(100)
    )


ORACLE_D2 = """
SELECT o_orderkey, date_trunc('month', o_orderdate) month_start,
       CAST(date_diff('day', o_orderdate, DATE '1998-01-01') AS INT) days_to_98,
       CAST(dayofweek(o_orderdate) + 1 AS INT) dow,
       last_day(o_orderdate) month_end
FROM orders ORDER BY o_orderkey LIMIT 100
"""


def q_arr1_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-field assembly: collect + sort per parent (reference stacks
    per-timestep fields into arrays, e.g. openradioss.py displacement_t*).
    Emitted as a joined string so the result stays hashable for the
    driver's pandas-side canonicalization (a raw array column crashes its
    sort_values/hash step)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.array_join(
                F.array_sort(F.collect_list("l_linenumber")), ","
            ).alias("linenumbers")
        )
        .orderBy("l_orderkey")
        .limit(100)
    )


ORACLE_ARR1 = """
SELECT l_orderkey,
       array_to_string(list_sort(list(l_linenumber)), ',') linenumbers
FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey LIMIT 100
"""


def q_json1_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON detail blobs (reference quality.py nan_field_details JSON)."""
    events = _t(spark, sf_dir, "events")
    return (
        events.select(
            "event_id",
            F.get_json_object("props", "$.k").cast("int").alias("k_val"),
        )
        .orderBy("event_id")
        .limit(100)
    )


ORACLE_JSON1 = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) k_val
FROM events ORDER BY event_id LIMIT 100
"""


def q_scan_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FieldSelect + reader-level key filters (reference field_select.py:
    61-227, _key_filter.py:45-166): projection + predicate pushed into
    the parquet scan (verify with .explain → PushedFilters/ReadSchema)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_quantity") >= 45)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(100)
    )


ORACLE_SCAN = """
SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
WHERE l_quantity >= 45 ORDER BY l_orderkey, l_linenumber LIMIT 100
"""


def q_precision_downcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PrecisionFilter fp64→fp32 (reference precision.py:94-289): cast is
    the whole operator; Spark/Parquet own the storage format."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_extendedprice").cast("float").cast("double").alias("price_f32"),
        )
        .orderBy("l_orderkey", "l_linenumber")
        .limit(100)
    )


ORACLE_PRECISION = """
SELECT l_orderkey, l_linenumber,
       CAST(CAST(l_extendedprice AS REAL) AS DOUBLE) price_f32
FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 100
"""


def q_global_inject(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GlobalDataFilter (reference global_data.py:51-160): inject constant
    freestream values; overwrite=False keeps existing via coalesce."""
    supplier = _t(spark, sf_dir, "supplier")
    return (
        supplier.select(
            "s_suppkey",
            F.lit(1.225).alias("rho_inf"),
            F.lit(38.89).alias("u_inf"),
            F.coalesce(F.col("s_acctbal"), F.lit(0.0)).alias("acctbal_filled"),
        )
        .orderBy("s_suppkey")
    )


ORACLE_GLOBAL = """
SELECT s_suppkey, CAST(1.225 AS DOUBLE) rho_inf, CAST(38.89 AS DOUBLE) u_inf,
       CAST(COALESCE(s_acctbal, 0.0) AS DOUBLE) acctbal_filled
FROM supplier ORDER BY s_suppkey
"""


# --------------------------------------------------------------------------
# Streaming semantics validated in batch (SURVEY §2.8)
# --------------------------------------------------------------------------


def q_st1_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window agg — batch twin of the streaming rollup
    (streaming variant in physicsnemo_curator_spark.streaming)."""
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window("ts", "1 hour").start.alias("ws"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("cnt"), _r6(F.avg("value"), "avg_value"))
        .orderBy("ws", "event_type")
    )


ORACLE_ST1 = """
SELECT date_trunc('hour', ts) ws, event_type,
       CAST(COUNT(*) AS BIGINT) cnt, ROUND(AVG(value), 6) avg_value
FROM events GROUP BY 1, 2 ORDER BY ws, event_type
"""


def q_st2_sliding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding running stats over event time (DataArrayStats online-update
    semantics, reference da/stats.py:541-574, as a range window)."""
    events = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-3600, 0)
    )
    return (
        events.select(
            "user_id", "event_id", _r6(F.avg("value").over(w), "run_avg")
        )
        .orderBy("user_id", "event_id")
        .limit(100)
    )


ORACLE_ST2 = """
SELECT user_id, event_id,
       ROUND(AVG(value) OVER (PARTITION BY user_id
             ORDER BY CAST(floor(extract(epoch FROM ts)) AS BIGINT)
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 6) run_avg
FROM events ORDER BY user_id, event_id LIMIT 100
"""


def q_st3_stream_welford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE streaming-path gate: the stateful running-stats operator
    (``streaming/stateful.py``, applyInPandasWithState — the streaming
    form of the reference's online Welford update, reference
    domains/da/filters/stats.py:541-574) driven through a real
    Structured Streaming micro-batch run (one batch per source file,
    foreachBatch sink), then checked against the batch power-sum oracle.
    Unlike q_st1/q_st2, whose declared bodies are batch twins, this
    executes ``readStream`` → GroupState folding → sink."""
    import hashlib
    import tempfile

    from physicsnemo_curator_spark.streaming import stateful

    events = _t(spark, sf_dir, "events")
    # Stream-readable copy (raw events parquet needs catalog
    # normalization): 4 files → 4 micro-batches under
    # maxFilesPerTrigger=1, so GroupState folds across batches.
    # Keyed on (sf_dir, source mtime) so repeat invocations in one run
    # reuse the copy, and on PID so concurrent processes sharing a box
    # never overwrite a directory mid-readStream.
    ident = path_ident(os.path.join(sf_dir, "events.parquet"))
    token = hashlib.md5(f"{sf_dir}:{ident}".encode()).hexdigest()[:12]
    src = os.path.join(
        tempfile.gettempdir(), f"pcs_stream_src_{token}_{os.getpid()}"
    )
    if not os.path.exists(os.path.join(src, "_SUCCESS")):
        events.select("event_type", "value").repartition(4).write.mode(
            "overwrite"
        ).parquet(src)
    out = stateful.run_running_stats_foreachbatch(
        spark,
        src,
        "event_type string, value double",
        # 5 keys: 4 state tasks per micro-batch instead of the
        # session's 32 (a deployment sizes this to key cardinality)
        state_partitions=4,
    )
    return out.select(
        "key", "n", _r6(F.col("mean"), "mean"), _r6(F.col("var_pop"), "var_pop")
    ).orderBy("key")


ORACLE_ST3 = """
SELECT event_type AS key, CAST(COUNT(*) AS BIGINT) n,
       ROUND(SUM(value) / COUNT(*), 6) mean,
       ROUND(SUM(value * value) / COUNT(*)
             - (SUM(value) / COUNT(*)) * (SUM(value) / COUNT(*)), 6) var_pop
FROM events GROUP BY 1 ORDER BY key
"""


def _stage_click_purchase_streams(
    spark: SparkSession, sf_dir: str, tag: str, max_files_per_trigger: int
) -> str:
    """The ONE construction of the stream-join gates' fixture: split
    ``events`` into 3-file click and purchase parquet sources under a
    content-keyed tmp dir (st4 and st5 must not drift — same cols,
    same repartition, same _SUCCESS-guarded idempotent write)."""
    import hashlib
    import tempfile

    events = _t(spark, sf_dir, "events")
    ident = path_ident(os.path.join(sf_dir, "events.parquet"))
    token = hashlib.md5(
        f"{sf_dir}:{ident}:{tag}:{max_files_per_trigger}".encode()
    ).hexdigest()[:12]
    base = os.path.join(
        tempfile.gettempdir(), f"pcs_{tag}_{token}_{os.getpid()}"
    )
    cols = ["event_id", "user_id", "ts", "value"]
    for side, etype in (("clicks", "click"), ("purchases", "purchase")):
        d = os.path.join(base, side)
        if not os.path.exists(os.path.join(d, "_SUCCESS")):
            events.filter(F.col("event_type") == etype).select(
                *cols
            ).repartition(3).write.mode("overwrite").parquet(d)
    return base


def q_st4_stream_interval_join(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """TRUE stream-stream join gate (streaming/joins.py interval_join
    driven by run_interval_join_stream): click and purchase streams —
    each a 3-file readStream source consumed one file per micro-batch,
    so matches form ACROSS batches out of retained join state — inner
    interval join "purchase within 24 h before the click" in append
    mode to a parquet sink (executor-side, no driver collection).  The
    watermark covers the fixture's 30-day span, so the emitted set is
    exactly the batch range join DuckDB replays.  Unlike q_w4/q_ts_*
    (batch twins), this executes readStream → watermarked
    stream-stream join → sink."""
    from physicsnemo_curator_spark.streaming import joins as streaming_joins

    base = _stage_click_purchase_streams(
        spark, sf_dir, "st4", max_files_per_trigger
    )
    out = streaming_joins.run_interval_join_stream(
        spark,
        os.path.join(base, "clicks"),
        os.path.join(base, "purchases"),
        "event_id long, user_id long, ts timestamp, value double",
        {
            "click_id": "l.event_id",
            "purchase_id": "r.event_id",
            "user_id": "l.user_id",
            "purchase_value": "r.value",
        },
        work_dir=base,
        on="user_id",
        lower_seconds=0,
        upper_seconds=86400,
        watermark="60 days",
        max_files_per_trigger=max_files_per_trigger,
        # sized to the fixture's key cardinality — a stateful query
        # runs this many state tasks per side per micro-batch
        state_partitions=4,
    )
    return out.select(
        "click_id",
        "purchase_id",
        "user_id",
        _r6(F.col("purchase_value"), "purchase_value"),
    ).orderBy("click_id", "purchase_id")


ORACLE_ST4 = """
SELECT c.event_id AS click_id, p.event_id AS purchase_id,
       c.user_id, ROUND(p.value, 6) AS purchase_value
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND p.ts BETWEEN c.ts - INTERVAL 86400 SECONDS AND c.ts
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
ORDER BY click_id, purchase_id
"""


def q_st5_stream_leftouter_join(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join gate — the hard half of
    Spark's stream-stream join semantics: unmatched clicks emit with
    NULL purchase columns only when the WATERMARK passes their state
    expiry, which a file stream that runs dry never reaches.  The
    runner stages the sources and appends watermark-advancing flush
    batches (non-null keyed: Catalyst pushes isnotnull(key) into the
    outer join's right scan BELOW the watermark node, so a null-keyed
    flush row would never advance it — see streaming/joins.py).  The
    emitted set must equal DuckDB's batch LEFT JOIN exactly: inner
    pairs AND every unmatched click."""
    from physicsnemo_curator_spark.streaming import joins as streaming_joins

    base = _stage_click_purchase_streams(
        spark, sf_dir, "st5", max_files_per_trigger
    )
    out = streaming_joins.run_interval_join_stream(
        spark,
        os.path.join(base, "clicks"),
        os.path.join(base, "purchases"),
        "event_id long, user_id long, ts timestamp, value double",
        {
            "click_id": "l.event_id",
            "purchase_id": "r.event_id",
            "user_id": "l.user_id",
            "purchase_value": "r.value",
        },
        work_dir=base,
        on="user_id",
        lower_seconds=0,
        # tighter interval than st4 so a meaningful share of clicks is
        # UNMATCHED — the gate must exercise the null-emission path
        upper_seconds=3600,
        watermark="60 days",
        max_files_per_trigger=max_files_per_trigger,
        state_partitions=4,
        how="left_outer",
    )
    return out.select(
        "click_id",
        "purchase_id",
        "user_id",
        _r6(F.col("purchase_value"), "purchase_value"),
    ).orderBy("click_id", "purchase_id")


ORACLE_ST5 = """
SELECT c.event_id AS click_id, p.event_id AS purchase_id,
       c.user_id, ROUND(p.value, 6) AS purchase_value
FROM (SELECT * FROM events WHERE event_type = 'click') c
LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND p.ts BETWEEN c.ts - INTERVAL 3600 SECONDS AND c.ts
ORDER BY click_id, purchase_id
"""


def q_st6_stream_fullouter_join(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """Stream-stream FULL OUTER interval join gate — both null-emission
    paths at once: an unmatched click waits for the watermark to pass
    ``l.ts - lower``, an unmatched purchase for ``r.ts + upper``, and
    the runner's flush margin covers BOTH expiries (streaming/joins.py
    ``_stage_with_flush_rows``).  The tight 1 h interval leaves a
    meaningful share of each side unmatched, so the emitted set must
    equal DuckDB's batch FULL JOIN exactly: inner pairs, every
    unmatched click (purchase columns NULL), and every unmatched
    purchase (click columns NULL).  user_id coalesces across sides —
    on a full outer either side can be the null one."""
    from physicsnemo_curator_spark.streaming import joins as streaming_joins

    base = _stage_click_purchase_streams(
        spark, sf_dir, "st6", max_files_per_trigger
    )
    out = streaming_joins.run_interval_join_stream(
        spark,
        os.path.join(base, "clicks"),
        os.path.join(base, "purchases"),
        "event_id long, user_id long, ts timestamp, value double",
        {
            "click_id": "l.event_id",
            "purchase_id": "r.event_id",
            "click_user": "l.user_id",
            "purchase_user": "r.user_id",
            "purchase_value": "r.value",
        },
        work_dir=base,
        on="user_id",
        lower_seconds=0,
        upper_seconds=3600,
        watermark="60 days",
        max_files_per_trigger=max_files_per_trigger,
        state_partitions=4,
        how="full_outer",
    )
    return out.select(
        "click_id",
        "purchase_id",
        F.coalesce("click_user", "purchase_user").alias("user_id"),
        _r6(F.col("purchase_value"), "purchase_value"),
    ).orderBy(
        # pin NULLS LAST explicitly: Spark's asc defaults nulls-first,
        # DuckDB's defaults nulls-last, and a full outer has NULL keys
        # on BOTH output id columns
        F.asc_nulls_last("click_id"),
        F.asc_nulls_last("purchase_id"),
    )


ORACLE_ST6 = """
SELECT c.event_id AS click_id, p.event_id AS purchase_id,
       COALESCE(c.user_id, p.user_id) AS user_id,
       ROUND(p.value, 6) AS purchase_value
FROM (SELECT * FROM events WHERE event_type = 'click') c
FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND p.ts BETWEEN c.ts - INTERVAL 3600 SECONDS AND c.ts
ORDER BY click_id NULLS LAST, purchase_id NULLS LAST
"""


def _dash_store(spark: SparkSession, sf_dir: str):
    """The ONE construction of the dashboard gates' ledger fixture:
    token path + deterministic retried-index recording (both gates
    must open the SAME store — a drifted path would silently read an
    empty ledger, since MetricsStore frames treat missing paths as
    empty by design)."""
    import hashlib
    import tempfile

    from physicsnemo_curator_spark.core.metrics import MetricsStore

    ident = path_ident(os.path.join(sf_dir, "events.parquet"))
    token = hashlib.md5(f"{sf_dir}:{ident}:dash".encode()).hexdigest()[:12]
    mdir = os.path.join(
        tempfile.gettempdir(), f"pcs_dash_{token}_{os.getpid()}"
    )
    store = MetricsStore(mdir)
    # the _SUCCESS marker, not the bare directory: a write that died
    # partway must rebuild, not serve a truncated ledger forever
    if not os.path.exists(os.path.join(store.index_path, "_SUCCESS")):
        import shutil

        # record_index_results APPENDS — orphaned part files from the
        # crashed attempt would double-count under the fresh records
        shutil.rmtree(store.index_path, ignore_errors=True)
        events = _t(spark, sf_dir, "events")
        rows = (
            events.filter(F.col("event_id") < 2000)
            .select("event_id", "event_type", "value")
            .orderBy("event_id")
            .collect()
        )
        # one record_index_results call → one shared epoch, so the
        # frame's (finished_at_epoch DESC, seq DESC) dedup must fall
        # through to seq: list order IS the retry order
        store.record_index_results(
            spark,
            "run-dash",
            [
                {
                    "idx": int(r["event_id"]) % 97,
                    "worker_id": f"exec-{int(r['event_id']) % 4}",
                    "status": (
                        "error" if r["event_type"] == "error"
                        else "completed"
                    ),
                    "wall_time_s": float(r["value"]),
                    "error": (
                        "boom" if r["event_type"] == "error" else ""
                    ),
                }
                for r in rows
            ],
        )
    return store


def q_dashboard_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dashboard data-layer gate (core/metrics.py dashboard_views —
    the data half of the reference's Panel dashboard,
    dashboard/data.py:34-135): a deterministic per-index ledger is
    recorded from ``events`` (idx = event_id % 97, so most indices
    get RETRIED by several records; status from the literal 'error'
    event_type) and the index frame must apply latest-record-wins per
    idx — DuckDB replays the ledger derivation and picks each idx's
    max-event_id record, so a dedup-ordering or status bug changes a
    row."""
    store = _dash_store(spark, sf_dir)
    frames = store.dashboard_views(spark, total=97, run_id="run-dash")
    return frames["index"].select(
        "idx",
        "status",
        _r6(F.col("wall_time_s"), "wall_time_s"),
        "peak_memory_mb",
        "error",
    ).orderBy("idx")


def q_dashboard_workers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Worker-frame gate (core/metrics.py workers_df, reference
    DashboardStore.workers_df dashboard/data.py:196-229): per-worker
    completed/failed counts over the SAME deterministic ledger as
    q_dashboard_index (shared ``_dash_store``) — the reference counts
    raw records (a retried index appears under both its error and its
    success), so the oracle aggregates the raw derivation, not the
    deduped view.  Heartbeat/current-index columns are
    wall-clock-dependent and stay out of the hash (pytest covers
    them)."""
    store = _dash_store(spark, sf_dir)
    return (
        store.workers_df(spark, "run-dash")
        .select("worker_id", "completed", "failed")
        .orderBy("worker_id")
    )


ORACLE_DASHBOARD_WORKERS = """
SELECT concat('exec-', CAST(event_id % 4 AS VARCHAR)) AS worker_id,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 0 ELSE 1 END)
            AS BIGINT) AS completed,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
            AS BIGINT) AS failed
FROM events WHERE event_id < 2000
GROUP BY 1 ORDER BY 1
"""


ORACLE_DASHBOARD_INDEX = """
WITH src AS (
  SELECT event_id, event_id % 97 AS idx, value,
         CASE WHEN event_type = 'error' THEN 'error'
              ELSE 'completed' END AS status
  FROM events WHERE event_id < 2000),
last AS (SELECT idx, MAX(event_id) me FROM src GROUP BY idx)
SELECT s.idx, s.status, ROUND(s.value, 6) AS wall_time_s,
       CAST(0.0 AS DOUBLE) AS peak_memory_mb,
       CASE WHEN s.status = 'error' THEN 'boom' ELSE '' END AS error
FROM src s JOIN last l ON s.idx = l.idx AND s.event_id = l.me
ORDER BY s.idx
"""


def q_ts_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join — custom operator Spark lacks natively (SURVEY §2.6):
    attach the latest prior purchase to each click, per user, via the
    union-and-window composition (one shuffle, no range explosion)."""
    events = _t(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click")
    purchases = events.filter(F.col("event_type") == "purchase")
    out = timeseries.as_of_join(
        clicks,
        purchases,
        on=["user_id"],
        left_time="ts",
        right_time="ts",
        right_cols=["value"],
    )
    return (
        out.select("event_id", "user_id", F.col("asof_value"))
        .orderBy("event_id")
        .limit(200)
    )


ORACLE_ASOF = """
WITH clicks AS (SELECT * FROM events WHERE event_type = 'click'),
purch AS (SELECT * FROM events WHERE event_type = 'purchase')
SELECT c.event_id, c.user_id, p.value AS asof_value
FROM clicks c ASOF LEFT JOIN purch p
  ON c.user_id = p.user_id AND c.ts >= p.ts
ORDER BY c.event_id LIMIT 200
"""


def q_ts_rollup_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style rollup cascade: hourly mergeable state folded
    into daily stats WITHOUT rescanning raw rows (timeseries.
    rollup_cascade); the oracle aggregates the raw table directly, so a
    hash match proves state merging is exact."""
    events = _t(spark, sf_dir, "events")
    daily = timeseries.rollup_cascade(
        events, ts_col="ts", value_col="value", levels=("hour", "day")
    )["day"]
    out = timeseries.finalize_rollup(daily)
    return out.select(
        F.col("bucket").cast("date").alias("day"),
        "n",
        _r6(F.col("mean"), "mean"),
        _r6(F.col("var_pop_v"), "var_pop_v"),
        _r6(F.col("vmin"), "vmin"),
        _r6(F.col("vmax"), "vmax"),
    ).orderBy("day")


ORACLE_TS_ROLLUP = """
SELECT CAST(date_trunc('day', ts) AS DATE) AS day, CAST(COUNT(*) AS BIGINT) n,
       ROUND(AVG(value), 6) mean, ROUND(VAR_POP(value), 6) var_pop_v,
       ROUND(MIN(value), 6) vmin, ROUND(MAX(value), 6) vmax
FROM events GROUP BY 1 ORDER BY 1
"""


def q_w4_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (lag + cumsum gap>threshold) — the batch
    twin of streaming session_window."""
    events = _t(spark, sf_dir, "events")
    out = timeseries.sessionize(events, gap_seconds=1800)
    return out.select("event_id", "session_id").orderBy("event_id").limit(200)


ORACLE_SESSIONIZE = """
WITH o AS (
  SELECT event_id, user_id, ts,
         CASE WHEN lag(CAST(floor(epoch(ts)) AS BIGINT))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                OR CAST(floor(epoch(ts)) AS BIGINT)
                   - lag(CAST(floor(epoch(ts)) AS BIGINT))
                     OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
              THEN 1 ELSE 0 END b
  FROM events)
SELECT event_id,
       CAST(SUM(b) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) session_id
FROM o ORDER BY event_id LIMIT 200
"""


def q_median_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed percentiles — the reference punts on merged
    median (NaN after merge, stats.py:825-827); Spark's `percentile`
    does the full-shuffle exact computation when requested, while
    percentile_approx is the sketch-based scale path."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            _r6(F.percentile("l_quantity", 0.25), "p25"),
            _r6(F.percentile("l_quantity", 0.5), "median"),
            _r6(F.percentile("l_quantity", 0.75), "p75"),
        )
        .orderBy("l_returnflag")
    )


ORACLE_MEDIAN = """
SELECT l_returnflag,
       ROUND(quantile_cont(l_quantity, 0.25), 6) p25,
       ROUND(quantile_cont(l_quantity, 0.5), 6) median,
       ROUND(quantile_cont(l_quantity, 0.75), 6) p75
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q_sql_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-API surface parity: the TPC-H Q1 pricing summary expressed
    through spark.sql over registered views — same Catalyst plan as the
    DataFrame form."""
    from physicsnemo_curator_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 4) AS sum_qty,
               ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               ROUND(AVG(l_quantity), 6) AS avg_qty,
               ROUND(AVG(l_discount), 6) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= DATE '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
        """
    )


ORACLE_PRICING = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 4) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(AVG(l_quantity), 6) AS avg_qty,
       ROUND(AVG(l_discount), 6) AS avg_disc,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# --------------------------------------------------------------------------
# North star: dedup / text analysis / similarity search
# --------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups by normalized-content hash (north star)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.exact_duplicates(docs).orderBy("doc_id")


ORACLE_DEDUP_EXACT = """
WITH k AS (SELECT doc_id, COALESCE(md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))),
                          '__null__' || CAST(doc_id AS VARCHAR)) _k
           FROM documents)
SELECT doc_id,
       MIN(doc_id) OVER (PARTITION BY _k) canonical_id,
       CAST(COUNT(*) OVER (PARTITION BY _k) AS BIGINT) group_size
FROM k ORDER BY doc_id
"""


# Reuse policy: the dedup family's shared frames (the word-trigram
# shingle table and the (a, b, jaccard) pair stream five queries
# consume) are persisted on every call.  Spark's CacheManager skips an
# equal plan it already holds (logging "Asked to cache already cached
# data" at WARN), serves its data to every later equal plan, and
# re-caches after clearCache().  Freshness lives in the plan memo: a
# rewritten documents table refreshes every persisted frame over its
# old bytes (core.store.memoized_read).
def _cached_near_dup_pairs(
    spark: SparkSession, sf_dir: str, hash_fn: str
) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    sh = dedup.shingle_table(docs, k=3, unit="word").persist()
    if hash_fn == "jaccard":
        pairs = dedup.jaccard_pairs(sh).filter(F.col("jaccard") >= 0.8)
    else:
        pairs = dedup.minhash_near_duplicates(
            docs, threshold=0.8, shingles=sh, hash_fn=hash_fn
        )
    return pairs.persist()


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-trigram Jaccard near-dup pairs ≥ 0.8 (north star).
    This is also the verify stage of the MinHash-LSH pipeline, so the
    LSH path's output is a subset of this oracle-checked set."""
    pairs = _cached_near_dup_pairs(spark, sf_dir, "jaccard")
    return (
        pairs
        .select("a", "b", _r6(F.col("jaccard"), "jaccard"))
        .orderBy("a", "b")
    )


ORACLE_NGRAM_JACCARD = """
WITH norm AS (SELECT doc_id,
                     string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') toks
              FROM documents),
sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') shingle
       FROM (SELECT doc_id, toks, unnest(range(1, greatest(len(toks) - 2, 0) + 1)) i
             FROM norm)),
sz AS (SELECT doc_id, COUNT(*) sz FROM sh GROUP BY 1),
inter AS (SELECT s1.doc_id a, s2.doc_id b, COUNT(*) i
          FROM sh s1 JOIN sh s2 ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
          GROUP BY 1, 2)
SELECT a, b, ROUND(i * 1.0 / (x.sz + y.sz - i), 6) jaccard
FROM inter JOIN sz x ON inter.a = x.doc_id JOIN sz y ON inter.b = y.doc_id
WHERE i * 1.0 / (x.sz + y.sz - i) >= 0.8
ORDER BY a, b
"""


def q_dedup_components(
    spark: SparkSession, sf_dir: str, hash_fn: str = "md5"
) -> DataFrame:
    """Transitive dedup groups: connected components over the near-dup
    pair graph (operators/components.py, pointer-jumping label
    propagation).  The declared path takes its edges from the exact
    word-trigram Jaccard ≥ 0.8 pairs (same edge set the DuckDB oracle
    derives, then closes with a recursive CTE); the benched production
    twin feeds the xxhash64 MinHash-LSH pair stream into the identical
    graph stage.  Output: one row per doc in some pair, its canonical
    group representative (min doc_id reachable), the group size, and
    the keep flag a curation pipeline filters on."""
    pairs = _cached_near_dup_pairs(
        spark, sf_dir, "jaccard" if hash_fn == "md5" else hash_fn
    )
    g = components.dedup_groups(pairs.select("a", "b"))
    return g.select(
        "doc_id",
        "component",
        "group_size",
        F.col("keep").cast("int").alias("keep"),
    ).orderBy("doc_id")


def _sw_list(code: str) -> str:
    words = ", ".join(f"'{w}'" for w in textops.STOPWORDS[code])
    return f"[{words}]"


def _stop_ratio_case(code: str) -> str:
    """The stopword-ratio CASE over the shared ``feats`` columns —
    one definition feeds the lang-ID oracle's four ratios and the
    representative-selection oracle's English term."""
    return (
        f"CASE WHEN n_tok = 0 THEN 0.0 ELSE "
        f"len(list_filter(toks_l, x -> list_contains({_sw_list(code)}, x)))"
        f" * 1.0 / n_tok END"
    )


# Shared text-feature CTE (normalized token list, token count, punct
# ratio) — ONE construction feeds the lang-ID/quality oracle and the
# representative-selection oracle, so a tokenizer or punct-regex fix
# cannot desynchronize the gates.
_FEATS_CTE = """feats AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') toks_l,
         CASE WHEN length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) = 0 THEN 0
              ELSE len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) END n_tok,
         CASE WHEN length(text) = 0 THEN 0.0
              ELSE len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) * 1.0
                   / length(text) END punct
  FROM documents)"""


def _quality_expr(r_en: str) -> str:
    """The 3-term quality score over ``feats`` columns — the single
    SQL rendering of ``textops.quality_score``."""
    return (
        f"(LEAST(n_tok / 50.0, 1.0) + (1.0 - LEAST(punct * 4.0, 1.0))"
        f" + LEAST({r_en} * 5.0, 1.0)) / 3.0"
    )


# Shared transitive-group CTE chain (trigram-Jaccard edges at 0.8 →
# recursive closure → components + sizes) — ONE construction feeds the
# components, representative-selection, and leakage-free-split oracles,
# so an edge-derivation or closure fix cannot desynchronize the gates.
_COMPONENTS_PREFIX = """norm AS (SELECT doc_id,
                     string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') toks
              FROM documents),
sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') shingle
       FROM (SELECT doc_id, toks, unnest(range(1, greatest(len(toks) - 2, 0) + 1)) i
             FROM norm)),
sz AS (SELECT doc_id, COUNT(*) sz FROM sh GROUP BY 1),
inter AS (SELECT s1.doc_id a, s2.doc_id b, COUNT(*) i
          FROM sh s1 JOIN sh s2 ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
          GROUP BY 1, 2),
pairs AS (SELECT a, b FROM inter JOIN sz x ON inter.a = x.doc_id
          JOIN sz y ON inter.b = y.doc_id
          WHERE i * 1.0 / (x.sz + y.sz - i) >= 0.8),
und AS (SELECT a n, b m FROM pairs UNION SELECT b, a FROM pairs),
reach(n, r) AS (SELECT n, n FROM und
                UNION
                SELECT u.n, reach.r FROM und u JOIN reach ON u.m = reach.n),
comp AS (SELECT n doc_id, MIN(r) component FROM reach GROUP BY 1),
gs AS (SELECT component, COUNT(*) group_size FROM comp GROUP BY 1)"""

ORACLE_DEDUP_COMPONENTS = f"""
WITH RECURSIVE {_COMPONENTS_PREFIX}
SELECT c.doc_id, c.component, g.group_size,
       CAST(c.doc_id = c.component AS INT) keep
FROM comp c JOIN gs g USING (component)
ORDER BY doc_id
"""


def q_dedup_representative(
    spark: SparkSession, sf_dir: str, hash_fn: str = "md5"
) -> DataFrame:
    """Quality-aware representative selection
    (components.dedup_groups(scores=...)): dedup should discard the
    WORSE copies, so each near-dup group keeps its highest
    quality-score member (ties to the lower id) instead of the min-id
    default — the policy real curation runs want when near-copies
    differ by truncation or boilerplate.  Same pointer-jumping groups
    as q_dedup_components plus one id-keyed score join and a
    per-component rank; the oracle replays the group closure (shared
    CTE prefix) and the 3-term quality formula (shared with
    q_text_lang_quality's oracle) and picks the same argmax.  The
    benched twin feeds the xxhash64 MinHash-LSH pair stream into the
    identical group + argmax stages (the q_dedup_components
    convention)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = _cached_near_dup_pairs(
        spark, sf_dir, "jaccard" if hash_fn == "md5" else hash_fn
    )
    scores = docs.select(
        "doc_id", textops.quality_score(F.col("text")).alias("score")
    )
    g = components.dedup_groups(
        pairs.select("a", "b"), scores=scores, score_col="score"
    )
    return g.select(
        "doc_id",
        "component",
        "group_size",
        F.col("keep").cast("int").alias("keep"),
    ).orderBy("doc_id")


ORACLE_DEDUP_REPRESENTATIVE = f"""
WITH RECURSIVE {_COMPONENTS_PREFIX},
{_FEATS_CTE},
q AS (
  SELECT doc_id,
         {_quality_expr(f"({_stop_ratio_case('en')})")} quality
  FROM feats),
rep AS (
  SELECT c.doc_id, c.component, g.group_size,
         ROW_NUMBER() OVER (
           PARTITION BY c.component ORDER BY q.quality DESC, c.doc_id
         ) rk
  FROM comp c JOIN gs g USING (component) JOIN q ON c.doc_id = q.doc_id)
SELECT doc_id, component, group_size, CAST(rk = 1 AS INT) keep
FROM rep ORDER BY doc_id
"""


def q_split_leakage_free(
    spark: SparkSession, sf_dir: str, hash_fn: str = "arith"
) -> DataFrame:
    """Leakage-free train/val/test assignment
    (sampling.leakage_free_splits): near-duplicate GROUPS land in one
    split — per-doc splitting puts two near-copies on both sides of
    the train/test fence with probability ~2·p·q, the contamination
    path that inflates eval numbers.  The split key is the group's
    canonical component (singletons: the doc's own id), so the label
    stays a projection after one id join.  Output: per-split doc/char
    totals plus the count of documents that belong to some near-dup
    group (the rows the guarantee actually moved); the no-group-spans-
    two-splits invariant itself is pinned in tests/test_sampling.py.
    Declared path uses the arithmetic-hash split twin and md5-Jaccard
    pair stream the oracle replays; the benched twin runs the full
    xxhash64 production path — MinHash-LSH pairs AND xxhash64 split
    buckets (the q_dedup_components convention)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = _cached_near_dup_pairs(
        spark, sf_dir, "jaccard" if hash_fn == "arith" else hash_fn
    )
    groups = components.dedup_groups(pairs.select("a", "b"))
    out = sampling.leakage_free_splits(
        docs,
        groups.select("doc_id", "component"),
        {"train": 0.8, "val": 0.1, "test": 0.1},
        seed=42,
        hash_fn=hash_fn,
    )
    return (
        out.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.count("component").alias("n_grouped_docs"),
        )
        .orderBy("split")
    )


ORACLE_SPLIT_LEAKAGE_FREE = f"""
WITH RECURSIVE {_COMPONENTS_PREFIX},
keyed AS (
  SELECT d.doc_id, d.n_chars, c.component,
         COALESCE(c.component, d.doc_id) k
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
b AS (SELECT *, {sampling.arith_bucket_sql('k', seed=42)} AS bkt FROM keyed)
SELECT CASE WHEN bkt < 800000 THEN 'train'
            WHEN bkt < 900000 THEN 'val' ELSE 'test' END AS split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(COUNT(component) AS BIGINT) AS n_grouped_docs
FROM b GROUP BY 1 ORDER BY split
"""


def _split_gate_store(spark: SparkSession, sf_dir: str, hash_fn: str) -> str:
    """Build (once per process) the persisted split-assignment store
    the q_split_store gate reads — the two-epoch append chain
    leakage_free_splits' stability contract prescribes
    (operators/sampling.py: write_split_store /
    assign_splits_incremental):

      1. seed epoch: docs with ``doc_id % 3 != 2`` are split 80/10/10
         by leakage_free_splits with groups computed over the SEED
         corpus only, and persisted (``_batch=seed``).
      2. append ``b1``: the remaining docs arrive; groups are
         RECOMPUTED over the grown corpus (components can relabel and
         absorb new members — exactly the instability the store
         exists to absorb), and assign_splits_incremental joins the
         batch against the store: stored labels frozen, known-group
         members inherit, merges quarantine to train, fresh groups
         hash-assign.

    The pair stream is computed once and filtered per epoch (exact
    Jaccard and per-doc MinHash signatures are corpus-subset-invariant,
    so seed pairs == full pairs with both endpoints in the seed)."""
    import hashlib
    import tempfile

    docs = _t(spark, sf_dir, "documents")
    ident = path_ident(os.path.join(sf_dir, "documents.parquet"))
    token = hashlib.md5(
        f"{sf_dir}:{ident}:splitstore:{hash_fn}".encode()
    ).hexdigest()[:12]
    store = os.path.join(
        tempfile.gettempdir(), f"pcs_split_store_{token}_{os.getpid()}"
    )
    marker = os.path.join(store, "_PCS_STORE_DONE")
    if os.path.exists(marker):
        return store
    pairs = _cached_near_dup_pairs(
        spark, sf_dir, "jaccard" if hash_fn == "arith" else hash_fn
    )
    # reused by both epochs — materialize the pair stream once
    pairs = pairs.select("a", "b").localCheckpoint()
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    seed_docs = docs.filter(F.col("doc_id") % 3 != 2)
    seed_pairs = pairs.filter(
        (F.col("a") % 3 != 2) & (F.col("b") % 3 != 2)
    )
    seed_groups = components.dedup_groups(seed_pairs).select(
        "doc_id", "component"
    )
    seed_assign = sampling.leakage_free_splits(
        seed_docs, seed_groups, w, seed=42, hash_fn=hash_fn
    )
    sampling.write_split_store(
        seed_assign.select("doc_id", "split", "component"), store
    )
    full_groups = components.dedup_groups(pairs).select(
        "doc_id", "component"
    )
    sampling.assign_splits_incremental(
        spark,
        docs.filter(F.col("doc_id") % 3 == 2),
        full_groups,
        w,
        store,
        seed=42,
        hash_fn=hash_fn,
        update_store=True,
        batch_id="b1",
    )
    release(pairs)
    with open(marker, "w") as fh:
        fh.write("ok")
    return store


def q_split_store(
    spark: SparkSession, sf_dir: str, hash_fn: str = "arith"
) -> DataFrame:
    """Persisted split-assignment store gate (sampling.write_split_store
    / assign_splits_incremental) — the store pattern that makes
    leakage_free_splits' guarantee SURVIVE appends: group labels are
    only stable until the corpus grows, so an incremental pipeline
    persists assignments and joins new batches against them instead of
    recomputing splits over the grown corpus.  The gate replays the
    full two-epoch chain (seed split over the seed corpus -> append
    with RELABELED full-corpus groups, see :func:`_split_gate_store`)
    and returns the final store: seed labels must be byte-identical to
    the seed-epoch assignment (frozen under the append), new
    group-members must inherit their group's stored split, merged
    groups must quarantine to train, and fresh docs must hash-assign
    on coalesce(component, id).  The oracle replays both epochs in
    DuckDB: the shared closure CTE over all pairs plus a second
    closure restricted to seed-endpoint pairs.  Declared path: arith
    buckets + exact-Jaccard pairs; benched twin: the xxhash64 +
    MinHash-LSH production path (the q_split_leakage_free
    convention)."""
    store = _split_gate_store(spark, sf_dir, hash_fn)
    return (
        spark.read.parquet(store)
        .select("doc_id", "split", "component", "reason")
        .orderBy("doc_id")
    )


ORACLE_SPLIT_STORE = f"""
WITH RECURSIVE {_COMPONENTS_PREFIX},
pairs_s AS (SELECT a, b FROM pairs WHERE a % 3 != 2 AND b % 3 != 2),
und_s AS (SELECT a n, b m FROM pairs_s UNION SELECT b, a FROM pairs_s),
reach_s(n, r) AS (SELECT n, n FROM und_s
                  UNION
                  SELECT u.n, reach_s.r
                  FROM und_s u JOIN reach_s ON u.m = reach_s.n),
comp_s AS (SELECT n doc_id, MIN(r) component FROM reach_s GROUP BY 1),
seed_keyed AS (SELECT d.doc_id, c.component,
                      COALESCE(c.component, d.doc_id) k
               FROM documents d LEFT JOIN comp_s c USING (doc_id)
               WHERE d.doc_id % 3 != 2),
seed_assign AS (SELECT doc_id, component,
       CASE WHEN bkt < 800000 THEN 'train'
            WHEN bkt < 900000 THEN 'val' ELSE 'test' END split
  FROM (SELECT *, {sampling.arith_bucket_sql('k', seed=42)} bkt
        FROM seed_keyed)),
batch AS (SELECT d.doc_id, c.component,
                 {sampling.arith_bucket_sql(
                     'COALESCE(c.component, d.doc_id)', seed=42)} bkt
          FROM documents d LEFT JOIN comp c USING (doc_id)
          WHERE d.doc_id % 3 = 2),
comp_splits AS (SELECT c.component,
                       COUNT(DISTINCT s.split) ns, MIN(s.split) inh
                FROM comp c JOIN seed_assign s USING (doc_id)
                GROUP BY 1),
batch_assign AS (
  SELECT b.doc_id, b.component,
         CASE WHEN cs.ns > 1 THEN 'train'
              WHEN cs.ns = 1 THEN cs.inh
              WHEN b.bkt < 800000 THEN 'train'
              WHEN b.bkt < 900000 THEN 'val' ELSE 'test' END split,
         CASE WHEN cs.ns > 1 THEN 'quarantined'
              WHEN cs.ns = 1 THEN 'inherited'
              ELSE 'fresh' END reason
  FROM batch b LEFT JOIN comp_splits cs ON b.component = cs.component)
SELECT doc_id, split, component, reason FROM (
  SELECT doc_id, split, component, 'seed' reason FROM seed_assign
  UNION ALL
  SELECT doc_id, split, component, reason FROM batch_assign)
ORDER BY doc_id
"""


def q_split_conflicts(
    spark: SparkSession, sf_dir: str, hash_fn: str = "arith"
) -> DataFrame:
    """Split-leakage audit gate (sampling.split_store_conflicts): once
    labels are frozen in a split store, later group evidence can MERGE
    groups that were split apart — the merged group then straddles the
    train/test fence among ALREADY-STORED docs, and a pipeline needs
    to see exactly which components and how badly before deciding to
    retire eval members.  The gate reuses q_split_store's two-epoch
    store (same cached build) and audits it against a deliberately
    coarse merge map (``component = doc_id % 25`` — guaranteed to
    straddle), returning per conflicted component the stored-member
    count, the distinct-split count, and the sorted label list.  The
    oracle replays the ENTIRE store chain (both epochs, the shared
    closure CTEs) plus the modular map and the same aggregate —
    a drift anywhere in store content or audit logic diverges the
    hash."""
    store = _split_gate_store(spark, sf_dir, hash_fn)
    docs = _t(spark, sf_dir, "documents")
    gmap = docs.select(
        "doc_id", (F.col("doc_id") % 25).alias("component")
    )
    out = sampling.split_store_conflicts(spark, store, gmap)
    return out.select(
        "component",
        F.col("n_docs_stored").cast("long").alias("n_docs_stored"),
        F.col("n_splits").cast("long").alias("n_splits"),
        "splits",
    ).orderBy("component")


# everything up to (not including) the store oracle's final SELECT —
# the full CTE chain producing seed_assign/batch_assign, reused so the
# two gates can never desynchronize on store content
_SPLIT_STORE_CONTENT_CTES = ORACLE_SPLIT_STORE.rsplit(
    "SELECT doc_id, split, component, reason FROM (", 1
)[0].rstrip()

ORACLE_SPLIT_CONFLICTS = f"""
{_SPLIT_STORE_CONTENT_CTES},
stored AS (
  SELECT doc_id, split FROM seed_assign
  UNION ALL SELECT doc_id, split FROM batch_assign),
gmap AS (SELECT doc_id, doc_id % 25 AS component FROM documents)
SELECT g.component,
       CAST(COUNT(*) AS BIGINT) AS n_docs_stored,
       CAST(COUNT(DISTINCT s.split) AS BIGINT) AS n_splits,
       string_agg(DISTINCT s.split, ',' ORDER BY s.split) AS splits
FROM gmap g JOIN stored s USING (doc_id)
GROUP BY 1 HAVING COUNT(DISTINCT s.split) > 1
ORDER BY component
"""


def q_sample_split(
    spark: SparkSession, sf_dir: str, hash_fn: str = "arith"
) -> DataFrame:
    """Reproducible train/val/test assignment (operators/sampling.py):
    membership is a pure function of (doc_id, seed) — stable across
    reruns, partitionings and appends, and the label is a scan-stage
    projection (no shuffle).  Declared path uses the arithmetic-hash
    twin the DuckDB oracle replays exactly; the benched twin is the
    xxhash64 production path."""
    docs = _t(spark, sf_dir, "documents")
    out = sampling.assign_splits(
        docs,
        "doc_id",
        {"train": 0.8, "val": 0.1, "test": 0.1},
        seed=42,
        hash_fn=hash_fn,
    )
    return (
        out.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("split")
    )


ORACLE_SAMPLE_SPLIT = f"""
WITH b AS (SELECT *, {sampling.arith_bucket_sql('doc_id', seed=42)} AS bkt
           FROM documents)
SELECT CASE WHEN bkt < 800000 THEN 'train'
            WHEN bkt < 900000 THEN 'val' ELSE 'test' END AS split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM b GROUP BY 1 ORDER BY split
"""


def q_sample_stratified(
    spark: SparkSession, sf_dir: str, hash_fn: str = "arith"
) -> DataFrame:
    """Deterministic per-stratum downsampling — cap over-represented
    languages (en at 50 %, zh at 80 %, rest kept) the way corpus
    balancing passes do, reproducibly under any cluster shape."""
    docs = _t(spark, sf_dir, "documents")
    kept = sampling.stratified_sample(
        docs,
        "lang",
        {"en": 0.5, "zh": 0.8},
        "doc_id",
        default_rate=1.0,
        seed=7,
        hash_fn=hash_fn,
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("lang")
    )


ORACLE_SAMPLE_STRATIFIED = f"""
WITH b AS (SELECT *, {sampling.arith_bucket_sql('doc_id', seed=7)} AS bkt
           FROM documents)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM b
WHERE bkt < CASE WHEN lang = 'en' THEN 500000
                 WHEN lang = 'zh' THEN 800000 ELSE 1000000 END
GROUP BY 1 ORDER BY lang
"""


def q_text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (textops.redact_pii): email / SSN / IPv4 / phone →
    typed placeholders, plus per-category audit counts.  The query
    first splices deterministic synthetic PII into each document (the
    corpus itself is clean), so the redaction chain is exercised on
    every row and the oracle checks the full transformed text."""
    docs = _t(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" Contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1 555 000-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" at 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".1 ssn 123-45-6789"),
    )
    sel = [
        F.col("doc_id"),
        textops.redact_pii(aug).alias("redacted"),
    ] + [
        F.regexp_count(aug, F.lit(pat)).cast("long").alias(f"n_{name}")
        for name, pat, _ in textops.PII_PATTERNS
    ]
    # limit-before-projection (the q_text_lang_quality convention):
    # redaction + pattern counts are row-wise and the output is the 200
    # smallest doc_ids — identical row set, 200 regexp passes not |corpus|
    return (
        docs.orderBy("doc_id").limit(200).select(*sel).orderBy("doc_id")
    )


def _redact_oracle_sql() -> str:
    aug = (
        "text || ' Contact user' || CAST(doc_id AS VARCHAR)"
        " || '@example.com or +1 555 000-'"
        " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
        " || ' at 10.0.' || CAST(doc_id % 256 AS VARCHAR)"
        " || '.1 ssn 123-45-6789'"
    )
    counts = ", ".join(
        "CAST(len(regexp_extract_all(t, '" + pat + "')) AS BIGINT) AS n_" + name
        for name, pat, _ in textops.PII_PATTERNS
    )
    return (
        "WITH aug AS (SELECT doc_id, " + aug + " AS t FROM documents) "
        "SELECT doc_id, " + textops.redact_pii_sql("t") + " AS redacted, "
        + counts + " FROM aug ORDER BY doc_id LIMIT 200"
    )


ORACLE_TEXT_REDACT = _redact_oracle_sql()


def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame sampling (sources/multimodal.py): binary video
    payloads explode 1→N into sampled frame rows through the
    Arrow-batched ``mapInPandas`` kernel — the real distributed
    plumbing (schema, batch shape, binary slicing), driver-checkable
    because the payloads are deterministic: each doc becomes a 4-frame
    8×4 raw "video" (128 ASCII bytes = repeat(md5(text), 4)), so the
    oracle can replay the byte slicing with plain substring math."""
    from physicsnemo_curator_spark.sources import multimodal

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        F.repeat(F.md5(F.col("text").cast("binary")), 4)
        .cast("binary")
        .alias("payload"),
        F.lit(8).cast("int").alias("width"),
        F.lit(4).cast("int").alias("height"),
        F.lit(128).cast("long").alias("n_bytes"),
    )
    frames = multimodal.sample_frames(media, every_n=2)
    return (
        frames.select(
            F.col("media_id").alias("doc_id"),
            "frame_index",
            F.md5("payload").alias("frame_md5"),
        )
        .orderBy("doc_id", "frame_index")
        .limit(400)
    )


ORACLE_MEDIA_FRAMES = """
WITH m AS (SELECT doc_id, repeat(md5(text), 4) AS t FROM documents)
SELECT doc_id, CAST(v.f AS INT) AS frame_index,
       md5(substring(t, 1 + v.f * 32, 32)) AS frame_md5
FROM m CROSS JOIN (VALUES (0), (2)) AS v(f)
ORDER BY doc_id, frame_index LIMIT 400
"""


def q_grib2_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRIB2 source gate (sources/grib2.py, the pure-Python codec for
    the reference's GFS/HRRR products — reference ``domains/da/sources/
    gfs.py:83``): encodes a deterministic two-variable, two-timestamp
    lattice with complex packing + 2nd-order spatial differencing (the
    layout NCEP ships), scans it back task-per-file through
    ``read_grib2`` with an in-task lexicon filter (a third, non-lexicon
    message in the same file must be dropped), and aggregates per
    (variable, time).  Values are exact binary fractions (k/4) on an
    integer-degree grid, so the DuckDB oracle replays the whole lattice
    arithmetic bit-for-bit without ever seeing a GRIB byte."""
    import hashlib
    import tempfile
    from datetime import datetime

    import numpy as np

    from physicsnemo_curator_spark.sources.grib2 import (
        read_grib2,
        write_grib2,
    )

    ni, nj = 36, 19
    times = [datetime(2024, 1, 1, 0), datetime(2024, 1, 1, 6)]
    grid = dict(
        type="latlon",
        ni=ni,
        nj=nj,
        lat1=90.0,
        lon1=0.0,
        lat2=-90.0,
        lon2=350.0,
        di=10.0,
        dj=10.0,
        scan=0,
    )
    jj, ii = np.meshgrid(np.arange(nj), np.arange(ni), indexing="ij")

    def _vals(tidx: int, vidx: int) -> np.ndarray:
        return ((31 * jj + 7 * ii + 13 * tidx + 3 * vidx) % 400) / 4.0

    token = hashlib.md5(f"grib2:{sf_dir}".encode()).hexdigest()[:12]
    path = os.path.join(
        tempfile.gettempdir(), f"pcs_grib2_{token}_{os.getpid()}.grib2"
    )
    if not os.path.exists(path):
        msgs = []
        for tidx, t in enumerate(times):
            for vidx, (cat, num, lt, lv) in enumerate(
                [(0, 0, 103, 2), (2, 2, 103, 10)]  # t2m, u10m
            ):
                msgs.append(
                    dict(
                        time=t,
                        discipline=0,
                        category=cat,
                        number=num,
                        level_type=lt,
                        level=lv,
                        grid=grid,
                        values=_vals(tidx, vidx),
                        decimals=2,
                        packing="complex_diff",
                        order=2,
                    )
                )
            # non-lexicon message: must be filtered inside the task
            msgs.append(
                dict(
                    time=t,
                    discipline=2,
                    category=0,
                    number=192,
                    level_type=106,
                    level=10,
                    grid=grid,
                    values=_vals(tidx, 2),
                )
            )
        write_grib2(path, msgs)
    df = read_grib2(spark, [path], variables=["t2m", "u10m"])
    return (
        df.groupBy("variable", "time")
        .agg(
            F.count("*").alias("n_points"),
            F.sum("value").alias("sum_val"),
            F.sum(F.col("lat") * F.col("value")).alias("lat_wsum"),
            F.sum(F.col("lon") * F.col("value")).alias("lon_wsum"),
        )
        .orderBy("variable", "time")
    )


ORACLE_GRIB2 = """
WITH lattice AS (
  SELECT v.variable, v.vidx, t.epoch, t.tidx, j.j, i.i,
         ((31 * j.j + 7 * i.i + 13 * t.tidx + 3 * v.vidx) % 400) / 4.0 AS val
  FROM (VALUES ('t2m', 0), ('u10m', 1)) v(variable, vidx)
  CROSS JOIN (VALUES (1704067200.0, 0), (1704088800.0, 1)) t(epoch, tidx)
  CROSS JOIN range(19) j(j)
  CROSS JOIN range(36) i(i)
)
SELECT variable, CAST(epoch AS DOUBLE) AS time,
       COUNT(*) AS n_points, SUM(val) AS sum_val,
       SUM((90.0 - 10.0 * j) * val) AS lat_wsum,
       SUM(10.0 * i * val) AS lon_wsum
FROM lattice
GROUP BY variable, epoch
ORDER BY variable, time
"""


def q_text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (textops.chunk_documents): token-budgeted
    overlapping chunks, the packing step before tokenization.  One
    posexplode over a JVM start sequence + array slices — no shuffle;
    the oracle replays the slicing with 1-based inclusive list ranges."""
    docs = _t(spark, sf_dir, "documents")
    ch = textops.chunk_documents(docs, max_tokens=32, overlap=4)
    return (
        ch.select(
            "doc_id",
            "chunk_index",
            "n_tokens",
            F.md5(F.col("chunk_text").cast("binary")).alias("chunk_md5"),
        )
        .orderBy("doc_id", "chunk_index")
        .limit(500)
    )


ORACLE_TEXT_CHUNKS = """
WITH t AS (SELECT doc_id,
                  string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') toks
           FROM documents),
s AS (SELECT doc_id, toks,
             unnest(range(0, greatest(len(toks) - 4 - 1, 0) + 1, 28)) st
      FROM t)
SELECT doc_id, CAST(st // 28 AS INT) AS chunk_index,
       CAST(len(toks[st + 1 : st + 32]) AS INT) AS n_tokens,
       md5(array_to_string(toks[st + 1 : st + 32], ' ')) AS chunk_md5
FROM s ORDER BY doc_id, chunk_index LIMIT 500
"""


def q_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixing weights (sampling.mixing_weights): per-language
    sampling rates that reshape the corpus toward a target character
    budget split — one partial+final aggregate over the corpus, then
    pure arithmetic on the O(domains) frame (the single-partition
    window touches 5 rows, never the corpus).  Target shares are exact
    binary fractions so both engines agree bit-for-bit before the
    6-decimal rounding."""
    from physicsnemo_curator_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    out = sampling.mixing_weights(
        docs,
        domain_col="lang",
        weight_col="n_chars",
        targets={
            "en": 0.5,
            "zh": 0.25,
            "es": 0.125,
            "de": 0.0625,
            "fr": 0.0625,
        },
    )
    return out.select(
        "domain",
        "mass",
        _r6(F.col("natural_share"), "natural_share"),
        "target_share",
        _r6(F.col("sample_rate"), "sample_rate"),
        _r6(F.col("expected_mass"), "expected_mass"),
    ).orderBy("domain")


def q_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based domain reweighting
    (sampling.temperature_mixing_weights): target shares derived from
    the corpus as mass^(1/T), T=2 — the multilingual upweight-the-
    low-resource-languages scheme, no hand-written targets.  T=2's
    exponent routes through sqrt (correctly rounded per IEEE in both
    engines), so shares agree bit-for-bit before the 6-decimal
    rounding."""
    from physicsnemo_curator_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    out = sampling.temperature_mixing_weights(
        docs, domain_col="lang", weight_col="n_chars", temperature=2.0
    )
    return out.select(
        "domain",
        "mass",
        _r6(F.col("natural_share"), "natural_share"),
        _r6(F.col("target_share"), "target_share"),
        _r6(F.col("sample_rate"), "sample_rate"),
        _r6(F.col("expected_mass"), "expected_mass"),
    ).orderBy("domain")


ORACLE_MIX_TEMPERATURE = """
WITH per AS (
  SELECT lang AS domain, CAST(SUM(n_chars) AS DOUBLE) mass
  FROM documents GROUP BY lang),
t AS (
  SELECT domain, mass,
         CASE WHEN mass > 0 THEN SQRT(mass) ELSE CAST(0.0 AS DOUBLE) END p
  FROM per),
w AS (
  SELECT *, mass / SUM(mass) OVER () AS natural_share,
         p / SUM(p) OVER () AS target_share
  FROM t),
b AS (
  SELECT *, MIN(CASE WHEN target_share > 0 THEN mass / target_share END)
              OVER () AS budget
  FROM w)
SELECT domain, mass,
       ROUND(natural_share, 6) AS natural_share,
       ROUND(target_share, 6) AS target_share,
       ROUND(LEAST(CAST(1.0 AS DOUBLE),
                   CASE WHEN mass > 0
                        THEN target_share * budget / mass
                        ELSE 0.0 END), 6) AS sample_rate,
       ROUND(LEAST(CAST(1.0 AS DOUBLE),
                   CASE WHEN mass > 0
                        THEN target_share * budget / mass
                        ELSE 0.0 END) * mass, 6) AS expected_mass
FROM b ORDER BY domain
"""


ORACLE_MIX_WEIGHTS = """
WITH per AS (
  SELECT lang AS domain, CAST(SUM(n_chars) AS DOUBLE) mass
  FROM documents GROUP BY lang),
t AS (
  SELECT domain, mass,
         CASE domain
           WHEN 'en' THEN CAST(0.5 AS DOUBLE)
           WHEN 'zh' THEN CAST(0.25 AS DOUBLE)
           WHEN 'es' THEN CAST(0.125 AS DOUBLE)
           WHEN 'de' THEN CAST(0.0625 AS DOUBLE)
           WHEN 'fr' THEN CAST(0.0625 AS DOUBLE)
           ELSE CAST(0.0 AS DOUBLE) END AS target_share
  FROM per),
w AS (
  SELECT *, mass / SUM(mass) OVER () AS natural_share,
         MIN(CASE WHEN target_share > 0 THEN mass / target_share END)
           OVER () AS budget
  FROM t)
SELECT domain, mass, ROUND(natural_share, 6) AS natural_share, target_share,
       ROUND(LEAST(CAST(1.0 AS DOUBLE), target_share * budget / mass), 6)
         AS sample_rate,
       ROUND(LEAST(CAST(1.0 AS DOUBLE), target_share * budget / mass) * mass,
             6) AS expected_mass
FROM w ORDER BY domain
"""


def q_warc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC/WET source gate (sources/warc.py, the Common Crawl ingest
    format): the documents table is round-tripped through real WET
    shards — encoded as ISO 28500 conversion records (gzip, CRLF
    framing, Content-Length payloads), re-scanned task-per-file, and
    fingerprinted per host bucket.  The oracle replays the bucketing
    and fingerprint arithmetic on the documents table directly, so a
    framing/decode bug anywhere in the codec breaks the hash."""
    import hashlib
    import tempfile

    from physicsnemo_curator_spark.sources.warc import read_wet, write_wet

    # Key the temp-shard cache on the source parquet's identity
    # (path_ident): a regenerated documents table must never be served
    # stale shards from an earlier process.
    ident = path_ident(os.path.join(sf_dir, "documents.parquet"))
    token = hashlib.md5(f"warc:{sf_dir}:{ident}".encode()).hexdigest()[:12]
    base = os.path.join(tempfile.gettempdir(), f"pcs_wet_{token}")
    os.makedirs(base, exist_ok=True)
    paths = [
        os.path.join(base, f"shard{shard}.warc.wet.gz")
        for shard in range(4)
    ]
    if not _fixtures_ready(*paths):
        docs = (
            _t(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 200)
            .select("doc_id", "text")
            .collect()
        )
        for shard, p in enumerate(paths):
            recs = [
                {
                    "uri": f"https://s{r['doc_id'] % 5}.example/{r['doc_id']}",
                    "text": r["text"],
                }
                for r in docs
                if r["doc_id"] % 4 == shard
            ]
            _publish(p, lambda t, recs=recs: write_wet(t, recs))
    scanned = read_wet(spark, paths, lang_id=False)
    return (
        scanned.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.md5(
                F.concat_ws(
                    "",
                    F.sort_array(
                        F.collect_list(F.md5(F.col("text").cast("binary")))
                    ),
                ).cast("binary")
            ).alias("content_fp"),
        )
        .orderBy("source")
    )


ORACLE_WARC_SCAN = """
SELECT 's' || CAST(doc_id % 5 AS VARCHAR) || '.example' AS source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
       md5(string_agg(md5(text), '' ORDER BY md5(text))) AS content_fp
FROM documents WHERE doc_id < 200
GROUP BY 1 ORDER BY source
"""


def q_text_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact dedup (textops.remove_duplicate_spans): the C4
    repeated-span / RefinedWeb duplicated-line curation step — every
    8-word span occurring in >= 2 distinct documents is boilerplate and
    deleted from ALL of them, survivors re-joined in document order.
    Plan: linear span explode → partial+final df aggregate → broadcast
    anti-style removal join (the boilerplate set is small by
    construction; the corpus side never shuffles for the join), keyed
    on xxhash64(span)."""
    docs = _t(spark, sf_dir, "documents")
    cleaned = textops.remove_duplicate_spans(docs, span_words=8, min_df=2)
    return (
        cleaned.select(
            "doc_id",
            "kept_spans",
            "removed_spans",
            F.md5(F.col("text").cast("binary")).alias("text_md5"),
        )
        .orderBy("doc_id")
        .limit(500)
    )


ORACLE_TEXT_SPAN_DEDUP = """
WITH t AS (SELECT doc_id,
                  string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') toks
           FROM documents),
s AS (SELECT doc_id, CAST(st // 8 AS INT) AS span_idx,
             array_to_string(toks[st + 1 : st + 8], ' ') AS span
      FROM t, LATERAL unnest(range(0, len(toks), 8)) u(st)),
df AS (SELECT span FROM s GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 2),
m AS (SELECT s.doc_id, s.span_idx, s.span, df.span IS NOT NULL AS boiler
      FROM s LEFT JOIN df ON s.span = df.span)
SELECT doc_id,
       COUNT(*) FILTER (NOT boiler) AS kept_spans,
       COUNT(*) FILTER (boiler) AS removed_spans,
       md5(COALESCE(string_agg(span, ' ' ORDER BY span_idx)
                    FILTER (NOT boiler), '')) AS text_md5
FROM m GROUP BY doc_id ORDER BY doc_id LIMIT 500
"""


def q_text_substring_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication measure (textops.
    duplicated_substring_stats, the Lee et al. 2022 dedup signal):
    fraction of each document's tokens lying inside any 8-token
    window occurring >= 2 times corpus-wide — stride-1 windows catch
    duplicated substrings at ANY alignment, unlike the fixed tiling
    of q_text_span_dedup.  The oracle replays window slicing,
    occurrence counting, and position coverage in SQL."""
    docs = _t(spark, sf_dir, "documents")
    return (
        textops.duplicated_substring_stats(docs, min_tokens=8, min_count=2)
        .orderBy("doc_id")
        .limit(300)
    )


ORACLE_TEXT_SUBSTRING_DUP = """
WITH t AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') toks,
         CAST(CASE WHEN length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) = 0 THEN 0
              ELSE len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) END AS INT) n_tokens
  FROM documents),
w AS (
  SELECT doc_id, CAST(s AS INT) s,
         array_to_string(toks[s + 1 : s + 8], ' ') win
  FROM t, LATERAL unnest(range(0, GREATEST(len(toks) - 7, 0))) u(s)),
occ AS (SELECT win FROM w GROUP BY win HAVING COUNT(*) >= 2),
dup AS (
  SELECT DISTINCT w.doc_id, CAST(p AS INT) p
  FROM w JOIN occ USING (win), LATERAL unnest(range(w.s, w.s + 8)) v(p)),
cov AS (SELECT doc_id, CAST(COUNT(*) AS INT) n_dup FROM dup GROUP BY 1)
SELECT t.doc_id, t.n_tokens,
       COALESCE(c.n_dup, 0) n_dup_tokens,
       CASE WHEN t.n_tokens > 0
            THEN ROUND(COALESCE(c.n_dup, 0) * 1.0 / t.n_tokens, 6)
            ELSE 0.0 END dup_fraction
FROM t LEFT JOIN cov c USING (doc_id)
ORDER BY doc_id LIMIT 300
"""


def q_text_substring_rm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Removal form of the exact-substring dedup (textops.
    remove_duplicated_substrings): every token inside any duplicated
    8-token window deleted, survivors re-joined in document order —
    the Lee et al. 2022 curation step proper.  The oracle rebuilds
    the cleaned text with an ordered string_agg over non-covered
    positions; text is emitted as md5 so the compared cell stays
    small."""
    docs = _t(spark, sf_dir, "documents")
    # limit-before-rebuild (the q_text_lang_quality convention): the
    # output is the 300 SMALLEST doc_ids and the rebuild is row-wise
    # per doc, so only those docs are exploded and re-aggregated —
    # duplication MARKING still runs over the full corpus (the covered
    # set is corpus-global); the outer orderBy/limit keeps the
    # identical row set.
    out = textops.remove_duplicated_substrings(
        docs,
        min_tokens=8,
        min_count=2,
        output_docs=docs.orderBy("doc_id").limit(300),
    )
    return (
        out.select(
            "doc_id",
            "kept_tokens",
            "removed_tokens",
            F.md5(F.col("text").cast("binary")).alias("text_md5"),
        )
        .orderBy("doc_id")
        .limit(300)
    )


ORACLE_TEXT_SUBSTRING_RM = """
WITH t AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') toks
  FROM documents),
tok AS (
  SELECT doc_id, CAST(p AS INT) p, toks[p + 1] tk
  FROM t, LATERAL unnest(range(0, len(toks))) u(p)
  WHERE toks[p + 1] <> ''),
w AS (
  SELECT doc_id, CAST(s AS INT) s,
         array_to_string(toks[s + 1 : s + 8], ' ') win
  FROM t, LATERAL unnest(range(0, GREATEST(len(toks) - 7, 0))) u(s)),
occ AS (SELECT win FROM w GROUP BY win HAVING COUNT(*) >= 2),
cov AS (
  SELECT DISTINCT w.doc_id, CAST(p AS INT) p
  FROM w JOIN occ USING (win), LATERAL unnest(range(w.s, w.s + 8)) v(p)),
kept AS (
  SELECT tok.doc_id, tok.p, tok.tk
  FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.p = cov.p
  WHERE cov.p IS NULL),
reb AS (
  SELECT doc_id, CAST(COUNT(*) AS INT) kept_tokens,
         string_agg(tk, ' ' ORDER BY p) txt
  FROM kept GROUP BY doc_id),
base AS (
  SELECT doc_id,
         CAST(CASE WHEN length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) = 0 THEN 0
              ELSE len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) END AS INT) n
  FROM documents)
SELECT b.doc_id,
       COALESCE(r.kept_tokens, 0) kept_tokens,
       CAST(b.n - COALESCE(r.kept_tokens, 0) AS INT) removed_tokens,
       md5(COALESCE(r.txt, '')) text_md5
FROM base b LEFT JOIN reb r USING (doc_id)
ORDER BY doc_id LIMIT 300
"""


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signal (textops.repetition_ratio): the
    single most frequent bigram's share of each doc's bigrams — the
    boilerplate/spam flag quality filters gate on.  The aggregate
    shuffles xxhash64 gram keys instead of gram strings (it consumes
    only counts)."""
    docs = _t(spark, sf_dir, "documents")
    # NOT limit-before-operator: repetition_ratio emits rows only for
    # docs with >= 1 gram, so "300 smallest doc_ids" and "smallest 300
    # OUTPUT rows" diverge on a corpus with gram-less docs — the
    # pre-limit form is not universally result-identical (contrast
    # q_text_redact_pii, whose projection is total per doc)
    rep = textops.repetition_ratio(docs, n=2)
    return (
        rep.select(
            "doc_id", "n_grams", _r6(F.col("top_frac"), "top_frac")
        )
        .orderBy("doc_id")
        .limit(300)
    )


ORACLE_TEXT_REPETITION = """
WITH t AS (SELECT doc_id,
                  string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') toks
           FROM documents),
g AS (SELECT doc_id, array_to_string(toks[i : i + 1], ' ') gram
      FROM (SELECT doc_id, toks,
                   unnest(range(1, greatest(len(toks) - 1, 0) + 1)) i
            FROM t)),
pg AS (SELECT doc_id, gram, COUNT(*) c FROM g GROUP BY 1, 2)
SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
       ROUND(MAX(c) * 1.0 / SUM(c), 6) AS top_frac
FROM pg GROUP BY 1 ORDER BY doc_id LIMIT 300
"""


def q_text_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality signal (textops.unigram_logprob):
    average corpus-self unigram log-probability per document — the
    KenLM-filter shape without an external LM."""
    docs = _t(spark, sf_dir, "documents")
    out = textops.unigram_logprob(docs)
    return (
        out.select(
            "doc_id", "n_tokens", _r6(F.col("avg_logprob"), "avg_logprob")
        )
        .orderBy("doc_id")
        .limit(300)
    )


ORACLE_TEXT_LOGPROB = """
WITH norm AS (SELECT doc_id,
                     trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
              FROM documents),
toks0 AS (SELECT doc_id, unnest(string_split(t, ' ')) token FROM norm),
toks AS (SELECT * FROM toks0 WHERE token <> ''),
freq AS (SELECT token, COUNT(*) c FROM toks GROUP BY 1),
tot AS (SELECT COUNT(*) t FROM toks)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(AVG(ln(c * 1.0 / t)), 6) AS avg_logprob
FROM toks JOIN freq USING (token), tot
GROUP BY doc_id ORDER BY doc_id LIMIT 300
"""


def q_emb_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-based curation filter (similarity.embedding_centroids
    + label cosines): cosine of each vector to its own label's centroid
    flags mislabeled / out-of-distribution samples.  Centroids are
    labels-sized and broadcast; the dot is the codegen unrolled form."""
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.embedding_label_cosines(emb, dim=64)
    return (
        out.select(
            "vec_id",
            "label",
            _r6(F.col("cos_centroid"), "cos_centroid"),
        )
        .withColumn("is_outlier", F.col("cos_centroid") < 0.2)
        .orderBy("vec_id")
    )


ORACLE_EMB_OUTLIERS = """
WITH x AS (SELECT vec_id, label, unnest(embedding) val,
                  generate_subscripts(embedding, 1) ord
           FROM embeddings),
c AS (SELECT label, ord, AVG(val) cv FROM x GROUP BY 1, 2),
d AS (SELECT x.vec_id, x.label,
             SUM(x.val * c.cv) dp,
             SUM(CAST(x.val AS DOUBLE) * x.val) na,
             SUM(c.cv * c.cv) nc
      FROM x JOIN c ON x.label = c.label AND x.ord = c.ord
      GROUP BY 1, 2)
SELECT vec_id, label,
       ROUND(dp / (sqrt(na) * sqrt(nc)), 6) AS cos_centroid,
       ROUND(dp / (sqrt(na) * sqrt(nc)), 6) < 0.2 AS is_outlier
FROM d ORDER BY vec_id
"""


def q_text_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting / punct ratio / fingerprint (north-star text ops)."""
    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    # limit-before-projection (the q_text_lang_quality convention):
    # all four features are row-wise and the output is the 200 smallest
    # doc_ids — identical row set, 200 feature evaluations not |corpus|
    return (
        docs.orderBy("doc_id")
        .limit(200)
        .select(
            "doc_id",
            textops.ws_token_count(t).alias("n_tokens_ws"),
            textops.bpe_ish_token_count(t).alias("n_tokens_bpe"),
            _r6(textops.punct_ratio(t), "punct_ratio"),
            textops.fingerprint(t).alias("fingerprint"),
        )
        .orderBy("doc_id")
    )


ORACLE_TEXT_FEATURES = """
SELECT doc_id,
       CAST(CASE WHEN length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) = 0 THEN 0
            ELSE len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) END AS INT) n_tokens_ws,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT) n_tokens_bpe,
       ROUND(CASE WHEN length(text) = 0 THEN 0.0
            ELSE len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) * 1.0 / length(text) END, 6) punct_ratio,
       md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) fingerprint
FROM documents ORDER BY doc_id LIMIT 200
"""


def q_text_winnow(
    spark: SparkSession, sf_dir: str, hash_fn: str = "md5"
) -> DataFrame:
    """Winnowing fingerprints (MOSS-style k-gram rolling-hash selection,
    textops.winnow_fingerprint_table — the linear explode+window form):
    per-doc count of selected fingerprints and the lexicographic
    minimum, hash-matched against a DuckDB replay of the identical md5
    k-gram + window-min selection.  hash_fn='xxhash64' is the benched
    production twin (integer fingerprints, no hex strings)."""
    docs = _t(spark, sf_dir, "documents")
    fpt = textops.winnow_fingerprint_table(docs, k=8, window=4, hash_fn=hash_fn)
    agg = fpt.groupBy("doc_id").agg(
        F.count("fp").cast("int").alias("n_fps"), F.min("fp").alias("min_fp")
    )
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_fps"), F.lit(0)).alias("n_fps"),
            "min_fp",
        )
        .orderBy("doc_id")
        .limit(200)
    )


ORACLE_TEXT_WINNOW = """
WITH g AS (
  SELECT doc_id,
         CASE WHEN length(text) >= 8
              THEN list_transform(range(1, length(text) - 8 + 2),
                                  i -> md5(text[i:i+7]))
              ELSE [] END AS hashes
  FROM documents
),
w AS (
  SELECT doc_id,
         list_distinct(
           CASE WHEN len(hashes) >= 4
                THEN list_transform(range(1, len(hashes) - 4 + 2),
                                    i -> list_min(hashes[i:i+3]))
                WHEN len(hashes) >= 1 THEN [list_min(hashes)]
                ELSE [] END) AS fps
  FROM g
)
SELECT doc_id, CAST(len(fps) AS INT) n_fps, list_min(fps) min_fp
FROM w ORDER BY doc_id LIMIT 200
"""


def q_text_lang_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic + quality score (north-star text analysis):
    stopword-ratio argmax over 4 languages and the 3-term quality gate,
    all as JVM column expressions; the oracle replays the identical
    arithmetic in DuckDB."""
    # limit-before-projection: the output is the 200 SMALLEST doc_ids
    # (doc_id is the table key, so the row set is identical), and
    # lang/quality are row-wise — taking the top-200 FIRST means the
    # heavy scoring expressions run over 200 rows instead of the whole
    # corpus (guide §1.2: don't compute things you throw away).  At
    # 100 TB this turns a full-corpus scoring pass into a key top-k +
    # 200 scorings.
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(200)
    )
    t = F.col("text")
    return (
        docs.select(
            "doc_id",
            textops.lang_id(t).alias("lang_pred"),
            _r6(textops.stopword_ratio(t, "en"), "stop_en"),
            _r6(textops.quality_score(t), "quality"),
        )
        .orderBy("doc_id")
    )


ORACLE_TEXT_LANG = f"""
WITH {_FEATS_CTE},
ratios AS (
  SELECT doc_id, n_tok, punct,
         {_stop_ratio_case("de")} r_de,
         {_stop_ratio_case("en")} r_en,
         {_stop_ratio_case("es")} r_es,
         {_stop_ratio_case("fr")} r_fr
  FROM feats)
SELECT doc_id,
       CASE WHEN GREATEST(r_de, r_en, r_es, r_fr) <= 0 THEN 'unknown'
            WHEN r_de = GREATEST(r_de, r_en, r_es, r_fr) THEN 'de'
            WHEN r_en = GREATEST(r_de, r_en, r_es, r_fr) THEN 'en'
            WHEN r_es = GREATEST(r_de, r_en, r_es, r_fr) THEN 'es'
            ELSE 'fr' END lang_pred,
       ROUND(r_en, 6) stop_en,
       ROUND({_quality_expr("r_en")}, 6) quality
FROM ratios ORDER BY doc_id LIMIT 200
"""


def q_text_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-pruned vocabulary with deterministic ids — the
    tokenizer-training precursor (north-star text analysis)."""
    docs = _t(spark, sf_dir, "documents")
    return textops.vocabulary(docs, min_count=2, top_n=30).orderBy("token_id")


ORACLE_TEXT_VOCAB = """
WITH toks AS (
  SELECT doc_id, t.token
  FROM documents,
       LATERAL unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) t(token)
  WHERE t.token <> ''),
freq AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) n_occurrences
  FROM toks GROUP BY token HAVING COUNT(*) >= 2),
ranked AS (
  SELECT token, n_occurrences,
         CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, token) - 1 AS INT) token_id
  FROM freq)
SELECT token, n_occurrences, token_id FROM ranked
WHERE token_id < 30 ORDER BY token_id
"""


def q_text_token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tensorization (textops.tokenize_to_ids): documents → ordered
    token-id arrays under the deterministic vocabulary (q_text_vocab's
    ids), unknown tokens → -1 — the array training loaders consume.
    The id array is emitted as a comma-joined string (the q_arr1
    pattern) so the result stays hashable for the driver's pandas-side
    canonicalization; the oracle rebuilds it with an ordered
    string_agg."""
    docs = _t(spark, sf_dir, "documents")
    vocab = textops.vocabulary(docs, min_count=2, top_n=30)
    out = textops.tokenize_to_ids(docs, vocab)
    return (
        out.select(
            "doc_id",
            "n_ids",
            F.array_join(
                F.transform("ids", lambda i: i.cast("string")), ","
            ).alias("ids_csv"),
        )
        .orderBy("doc_id")
        .limit(300)
    )


ORACLE_TEXT_TOKEN_IDS = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) token,
         generate_subscripts(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '), 1) pos
  FROM documents),
freq AS (
  SELECT token, COUNT(*) n FROM toks WHERE token <> ''
  GROUP BY token HAVING COUNT(*) >= 2),
ranked AS (
  SELECT token,
         CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) - 1 AS INT) token_id
  FROM freq),
vocab AS (SELECT token, token_id FROM ranked WHERE token_id < 30),
mapped AS (
  SELECT t.doc_id, t.pos,
         CAST(COALESCE(v.token_id, -1) AS INT) tid
  FROM toks t LEFT JOIN vocab v USING (token))
SELECT doc_id, CAST(COUNT(*) AS INT) AS n_ids,
       string_agg(CAST(tid AS VARCHAR), ',' ORDER BY pos) AS ids_csv
FROM mapped GROUP BY doc_id ORDER BY doc_id LIMIT 300
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (operators/packing.py): fill fixed token-budget
    training sequences by bucketed best-fit-decreasing.  The pack
    ASSIGNMENT is a bin-packing heuristic SQL cannot replay, so the
    declared shape emits per-bucket CONSERVED invariants an oracle can
    recompute from ``documents`` alone — n_docs and Σ tokens (packing
    moves docs between packs, never in/out of a bucket) — plus
    feasibility booleans VERIFIED Spark-side over the real assignment:
    every pack within budget (or an over-budget singleton), pack_fill
    consistent with member token sums, every doc packed exactly once,
    and pack count between the lower bound n_over + ⌈Σ_small/budget⌉
    (over-budget docs are forced singletons, so the plain LP bound
    ⌈Σ/budget⌉ would overshoot when they exist) and n_docs.
    The bucketing here is ``doc_id % 8`` (the ``bucket_col`` override)
    so the oracle can replay it; production uses the xxhash64 default.
    Exact pack boundaries stay pinned by tests/test_packing.py."""
    from physicsnemo_curator_spark.operators.packing import pack_sequences

    budget = 256
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        textops.ws_token_count(F.col("text")).alias("n_tokens"),
        F.pmod(F.col("doc_id"), F.lit(8)).cast("int").alias("bucket"),
    )
    packed = pack_sequences(docs, budget=budget, bucket_col="bucket")
    per_pack = packed.groupBy("bucket", "pack_index").agg(
        F.count(F.lit(1)).alias("pack_docs"),
        F.sum("n_tokens").alias("member_tokens"),
        F.max("pack_fill").alias("fill_max"),
        F.min("pack_fill").alias("fill_min"),
    )
    pack_stats = per_pack.groupBy("bucket").agg(
        F.sum("pack_docs").cast("bigint").alias("n_docs"),
        F.sum("member_tokens").cast("bigint").alias("sum_tokens"),
        F.count(F.lit(1)).alias("_n_packs"),
        F.every(
            (F.col("fill_max") <= budget) | (F.col("pack_docs") == 1)
        ).alias("budget_ok"),
        F.every(
            (F.col("fill_max") == F.col("fill_min"))
            & (F.col("fill_max") == F.col("member_tokens"))
        ).alias("fill_ok"),
    )
    # doc-level split: over-budget docs are always singleton packs, so
    # the valid pack-count lower bound is n_over + ceil(sum_small /
    # budget) — ceil(sum_tokens / budget) alone overshoots whenever an
    # over-budget doc exists (its singleton holds > budget tokens).
    # n_over is conserved through packing, so the oracle replays it.
    doc_stats = packed.groupBy("bucket").agg(
        F.sum(F.when(F.col("n_tokens") > budget, 1).otherwise(0))
        .cast("bigint")
        .alias("n_over"),
        F.sum(
            F.when(F.col("n_tokens") <= budget, F.col("n_tokens")).otherwise(0)
        ).alias("_sum_small"),
    )
    return (
        pack_stats.join(doc_stats, "bucket")
        .select(
            "bucket",
            "n_docs",
            "sum_tokens",
            "n_over",
            "budget_ok",
            "fill_ok",
            (
                (
                    F.col("_n_packs")
                    >= F.col("n_over") + F.ceil(F.col("_sum_small") / budget)
                )
                & (F.col("_n_packs") <= F.col("n_docs"))
            ).alias("pack_count_ok"),
        )
        .orderBy("bucket")
    )


ORACLE_PACK_SEQUENCES = """
WITH d AS (
  SELECT doc_id,
         CAST(CASE WHEN length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) = 0 THEN 0
              ELSE len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) END AS BIGINT) n_tokens
  FROM documents)
SELECT CAST(doc_id % 8 AS INT) bucket,
       CAST(COUNT(*) AS BIGINT) n_docs,
       CAST(SUM(n_tokens) AS BIGINT) sum_tokens,
       CAST(COUNT(*) FILTER (n_tokens > 256) AS BIGINT) n_over,
       TRUE budget_ok,
       TRUE fill_ok,
       TRUE pack_count_ok
FROM d GROUP BY 1 ORDER BY bucket
"""


def q_validate_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectations gate (operators/validation.py): a five-rule data
    contract on ``orders`` (null discipline, key uniqueness, price
    range, status domain, priority format) evaluated in ONE aggregate
    pass; the oracle recomputes every count in SQL."""
    from physicsnemo_curator_spark.operators import validation as V

    orders = _t(spark, sf_dir, "orders")
    rules = [
        V.not_null("o_custkey"),
        V.unique("o_orderkey"),
        V.in_range("o_totalprice", 0, 600000),
        V.in_set("o_orderstatus", ("F", "O", "P")),
        V.matches("o_orderpriority", "^[1-5]-"),
    ]
    return V.validate(orders, rules).orderBy("rule")


ORACLE_VALIDATE = """
WITH t AS (SELECT CAST(COUNT(*) AS BIGINT) total,
  CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) v_nn,
  CAST(COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS BIGINT) v_u,
  CAST(SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice < 0
                  OR o_totalprice > 600000 THEN 1 ELSE 0 END) AS BIGINT) v_r,
  CAST(SUM(CASE WHEN o_orderstatus IS NULL
                  OR o_orderstatus NOT IN ('F', 'O', 'P')
            THEN 1 ELSE 0 END) AS BIGINT) v_s,
  CAST(SUM(CASE WHEN o_orderpriority IS NULL
                  OR NOT regexp_matches(o_orderpriority, '^[1-5]-')
            THEN 1 ELSE 0 END) AS BIGINT) v_m
  FROM orders)
SELECT * FROM (
  SELECT 'not_null' AS rule, 'o_custkey' AS "column", v_nn AS violations,
         total, v_nn = 0 AS passed FROM t
  UNION ALL
  SELECT 'unique', 'o_orderkey', v_u, total, v_u = 0 FROM t
  UNION ALL
  SELECT 'in_range(0, 600000)', 'o_totalprice', v_r, total, v_r = 0 FROM t
  UNION ALL
  SELECT 'in_set(F, O, P)', 'o_orderstatus', v_s, total, v_s = 0 FROM t
  UNION ALL
  SELECT 'matches(^[1-5]-)', 'o_orderpriority', v_m, total, v_m = 0 FROM t
) ORDER BY rule
"""


def q_profile_columns(
    spark: SparkSession, sf_dir: str, distinct: str = "exact"
) -> DataFrame:
    """Dataset-card column profile (validation.profile): per-column
    dtype / null count / exact distinct / min / max, the whole report
    one aggregate job; min/max surfaced as strings so one schema covers
    all column types."""
    from physicsnemo_curator_spark.operators import validation as V

    li = _t(spark, sf_dir, "lineitem")
    return V.profile(
        li,
        ["l_orderkey", "l_quantity", "l_returnflag", "l_shipdate"],
        distinct=distinct,
    ).orderBy("column")


ORACLE_PROFILE = """
WITH t AS (SELECT CAST(COUNT(*) AS BIGINT) total,
  CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) n0,
  CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) d0,
  CAST(MIN(l_orderkey) AS VARCHAR) lo0, CAST(MAX(l_orderkey) AS VARCHAR) hi0,
  CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) n1,
  CAST(COUNT(DISTINCT l_quantity) AS BIGINT) d1,
  CAST(MIN(l_quantity) AS VARCHAR) lo1, CAST(MAX(l_quantity) AS VARCHAR) hi1,
  CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) n2,
  CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) d2,
  CAST(MIN(l_returnflag) AS VARCHAR) lo2, CAST(MAX(l_returnflag) AS VARCHAR) hi2,
  CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) n3,
  CAST(COUNT(DISTINCT l_shipdate) AS BIGINT) d3,
  CAST(MIN(l_shipdate) AS VARCHAR) lo3, CAST(MAX(l_shipdate) AS VARCHAR) hi3
  FROM lineitem)
SELECT * FROM (
  SELECT 'l_orderkey' AS "column", 'bigint' AS dtype, total AS n_rows,
         n0 AS n_null, d0 AS n_distinct, lo0 AS min_value, hi0 AS max_value FROM t
  UNION ALL SELECT 'l_quantity', 'double', total, n1, d1, lo1, hi1 FROM t
  UNION ALL SELECT 'l_returnflag', 'string', total, n2, d2, lo2, hi2 FROM t
  UNION ALL SELECT 'l_shipdate', 'timestamp', total, n3, d3, lo3, hi3 FROM t
) ORDER BY "column"
"""


def q_text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (textops.contamination_report): the
    doc_id%10==0 slice of ``documents`` plays the evaluation set, the
    rest is corpus; any shared word 5-gram flags leakage.  Benchmark
    shingles broadcast; corpus shingles never shuffle."""
    docs = _t(spark, sf_dir, "documents")
    out = textops.contamination_report(
        docs.filter(F.col("doc_id") % 10 != 0),
        docs.filter(F.col("doc_id") % 10 == 0),
        n=5,
    )
    return out.select(
        "doc_id", "n_hits", "n_grams", _r6(F.col("hit_frac"), "hit_frac")
    ).orderBy("doc_id")


ORACLE_DECONTAMINATE = """
WITH norm AS (SELECT doc_id,
                     string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') toks
              FROM documents),
sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+4], ' ') s
       FROM (SELECT doc_id, toks, unnest(range(1, greatest(len(toks) - 4, 0) + 1)) i
             FROM norm)),
csh AS (SELECT * FROM sh WHERE doc_id % 10 != 0),
bsh AS (SELECT DISTINCT s FROM sh WHERE doc_id % 10 = 0),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) n_grams FROM csh GROUP BY 1),
hits AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) n_hits
         FROM csh JOIN bsh USING (s) GROUP BY 1)
SELECT h.doc_id, n_hits, n_grams,
       ROUND(n_hits * 1.0 / n_grams, 6) AS hit_frac
FROM hits h JOIN sizes USING (doc_id)
ORDER BY doc_id
"""


def q_text_tfidf_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF document cosine ≥ 0.95 (north-star similarity on
    text): token-keyed sparse dot product, no dense vectors, no pair
    enumeration — the lexical twin of the embedding near-dup path.
    Bounded to a 500-doc slice: this synthetic corpus has a ~40-token
    vocabulary, so every token is stopword-dense (df ≈ N) and the
    sparse join degenerates to Σ df² — real corpora prune high-df
    tokens upstream instead (see sparse_cosine_pairs docstring)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    w = textops.tfidf(docs)
    pairs = textops.sparse_cosine_pairs(w, threshold=0.95)
    return pairs.select("a", "b", _r6(F.col("cosine"), "cosine")).orderBy("a", "b")


ORACLE_TFIDF_SIM = """
WITH docs500 AS (SELECT * FROM documents WHERE doc_id < 500),
toks AS (
  SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) token
  FROM docs500),
tf AS (SELECT doc_id, token, COUNT(*) tf FROM toks
       WHERE token <> '' GROUP BY 1, 2),
idf AS (SELECT token,
               ln(((SELECT COUNT(*) FROM docs500) + 1.0) / (COUNT(DISTINCT doc_id) + 1.0)) + 1.0 idf
        FROM tf GROUP BY token),
w AS (SELECT tf.doc_id, tf.token, tf.tf * idf.idf w
      FROM tf JOIN idf ON tf.token = idf.token),
norms AS (SELECT doc_id, sqrt(SUM(w * w)) norm FROM w GROUP BY doc_id),
nw AS (SELECT w.doc_id, w.token, w.w / n.norm weight
       FROM w JOIN norms n ON w.doc_id = n.doc_id),
pairs AS (
  SELECT a.doc_id a, b.doc_id b, SUM(a.weight * b.weight) cosine
  FROM nw a JOIN nw b ON a.token = b.token AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT a, b, ROUND(cosine, 6) cosine FROM pairs
WHERE cosine >= 0.95 ORDER BY a, b
"""


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-k (north-star similarity baseline);
    the LSH-bucketed scale path is validated against this in tests."""
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # dim=64 skips the _vec_dim probe — one saved job, identical math
    out = similarity.cosine_topk(emb, qs, k=5, dim=64)
    return out.select(
        "query_id", "vec_id", _r6(F.col("cosine"), "cosine"), "rank"
    ).orderBy("query_id", "rank")


_SQ8_RECON_CTES = """stats AS (
  SELECT j, CAST(MIN(x) AS DOUBLE) mn, CAST(MAX(x) AS DOUBLE) mx
  FROM (SELECT unnest(range(0, 64)) j, unnest(embedding) x FROM embeddings)
  GROUP BY j),
recon AS (
  SELECT e.vec_id, e.j,
         s.mn + CAST(CASE WHEN s.mx > s.mn THEN
             LEAST(255, GREATEST(0, CAST(FLOOR(
               (CAST(e.x AS DOUBLE) - s.mn) / (s.mx - s.mn) * 255.0 + 0.5
             ) AS BIGINT)))
           ELSE 0 END AS DOUBLE) / 255.0 * (s.mx - s.mn) AS r
  FROM (SELECT vec_id, unnest(range(0, 64)) j, unnest(embedding) x
        FROM embeddings) e
  JOIN stats s ON e.j = s.j)"""
# ONE construction of the SQ8 quantize->reconstruct CTEs feeds the SQ8
# oracle AND the RRF oracle's SQ8 ranker — a codebook/clamp formula fix
# cannot desynchronize them (the _pq_ctes/_ivf_prefix_ctes discipline).


def _exact_cosine_sql(qe: str, ce: str) -> str:
    """The exact-cosine correlated-subquery expression over two array
    columns — shared by the exact-ANN, RRF-exact-ranker, and
    hard-negatives oracles so the arithmetic (and therefore the
    tie-break neighborhoods) stays ONE definition."""
    return f"""(SELECT SUM(CAST(a AS DOUBLE) * CAST(b AS DOUBLE))
          FROM (SELECT unnest({qe}) a, unnest({ce}) b)) /
         (SQRT((SELECT SUM(CAST(a AS DOUBLE) * CAST(a AS DOUBLE)) FROM (SELECT unnest({qe}) a))) *
          SQRT((SELECT SUM(CAST(b AS DOUBLE) * CAST(b AS DOUBLE)) FROM (SELECT unnest({ce}) b))))"""


ORACLE_ANN = f"""
WITH q AS (SELECT vec_id query_id, embedding qe FROM embeddings WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, c.vec_id,
         {_exact_cosine_sql("q.qe", "c.embedding")} cosine
  FROM q, embeddings c),
ranked AS (
  SELECT query_id, vec_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INT) rank
  FROM scored)
SELECT query_id, vec_id, ROUND(cosine, 6) cosine, rank
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
"""


def q_ann_lsh_topk(
    spark: SparkSession, sf_dir: str, md5_planes: bool = True
) -> DataFrame:
    """Multi-band LSH ANN — the scale path for q_ann_cosine_topk
    (candidates from shared (band, bucket), exact cosine re-rank).
    Hyperplanes are md5-derived dyadic rationals
    (similarity.md5_hyperplanes), so the whole bucketing — not just the
    re-rank — replays exactly in the DuckDB oracle; the gaussian-plane
    default (md5_planes=False, the benched production twin) stays
    recall-pinned vs exact in tests."""
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    planes = similarity.md5_hyperplanes(64, 32, tag="p") if md5_planes else None
    out = similarity.lsh_topk(emb, qs, dim=64, k=5, planes=planes)
    return out.select(
        "query_id", "vec_id", _r6(F.col("cosine"), "cosine"), "rank"
    ).orderBy("query_id", "rank")


def _lsh_prefix_ctes(
    n_planes: int = 32, dim: int = 64, bits_per_band: int = 4
) -> str:
    """Shared md5-hyperplane LSH CTE chain (plane rebuild from md5
    nibbles → sign-projection → banding → candidate pairs) — ONE
    construction feeds the LSH oracle and the ANN-fed RRF oracle, so
    a plane/banding fix cannot desynchronize the gates."""
    return f"""planes AS (
  SELECT p.i, d.j,
         CAST(CAST(concat('0x', substr(md5(concat('p:', p.i, ':', d.j)), 1, 8)) AS BIGINT) AS DOUBLE)
           / 4294967296.0 - 0.5 AS v
  FROM (SELECT unnest(range(0, {n_planes})) i) p,
       (SELECT unnest(range(0, {dim})) j) d),
ev AS (SELECT vec_id, unnest(range(0, {dim})) j, unnest(embedding) x FROM embeddings),
dots AS (SELECT e.vec_id, pl.i, SUM(CAST(e.x AS DOUBLE) * pl.v) s
         FROM ev e JOIN planes pl ON e.j = pl.j GROUP BY 1, 2),
buckets AS (SELECT vec_id, CAST(i // {bits_per_band} AS INT) band,
                   SUM(CASE WHEN s >= 0 THEN CAST(1 AS BIGINT) << (i % {bits_per_band}) ELSE 0 END) bucket
            FROM dots GROUP BY 1, 2),
cand AS (SELECT DISTINCT q.vec_id query_id, c.vec_id
         FROM buckets q JOIN buckets c ON q.band = c.band AND q.bucket = c.bucket
         WHERE q.vec_id < 10)"""


def _lsh_oracle(n_planes: int = 32, dim: int = 64, bits_per_band: int = 4) -> str:
    """DuckDB replay of md5-hyperplane LSH top-k: rebuild the plane
    table from md5 nibbles, sign-project, band, candidate-join, exact
    cosine re-rank — the same five stages as similarity.lsh_topk."""
    return f"""
WITH {_lsh_prefix_ctes(n_planes, dim, bits_per_band)},
scored AS (
  SELECT cand.query_id, cand.vec_id,
         (SELECT SUM(CAST(a AS DOUBLE) * CAST(b AS DOUBLE))
          FROM (SELECT unnest(qe.embedding) a, unnest(ce.embedding) b)) /
         (SQRT((SELECT SUM(CAST(a AS DOUBLE) * CAST(a AS DOUBLE)) FROM (SELECT unnest(qe.embedding) a))) *
          SQRT((SELECT SUM(CAST(b AS DOUBLE) * CAST(b AS DOUBLE)) FROM (SELECT unnest(ce.embedding) b)))) cosine
  FROM cand JOIN embeddings qe ON cand.query_id = qe.vec_id
            JOIN embeddings ce ON cand.vec_id = ce.vec_id),
ranked AS (
  SELECT query_id, vec_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INT) rank
  FROM scored)
SELECT query_id, vec_id, ROUND(cosine, 6) cosine, rank
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
"""


ORACLE_ANN_LSH = _lsh_oracle()


def q_ann_sq8_topk(
    spark: SparkSession, sf_dir: str, rescore: int = 0
) -> DataFrame:
    """8-bit scalar-quantized ANN (similarity.sq8_topk) — the
    memory-bandwidth scale path for q_ann_cosine_topk: per-dimension
    (min, max) codebook from ONE aggregate, corpus codes in [0, 255]
    (floor(x+0.5), clamp, constant-dim→0), asymmetric cosine of the
    float query against reconstructed corpus vectors, same
    broadcast-join/no-corpus-shuffle plan.  The production form scans
    a 4-8× smaller persisted code table; the benched twin adds the
    exact re-rank (rescore=2) of each query's top 2k SQ8 candidates.
    The oracle replays quantize→reconstruct→cosine→top-k in DuckDB
    arithmetic, so a codebook, clamp, or de-quantization bug changes
    the hash."""
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.sq8_topk(emb, qs, k=5, dim=64, rescore=rescore)
    return out.select(
        "query_id", "vec_id", _r6(F.col("cosine"), "cosine"), "rank"
    ).orderBy("query_id", "rank")


def q_ann_pq_topk(
    spark: SparkSession, sf_dir: str, rescore: int = 0
) -> DataFrame:
    """Product-quantization ANN (mllib_ann.pq_topk) — the billion-scale
    shape: dim 64 splits into m=8 subspaces, each with a ks=16
    codebook of md5-ordered sample subvectors (deterministic
    sample-init, the IVF gate's convention); corpus vectors become 8
    small ints (one Arrow projection), each query precomputes an
    (8×16) dot-product lookup table, and asymmetric-distance scoring
    is a broadcast LUT join + ONE hash aggregate per (query, vector) —
    m lookups per pair instead of a 64-term dot product, over a ~32×
    smaller code table.  The oracle replays codebook pick, per-subspace
    argmin encode (ties → lowest code), LUT build, reconstruction
    norms, and the ADC cosine rank in DuckDB arithmetic."""
    from physicsnemo_curator_spark.operators import mllib_ann

    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = mllib_ann.pq_topk(
        emb, qs, k=5, m=8, ks=16, dim=64, rescore=rescore
    )
    return out.select(
        "query_id", "vec_id", _r6(F.col("cosine"), "cosine"), "rank"
    ).orderBy("query_id", "rank")


def _pq_ctes(
    p: str, *, ks: int = 16, dim: int = 64, m: int = 8, train_where: str = "",
    interleave: bool = False,
) -> str:
    """Shared PQ CTE chain with name prefix ``p``: codebook pick →
    per-subspace encode (argmin Σ(x−c)², ties → lowest code) → query
    LUT + reconstruction norms.  ONE construction feeds the PQ oracle
    (p=''), the IVF-PQ oracle (p='pq'), the incremental-index oracle
    (``train_where`` restricts the CODEBOOK sample to the seed corpus
    while encode/scoring still cover every vector), and the
    interleaved-subspace oracle (``interleave=True`` maps original dim
    ``i`` to subspace ``i % m``, slot ``i // m`` — the SQL image of
    ``subspace_permutation(dim, m)``) — an encode or LUT arithmetic
    fix cannot desynchronize the gates."""
    d = dim // m
    if interleave:
        jmap, tmap = f"i % {m}", f"i // {m}"
    else:
        jmap, tmap = f"i // {d}", f"i % {d}"
    return f"""{p}cent AS (
  SELECT embedding ce,
         CAST(ROW_NUMBER() OVER (
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INT) code
  FROM embeddings {train_where}
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {ks}),
{p}cb AS (
  SELECT code, CAST({jmap} AS INT) j, CAST({tmap} AS INT) t,
         CAST(x AS DOUBLE) c
  FROM (SELECT code, unnest(range(0, {dim})) i, unnest(ce) x FROM {p}cent)),
{p}ev AS (
  SELECT vec_id, CAST({jmap} AS INT) j, CAST({tmap} AS INT) t,
         CAST(x AS DOUBLE) x
  FROM (SELECT vec_id, unnest(range(0, {dim})) i, unnest(embedding) x
        FROM embeddings)),
{p}dist AS (
  SELECT e.vec_id, e.j, {p}cb.code, SUM((e.x - {p}cb.c) * (e.x - {p}cb.c)) d
  FROM {p}ev e JOIN {p}cb ON e.j = {p}cb.j AND e.t = {p}cb.t GROUP BY 1, 2, 3),
{p}assign AS (
  SELECT vec_id, j, code FROM (
    SELECT vec_id, j, code,
           ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, code) rn
    FROM {p}dist) WHERE rn = 1),
qv AS (
  SELECT vec_id query_id, CAST({jmap} AS INT) j, CAST({tmap} AS INT) t,
         CAST(x AS DOUBLE) x
  FROM (SELECT vec_id, unnest(range(0, {dim})) i, unnest(embedding) x
        FROM embeddings WHERE vec_id < 10)),
qn AS (SELECT query_id, SQRT(SUM(x * x)) qnorm FROM qv GROUP BY 1),
lut AS (
  SELECT q.query_id, q.j, {p}cb.code, SUM(q.x * {p}cb.c) dotv
  FROM qv q JOIN {p}cb ON q.j = {p}cb.j AND q.t = {p}cb.t GROUP BY 1, 2, 3),
n2 AS (SELECT j, code, SUM(c * c) n2 FROM {p}cb GROUP BY 1, 2)"""


_PQ_RANK_TAIL = """ranked AS (
  SELECT s.query_id, s.vec_id,
         s.sd / (SQRT(s.sn) * qn.qnorm) cosine,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY s.query_id
           ORDER BY s.sd / (SQRT(s.sn) * qn.qnorm) DESC, s.vec_id
         ) AS INT) rank
  FROM scored s JOIN qn ON s.query_id = qn.query_id)
SELECT query_id, vec_id, ROUND(cosine, 6) cosine, rank
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""


def q_ann_pq_interleaved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved-subspace PQ gate
    (mllib_ann.subspace_permutation(dim, m) + the perm= family
    threading): PQ subspace assignment is a free dial, and on
    ANISOTROPIC (PCA-like) spectra contiguous slicing hands the first
    subspace all the variance — the stride interleave (subspace j
    takes dims j, j+m, …) rebalances any monotone spectrum and lifted
    rescore-5 recall 0.70 → 0.97 on the decayed clustered fixture
    (RECALL.md r14).  This gate pins the PERMUTATION PLUMBING
    end-to-end — train slicing, Arrow encode, query LUT — against an
    oracle whose only change from the plain PQ gate is the dim→
    (subspace, slot) mapping (``i % m``/``i // m``), so a perm applied
    in one stage but not another diverges the hash immediately.
    Recall on the ISOTROPIC driver table is naturally ≈ the contiguous
    gate's (nothing to rebalance); correctness, not quality, is what
    this gate checks — quality floors live in
    tests/test_mllib_ann.py::test_pq_perm_identity_and_anisotropic_gain."""
    from physicsnemo_curator_spark.operators import mllib_ann

    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    perm = mllib_ann.subspace_permutation(64, 8)
    out = mllib_ann.pq_topk(emb, qs, k=5, m=8, ks=16, dim=64, perm=perm)
    return out.select(
        "query_id", "vec_id", _r6(F.col("cosine"), "cosine"), "rank"
    ).orderBy("query_id", "rank")


ORACLE_ANN_PQ_INTERLEAVED = f"""
WITH {_pq_ctes('', interleave=True)},
scored AS (
  SELECT l.query_id, a.vec_id, SUM(l.dotv) sd, SUM(n2.n2) sn
  FROM assign a
  JOIN lut l ON a.j = l.j AND a.code = l.code
  JOIN n2 ON a.j = n2.j AND a.code = n2.code
  GROUP BY 1, 2),
{_PQ_RANK_TAIL}
"""


ORACLE_ANN_PQ = f"""
WITH {_pq_ctes('')},
scored AS (
  SELECT l.query_id, a.vec_id, SUM(l.dotv) sd, SUM(n2.n2) sn
  FROM assign a
  JOIN lut l ON a.j = l.j AND a.code = l.code
  JOIN n2 ON a.j = n2.j AND a.code = n2.code
  GROUP BY 1, 2),
{_PQ_RANK_TAIL}
"""


def q_ann_pq_rotated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rotated-subspace PQ gate (mllib_ann.pythagorean_rotation + the
    rot= family threading — the plumbing probe for the OPQ learned
    rotation, Ge et al. CVPR 2013, whose opq_train output walks this
    exact path): corpus vectors, codebook sample, and query LUTs are
    all rotated by a FIXED block-diagonal Givens matrix before
    slicing.  The rotation's sin/cos are exact rationals from
    Pythagorean triples — one IEEE division each, so the oracle
    recomputes bit-identical doubles with no libm dependence — and
    the oracle applies the same pair rotation to every element stream
    before the plain contiguous PQ chain, so a rotation applied in
    one stage but not another (train vs encode vs LUT) diverges the
    hash immediately.  Quality floors for the LEARNED rotation live in
    tests/test_mllib_ann.py::test_opq_rotation_anisotropic_gain
    (rescore-5 recall 1.00 on the decayed fixture, beating the r14
    variance-balanced permutation's 0.985)."""
    from physicsnemo_curator_spark.operators import mllib_ann

    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rot = mllib_ann.pythagorean_rotation(64)
    out = mllib_ann.pq_topk(emb, qs, k=5, m=8, ks=16, dim=64, rot=rot)
    return out.select(
        "query_id", "vec_id", _r6(F.col("cosine"), "cosine"), "rank"
    ).orderBy("query_id", "rank")


def _rot_pair_cte(src: str, keys: str) -> str:
    """The SQL image of ``x @ pythagorean_rotation(dim)`` over an
    element stream ``src(keys…, i, x)``: each element joins its pair
    partner (``i XOR 1``) and the pair's exact-rational (c, s) —
    even slot → c·x + s·partner, odd slot → c·x − s·partner, the same
    two-term sums the numpy matmul reduces to (the off-pair terms are
    exact zeros; float addition is commutative, so the order
    difference on the odd slot is exact)."""
    on = " AND ".join(
        f"p.{k} = e.{k}" for k in keys.split(",")
    )
    return f"""
  SELECT {", ".join("e." + k for k in keys.split(","))}, e.i,
         CASE WHEN e.i % 2 = 0 THEN tr.c * e.x + tr.s * p.x
              ELSE tr.c * e.x - tr.s * p.x END x
  FROM {src} e
  JOIN {src} p ON {on}
   AND p.i = CASE WHEN e.i % 2 = 0 THEN e.i + 1 ELSE e.i - 1 END
  JOIN trip tr ON tr.t = e.i // 2"""


ORACLE_ANN_PQ_ROTATED = f"""
WITH trip AS (
  SELECT CAST(t AS INT) t,
         CASE t % 4 WHEN 0 THEN 3.0/5.0 WHEN 1 THEN 5.0/13.0
                    WHEN 2 THEN 8.0/17.0 ELSE 20.0/29.0 END c,
         CASE t % 4 WHEN 0 THEN 4.0/5.0 WHEN 1 THEN 12.0/13.0
                    WHEN 2 THEN 15.0/17.0 ELSE 21.0/29.0 END s
  FROM (SELECT unnest(range(0, 32)) t)),
cent AS (
  SELECT embedding ce,
         CAST(ROW_NUMBER() OVER (
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INT) code
  FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
centel AS (
  SELECT code, CAST(i AS INT) i, CAST(x AS DOUBLE) x
  FROM (SELECT code, unnest(range(0, 64)) i, unnest(ce) x FROM cent)),
centrot AS ({_rot_pair_cte('centel', 'code')}),
cb AS (
  SELECT code, CAST(i // 8 AS INT) j, CAST(i % 8 AS INT) t, x c
  FROM centrot),
evel AS (
  SELECT vec_id, CAST(i AS INT) i, CAST(x AS DOUBLE) x
  FROM (SELECT vec_id, unnest(range(0, 64)) i, unnest(embedding) x
        FROM embeddings)),
evrot AS ({_rot_pair_cte('evel', 'vec_id')}),
ev AS (
  SELECT vec_id, CAST(i // 8 AS INT) j, CAST(i % 8 AS INT) t, x
  FROM evrot),
dist AS (
  SELECT e.vec_id, e.j, cb.code, SUM((e.x - cb.c) * (e.x - cb.c)) d
  FROM ev e JOIN cb ON e.j = cb.j AND e.t = cb.t GROUP BY 1, 2, 3),
assign AS (
  SELECT vec_id, j, code FROM (
    SELECT vec_id, j, code,
           ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, code) rn
    FROM dist) WHERE rn = 1),
qel AS (
  SELECT vec_id query_id, CAST(i AS INT) i, CAST(x AS DOUBLE) x
  FROM (SELECT vec_id, unnest(range(0, 64)) i, unnest(embedding) x
        FROM embeddings WHERE vec_id < 10)),
qn AS (SELECT query_id, SQRT(SUM(x * x)) qnorm FROM qel GROUP BY 1),
qrot AS ({_rot_pair_cte('qel', 'query_id')}),
qv AS (
  SELECT query_id, CAST(i // 8 AS INT) j, CAST(i % 8 AS INT) t, x
  FROM qrot),
lut AS (
  SELECT q.query_id, q.j, cb.code, SUM(q.x * cb.c) dotv
  FROM qv q JOIN cb ON q.j = cb.j AND q.t = cb.t GROUP BY 1, 2, 3),
n2 AS (SELECT j, code, SUM(c * c) n2 FROM cb GROUP BY 1, 2),
scored AS (
  SELECT l.query_id, a.vec_id, SUM(l.dotv) sd, SUM(n2.n2) sn
  FROM assign a
  JOIN lut l ON a.j = l.j AND a.code = l.code
  JOIN n2 ON a.j = n2.j AND a.code = n2.code
  GROUP BY 1, 2),
{_PQ_RANK_TAIL}
"""


ORACLE_ANN_SQ8 = f"""
WITH {_SQ8_RECON_CTES},
qv AS (
  SELECT vec_id query_id, unnest(range(0, 64)) j,
         CAST(unnest(embedding) AS DOUBLE) x
  FROM embeddings WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, r.vec_id,
         SUM(q.x * r.r) /
           (SQRT(SUM(q.x * q.x)) * SQRT(SUM(r.r * r.r))) cosine
  FROM qv q JOIN recon r ON q.j = r.j
  GROUP BY 1, 2),
ranked AS (
  SELECT query_id, vec_id, cosine,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, vec_id
         ) AS INT) rank
  FROM scored)
SELECT query_id, vec_id, ROUND(cosine, 6) cosine, rank
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
"""


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat coarse-quantizer ANN with n_probe probing — the
    repeated-query scale path for q_ann_cosine_topk.  Centroids are a
    deterministic md5-ordered sample of corpus points (sample-init, no
    Lloyd refinement), so assignment, probing, and re-rank all replay
    in the DuckDB oracle; the KMeans-trained variant
    (train_ivf/train_ivf_sample) keeps its recall pin in
    tests/test_mllib_ann.py."""
    from physicsnemo_curator_spark.operators import mllib_ann

    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    centers = mllib_ann.md5_sample_centroids(emb, k=8)
    out = mllib_ann.ivf_topk(emb, qs, centers, k=5, n_probe=3)
    return out.select(
        "query_id", "vec_id", _r6(F.col("cosine"), "cosine"), "rank"
    ).orderBy("query_id", "rank")


def _ivf_prefix_ctes(
    k_cells: int, dim: int, n_probe: int, train_where: str = ""
) -> str:
    """Shared IVF CTE chain (centroid pick → assignment → probe sets →
    candidate pairs) used by the IVF, IVF-PQ, and incremental-index
    oracles (``train_where`` restricts the CENTROID sample to the seed
    corpus; assignment and probing still cover every vector) — one
    construction, so an assignment or tie-break fix cannot
    desynchronize the gates."""
    return f"""cent AS (
  SELECT embedding ce,
         CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INT) cell
  FROM embeddings {train_where} ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {k_cells}),
cv AS (SELECT cell, unnest(range(0, {dim})) j, unnest(ce) c FROM cent),
csq AS (SELECT cell, SUM(CAST(c AS DOUBLE) * CAST(c AS DOUBLE)) c2 FROM cv GROUP BY 1),
ev AS (SELECT vec_id, unnest(range(0, {dim})) j, unnest(embedding) x FROM embeddings),
dist AS (
  SELECT xc.vec_id, xc.cell, csq.c2 - 2 * xc.dotxc d
  FROM (SELECT e.vec_id, c.cell, SUM(CAST(e.x AS DOUBLE) * CAST(c.c AS DOUBLE)) dotxc
        FROM ev e JOIN cv c ON e.j = c.j GROUP BY 1, 2) xc
  JOIN csq ON xc.cell = csq.cell),
assign AS (SELECT vec_id, cell FROM (
  SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) rn
  FROM dist) WHERE rn = 1),
probes AS (SELECT vec_id query_id, cell FROM (
  SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) rn
  FROM dist WHERE vec_id < 10) WHERE rn <= {n_probe}),
cand AS (SELECT p.query_id, a.vec_id FROM probes p JOIN assign a ON p.cell = a.cell)"""


def _ivf_oracle(k_cells: int = 8, dim: int = 64, n_probe: int = 3) -> str:
    """DuckDB replay of md5-sample IVF: same centroid pick (md5 order),
    same assignment metric (c·c − 2 x·c, ties → lowest cell), same
    probe set, same exact-cosine re-rank as mllib_ann.ivf_topk."""
    return f"""
WITH {_ivf_prefix_ctes(k_cells, dim, n_probe)},
scored AS (
  SELECT cand.query_id, cand.vec_id,
         (SELECT SUM(CAST(a AS DOUBLE) * CAST(b AS DOUBLE))
          FROM (SELECT unnest(qe.embedding) a, unnest(ce.embedding) b)) /
         (SQRT((SELECT SUM(CAST(a AS DOUBLE) * CAST(a AS DOUBLE)) FROM (SELECT unnest(qe.embedding) a))) *
          SQRT((SELECT SUM(CAST(b AS DOUBLE) * CAST(b AS DOUBLE)) FROM (SELECT unnest(ce.embedding) b)))) cosine
  FROM cand JOIN embeddings qe ON cand.query_id = qe.vec_id
            JOIN embeddings ce ON cand.vec_id = ce.vec_id),
ranked AS (
  SELECT query_id, vec_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INT) rank
  FROM scored)
SELECT query_id, vec_id, ROUND(cosine, 6) cosine, rank
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
"""


ORACLE_ANN_IVF = _ivf_oracle()


def q_ann_ivfpq_topk(
    spark: SparkSession, sf_dir: str, rescore: int = 0
) -> DataFrame:
    """IVF-PQ ANN (mllib_ann.ivfpq_topk) — the billion-scale
    composition the large-vector-search deployments run: the 8-cell
    md5-sample coarse quantizer restricts each query to its 3 nearest
    cells, and PQ/ADC (m=8 subspaces × ks=16 codes) scores only those
    candidates through the broadcast LUT keyed (query_id, j, code).
    ONE projection computes each corpus row's cell AND codes — the
    persisted, cell-bucketed index table at scale.  The oracle
    composes the IVF oracle's assignment/probing with the PQ oracle's
    encode/LUT/ADC rank, all in DuckDB arithmetic."""
    from physicsnemo_curator_spark.operators import mllib_ann

    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # ONE md5-ordered sample collect serves both trainers AND the
    # query-LUT collect (three driver actions folded into one): the
    # coarse centroids are the sample's first 8 rows (identical to
    # k=8 — deterministic prefix), the PQ codebooks its first 16, and
    # the probe rows skip _pq_lut's own collect
    s16, qrows = mllib_ann.sample_and_query_rows(emb, qs, 16)
    centers = s16[:8]
    out = mllib_ann.ivfpq_topk(
        emb, qs, centers, k=5, n_probe=3, m=8, ks=16, rescore=rescore,
        codebooks=mllib_ann.pq_train(
            emb, m=8, ks=16, dim=64, sample_vectors=s16
        ),
        query_rows=qrows,
    )
    return out.select(
        "query_id", "vec_id", _r6(F.col("cosine"), "cosine"), "rank"
    ).orderBy("query_id", "rank")


ORACLE_ANN_IVFPQ = f"""
WITH {_ivf_prefix_ctes(8, 64, 3)},
{_pq_ctes('pq')},
scored AS (
  SELECT cand.query_id, cand.vec_id, SUM(l.dotv) sd, SUM(n2.n2) sn
  FROM cand
  JOIN pqassign pa ON cand.vec_id = pa.vec_id
  JOIN lut l ON cand.query_id = l.query_id
            AND pa.j = l.j AND pa.code = l.code
  JOIN n2 ON pa.j = n2.j AND pa.code = n2.code
  GROUP BY 1, 2),
{_PQ_RANK_TAIL}
"""


def _ivfpq_gate_store(spark: SparkSession, sf_dir: str):
    """Build (once per process) the LIVED-IN persisted IVF-PQ store the
    index gates probe, exercising the full maintenance lifecycle the
    r12 audit found broken, with quantizers trained on the SEED half
    (even vec_ids) and held fixed throughout:

      1. seed write: even vec_ids (``_gen=0``)
      2. append ``2026-01-01``: odd vec_ids with WRONG vectors (rolled
         by one position -> different cells AND codes; ``_gen=1``)
      3. ``compact_ivfpq_index``: conflict-free merge into the
         ``v00001`` generation behind the ``_CURRENT`` pointer
      4. append ``2026-02-01``: odd vec_ids with their CORRECT vectors
         (``_gen=2``) — a POST-compaction conflicting re-ingest

    A correct store serves exactly the clean single-write index (the
    unchanged IVF+PQ oracle): the re-ingest must beat the compacted
    generation (numeric ``_gen`` order — the lexical ``_batch`` rule
    inverted here, ``'compacted' > '2026-02-01'``) and the wrong rows
    stranded in moved-away-from cells must lose everywhere.  Returns
    ``(store, centers, codebooks)``."""
    import hashlib
    import tempfile

    from physicsnemo_curator_spark.operators import mllib_ann

    emb = _t(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 2 == 0)
    odd = emb.filter(F.col("vec_id") % 2 == 1)
    odd_wrong = odd.select(
        "vec_id",
        F.concat(
            F.slice("embedding", 2, 63), F.slice("embedding", 1, 1)
        ).alias("embedding"),
    )
    s16 = mllib_ann.md5_sample_centroids(corpus, k=16)
    centers = s16[:8]
    cbs = mllib_ann.pq_train(corpus, m=8, ks=16, dim=64, sample_vectors=s16)
    ident = path_ident(os.path.join(sf_dir, "embeddings.parquet"))
    token = hashlib.md5(
        f"{sf_dir}:{ident}:ivfpq2".encode()
    ).hexdigest()[:12]
    store = os.path.join(
        tempfile.gettempdir(), f"pcs_ivfpq_idx_{token}_{os.getpid()}"
    )
    # own completion marker: the build is FOUR steps, and parquet's
    # _SUCCESS reappears after the first — a crash between them must
    # rebuild, not serve a half-lived index
    marker = os.path.join(store, "_PCS_INDEX_DONE")
    if not os.path.exists(marker):
        mllib_ann.write_ivfpq_index(corpus, centers, cbs, store)
        mllib_ann.write_ivfpq_index(
            odd_wrong, centers, cbs, store,
            mode="append", batch_id="2026-01-01",
        )
        mllib_ann.compact_ivfpq_index(spark, store)
        mllib_ann.write_ivfpq_index(
            odd, centers, cbs, store, mode="append", batch_id="2026-02-01"
        )
        with open(marker, "w") as fh:
            fh.write("ok")
    return store, centers, cbs


def q_ann_ivfpq_incremental(
    spark: SparkSession, sf_dir: str, rescore: int = 0
) -> DataFrame:
    """Persisted incrementally-maintained IVF-PQ index gate
    (mllib_ann.write_ivfpq_index / compact_ivfpq_index /
    ivfpq_index_topk) — the production maintenance story between full
    retrains, now through the FULL lifecycle (seed → wrong-vector
    append → compact → conflicting correct re-ingest, see
    :func:`_ivfpq_gate_store`): queries probe the store with the batch
    side broadcast, so the scan prunes to the probed cell partitions
    (plan-asserted in tests/test_mllib_ann.py), and per-(query, vec)
    conflict dedup must pick the latest ``_gen``.  The oracle is the
    CLEAN index: IVF and PQ CTE builders with the training sample
    restricted to the seed half while assignment/encode/ADC cover
    every vector's true embedding — any stale-generation pick after
    compaction diverges the hash."""
    from physicsnemo_curator_spark.operators import mllib_ann

    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    store, centers, cbs = _ivfpq_gate_store(spark, sf_dir)
    out = mllib_ann.ivfpq_index_topk(
        spark,
        qs,
        centers,
        store,
        k=5,
        n_probe=3,
        codebooks=cbs,
        rescore=rescore,
        corpus=emb if rescore else None,
    )
    return out.select(
        "query_id", "vec_id", _r6(F.col("cosine"), "cosine"), "rank"
    ).orderBy("query_id", "rank")


ORACLE_ANN_IVFPQ_INC = f"""
WITH {_ivf_prefix_ctes(8, 64, 3, train_where="WHERE vec_id % 2 = 0")},
{_pq_ctes('pq', train_where="WHERE vec_id % 2 = 0")},
scored AS (
  SELECT cand.query_id, cand.vec_id, SUM(l.dotv) sd, SUM(n2.n2) sn
  FROM cand
  JOIN pqassign pa ON cand.vec_id = pa.vec_id
  JOIN lut l ON cand.query_id = l.query_id
            AND pa.j = l.j AND pa.code = l.code
  JOIN n2 ON pa.j = n2.j AND pa.code = n2.code
  GROUP BY 1, 2),
{_PQ_RANK_TAIL}
"""


def q_cluster_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced sampling gate (mllib_ann.cluster_balanced_sample)
    — the coverage-preserving subselection: assign every embedding to
    its md5-sample cell and keep the first 20 per cell by md5(id)
    order (a deterministic shuffle, so a uniform-over-clusters sample
    replays exactly).  A plain uniform sample over-represents dense
    regions; per-cluster caps keep the corpus's coverage while cutting
    volume — the SemDeDup-adjacent curation move.  The oracle replays
    centroid pick, assignment, and the per-cell md5 pick."""
    from physicsnemo_curator_spark.operators import mllib_ann

    emb = _t(spark, sf_dir, "embeddings")
    centers = mllib_ann.md5_sample_centroids(emb, k=8)
    out = mllib_ann.cluster_balanced_sample(emb, centers, n_per_cell=20)
    return out.select("vec_id", "cell", "pick_rank").orderBy(
        "cell", "pick_rank"
    )


ORACLE_CLUSTER_SAMPLE = """
WITH cent AS (
  SELECT embedding ce,
         CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INT) cell
  FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
cv AS (SELECT cell, unnest(range(0, 64)) j, unnest(ce) c FROM cent),
csq AS (SELECT cell, SUM(CAST(c AS DOUBLE) * CAST(c AS DOUBLE)) c2 FROM cv GROUP BY 1),
ev AS (SELECT vec_id, unnest(range(0, 64)) j, unnest(embedding) x FROM embeddings),
dist AS (
  SELECT xc.vec_id, xc.cell, csq.c2 - 2 * xc.dotxc d
  FROM (SELECT e.vec_id, c.cell, SUM(CAST(e.x AS DOUBLE) * CAST(c.c AS DOUBLE)) dotxc
        FROM ev e JOIN cv c ON e.j = c.j GROUP BY 1, 2) xc
  JOIN csq ON xc.cell = csq.cell),
assign AS (SELECT vec_id, cell FROM (
  SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) rn
  FROM dist) WHERE rn = 1),
picked AS (
  SELECT vec_id, cell,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY cell
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS INT) pick_rank
  FROM assign)
SELECT vec_id, cell, pick_rank FROM picked
WHERE pick_rank <= 20 ORDER BY cell, pick_rank
"""


def q_ann_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified re-rank gate (similarity.mmr_rerank, Carbonell &
    Goldstein 1998): exact top-20 candidates per query, then the
    greedy λ=0.5 selection of 8 — each pick maximizes relevance minus
    its worst similarity to what's already picked.  The greedy loop is
    sequential in k but independent across queries (applyInPandas, one
    group per query over the candidate sliver).  The oracle replays
    the whole selection in a DuckDB RECURSIVE CTE: same candidate
    top-20, same pairwise cosines, same λ-scored argmax with the
    family tie-break — a scoring or ordering bug diverges the picked
    SET, not just a decimal."""
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # the query vector itself is excluded from its candidates: with it
    # selected first, every step-2 score is EXACTLY λ·rel − λ·rel = 0
    # (sim-to-self-query == rel) — a degenerate all-way tie that float
    # summation order would break differently per engine
    cand = (
        similarity.cosine_topk(emb, qs, k=20, dim=64)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    out = similarity.mmr_rerank(emb, qs, cand, k=8, lamb=0.5)
    return out.select(
        "query_id", "vec_id", "mmr_rank", _r6(F.col("mmr_score"), "mmr_score")
    ).orderBy("query_id", "mmr_rank")


ORACLE_ANN_MMR = """
WITH RECURSIVE
qv AS (SELECT vec_id query_id, unnest(range(0, 64)) j,
              CAST(unnest(embedding) AS DOUBLE) x
       FROM embeddings WHERE vec_id < 10),
qn AS (SELECT query_id, SQRT(SUM(x * x)) n FROM qv GROUP BY 1),
cv AS (SELECT vec_id, unnest(range(0, 64)) j,
              CAST(unnest(embedding) AS DOUBLE) x FROM embeddings),
cn AS (SELECT vec_id, SQRT(SUM(x * x)) n FROM cv GROUP BY 1),
rel AS (
  SELECT r.query_id, r.vec_id, r.dot / (qn.n * cn.n) rel
  FROM (SELECT q.query_id, c.vec_id, SUM(q.x * c.x) dot
        FROM qv q JOIN cv c ON q.j = c.j GROUP BY 1, 2) r
  JOIN qn ON r.query_id = qn.query_id
  JOIN cn ON r.vec_id = cn.vec_id),
cand AS (
  SELECT query_id, vec_id, rel FROM (
    SELECT query_id, vec_id, rel,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY rel DESC, vec_id) rn
    FROM rel) WHERE rn <= 20 AND vec_id <> query_id),
psim AS (
  SELECT p.query_id, p.a, p.b, p.dot / (na.n * nb.n) sim
  FROM (SELECT a.query_id, a.vec_id a, b.vec_id b, SUM(ca.x * cb.x) dot
        FROM cand a JOIN cand b
          ON a.query_id = b.query_id AND a.vec_id <> b.vec_id
        JOIN cv ca ON ca.vec_id = a.vec_id
        JOIN cv cb ON cb.vec_id = b.vec_id AND ca.j = cb.j
        GROUP BY 1, 2, 3) p
  JOIN cn na ON p.a = na.vec_id
  JOIN cn nb ON p.b = nb.vec_id),
sel AS (
  SELECT query_id, 1 AS step, vec_id, 0.5 * rel AS mmr_score,
         [vec_id] AS chosen
  FROM (SELECT query_id, vec_id, rel,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY 0.5 * rel DESC, vec_id) rn
        FROM cand) WHERE rn = 1
  UNION ALL
  SELECT s.query_id, s.step + 1, p.vec_id, p.score,
         list_append(s.chosen, p.vec_id)
  FROM sel s, LATERAL (
    SELECT c.vec_id,
           0.5 * c.rel - 0.5 * COALESCE((
             SELECT MAX(ps.sim) FROM psim ps
             WHERE ps.query_id = s.query_id AND ps.a = c.vec_id
               AND list_contains(s.chosen, ps.b)), 0) AS score
    FROM cand c
    WHERE c.query_id = s.query_id
      AND NOT list_contains(s.chosen, c.vec_id)
    ORDER BY score DESC, c.vec_id
    LIMIT 1) p
  WHERE s.step < 8
)
SELECT query_id, vec_id, CAST(step AS INT) mmr_rank,
       ROUND(mmr_score, 6) mmr_score
FROM sel ORDER BY query_id, mmr_rank
"""


def q_ann_ivfpq_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOSED production retrieval path gate: probe the persisted
    lifecycle IVF-PQ store (:func:`_ivfpq_gate_store`,
    mllib_ann.ivfpq_index_topk) for ADC top-20 candidates per query,
    then MMR-diversify to 8 (similarity.mmr_rerank, λ=0.5, exact
    cosines on the original vectors).  This is the plan a 100 TB
    deployment actually runs — an ANN rung feeding the candidate-
    sliver tail, so the MMR stage's cost is O(queries·k) regardless of
    corpus size — and it proves the candidate contract end-to-end:
    q_ann_mmr feeds from an exact scan, this gate from the pruned
    partitioned index probe.  The query vector itself is excluded from
    its candidates (the q_ann_mmr degeneracy note).  The oracle
    composes the seed-trained IVF+PQ CTE builders' ADC ranking with
    the recursive MMR selection, all in DuckDB arithmetic."""
    from physicsnemo_curator_spark.operators import mllib_ann

    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    store, centers, cbs = _ivfpq_gate_store(spark, sf_dir)
    cand = (
        mllib_ann.ivfpq_index_topk(
            spark, qs, centers, store, k=20, n_probe=3, codebooks=cbs
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    out = similarity.mmr_rerank(emb, qs, cand, k=8, lamb=0.5)
    return out.select(
        "query_id", "vec_id", "mmr_rank", _r6(F.col("mmr_score"), "mmr_score")
    ).orderBy("query_id", "mmr_rank")


ORACLE_ANN_IVFPQ_MMR = f"""
WITH RECURSIVE
{_ivf_prefix_ctes(8, 64, 3, train_where="WHERE vec_id % 2 = 0")},
{_pq_ctes('pq', train_where="WHERE vec_id % 2 = 0")},
scored AS (
  SELECT cand.query_id, cand.vec_id, SUM(l.dotv) sd, SUM(n2.n2) sn
  FROM cand
  JOIN pqassign pa ON cand.vec_id = pa.vec_id
  JOIN lut l ON cand.query_id = l.query_id
            AND pa.j = l.j AND pa.code = l.code
  JOIN n2 ON pa.j = n2.j AND pa.code = n2.code
  GROUP BY 1, 2),
adc AS (
  SELECT s.query_id, s.vec_id,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY s.query_id
           ORDER BY s.sd / (SQRT(s.sn) * qn.qnorm) DESC, s.vec_id
         ) AS INT) rn
  FROM scored s JOIN qn ON s.query_id = qn.query_id),
xcv AS (SELECT vec_id, unnest(range(0, 64)) j,
               CAST(unnest(embedding) AS DOUBLE) x FROM embeddings),
xcn AS (SELECT vec_id, SQRT(SUM(x * x)) n FROM xcv GROUP BY 1),
xqv AS (SELECT vec_id query_id, unnest(range(0, 64)) j,
               CAST(unnest(embedding) AS DOUBLE) x
        FROM embeddings WHERE vec_id < 10),
xqn AS (SELECT query_id, SQRT(SUM(x * x)) n FROM xqv GROUP BY 1),
mcand AS (
  SELECT a.query_id, a.vec_id, r.dot / (xqn.n * xcn.n) rel
  FROM adc a
  JOIN (SELECT q.query_id, c.vec_id, SUM(q.x * c.x) dot
        FROM xqv q JOIN xcv c ON q.j = c.j GROUP BY 1, 2) r
    ON a.query_id = r.query_id AND a.vec_id = r.vec_id
  JOIN xqn ON a.query_id = xqn.query_id
  JOIN xcn ON a.vec_id = xcn.vec_id
  WHERE a.rn <= 20 AND a.vec_id <> a.query_id),
psim AS (
  SELECT p.query_id, p.a, p.b, p.dot / (na.n * nb.n) sim
  FROM (SELECT a.query_id, a.vec_id a, b.vec_id b, SUM(ca.x * cb.x) dot
        FROM mcand a JOIN mcand b
          ON a.query_id = b.query_id AND a.vec_id <> b.vec_id
        JOIN xcv ca ON ca.vec_id = a.vec_id
        JOIN xcv cb ON cb.vec_id = b.vec_id AND ca.j = cb.j
        GROUP BY 1, 2, 3) p
  JOIN xcn na ON p.a = na.vec_id
  JOIN xcn nb ON p.b = nb.vec_id),
sel AS (
  SELECT query_id, 1 AS step, vec_id, 0.5 * rel AS mmr_score,
         [vec_id] AS chosen
  FROM (SELECT query_id, vec_id, rel,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY 0.5 * rel DESC, vec_id) rn
        FROM mcand) WHERE rn = 1
  UNION ALL
  SELECT s.query_id, s.step + 1, p.vec_id, p.score,
         list_append(s.chosen, p.vec_id)
  FROM sel s, LATERAL (
    SELECT c.vec_id,
           0.5 * c.rel - 0.5 * COALESCE((
             SELECT MAX(ps.sim) FROM psim ps
             WHERE ps.query_id = s.query_id AND ps.a = c.vec_id
               AND list_contains(s.chosen, ps.b)), 0) AS score
    FROM mcand c
    WHERE c.query_id = s.query_id
      AND NOT list_contains(s.chosen, c.vec_id)
    ORDER BY score DESC, c.vec_id
    LIMIT 1) p
  WHERE s.step < 8
)
SELECT query_id, vec_id, CAST(step AS INT) mmr_rank,
       ROUND(mmr_score, 6) mmr_score
FROM sel ORDER BY query_id, mmr_rank
"""


def q_ann_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal Rank Fusion gate (similarity.rrf_fuse, Cormack et al.
    2009): fuse the exact-cosine top-20 with the SQ8-quantized top-20
    per query at c=60 and keep the fused top-10 — the hybrid-retrieval
    combiner, demonstrated here as a quantized/exact ensemble (the same
    operator fuses lexical+embedding rankers).  RRF scores are sums of
    exact rationals 1/(60+rank), so Spark and DuckDB agree bit-for-bit
    and ties resolve identically by id.  The oracle recomputes BOTH
    rankings (exact cosine; SQ8 quantize→reconstruct→cosine) and the
    fusion in SQL."""
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.cosine_topk(emb, qs, k=20, dim=64)
    sq8 = similarity.sq8_topk(emb, qs, k=20, dim=64)
    out = similarity.rrf_fuse([exact, sq8], k=10, c=60)
    return out.select(
        "query_id", "vec_id", _r6(F.col("rrf_score"), "rrf_score"), "rank"
    ).orderBy("query_id", "rank")


ORACLE_ANN_RRF = f"""
WITH {_SQ8_RECON_CTES},
qv AS (
  SELECT vec_id query_id, unnest(range(0, 64)) j,
         CAST(unnest(embedding) AS DOUBLE) x
  FROM embeddings WHERE vec_id < 10),
sq8r AS (
  SELECT query_id, vec_id, rank FROM (
    SELECT query_id, vec_id,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY cosine DESC, vec_id
           ) AS INT) rank
    FROM (SELECT q.query_id, r.vec_id,
                 SUM(q.x * r.r) /
                   (SQRT(SUM(q.x * q.x)) * SQRT(SUM(r.r * r.r))) cosine
          FROM qv q JOIN recon r ON q.j = r.j
          GROUP BY 1, 2)) WHERE rank <= 20),
exr AS (
  SELECT query_id, vec_id, rank FROM (
    SELECT q.query_id, c.vec_id,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY q.query_id ORDER BY
               {_exact_cosine_sql("q.qe", "c.embedding")} DESC,
               c.vec_id
           ) AS INT) rank
    FROM (SELECT vec_id query_id, embedding qe
          FROM embeddings WHERE vec_id < 10) q, embeddings c)
  WHERE rank <= 20),
fused AS (
  SELECT query_id, vec_id, SUM(1.0 / (60 + rank)) s
  FROM (SELECT * FROM sq8r UNION ALL SELECT * FROM exr)
  GROUP BY 1, 2),
ranked AS (
  SELECT query_id, vec_id, s,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY s DESC, vec_id
         ) AS INT) rank
  FROM fused)
SELECT query_id, vec_id, ROUND(s, 6) rrf_score, rank
FROM ranked WHERE rank <= 10 ORDER BY query_id, rank
"""


def q_ann_rrf_anns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN-fed Reciprocal Rank Fusion gate — the production shape of
    q_ann_rrf: BOTH rankers are approximate rungs (multi-band LSH
    top-20 + SQ8-quantized top-20; no exact full scan anywhere in the
    plan), fused at c=60 into the top-10.  This is the hybrid
    retriever a 100 TB deployment runs — each rung scans a pruned or
    compressed view of the corpus, and the fusion stays one hash agg
    over O(queries·k) rows.  The oracle recomputes the LSH bucketing
    (shared md5-plane CTE builder), the SQ8 reconstruction (shared
    recon CTEs), both rank lists, and the exact-rational fusion."""
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    planes = similarity.md5_hyperplanes(64, 32, tag="p")
    lsh = similarity.lsh_topk(emb, qs, dim=64, k=20, planes=planes)
    sq8 = similarity.sq8_topk(emb, qs, k=20, dim=64)
    out = similarity.rrf_fuse([lsh, sq8], k=10, c=60)
    return out.select(
        "query_id", "vec_id", _r6(F.col("rrf_score"), "rrf_score"), "rank"
    ).orderBy("query_id", "rank")


ORACLE_ANN_RRF_ANNS = f"""
WITH {_SQ8_RECON_CTES},
qv AS (
  SELECT vec_id query_id, unnest(range(0, 64)) j,
         CAST(unnest(embedding) AS DOUBLE) x
  FROM embeddings WHERE vec_id < 10),
sq8r AS (
  SELECT query_id, vec_id, rank FROM (
    SELECT query_id, vec_id,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY cosine DESC, vec_id
           ) AS INT) rank
    FROM (SELECT q.query_id, r.vec_id,
                 SUM(q.x * r.r) /
                   (SQRT(SUM(q.x * q.x)) * SQRT(SUM(r.r * r.r))) cosine
          FROM qv q JOIN recon r ON q.j = r.j
          GROUP BY 1, 2)) WHERE rank <= 20),
{_lsh_prefix_ctes()},
lshr AS (
  SELECT query_id, vec_id, rank FROM (
    SELECT cand.query_id, cand.vec_id,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY cand.query_id ORDER BY
               {_exact_cosine_sql("qe.embedding", "ce.embedding")} DESC,
               cand.vec_id
           ) AS INT) rank
    FROM cand JOIN embeddings qe ON cand.query_id = qe.vec_id
              JOIN embeddings ce ON cand.vec_id = ce.vec_id)
  WHERE rank <= 20),
fused AS (
  SELECT query_id, vec_id, SUM(1.0 / (60 + rank)) s
  FROM (SELECT * FROM sq8r UNION ALL SELECT * FROM lshr)
  GROUP BY 1, 2),
ranked AS (
  SELECT query_id, vec_id, s,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY s DESC, vec_id
         ) AS INT) rank
  FROM fused)
SELECT query_id, vec_id, ROUND(s, 6) rrf_score, rank
FROM ranked WHERE rank <= 10 ORDER BY query_id, rank
"""


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining gate (similarity.hard_negatives, the DPR
    recipe): for each anchor, the 5 most-similar corpus vectors with a
    DIFFERENT label — the contrastive-training negatives that are near
    in embedding space but semantically wrong.  Same broadcast plan as
    exact cosine with a codegen label-inequality predicate; the oracle
    replays the cross join, label filter, cosine, and rank."""
    emb = _t(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("anchor_id"), "label", "embedding"
    )
    out = similarity.hard_negatives(emb, anchors, k=5, dim=64)
    return out.select(
        "anchor_id", "vec_id", "label", _r6(F.col("cosine"), "cosine"), "rank"
    ).orderBy("anchor_id", "rank")


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff gate (validation.snapshot_diff): the OLD
    snapshot drops every 7th doc and truncates every 5th's text to 50
    chars; the NEW snapshot drops every 11th.  The diff must classify
    each key added / removed / changed / unchanged — one xxhash64
    projection per side + ONE full-outer key join, the incremental-
    reprocessing governance primitive.  The oracle replays the same
    construction and compares CONTENT directly (DuckDB lacks Spark's
    xxhash64; content equality and hash equality coincide), so a
    classification bug diverges the status column either way."""
    from physicsnemo_curator_spark.operators import validation

    docs = _t(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0, F.substring("text", 1, 50)
        ).otherwise(F.col("text")).alias("text"),
    )
    new = docs.filter(F.col("doc_id") % 11 != 0).select("doc_id", "text")
    out = validation.snapshot_diff(
        old, new, key_col="doc_id", content_cols=["text"]
    )
    return out.select(
        F.col("key").alias("doc_id"), "status"
    ).orderBy("doc_id")


ORACLE_SNAPSHOT_DIFF = """
WITH o AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN SUBSTRING(text, 1, 50)
              ELSE text END t
  FROM documents WHERE doc_id % 7 <> 0),
n AS (SELECT doc_id, text t FROM documents WHERE doc_id % 11 <> 0)
SELECT COALESCE(o.doc_id, n.doc_id) doc_id,
       CASE WHEN o.doc_id IS NULL THEN 'added'
            WHEN n.doc_id IS NULL THEN 'removed'
            WHEN o.t <> n.t THEN 'changed'
            ELSE 'unchanged' END status
FROM o FULL JOIN n ON o.doc_id = n.doc_id
ORDER BY doc_id
"""


def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift gate (similarity.embedding_drift): per-dimension
    distribution shift between two corpus snapshots (even vs odd
    vec_ids here) — both sides' population mean/std plus the
    standardized mean shift and the std ratio, the two scale-free
    signals a production monitor thresholds.  One posexplode + hash
    aggregate per side, dim-sized join; the oracle replays the
    unnest aggregates and the eps-guarded ratios."""
    emb = _t(spark, sf_dir, "embeddings")
    ref = emb.filter(F.col("vec_id") % 2 == 0)
    cur = emb.filter(F.col("vec_id") % 2 == 1)
    out = similarity.embedding_drift(ref, cur)
    return out.select(
        "j",
        _r6(F.col("ref_mean"), "ref_mean"),
        _r6(F.col("ref_std"), "ref_std"),
        _r6(F.col("cur_mean"), "cur_mean"),
        _r6(F.col("cur_std"), "cur_std"),
        _r6(F.col("mean_shift"), "mean_shift"),
        _r6(F.col("std_ratio"), "std_ratio"),
    ).orderBy("j")


ORACLE_EMBEDDING_DRIFT = """
WITH rs AS (
  SELECT j, AVG(x) m, STDDEV_POP(x) s FROM
    (SELECT unnest(range(0, 64)) j, CAST(unnest(embedding) AS DOUBLE) x
     FROM embeddings WHERE vec_id % 2 = 0) GROUP BY j),
cs AS (
  SELECT j, AVG(x) m, STDDEV_POP(x) s FROM
    (SELECT unnest(range(0, 64)) j, CAST(unnest(embedding) AS DOUBLE) x
     FROM embeddings WHERE vec_id % 2 = 1) GROUP BY j)
SELECT rs.j, ROUND(rs.m, 6) ref_mean, ROUND(rs.s, 6) ref_std,
       ROUND(cs.m, 6) cur_mean, ROUND(cs.s, 6) cur_std,
       ROUND(ABS(cs.m - rs.m) / GREATEST(rs.s, 1e-12), 6) mean_shift,
       ROUND(cs.s / GREATEST(rs.s, 1e-12), 6) std_ratio
FROM rs JOIN cs ON rs.j = cs.j ORDER BY rs.j
"""


def q_embedding_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned-distribution drift gate (similarity.embedding_drift_psi):
    per-dimension Population Stability Index between the even-id
    reference and an odd-id current snapshot whose values are SHIFTED
    by +0.5 on the first 8 dimensions — a move the histogram signal
    must flag (PSI >> 0.25 there) while the remaining dimensions stay
    near 0.  Bins span the reference min/max (current clamps into the
    edge bins), Laplace alpha=0.5 smoothing; the oracle replays the
    identical binning expression tree, smoothed shares, and the
    all-empty-bin correction term in DuckDB arithmetic."""
    emb = _t(spark, sf_dir, "embeddings")
    ref = emb.filter(F.col("vec_id") % 2 == 0)
    cur = emb.filter(F.col("vec_id") % 2 == 1).select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x, i: F.when(
                i < 8, x + F.lit(0.5)
            ).otherwise(x).cast("float"),
        ).alias("embedding"),
    )
    out = similarity.embedding_drift_psi(ref, cur, bins=10, alpha=0.5)
    return out.select(
        "j", "ref_n", "cur_n", _r6(F.col("psi"), "psi")
    ).orderBy("j")


ORACLE_EMBEDDING_DRIFT_PSI = """
WITH rx AS (
  SELECT j, x FROM (
    SELECT unnest(range(0, 64)) j, CAST(unnest(embedding) AS DOUBLE) x
    FROM embeddings WHERE vec_id % 2 = 0)),
cx AS (
  SELECT j, CASE WHEN j < 8 THEN CAST(CAST(x + 0.5 AS FLOAT) AS DOUBLE)
                 ELSE x END x
  FROM (
    SELECT unnest(range(0, 64)) j, CAST(unnest(embedding) AS DOUBLE) x
    FROM embeddings WHERE vec_id % 2 = 1)),
b AS (SELECT j, MIN(x) lo, MAX(x) hi FROM rx GROUP BY 1),
rbin AS (
  SELECT rx.j,
         CASE WHEN (b.hi - b.lo) / 10 > 0 THEN
           CAST(FLOOR(LEAST(GREATEST(
             (rx.x - b.lo) / ((b.hi - b.lo) / 10), 0.0), 9.0))
             AS BIGINT)
         WHEN rx.x > b.lo THEN 9
         WHEN rx.x < b.lo THEN 1
         ELSE 0 END bin
  FROM rx JOIN b ON rx.j = b.j),
cbin AS (
  SELECT cx.j,
         CASE WHEN (b.hi - b.lo) / 10 > 0 THEN
           CAST(FLOOR(LEAST(GREATEST(
             (cx.x - b.lo) / ((b.hi - b.lo) / 10), 0.0), 9.0))
             AS BIGINT)
         WHEN cx.x > b.lo THEN 9
         WHEN cx.x < b.lo THEN 1
         ELSE 0 END bin
  FROM cx JOIN b ON cx.j = b.j),
rc AS (SELECT j, bin, COUNT(*) ref_cnt FROM rbin GROUP BY 1, 2),
cc AS (SELECT j, bin, COUNT(*) cur_cnt FROM cbin GROUP BY 1, 2),
cells AS (
  SELECT COALESCE(rc.j, cc.j) j, COALESCE(rc.bin, cc.bin) bin,
         COALESCE(ref_cnt, 0) ref_cnt, COALESCE(cur_cnt, 0) cur_cnt
  FROM rc FULL JOIN cc ON rc.j = cc.j AND rc.bin = cc.bin),
tot AS (
  SELECT j, SUM(ref_cnt) ref_n, SUM(cur_cnt) cur_n, COUNT(*) observed
  FROM cells GROUP BY 1),
terms AS (
  SELECT c.j,
         ((c.ref_cnt + 0.5) / (t.ref_n + 5.0)
          - (c.cur_cnt + 0.5) / (t.cur_n + 5.0))
         * LN(((c.ref_cnt + 0.5) / (t.ref_n + 5.0))
              / ((c.cur_cnt + 0.5) / (t.cur_n + 5.0))) term
  FROM cells c JOIN tot t ON c.j = t.j),
psum AS (SELECT j, SUM(term) s FROM terms GROUP BY 1)
SELECT t.j, CAST(t.ref_n AS BIGINT) ref_n, CAST(t.cur_n AS BIGINT) cur_n,
       ROUND(p.s + (10 - t.observed)
             * ((0.5 / (t.ref_n + 5.0) - 0.5 / (t.cur_n + 5.0))
                * LN((0.5 / (t.ref_n + 5.0)) / (0.5 / (t.cur_n + 5.0)))),
             6) psi
FROM tot t JOIN psum p ON t.j = p.j ORDER BY t.j
"""


ORACLE_HARD_NEGATIVES = f"""
WITH a AS (SELECT vec_id anchor_id, label albl, embedding ae
           FROM embeddings WHERE vec_id < 10),
scored AS (
  SELECT a.anchor_id, c.vec_id, c.label,
         {_exact_cosine_sql("a.ae", "c.embedding")} cosine
  FROM a JOIN embeddings c ON c.label <> a.albl),
ranked AS (
  SELECT anchor_id, vec_id, label, cosine,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY anchor_id ORDER BY cosine DESC, vec_id
         ) AS INT) rank
  FROM scored)
SELECT anchor_id, vec_id, label, ROUND(cosine, 6) cosine, rank
FROM ranked WHERE rank <= 5 ORDER BY anchor_id, rank
"""


def q_semantic_dedup(
    spark: SparkSession,
    sf_dir: str,
    dot: str = "unrolled",
    pin_oracle_k: bool = True,
) -> DataFrame:
    """SemDeDup (mllib_ann.semantic_dedup, Abbas et al. 2023): cluster
    embeddings with the md5-sample coarse quantizer, compare pairs only
    WITHIN a cluster, and drop any vector with a lower-id cluster-mate
    at cosine >= threshold.  The oracle replays centroid pick,
    assignment, within-cell pairing, and the keep-lowest-id policy;
    the KMeans-trained variant keeps its parity pin in
    tests/test_mllib_ann.py.

    Cell count scales with corpus size (target ~250 vectors/cell, the
    same sizing lesson as the adaptive LSH banding): fixed k=8 sent the
    sf1 soak quadratic in within-cell pairs.  k stays 8 for any corpus
    <= 2000 rows, so the static k=8 oracle remains exact at the
    driver's sf0.01 window."""
    from physicsnemo_curator_spark.operators import mllib_ann

    emb = _t(spark, sf_dir, "embeddings")
    # count + centroid pick fused into ONE driver action (the sizing
    # count and the md5 sample were two separate full-scan jobs)
    centers, n = mllib_ann.md5_sample_centroids_counted(
        emb, lambda n: max(8, n // 250)
    )
    k = max(8, n // 250)
    if pin_oracle_k and k != 8:
        # the static k=8 oracle is only exact while adaptive k stays 8;
        # fail loudly instead of producing a silent oracle diff if the
        # oracle-checked variant ever runs beyond the gate corpus
        # (bench/soak call with pin_oracle_k=False and stay adaptive)
        raise ValueError(
            f"q_semantic_dedup oracle pins k=8 but corpus n={n} adapts "
            f"k to {k}; call with pin_oracle_k=False (no oracle) for "
            "large corpora"
        )
    out = mllib_ann.semantic_dedup(emb, centers, threshold=0.35, dot=dot)
    return out.select("vec_id", "cell", "dup_of", "keep").orderBy("vec_id")


def _semantic_oracle(k_cells: int = 8, dim: int = 64, thr: float = 0.35) -> str:
    """DuckDB replay of md5-sample SemDeDup: same centroid pick and
    assignment CTEs as :func:`_ivf_oracle`, then within-cell a<b pairs
    filtered at the cosine threshold and keep-lowest-id greedy."""
    return f"""
WITH cent AS (
  SELECT embedding ce,
         CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INT) cell
  FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {k_cells}),
cv AS (SELECT cell, unnest(range(0, {dim})) j, unnest(ce) c FROM cent),
csq AS (SELECT cell, SUM(CAST(c AS DOUBLE) * CAST(c AS DOUBLE)) c2 FROM cv GROUP BY 1),
ev AS (SELECT vec_id, unnest(range(0, {dim})) j, unnest(embedding) x FROM embeddings),
dist AS (
  SELECT xc.vec_id, xc.cell, csq.c2 - 2 * xc.dotxc d
  FROM (SELECT e.vec_id, c.cell, SUM(CAST(e.x AS DOUBLE) * CAST(c.c AS DOUBLE)) dotxc
        FROM ev e JOIN cv c ON e.j = c.j GROUP BY 1, 2) xc
  JOIN csq ON xc.cell = csq.cell),
assign AS (SELECT vec_id, cell FROM (
  SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) rn
  FROM dist) WHERE rn = 1),
pairs AS (
  SELECT la.cell, la.vec_id a, lb.vec_id b,
         (SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
          FROM (SELECT unnest(ea.embedding) x, unnest(eb.embedding) y)) /
         (SQRT((SELECT SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) FROM (SELECT unnest(ea.embedding) x))) *
          SQRT((SELECT SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) FROM (SELECT unnest(eb.embedding) y)))) cosine
  FROM assign la JOIN assign lb ON la.cell = lb.cell AND la.vec_id < lb.vec_id
  JOIN embeddings ea ON la.vec_id = ea.vec_id
  JOIN embeddings eb ON lb.vec_id = eb.vec_id),
dup AS (SELECT b, MIN(a) dup_of FROM pairs WHERE cosine >= {thr} GROUP BY b)
SELECT assign.vec_id, assign.cell, dup.dup_of, dup.dup_of IS NULL AS keep
FROM assign LEFT JOIN dup ON assign.vec_id = dup.b
ORDER BY assign.vec_id
"""


ORACLE_SEMANTIC_DEDUP = _semantic_oracle()


def q_semantic_incremental(
    spark: SparkSession,
    sf_dir: str,
    dot: str = "unrolled",
    pin_oracle_k: bool = True,
) -> DataFrame:
    """Incremental SemDeDup gate (mllib_ann.write_semantic_store /
    incremental_semantic_dedup): the even-vec_id half of ``embeddings``
    is persisted as a ``(_batch, cell)``-partitioned parquet store,
    then the odd half arrives as a batch.  The corpus↔batch probe
    joins on cell with the batch side BROADCAST — partition pruning
    means each probe reads only the cell partitions the batch touches,
    so the store never reshuffles; batch-internal pairs run within-cell
    (the same 100 TB shape as the MinHash incremental store).
    Centroids are the deterministic md5-sample pick over the CORPUS
    half, so DuckDB replays centroid pick, assignment, store probe and
    both pair scopes exactly.

    Same cell-count sizing rule as q_semantic_dedup: k adapts to
    ~250 corpus vectors/cell (the sf1 soak measured the fixed-k=8
    variant quadratic at 10×, 178 s); the oracle-checked variant pins
    k=8 and fails LOUDLY beyond the gate corpus instead of silently
    diverging — the bench twin runs adaptive."""
    import hashlib
    import tempfile

    from physicsnemo_curator_spark.operators import mllib_ann

    emb = _t(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 2 == 0)
    batch = emb.filter(F.col("vec_id") % 2 == 1)
    # count + centroid pick fused into ONE driver action
    centers, n = mllib_ann.md5_sample_centroids_counted(
        corpus, lambda n: max(8, n // 250)
    )
    k = max(8, n // 250)
    if pin_oracle_k and k != 8:
        raise ValueError(
            f"q_semantic_incremental oracle pins k=8 but corpus n={n} "
            f"adapts k to {k}; call with pin_oracle_k=False (no "
            "oracle) for large corpora"
        )
    ident = path_ident(os.path.join(sf_dir, "embeddings.parquet"))
    token = hashlib.md5(
        f"{sf_dir}:{ident}:sem:{k}".encode()
    ).hexdigest()[:12]
    store = os.path.join(
        tempfile.gettempdir(), f"pcs_sem_store_{token}_{os.getpid()}"
    )
    if not os.path.exists(os.path.join(store, "_SUCCESS")):
        mllib_ann.write_semantic_store(corpus, centers, store)
    out = mllib_ann.incremental_semantic_dedup(
        spark, batch, centers, store, threshold=0.35, dot=dot
    )
    return out.select(
        "cell", "a", "b", _r6(F.col("cosine"), "cosine"), "scope"
    ).orderBy("scope", "a", "b")


ORACLE_SEMANTIC_INCREMENTAL = """
WITH cent AS (
  SELECT embedding ce,
         CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INT) cell
  FROM embeddings WHERE vec_id % 2 = 0
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
cv AS (SELECT cell, unnest(range(0, 64)) j, unnest(ce) c FROM cent),
csq AS (SELECT cell, SUM(CAST(c AS DOUBLE) * CAST(c AS DOUBLE)) c2 FROM cv GROUP BY 1),
ev AS (SELECT vec_id, unnest(range(0, 64)) j, unnest(embedding) x FROM embeddings),
dist AS (
  SELECT xc.vec_id, xc.cell, csq.c2 - 2 * xc.dotxc d
  FROM (SELECT e.vec_id, c.cell, SUM(CAST(e.x AS DOUBLE) * CAST(c.c AS DOUBLE)) dotxc
        FROM ev e JOIN cv c ON e.j = c.j GROUP BY 1, 2) xc
  JOIN csq ON xc.cell = csq.cell),
assign AS (SELECT vec_id, cell FROM (
  SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) rn
  FROM dist) WHERE rn = 1),
pairs AS (
  SELECT la.cell, la.vec_id a, lb.vec_id b,
         (SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
          FROM (SELECT unnest(ea.embedding) x, unnest(eb.embedding) y)) /
         (SQRT((SELECT SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) FROM (SELECT unnest(ea.embedding) x))) *
          SQRT((SELECT SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) FROM (SELECT unnest(eb.embedding) y)))) cosine,
         CASE WHEN la.vec_id % 2 = 0 THEN 'corpus' ELSE 'batch' END AS scope
  FROM assign la JOIN assign lb ON la.cell = lb.cell
  JOIN embeddings ea ON la.vec_id = ea.vec_id
  JOIN embeddings eb ON lb.vec_id = eb.vec_id
  WHERE lb.vec_id % 2 = 1
    AND (la.vec_id % 2 = 0 OR la.vec_id < lb.vec_id))
SELECT cell, a, b, ROUND(cosine, 6) cosine, scope
FROM pairs WHERE cosine >= 0.35
ORDER BY scope, a, b
"""


def q_embedding_near_dup(
    spark: SparkSession, sf_dir: str, exact: bool = True
) -> DataFrame:
    """Embedding-cosine near-dup pairs.  The declared/oracle variant is
    the exact all-pairs join on a row-bounded slice (replayable in
    SQL); the benched production twin is the banded-LSH candidate
    pipeline over the FULL table — the 100 TB path (recall-pinned vs
    exact in tests/test_similarity.py)."""
    emb = _t(spark, sf_dir, "embeddings")
    if exact:
        emb = emb.filter(F.col("vec_id") < 300)
    pairs = similarity.pairwise_near_duplicates(
        emb, threshold=0.4, exact=exact, dim=64
    )
    return pairs.select("a", "b", _r6(F.col("cosine"), "cosine")).orderBy("a", "b")


def b_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benched production twin of q_embedding_near_dup: banded-LSH
    near-dup over the FULL embeddings table at the operator's
    production defaults (threshold 0.95, ADAPTIVE banding — bucket
    count scales with corpus size; the sf1 soak showed fixed 8×8-bit
    banding going quadratic in within-bucket pairs).  LSH pruning is
    only effective at high thresholds — the declared query's 0.4
    threshold admits ~6% of ALL pairs as candidates by
    hyperplane-collision probability alone, which no banding scheme
    can prune (measured 26× faster than the exact full-table join at
    0.95; the synthetic corpus has no pairs above cosine 0.61, so the
    verify stage prices candidate filtering, not output)."""
    emb = _t(spark, sf_dir, "embeddings")
    pairs = similarity.pairwise_near_duplicates(
        emb, threshold=0.95, exact=False, dim=64
    )
    return pairs.select("a", "b", _r6(F.col("cosine"), "cosine"))


ORACLE_EMB_NEAR_DUP = """
WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300),
pairs AS (
  SELECT l.vec_id a, r.vec_id b,
         (SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
          FROM (SELECT unnest(l.embedding) x, unnest(r.embedding) y)) /
         (SQRT((SELECT SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) FROM (SELECT unnest(l.embedding) x))) *
          SQRT((SELECT SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) FROM (SELECT unnest(r.embedding) y)))) cosine
  FROM e l, e r WHERE l.vec_id < r.vec_id)
SELECT a, b, ROUND(cosine, 6) cosine FROM pairs WHERE cosine >= 0.4 ORDER BY a, b
"""


def q_minhash_near_dup(
    spark: SparkSession, sf_dir: str, hash_fn: str = "md5"
) -> DataFrame:
    """MinHash+LSH near-dup (scale path; exact twin is
    q_dedup_ngram_jaccard).  hash_fn='md5' makes signatures, buckets,
    and therefore the candidate set engine-reproducible, so the DuckDB
    oracle replays the *whole* pipeline — not just the verify stage;
    hash_fn='xxhash64' is the benched production twin (integer min-aggs
    instead of lexicographic hex-string mins)."""
    out = _cached_near_dup_pairs(spark, sf_dir, hash_fn)
    return out.select("a", "b", _r6(F.col("jaccard"), "jaccard")).orderBy("a", "b")


def _minhash_oracle(num_hashes: int = 32, bands: int = 8) -> str:
    """DuckDB replay of md5 MinHash-LSH: same word-3-gram shingles as
    ORACLE_NGRAM_JACCARD, string-min md5 signatures, md5 band buckets,
    bucket-join candidates, exact-Jaccard verify ≥ 0.8."""
    r = num_hashes // bands
    sig_cols = ",\n       ".join(
        f"min(md5(shingle || ':{i}')) h{i}" for i in range(num_hashes)
    )
    whens = []
    for b in range(bands):
        cols = " || '|' || ".join(f"h{b * r + x}" for x in range(r))
        whens.append(f"WHEN {b} THEN md5({cols})")
    bucket_case = "CASE bb.band " + " ".join(whens) + " END"
    return f"""
WITH norm AS (SELECT doc_id,
                     string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') toks
              FROM documents),
sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') shingle
       FROM (SELECT doc_id, toks, unnest(range(1, greatest(len(toks) - 2, 0) + 1)) i
             FROM norm)),
sig AS (SELECT doc_id,
       {sig_cols}
       FROM sh GROUP BY doc_id),
banded AS (SELECT doc_id, bb.band, {bucket_case} bucket
           FROM sig, (SELECT unnest(range(0, {bands})) band) bb),
cand AS (SELECT DISTINCT l.doc_id a, r.doc_id b
         FROM banded l JOIN banded r
           ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id),
sz AS (SELECT doc_id, COUNT(*) sz FROM sh GROUP BY 1),
inter AS (SELECT s1.doc_id a, s2.doc_id b, COUNT(*) i
          FROM sh s1 JOIN sh s2 ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
          GROUP BY 1, 2)
SELECT inter.a AS a, inter.b AS b,
       ROUND(inter.i * 1.0 / (x.sz + y.sz - inter.i), 6) jaccard
FROM inter JOIN sz x ON inter.a = x.doc_id JOIN sz y ON inter.b = y.doc_id
     JOIN cand ON inter.a = cand.a AND inter.b = cand.b
WHERE inter.i * 1.0 / (x.sz + y.sz - inter.i) >= 0.8
ORDER BY inter.a, inter.b
"""


ORACLE_MINHASH = _minhash_oracle()


def q_dedup_incremental(
    spark: SparkSession, sf_dir: str, hash_fn: str = "md5"
) -> DataFrame:
    """Incremental near-dup against a persisted MinHash store
    (dedup.write_minhash_store / incremental_near_duplicates): the
    even-doc_id half of ``documents`` is signed into a store, then the
    odd half arrives as a batch.  scope='corpus' rows carry the
    signature-agreement Jaccard estimate (no corpus text retained);
    scope='batch' rows are exact-verified within the batch.
    hash_fn='md5' makes signatures, buckets and estimates
    engine-reproducible so DuckDB replays the whole store+probe;
    the benched twin runs the xxhash64 production store."""
    import hashlib
    import tempfile

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    try:
        mtime = int(
            os.path.getmtime(os.path.join(sf_dir, "documents.parquet"))
        )
    except OSError:
        mtime = 0
    token = hashlib.md5(
        f"{sf_dir}:{mtime}:{hash_fn}".encode()
    ).hexdigest()[:12]
    store = os.path.join(
        tempfile.gettempdir(), f"pcs_mh_store_{token}_{os.getpid()}"
    )
    if not os.path.exists(os.path.join(store, "bands")):
        dedup.write_minhash_store(corpus, store, hash_fn=hash_fn)
    out = dedup.incremental_near_duplicates(
        spark, batch, store, threshold=0.8, hash_fn=hash_fn
    )
    return out.select(
        "a", "b", _r6(F.col("jaccard"), "jaccard"), "scope"
    ).orderBy("scope", "a", "b")


def _incremental_oracle(num_hashes: int = 32, bands: int = 8) -> str:
    """DuckDB replay of the incremental store: md5 signatures + band
    buckets over BOTH halves, bucket probe even↔odd with the
    signature-agreement estimate, plus the batch-internal exact path
    restricted to odd docs."""
    r = num_hashes // bands
    sig_cols = ",\n       ".join(
        f"min(md5(shingle || ':{i}')) h{i}" for i in range(num_hashes)
    )
    whens = []
    for b in range(bands):
        cols = " || '|' || ".join(f"h{b * r + x}" for x in range(r))
        whens.append(f"WHEN {b} THEN md5({cols})")
    bucket_case = "CASE bb.band " + " ".join(whens) + " END"
    agree = " + ".join(
        f"CASE WHEN sc.h{i} = sn.h{i} THEN 1 ELSE 0 END"
        for i in range(num_hashes)
    )
    return f"""
WITH norm AS (SELECT doc_id,
                     string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') toks
              FROM documents),
sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') shingle
       FROM (SELECT doc_id, toks, unnest(range(1, greatest(len(toks) - 2, 0) + 1)) i
             FROM norm)),
sig AS (SELECT doc_id,
       {sig_cols}
       FROM sh GROUP BY doc_id),
banded AS (SELECT doc_id, bb.band, {bucket_case} bucket
           FROM sig, (SELECT unnest(range(0, {bands})) band) bb),
probe AS (SELECT DISTINCT c.doc_id a, n.doc_id b
          FROM banded c JOIN banded n
            ON c.band = n.band AND c.bucket = n.bucket
          WHERE c.doc_id % 2 = 0 AND n.doc_id % 2 = 1),
vs_corpus AS (SELECT probe.a, probe.b,
                     ROUND(({agree}) / {float(num_hashes)}, 6) jaccard,
                     'corpus' AS scope
              FROM probe JOIN sig sc ON probe.a = sc.doc_id
                         JOIN sig sn ON probe.b = sn.doc_id
              WHERE ({agree}) / {float(num_hashes)} >= 0.8),
cand AS (SELECT DISTINCT l.doc_id a, r.doc_id b
         FROM banded l JOIN banded r
           ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
         WHERE l.doc_id % 2 = 1 AND r.doc_id % 2 = 1),
sz AS (SELECT doc_id, COUNT(*) sz FROM sh WHERE doc_id % 2 = 1 GROUP BY 1),
inter AS (SELECT s1.doc_id a, s2.doc_id b, COUNT(*) i
          FROM sh s1 JOIN sh s2 ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
          WHERE s1.doc_id % 2 = 1 AND s2.doc_id % 2 = 1
          GROUP BY 1, 2),
vs_batch AS (SELECT inter.a, inter.b,
                    ROUND(inter.i * 1.0 / (x.sz + y.sz - inter.i), 6) jaccard,
                    'batch' AS scope
             FROM inter JOIN sz x ON inter.a = x.doc_id
                        JOIN sz y ON inter.b = y.doc_id
                        JOIN cand ON inter.a = cand.a AND inter.b = cand.b
             WHERE inter.i * 1.0 / (x.sz + y.sz - inter.i) >= 0.8)
SELECT a, b, jaccard, scope FROM vs_corpus
UNION ALL
SELECT a, b, jaccard, scope FROM vs_batch
ORDER BY scope, a, b
"""


ORACLE_DEDUP_INCREMENTAL = _incremental_oracle()


def _simhash_sig_cte(bits: int = 60) -> str:
    """Shared CTE text: 60-bit md5 SimHash signature per doc (word
    bigrams, occurrence-weighted) — the exact arithmetic of
    dedup.simhash(hash_fn='md5_60', bits=60)."""
    sig_terms = "\n     + ".join(
        f"CASE WHEN 2 * SUM((th >> {i}) & 1) > COUNT(*) THEN CAST({1 << i} AS BIGINT) ELSE 0 END"
        for i in range(bits - 1)
    )
    return f"""
norm AS (SELECT doc_id,
                string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') toks
         FROM documents),
g AS (SELECT doc_id,
             CAST(concat('0x', substr(md5(array_to_string(toks[i:i+1], ' ')), 1, 15)) AS BIGINT) th
      FROM (SELECT doc_id, toks, unnest(range(1, greatest(len(toks) - 1, 0) + 1)) i
            FROM norm)),
sig AS (SELECT doc_id,
       {sig_terms} AS simhash
       FROM g GROUP BY doc_id)"""


def q_simhash_groups(
    spark: SparkSession, sf_dir: str, hash_fn: str = "md5_60", bits: int = 60
) -> DataFrame:
    """SimHash signature dedup groups.  The 60-bit md5 feature hash
    (dedup._feature_hash 'md5_60') keeps the packed-counter JVM
    aggregation but makes every signature engine-reproducible, so the
    oracle rebuilds identical signatures in SQL; the benched production
    twin runs the 64-bit xxhash64 default."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash_duplicates(docs, bits=bits, hash_fn=hash_fn).orderBy("doc_id")


ORACLE_SIMHASH_GROUPS = f"""
WITH {_simhash_sig_cte()},
grp AS (SELECT simhash, MIN(doc_id) canonical_id, CAST(COUNT(*) AS BIGINT) group_size
        FROM sig GROUP BY simhash)
SELECT s.doc_id, grp.canonical_id, grp.group_size
FROM sig s JOIN grp ON s.simhash = grp.simhash ORDER BY s.doc_id
"""


def q_simhash_near_dup(
    spark: SparkSession, sf_dir: str, hash_fn: str = "md5_60", bits: int = 60
) -> DataFrame:
    """Banded SimHash near-dup pairs, hamming ≤ 8 over 60-bit md5
    signatures (4 × 15-bit pigeonhole bands); the precision/recall
    contract vs exact Jaccard stays pinned in tests on the xxhash64
    default, which is also the benched production twin."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash_near_duplicates(
        docs, max_hamming=8, bits=bits, hash_fn=hash_fn
    ).orderBy("a", "b")


ORACLE_SIMHASH_NEAR_DUP = f"""
WITH {_simhash_sig_cte()},
banded AS (SELECT doc_id, simhash, bb.band, (simhash >> (bb.band * 15)) & 32767 block
           FROM sig, (SELECT unnest(range(0, 4)) band) bb),
pairs AS (SELECT DISTINCT l.doc_id a, r.doc_id b, l.simhash sa, r.simhash sb
          FROM banded l JOIN banded r
            ON l.band = r.band AND l.block = r.block AND l.doc_id < r.doc_id)
SELECT a, b, CAST(bit_count(xor(sa, sb)) AS INT) hamming
FROM pairs WHERE bit_count(xor(sa, sb)) <= 8 ORDER BY a, b
"""


# --------------------------------------------------------------------------
# Registry
# --------------------------------------------------------------------------

# Ordering contract: the correctness driver checks the FIRST 50 entries.
# The window ROTATES per round (see the comment at the head of the dict):
# new queries and everything not driver-checked in the previous round come
# first; rows the previous round's driver gate verified green move to the
# tail.  Every entry — in-window or tail — stays declared and locally
# oracle-tested in tests/test_oracle.py; the rotation decides only which
# 50 the external driver re-verifies this round.
def _fixture_dir(sf_dir: str, tag: str) -> str:
    """Temp fixture directory keyed on the source parquet's identity
    (:func:`~physicsnemo_curator_spark.core.store.path_ident`): a
    regenerated documents table must never be served stale fixtures."""
    import hashlib
    import tempfile

    ident = path_ident(os.path.join(sf_dir, "documents.parquet"))
    token = hashlib.md5(f"{tag}:{sf_dir}:{ident}".encode()).hexdigest()[:12]
    base = os.path.join(tempfile.gettempdir(), f"pcs_{tag}_{token}")
    os.makedirs(base, exist_ok=True)
    return base


def _fan_mesh(doc_slice):
    """Shared mesh-fixture recipe for the VTK gates (q_vtk_scan and
    q_vtk_domain must stay in lockstep — their oracles encode this
    exact arithmetic): one point per (doc_id, n_chars) at
    ``(d, (d*7) % 13, (d*3) % 5)``, point field ``w = n_chars``,
    fan-triangle cells ``[0, i, i+1]``."""
    pts = [
        (float(d), float((d * 7) % 13), float((d * 3) % 5))
        for d, _ in doc_slice
    ]
    pdata = {"w": [float(w) for _, w in doc_slice]}
    cells = [[0, i, i + 1] for i in range(1, len(pts) - 1)]
    return pts, cells, pdata


def _publish(path: str, write_fn) -> None:
    """Atomic fixture publish: write to a pid-unique temp name, then
    rename — a concurrent writer can never expose a torn file."""
    if os.path.exists(path):
        return
    tmp = f"{path}.{os.getpid()}.tmp"
    write_fn(tmp)
    os.replace(tmp, path)


def _publish_tree(path: str, write_fn) -> None:
    """Directory-fixture twin of :func:`_publish`: build the tree under
    a pid-unique temp name, rename into place, then drop a sibling
    ``.published`` marker.  The marker (not bare existence) gates the
    skip so a pre-discipline in-place store is rebuilt once; a
    concurrent writer losing the rename race discards its temp tree
    and uses the winner's."""
    import shutil

    marker = path + ".published"
    if os.path.exists(marker):
        return
    tmp = f"{path}.{os.getpid()}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    write_fn(tmp)
    shutil.rmtree(path, ignore_errors=True)
    try:
        os.replace(tmp, path)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.isdir(path):
            raise
    open(marker, "w").close()


def _fixtures_ready(*paths: str) -> bool:
    """True when every fixture target already exists — the scan gates
    use this to skip the fixture-builder's driver collect + build loop
    on warm runs (one saved Spark job + driver round-trip per gate;
    guide §5: the driver does no data work).  The cold path keeps
    :func:`_publish` as the per-file atomic/racing guard."""
    return all(os.path.exists(p) for p in paths)


def q_vtk_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VTK mesh-family source gate (sources/vtk.py + vtk_xml.py, the
    engine's flagship reference-parity surface — reference
    ``domains/mesh/sources/vtk.py:74-444``): the documents table is
    round-tripped through real VTK files — five meshes covering FOUR
    .vtu DataArray encodings (ascii / inline-base64+zlib /
    appended-base64 / appended-raw) plus a .vtp PolyData — re-scanned
    with ``read_vtk`` (one task per file), and aggregated per mesh.

    Mesh ``m`` holds one point per document with ``doc_id % 5 == m``
    (sorted by doc_id): position ``(doc_id, (doc_id*7) % 13,
    (doc_id*3) % 5)``, point field ``w = n_chars``, fan-triangle
    cells ``[0, i, i+1]``, cell field ``area = 2*c + m``.  Every
    output column replays in DuckDB from the documents table alone, so
    a decode bug in ANY encoding (points, connectivity, point data,
    cell data, per-point field pairing) breaks the hash."""
    from physicsnemo_curator_spark.sources.vtk import read_vtk
    from physicsnemo_curator_spark.sources.vtk_xml import write_vtp, write_vtu

    base = _fixture_dir(sf_dir, "vtk")
    fmts = ["ascii", "binary", "appended", "appended-raw"]
    paths = [
        os.path.join(base, f"mesh{m}.vtu" if m < 4 else f"mesh{m}.vtp")
        for m in range(5)
    ]
    if _fixtures_ready(*paths):
        docs = []  # warm path: every mesh file is already published
    else:
        docs = sorted(
            (
                (r["doc_id"], r["n_chars"])
                for r in _t(spark, sf_dir, "documents")
                .filter(F.col("doc_id") < 150)
                .select("doc_id", "n_chars")
                .collect()
            )
        )
    for m in range(5) if docs else ():
        mine = [(d, w) for d, w in docs if d % 5 == m]
        if len(mine) < 3:
            # a mesh with <3 points writes zero fan cells, the inner
            # cell/area joins drop it, and the oracle (which emits
            # n_points - 2 unconditionally) would report a spurious
            # mismatch — fail LOUDLY instead on a too-small custom
            # documents table
            raise ValueError(
                f"q_vtk_scan fixture needs >= 3 documents with doc_id "
                f"% 5 == {m} under doc_id < 150; this sf dir has "
                f"{len(mine)} — the driver gate requires the standard "
                "testdata documents table (doc_id 0..N contiguous, "
                "N >= 15)"
            )
        pts, cells, pdata = _fan_mesh(mine)
        cdata = {"area": [float(2 * c + m) for c in range(len(cells))]}
        if m < 4:
            _publish(
                paths[m],
                lambda t, pts=pts, cells=cells, pdata=pdata, cdata=cdata,
                fmt=fmts[m]: write_vtu(
                    pts, cells, None, pdata, t, cell_data=cdata, fmt=fmt
                ),
            )
        else:
            _publish(
                paths[m],
                lambda t, pts=pts, cells=cells, pdata=pdata, cdata=cdata:
                write_vtp(pts, cells, pdata, t, cell_data=cdata, fmt="appended"),
            )

    t = read_vtk(spark, paths)
    pts_agg = t["points"].groupBy("mesh_id").agg(
        F.count("*").alias("n_points"),
        F.sum("x").cast("bigint").alias("sum_x"),
        F.sum("y").cast("bigint").alias("sum_y"),
    )
    cell_agg = t["cells"].groupBy("mesh_id").agg(
        F.count("*").alias("n_cells"),
        F.sum(F.aggregate("vs", F.lit(0).cast("bigint"), lambda a, v: a + v))
        .cast("bigint")
        .alias("sum_conn"),
    )
    w = t["point_data"].filter(F.col("field") == "w")
    # per-point (position, field) pairing fingerprint: md5 over the
    # sorted "x:w" pair strings — catches an off-by-one in ANY decoder
    pair = (
        t["points"]
        .join(w, ["mesh_id", "point_id"])
        .select(
            "mesh_id",
            F.col("value").cast("bigint").alias("w"),
            F.concat_ws(
                ":",
                F.col("x").cast("bigint"),
                F.col("value").cast("bigint"),
            ).alias("s"),
        )
        .groupBy("mesh_id")
        .agg(
            F.sum("w").alias("sum_w"),
            F.md5(
                F.concat_ws("", F.sort_array(F.collect_list("s"))).cast(
                    "binary"
                )
            ).alias("pair_fp"),
        )
    )
    area = (
        t["cell_data"]
        .filter(F.col("field") == "area")
        .groupBy("mesh_id")
        .agg(F.sum(F.col("value")).cast("bigint").alias("sum_area"))
    )
    return (
        pts_agg.join(cell_agg, "mesh_id")
        .join(pair, "mesh_id")
        .join(area, "mesh_id")
        .select(
            "mesh_id", "n_points", "n_cells", "sum_x", "sum_y", "sum_w",
            "sum_conn", "sum_area", "pair_fp",
        )
        .orderBy("mesh_id")
    )


ORACLE_VTK_SCAN = """
WITH d AS (SELECT doc_id, n_chars, doc_id % 5 AS m
           FROM documents WHERE doc_id < 150),
g AS (SELECT m, CAST(COUNT(*) AS BIGINT) n_points,
             CAST(SUM(doc_id) AS BIGINT) sum_x,
             CAST(SUM((doc_id * 7) % 13) AS BIGINT) sum_y,
             CAST(SUM(n_chars) AS BIGINT) sum_w,
             md5(string_agg(doc_id || ':' || n_chars, ''
                            ORDER BY doc_id || ':' || n_chars)) pair_fp
      FROM d GROUP BY m)
SELECT 'mesh' || m AS mesh_id, n_points,
       n_points - 2 AS n_cells, sum_x, sum_y, sum_w,
       n_points * (n_points - 2) AS sum_conn,
       (n_points - 2) * (n_points - 3) + m * (n_points - 2) AS sum_area,
       pair_fp
FROM g ORDER BY mesh_id
"""


def q_vti_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ImageData / structured-grid source gate (sources/vtk_xml.py
    parse_vti + sources/vtk.py read_image_data — reference
    ``domains/mesh/sources/vti.py:60-244``): five grids of dims
    (4, 3, 2) — four XML .vti covering all four DataArray encodings
    plus one legacy ASCII STRUCTURED_POINTS — each filled x-fastest
    with ``n_chars`` of 24 consecutive documents, scanned in ONE mixed
    pass, and aggregated per grid.  The lattice-index-weighted sum
    pins the x-fastest unflattening (``flat = iz*12 + iy*4 + ix``);
    per-grid cell-field sums and geometry columns pin the cell lattice
    and the Origin/Spacing metadata path."""
    from physicsnemo_curator_spark.sources.vtk import (
        read_image_data,
        write_structured_points,
    )
    from physicsnemo_curator_spark.sources.vtk_xml import write_vti

    base = _fixture_dir(sf_dir, "vti")
    fmts = ["ascii", "binary", "appended", "appended-raw"]
    grid_paths = [
        os.path.join(base, f"grid{g}.vti" if g < 4 else f"grid{g}.vtk")
        for g in range(5)
    ]
    if _fixtures_ready(*grid_paths):
        chars = {}  # warm path: every grid file is already published
    else:
        chars = {
            r["doc_id"]: r["n_chars"]
            for r in _t(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 120)
            .select("doc_id", "n_chars")
            .collect()
        }
        missing = [d for d in range(120) if d not in chars]
        if missing:
            # the q_vtk_scan discipline: a sparse/custom documents
            # table must fail loudly, not with a bare KeyError from
            # the lattice fill below
            raise ValueError(
                f"q_vti_scan fixture needs contiguous doc_id 0..119 in "
                f"the documents table; this sf dir is missing "
                f"{len(missing)} ids (first: {missing[:5]}) — the "
                "driver gate requires the standard testdata documents "
                "table"
            )
    for g in range(5) if chars else ():
        vals = [float(chars[g * 24 + flat]) for flat in range(24)]
        origin = (g * 1.5, 0.0, 0.0)
        if g < 4:
            cvals = [float(c + 7 * g) for c in range(6)]
            _publish(
                os.path.join(base, f"grid{g}.vti"),
                lambda t, vals=vals, cvals=cvals, origin=origin,
                fmt=fmts[g]: write_vti(
                    (4, 3, 2), {"v": vals}, t, cell_data={"cv": cvals},
                    origin=origin, spacing=(0.5, 1.0, 2.0), fmt=fmt,
                ),
            )
        else:
            # legacy STRUCTURED_POINTS (point data only) — the content
            # sniff must route it through the legacy kernel mid-scan
            _publish(
                os.path.join(base, f"grid{g}.vtk"),
                lambda t, vals=vals, origin=origin: write_structured_points(
                    (4, 3, 2), {"v": vals}, t,
                    origin=origin, spacing=(0.5, 1.0, 2.0),
                ),
            )

    t = read_image_data(spark, base, glob="*.vt[ik]", cache=True)
    pt = t["grid"].groupBy("grid_id").agg(
        F.count("*").alias("n_sites"),
        F.sum(F.col("value").cast("bigint")).alias("sum_v"),
        F.sum(
            F.col("value").cast("bigint")
            * (1 + F.col("ix") + 10 * F.col("iy") + 100 * F.col("iz"))
        ).alias("wsum_v"),
    )
    ct = t["cell_grid"].groupBy("grid_id").agg(
        F.sum(F.col("value")).cast("bigint").alias("sum_cv")
    )
    meta = t["meta"].select("grid_id", "nx", "ny", "nz", "ox", "sx", "sz")
    return (
        pt.join(ct, "grid_id", "left")
        .join(meta, "grid_id")
        .select(
            "grid_id", "n_sites", "sum_v", "wsum_v", "sum_cv",
            "nx", "ny", "nz", "ox", "sx", "sz",
        )
        .orderBy("grid_id")
    )


ORACLE_VTI_SCAN = """
WITH d AS (SELECT doc_id // 24 AS g, doc_id % 24 AS flat, n_chars
           FROM documents WHERE doc_id < 120)
SELECT 'grid' || g AS grid_id,
       CAST(COUNT(*) AS BIGINT) AS n_sites,
       CAST(SUM(n_chars) AS BIGINT) AS sum_v,
       CAST(SUM(n_chars * (1 + flat % 4 + 10 * ((flat // 4) % 3)
                           + 100 * (flat // 12))) AS BIGINT) AS wsum_v,
       CASE WHEN g < 4 THEN CAST(15 + 42 * g AS BIGINT) END AS sum_cv,
       CAST(4 AS INT) AS nx, CAST(3 AS INT) AS ny, CAST(2 AS INT) AS nz,
       CAST(g AS DOUBLE) * 1.5 AS ox,
       CAST(0.5 AS DOUBLE) AS sx, CAST(2.0 AS DOUBLE) AS sz
FROM d GROUP BY g ORDER BY grid_id
"""


def q_stream_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL-TIME streaming Bloom dedup gate (streaming/dedup.py
    ``run_streaming_bloom_dedup`` — the round-6 runtime composition,
    previously pytest-only): a REAL readStream → foreachBatch run over
    a 3-file fixture stream (``maxFilesPerTrigger=1`` → one micro-batch
    per file, mtimes pinned so batch order is deterministic), each
    batch probing the union of every EARLIER batch's persisted filter
    and appending only definitely-new rows.

    Rows are ``(doc_id, url='u'||(doc_id % 400))`` for doc_id < 480 in
    batches of 160 — so batch 2 re-crawls batch 0's first 80 URLs and
    must drop them (no false negatives), while genuinely-new URLs
    survive except for deterministic Bloom false positives.  The md5
    position derivation lets DuckDB replay the whole multi-epoch
    membership protocol EXACTLY — emitted set including false
    positives — from the documents table alone.  Output reads through
    the ``read_bloom_deduped`` resolver (crash-retry idempotent)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from physicsnemo_curator_spark.streaming.dedup import (
        read_bloom_deduped,
        run_streaming_bloom_dedup,
    )

    base = _fixture_dir(sf_dir, "sbloom")
    src = os.path.join(base, "src")
    os.makedirs(src, exist_ok=True)
    batch_paths = [os.path.join(src, f"b{b}.parquet") for b in range(3)]
    # readiness and id-emptiness are SEPARATE signals: a corpus with
    # zero doc_id < 480 must still publish its three (empty) batch
    # files on the cold path, or the stream would find no source files
    ready = _fixtures_ready(*batch_paths)
    ids: list = []
    if not ready:
        ids = sorted(
            r["doc_id"]
            for r in _t(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 480)
            .select("doc_id")
            .collect()
        )
    for b, p in enumerate(batch_paths) if not ready else ():
        mine = [d for d in ids if d // 160 == b]

        def _write(t, mine=mine):
            pq.write_table(
                pa.table(
                    {
                        "doc_id": pa.array(mine, pa.int64()),
                        "url": pa.array(
                            [f"u{d % 400}" for d in mine], pa.string()
                        ),
                    }
                ),
                t,
            )

        _publish(p, _write)
        # deterministic trigger order: the file stream source orders
        # by modification time, so pin ascending mtimes per batch
        os.utime(p, (1_000_000_000 + 1000 * b, 1_000_000_000 + 1000 * b))
    out_dir = os.path.join(base, "out")
    run_streaming_bloom_dedup(
        spark,
        src,
        "doc_id bigint, url string",
        out_dir,
        os.path.join(base, "store"),
        os.path.join(base, "ckpt"),
        key_col="url",
        n_bits=4096,
        k=4,
        hash_fn="md5",
    )
    emitted = read_bloom_deduped(spark, out_dir, key_cols=["url"])
    return (
        emitted.groupBy((F.col("doc_id") % 5).cast("int").alias("bucket"))
        .agg(
            F.count("*").alias("n_emitted"),
            F.sum("doc_id").alias("sum_doc_id"),
            F.md5(
                F.concat_ws(
                    "", F.sort_array(F.collect_list("url"))
                ).cast("binary")
            ).alias("url_fp"),
        )
        .orderBy("bucket")
    )


ORACLE_STREAM_BLOOM = """
WITH d AS (SELECT doc_id, doc_id // 160 AS b, 'u' || (doc_id % 400) AS url
           FROM documents WHERE doc_id < 480),
seeds AS (SELECT unnest(range(0, 4)) i),
bits AS (SELECT b, url,
                CAST(CAST(concat('0x', substr(md5(i || ':' || url), 1, 15))
                          AS BIGINT) % 4096 AS INT) pos
         FROM d, seeds),
setb AS (SELECT DISTINCT b, pos FROM bits),
probe AS (SELECT p.b, p.url, p.pos,
                 EXISTS(SELECT 1 FROM setb s
                        WHERE s.pos = p.pos AND s.b < p.b) hit
          FROM bits p),
m AS (SELECT b, url, BOOL_AND(hit) maybe FROM probe GROUP BY b, url),
emitted AS (SELECT d.doc_id, d.url
            FROM d JOIN m ON d.b = m.b AND d.url = m.url
            WHERE NOT m.maybe)
SELECT CAST(doc_id % 5 AS INT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_emitted,
       CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
       md5(string_agg(url, '' ORDER BY url)) AS url_fp
FROM emitted GROUP BY 1 ORDER BY bucket
"""


def q_media_png_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PNG codec + image-resize gate (sources/png.py + multimodal.
    resize_images, the round-7 'weak component' flip): each document
    becomes a REAL encoded PNG — an 8x4 gray plane of its md5-hex ASCII
    bytes, encoded in the executors — resized 8x4 → 4x2 through the
    strict decode→gather→re-encode kernel, decoded back, and
    fingerprinted.  Nearest-neighbor keeps rows [0, 2] and columns
    [0, 2, 4, 6], so the surviving pixels are eight known character
    positions of the md5 hex string — which DuckDB replays with plain
    substr arithmetic.  A byte anywhere in the PNG chunk framing, zlib
    stream, filter logic, or gather math breaks the hash."""
    from physicsnemo_curator_spark.sources import multimodal
    from physicsnemo_curator_spark.sources import png as _png

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select(
            F.col("doc_id").alias("media_id"),
            F.md5(F.col("text").cast("binary")).alias("hex"),
        )
    )

    def encode(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            payloads = [
                _png.encode_png(
                    np.frombuffer(h.encode("ascii"), dtype=np.uint8).reshape(
                        4, 8
                    )
                )
                for h in pdf["hex"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": "image",
                    "payload": payloads,
                    "width": pd.array([8] * len(pdf), dtype="Int32"),
                    "height": pd.array([4] * len(pdf), dtype="Int32"),
                    "n_bytes": pd.array(
                        [len(p) for p in payloads], dtype="Int64"
                    ),
                }
            )

    media = docs.mapInPandas(
        encode,
        "media_id long, kind string, payload binary, width int, "
        "height int, n_bytes long",
    )
    resized = multimodal.resize_images(media, width=4, height=2, strict=True)

    def decode(it):
        import pandas as pd

        for pdf in it:
            texts = [
                _png.decode_png(bytes(p))[0].tobytes().decode("ascii")
                for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "resized": texts}
            )

    out = resized.mapInPandas(decode, "media_id long, resized string")
    return (
        out.groupBy((F.col("media_id") % 5).cast("int").alias("bucket"))
        .agg(
            F.count("*").alias("n_imgs"),
            F.md5(
                F.concat_ws("", F.sort_array(F.collect_list("resized"))).cast(
                    "binary"
                )
            ).alias("px_fp"),
        )
        .orderBy("bucket")
    )


ORACLE_MEDIA_PNG = """
WITH d AS (SELECT doc_id, md5(text) h FROM documents WHERE doc_id < 300),
r AS (SELECT doc_id,
             substr(h, 1, 1) || substr(h, 3, 1) || substr(h, 5, 1) ||
             substr(h, 7, 1) || substr(h, 17, 1) || substr(h, 19, 1) ||
             substr(h, 21, 1) || substr(h, 23, 1) AS resized
      FROM d)
SELECT CAST(doc_id % 5 AS INT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_imgs,
       md5(string_agg(resized, '' ORDER BY resized)) AS px_fp
FROM r GROUP BY 1 ORDER BY bucket
"""


def q_hdf5_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDF5 codec + distributed sink gate (sinks/hdf5.py +
    write_hdf5_per_variable_year — the zlib-chunked, grouped NetCDF4
    half, reference ``domains/da/sinks/netcdf_writer.py:338-360``):
    documents become a 2-variable (12 x 2 x 5) grid (value = n_chars),
    written through the REAL distributed sink (one deflate-chunked
    ``.h5`` per variable, repartitioned per file), re-scanned with
    ``binaryFile`` + the executor-side decode kernel, and aggregated.
    The lattice-index-weighted sum pins the (time, lat, lon) C-order
    layout through chunking/unchunking; a byte anywhere in the
    superblock, group B-tree, heap, chunk index, or deflate stream
    breaks the hash."""
    from physicsnemo_curator_spark.sinks.scientific import (
        write_hdf5_per_variable_year,
    )

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 240)
        .select("doc_id", "n_chars")
    )
    grid = docs.select(
        (F.col("doc_id") % 2).alias("g"),
        (F.col("doc_id") / 2).cast("int").alias("r"),
        F.col("n_chars").cast("double").alias("value"),
    ).select(
        F.concat(F.lit("v"), F.col("g")).alias("variable"),
        F.expr(
            "timestamp'2023-01-01 00:00:00'"
            " + make_interval(0, 0, 0, 0, CAST(r / 10 AS INT), 0, 0)"
        ).alias("time"),
        ((F.col("r") % 10) / 5).cast("int").cast("double").alias("lat"),
        (F.col("r") % 5).cast("double").alias("lon"),
        "value",
    )
    base = _fixture_dir(sf_dir, "h5")
    out = os.path.join(base, "grids")
    write_hdf5_per_variable_year(grid, out, chunk_rows=5, deflate=6)

    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.h5")
        .load(out)
        .select("path", "content")
    )

    def decode(it):
        import pandas as pd

        from physicsnemo_curator_spark.sinks.hdf5 import read_hdf5_bytes

        for pdf in it:
            rows = []
            for content in pdf["content"]:
                ds, _attrs = read_hdf5_bytes(bytes(content))
                var = next(
                    k.split("/", 1)[1] for k in ds if k.startswith("data/")
                )
                data = ds[f"data/{var}"]
                nt, nla, nlo = data.shape
                for t in range(nt):
                    for la in range(nla):
                        for lo in range(nlo):
                            rows.append(
                                (var, t, la, lo, float(data[t, la, lo]))
                            )
            yield pd.DataFrame(
                rows, columns=["variable", "t", "la", "lo", "value"]
            )

    decoded = raw.mapInPandas(
        decode, "variable string, t int, la int, lo int, value double"
    )
    return (
        decoded.groupBy("variable")
        .agg(
            F.count("*").alias("n_cells"),
            F.sum(F.col("value").cast("bigint")).alias("sum_v"),
            F.sum(
                F.col("value").cast("bigint")
                * (1 + F.col("lo") + 10 * F.col("la") + 100 * F.col("t"))
            ).alias("wsum_v"),
        )
        .orderBy("variable")
    )


ORACLE_HDF5 = """
WITH d AS (SELECT doc_id % 2 AS g, doc_id // 2 AS r, n_chars
           FROM documents WHERE doc_id < 240)
SELECT 'v' || g AS variable,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(n_chars) AS BIGINT) AS sum_v,
       CAST(SUM(n_chars * (1 + r % 5 + 10 * ((r % 10) // 5)
                           + 100 * (r // 10))) AS BIGINT) AS wsum_v
FROM d GROUP BY g ORDER BY variable
"""


def q_media_jpeg_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline-JPEG codec gate (sources/jpeg.py — ITU T.81 Huffman +
    DCT implemented pure-Python): each document becomes a REAL encoded
    flat-gray JPEG at level ``50 + n_chars % 150`` (encoded in the
    executors), resized 16x8 → 4x4 through the strict
    decode→gather→re-encode kernel (which re-encodes as JPEG), decoded
    back, and aggregated.  A flat block's only nonzero coefficient is
    DC, whose quantization error at quality 90 is < 0.5 gray level —
    so BOTH lossy hops reproduce the level bit-exactly and DuckDB
    replays the whole pipeline with integer arithmetic.  A bit
    anywhere in the marker framing, Huffman tables, entropy coding,
    or DCT breaks the match."""
    from physicsnemo_curator_spark.sources import jpeg as _jpeg
    from physicsnemo_curator_spark.sources import multimodal

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select(
            F.col("doc_id").alias("media_id"),
            (50 + F.col("n_chars") % 150).cast("int").alias("level"),
        )
    )

    def encode(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            payloads = [
                _jpeg.encode_jpeg(
                    np.full((8, 16), int(v), dtype=np.uint8), quality=90
                )
                for v in pdf["level"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": "image",
                    "payload": payloads,
                    "width": pd.array([16] * len(pdf), dtype="Int32"),
                    "height": pd.array([8] * len(pdf), dtype="Int32"),
                    "n_bytes": pd.array(
                        [len(p) for p in payloads], dtype="Int64"
                    ),
                }
            )

    media = docs.mapInPandas(
        encode,
        "media_id long, kind string, payload binary, width int, "
        "height int, n_bytes long",
    )
    resized = multimodal.resize_images(media, width=4, height=4, strict=True)

    def decode(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            levels = []
            for p in pdf["payload"]:
                px, meta = _jpeg.decode_jpeg(bytes(p))
                if px.min() != px.max():
                    raise ValueError(
                        "flat fixture decoded non-flat: "
                        f"{px.min()}..{px.max()}"
                    )
                levels.append(int(px[0, 0]))
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "level": levels}
            )

    out = resized.mapInPandas(decode, "media_id long, level int")
    return (
        out.groupBy((F.col("media_id") % 5).cast("int").alias("bucket"))
        .agg(
            F.count("*").alias("n_imgs"),
            F.sum("level").cast("bigint").alias("sum_level"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.sort_array(F.collect_list(F.col("level").cast("string"))),
                ).cast("binary")
            ).alias("level_fp"),
        )
        .orderBy("bucket")
    )


ORACLE_MEDIA_JPEG = """
WITH d AS (SELECT doc_id, CAST(50 + n_chars % 150 AS INT) AS level
           FROM documents WHERE doc_id < 300)
SELECT CAST(doc_id % 5 AS INT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_imgs,
       CAST(SUM(level) AS BIGINT) AS sum_level,
       md5(string_agg(CAST(level AS VARCHAR), ','
                      ORDER BY CAST(level AS VARCHAR))) AS level_fp
FROM d GROUP BY 1 ORDER BY bucket
"""


def q_text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity quality signal (textops.bigram_logprob):
    the CCNet/KenLM-style filter one order above q_text_logprob —
    add-k smoothed corpus-self transition probabilities, so shuffled
    or stuffed text scores low even when its words are common."""
    docs = _t(spark, sf_dir, "documents")
    out = textops.bigram_logprob(docs, k=0.5)
    return (
        out.select(
            "doc_id",
            "n_bigrams",
            _r6(F.col("avg_logprob"), "avg_logprob"),
            F.round(F.col("ppl"), 4).alias("ppl"),
        )
        .orderBy("doc_id")
        .limit(300)
    )


ORACLE_TEXT_BIGRAM_LM = """
WITH norm AS (SELECT doc_id,
                     trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
              FROM documents),
tk AS (SELECT doc_id, string_split(t, ' ') toks FROM norm),
uni AS (SELECT unnest(toks) w FROM tk),
vv AS (SELECT COUNT(DISTINCT w) v FROM uni WHERE w <> ''),
b AS (SELECT doc_id, toks[i] prev, toks[i + 1] cur
      FROM tk, LATERAL unnest(range(1, len(toks))) u(i)),
bc AS (SELECT prev, cur, COUNT(*) bc FROM b GROUP BY 1, 2),
hc AS (SELECT prev, COUNT(*) hc FROM b GROUP BY 1),
lp AS (SELECT doc_id, ln((bc + 0.5) / (hc + 0.5 * v)) lp
       FROM b JOIN bc USING (prev, cur) JOIN hc USING (prev), vv)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(AVG(lp), 6) AS avg_logprob,
       ROUND(exp(-AVG(lp)), 4) AS ppl
FROM lp GROUP BY doc_id ORDER BY doc_id LIMIT 300
"""


def q_vtk_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mesh pairing gate (sources/vtk.py::read_vtk_domain —
    reference VTKSource volume_pattern/boundary_pattern,
    ``_discover_pairs`` vtk.py:295-338; previously pytest-only): five
    case directories each pair a volume mesh (8 documents) with a
    boundary mesh (4 documents) by PARENT DIRECTORY — except the last
    case, whose boundary file is deliberately absent, so its volume
    must fall back to a standalone mesh with a path-relative
    domain_id.  The scan re-derives per (domain, region) aggregates
    that DuckDB replays from the documents arithmetic: a pairing bug
    (wrong region tag, dropped unpaired file, domain collision)
    changes a row."""
    from physicsnemo_curator_spark.sources.vtk import read_vtk_domain
    from physicsnemo_curator_spark.sources.vtk_xml import write_vtu

    base = _fixture_dir(sf_dir, "vtkdom")
    fmts = ["ascii", "binary", "appended", "appended-raw", "appended"]
    expected = [
        os.path.join(base, f"case{c}", f"{part}_m.vtu")
        for c in range(5)
        for part in ("volume", "boundary")
        if not (c == 4 and part == "boundary")
    ]
    if _fixtures_ready(*expected):
        docs = []  # warm path: every case file is already published
    else:
        docs = sorted(
            (
                (r["doc_id"], r["n_chars"])
                for r in _t(spark, sf_dir, "documents")
                .filter(F.col("doc_id") < 60)
                .select("doc_id", "n_chars")
                .collect()
            )
        )
    for c in range(5) if docs else ():
        case_dir = os.path.join(base, f"case{c}")
        os.makedirs(case_dir, exist_ok=True)
        for part, lo, hi in (("volume", 0, 8), ("boundary", 8, 12)):
            if c == 4 and part == "boundary":
                continue  # unpaired volume must survive as standalone
            mine = [
                (d, w) for d, w in docs if c * 12 + lo <= d < c * 12 + hi
            ]
            pts, cells, pdata = _fan_mesh(mine)
            _publish(
                os.path.join(case_dir, f"{part}_m.vtu"),
                lambda t, pts=pts, cells=cells, pdata=pdata,
                fmt=fmts[c]: write_vtu(pts, cells, None, pdata, t, fmt=fmt),
            )

    t = read_vtk_domain(
        spark,
        base,
        volume_pattern="volume_*",
        boundary_pattern="boundary_*",
        glob="*.vtu",
    )
    pts_agg = t["points"].groupBy("domain_id", "region").agg(
        F.count("*").alias("n_points"),
        F.sum("x").cast("bigint").alias("sum_x"),
    )
    w_agg = (
        t["point_data"]
        .filter(F.col("field") == "w")
        .groupBy("domain_id", "region")
        .agg(F.sum(F.col("value").cast("bigint")).alias("sum_w"))
    )
    return (
        pts_agg.join(w_agg, ["domain_id", "region"])
        .orderBy("domain_id", "region")
    )


ORACLE_VTK_DOMAIN = """
WITH d AS (
  SELECT doc_id, n_chars, doc_id // 12 AS c,
         CASE WHEN doc_id % 12 < 8 THEN 'volume' ELSE 'boundary' END part
  FROM documents WHERE doc_id < 60),
k AS (
  SELECT doc_id, n_chars,
         CASE WHEN c = 4 THEN 'case4/volume_m' ELSE 'case' || c END
           AS domain_id,
         CASE WHEN c = 4 THEN 'single'
              WHEN part = 'volume' THEN 'volume'
              ELSE 'vehicle' END AS region
  FROM d WHERE NOT (c = 4 AND part = 'boundary'))
SELECT domain_id, region,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(SUM(doc_id) AS BIGINT) AS sum_x,
       CAST(SUM(n_chars) AS BIGINT) AS sum_w
FROM k GROUP BY 1, 2 ORDER BY domain_id, region
"""


def q_media_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAV codec + audio featurization gate (sources/wav.py +
    multimodal.extract_features): each document becomes a REAL 8-bit
    PCM WAV of a CONSTANT signal at level ``(n_chars % 100) / 127``
    with ``64 + doc_id % 32`` frames at 8 kHz (encoded in the
    executors), decoded through the strict feature kernel.  A constant
    level k/127 quantizes to exactly k counts, decodes to exactly
    k/128, and every emitted feature — sample rate, duration, RMS,
    peak — is then EXACT double arithmetic DuckDB reproduces
    bit-for-bit (partial sums of identical dyadic rationals stay
    exact, sqrt of an exact square is exact).  A byte anywhere in the
    RIFF framing, PCM scaling, or feature math breaks the hash."""
    from physicsnemo_curator_spark.sources import multimodal
    from physicsnemo_curator_spark.sources import wav as _wav

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select(
            F.col("doc_id").alias("media_id"),
            (F.col("n_chars") % 100).cast("int").alias("k"),
            (64 + F.col("doc_id") % 32).cast("int").alias("frames"),
        )
    )

    def encode(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            payloads = [
                _wav.encode_wav(
                    np.full(int(n), int(k) / 127.0), 8000, bits=8
                )
                for k, n in zip(pdf["k"], pdf["frames"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": "audio",
                    "payload": payloads,
                    "width": pd.array([None] * len(pdf), dtype="Int32"),
                    "height": pd.array([None] * len(pdf), dtype="Int32"),
                    "n_bytes": pd.array(
                        [len(p) for p in payloads], dtype="Int64"
                    ),
                }
            )

    media = docs.mapInPandas(
        encode,
        "media_id long, kind string, payload binary, width int, "
        "height int, n_bytes long",
    )
    feats = multimodal.extract_features(media, dim=8, strict=True)
    return (
        feats.select(
            F.col("media_id").alias("doc_id"),
            F.element_at("feature", 1).cast("int").alias("sample_rate"),
            F.element_at("feature", 2).cast("int").alias("channels"),
            F.round(F.element_at("feature", 3), 6).alias("duration_s"),
            F.round(F.element_at("feature", 4), 6).alias("rms"),
            F.round(F.element_at("feature", 5), 6).alias("peak"),
            F.round(F.element_at("feature", 6), 6).alias("zcr"),
        )
        .orderBy("doc_id")
        .limit(300)
    )


ORACLE_MEDIA_WAV = """
SELECT doc_id,
       CAST(8000 AS INT) AS sample_rate,
       CAST(1 AS INT) AS channels,
       ROUND((64 + doc_id % 32) / 8000.0, 6) AS duration_s,
       ROUND((n_chars % 100) / 128.0, 6) AS rms,
       ROUND((n_chars % 100) / 128.0, 6) AS peak,
       CAST(0.0 AS DOUBLE) AS zcr
FROM documents WHERE doc_id < 300 ORDER BY doc_id LIMIT 300
"""


def q_media_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio resampling gate (multimodal.resample_audio): each
    document becomes a 16-bit WAV whose int16 samples are the EVEN
    integers ``2*(((doc_id*37 + j*13) % 8000) - 4000)`` (fed as
    ``k/32767`` so the encoder stores exactly k), then even doc_ids
    DOWNSAMPLE 8 kHz→4 kHz (positions land on input samples) and odd
    doc_ids UPSAMPLE →16 kHz (odd output positions average two even
    integers — still on the int16 grid, so requantization is the
    identity and every emitted sample is exact dyadic arithmetic
    DuckDB replays bit-for-bit).  A length-accounting, interpolation,
    channel, or WAV re-encode bug changes a row."""
    from physicsnemo_curator_spark.sources import multimodal
    from physicsnemo_curator_spark.sources import wav as _wav

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select(
            F.col("doc_id").alias("media_id"),
            (48 + F.col("doc_id") % 16).cast("int").alias("frames"),
        )
    )

    def encode(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            payloads = []
            for mid, n in zip(pdf["media_id"], pdf["frames"]):
                j = np.arange(int(n))
                k = 2 * (((int(mid) * 37 + j * 13) % 8000) - 4000)
                payloads.append(
                    _wav.encode_wav(k / 32767.0, 8000, bits=16)
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": "audio",
                    "payload": payloads,
                    "width": pd.array([None] * len(pdf), dtype="Int32"),
                    "height": pd.array([None] * len(pdf), dtype="Int32"),
                    "n_bytes": pd.array(
                        [len(p) for p in payloads], dtype="Int64"
                    ),
                }
            )

    media = docs.mapInPandas(
        encode,
        "media_id long, kind string, payload binary, width int, "
        "height int, n_bytes long",
    )
    down = multimodal.resample_audio(
        media.filter(F.col("media_id") % 2 == 0), 4000, strict=True
    )
    up = multimodal.resample_audio(
        media.filter(F.col("media_id") % 2 == 1), 16000, strict=True
    )
    resampled = down.unionByName(up)

    def dump(it):
        import pandas as pd

        for pdf in it:
            mids, js, ns, vals = [], [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                sig, meta = _wav.decode_wav(bytes(payload))
                sig = sig.reshape(-1)
                for j in range(min(len(sig), 30)):
                    mids.append(int(mid))
                    js.append(j)
                    ns.append(int(meta["n_frames"]))
                    vals.append(float(sig[j]))
            yield pd.DataFrame(
                {"doc_id": mids, "j": js, "n_out": ns, "sample": vals}
            )

    return (
        resampled.mapInPandas(
            dump, "doc_id long, j int, n_out long, sample double"
        )
        .select("doc_id", "j", "n_out", _r6(F.col("sample"), "sample"))
        .orderBy("doc_id", "j")
    )


ORACLE_MEDIA_RESAMPLE = """
WITH d AS (
  SELECT doc_id, 48 + doc_id % 16 AS n FROM documents WHERE doc_id < 200),
src AS (
  SELECT doc_id, n, u.j,
         2 * (((doc_id * 37 + u.j * 13) % 8000) - 4000) AS k
  FROM d, LATERAL unnest(range(0, n)) u(j)),
downpos AS (
  SELECT doc_id, n, u.j FROM d,
  LATERAL unnest(range(0, least(n // 2, 30))) u(j)
  WHERE doc_id % 2 = 0),
down AS (
  SELECT p.doc_id, CAST(p.j AS INT) AS j, p.n // 2 AS n_out,
         s.k / 32768.0 AS sample
  FROM downpos p JOIN src s ON s.doc_id = p.doc_id AND s.j = 2 * p.j),
uppos AS (
  SELECT doc_id, n, u.j FROM d,
  LATERAL unnest(range(0, least(2 * n, 30))) u(j)
  WHERE doc_id % 2 = 1),
up AS (
  SELECT p.doc_id, CAST(p.j AS INT) AS j, 2 * p.n AS n_out,
         CASE WHEN p.j % 2 = 0 THEN s0.k
              ELSE (s0.k + s1.k) / 2 END / 32768.0 AS sample
  FROM uppos p
  JOIN src s0 ON s0.doc_id = p.doc_id AND s0.j = p.j // 2
  JOIN src s1 ON s1.doc_id = p.doc_id
             AND s1.j = least(p.j // 2 + 1, p.n - 1))
SELECT doc_id, j, n_out, ROUND(sample, 6) AS sample FROM down
UNION ALL
SELECT doc_id, j, n_out, ROUND(sample, 6) AS sample FROM up
ORDER BY doc_id, j
"""


def q_media_avi_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVI container gate (sources/avi.py): each document becomes a
    REAL RIFF/AVI file — four 8x4 grayscale frames in uncompressed
    bottom-up DIB chunks, frame ``f``'s pixel bytes = the 32 hex chars
    of ``md5(text || f)`` — encoded executor-side, then exploded back
    through ``sample_frames(every_n=2)`` which must route the payload
    through the container parser (avih geometry, movi walk, DIB
    bottom-up un-flip, gray->RGB promotion).  The decoded frame plane
    is the original bytes with every byte tripled (RGB interleave of
    the promoted gray), so DuckDB replays the whole pipeline with
    string arithmetic: any header, stride, row-order, or idx1 bug
    changes the md5."""
    from physicsnemo_curator_spark.sources import avi as _avi
    from physicsnemo_curator_spark.sources import multimodal

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 250)
        .select("doc_id", "text")
    )

    def encode(it):
        import hashlib

        import numpy as np
        import pandas as pd

        for pdf in it:
            payloads = []
            for text in pdf["text"]:
                frames = [
                    np.frombuffer(
                        hashlib.md5(
                            (text + str(f)).encode("utf-8")
                        ).hexdigest().encode("ascii"),
                        dtype=np.uint8,
                    ).reshape(4, 8)
                    for f in range(4)
                ]
                payloads.append(_avi.encode_avi(frames, fps=12, codec="raw"))
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "kind": "video",
                    "payload": payloads,
                    "width": pd.array([None] * len(pdf), dtype="Int32"),
                    "height": pd.array([None] * len(pdf), dtype="Int32"),
                    "n_bytes": pd.array(
                        [len(p) for p in payloads], dtype="Int64"
                    ),
                }
            )

    media = docs.mapInPandas(
        encode,
        "media_id long, kind string, payload binary, width int, "
        "height int, n_bytes long",
    )
    frames = multimodal.sample_frames(media, every_n=2)
    return (
        frames.select(
            F.col("media_id").alias("doc_id"),
            "frame_index",
            F.md5("payload").alias("frame_md5"),
            "width",
            "height",
        )
        .orderBy("doc_id", "frame_index")
        .limit(500)
    )


ORACLE_MEDIA_AVI = """
WITH f AS (
    SELECT doc_id, u.f AS frame_index,
           md5(text || CAST(u.f AS VARCHAR)) AS hex
    FROM documents, (SELECT UNNEST([0, 2]) AS f) u
    WHERE doc_id < 250
)
SELECT doc_id, CAST(frame_index AS INT) AS frame_index,
       md5(array_to_string(
           list_transform(range(1, 33), i -> repeat(hex[i], 3)), ''
       )) AS frame_md5,
       CAST(8 AS INT) AS width, CAST(4 AS INT) AS height
FROM f ORDER BY doc_id, frame_index LIMIT 500
"""


def q_media_adpcm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMA ADPCM gate (sources/wav.py format 0x11): each document
    becomes a CONSTANT signal at level ``(n_chars % 100) / 127`` with
    ``200 + n_chars % 700`` frames (spanning under- and multi-block
    payloads at 505 samples/block), encoded to real ADPCM and decoded
    back in the executors.  A constant signal is an ADPCM fixed point
    (initial step index 0 -> step 7 -> diff 7>>3 = 0), so every
    decoded sample equals ``round(32767*k/127)/32768`` EXACTLY, the
    fact chunk must restore the exact frame count through block
    padding, and the byte sizes pin the block layout: data bytes =
    ceil(n/505)*256, file bytes = 60 + data bytes.  DuckDB replays
    all of it in integer arithmetic."""
    from physicsnemo_curator_spark.sources import wav as _wav

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select(
            "doc_id",
            (F.col("n_chars") % 100).cast("int").alias("k"),
            (200 + F.col("n_chars") % 700).cast("int").alias("n"),
        )
    )

    def codec(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            signals = [
                np.full(int(n), int(k) / 127.0)
                for k, n in zip(pdf["k"], pdf["n"])
            ]
            # batch APIs: one block-stacked kernel call per Arrow
            # batch instead of ~1000 tiny numpy ops per signal
            encs = _wav.encode_wav_batch(signals, 8000, bits=4)
            # MS-ADPCM twin: the constant signal is a fixed point for
            # predictor 0 too, so decode is exact and the block math
            # (500 samples/block, 90 + 256*blocks bytes) pins the
            # format-2 layout alongside the IMA one — batched like it
            ms = _wav.encode_wav_batch(signals, 8000, codec="ms_adpcm")
            rows = [
                (
                    int(doc_id),
                    int(meta["n_frames"]),
                    int(meta["sample_rate"]),
                    int(meta["bits"]),
                    len(enc),
                    float(np.min(out)),
                    float(np.max(out)),
                    len(menc),
                    int(mmeta["n_frames"]),
                    float(np.max(mout)),
                )
                for doc_id, enc, (out, meta), menc, (mout, mmeta) in zip(
                    pdf["doc_id"], encs, _wav.decode_wav_batch(encs),
                    ms, _wav.decode_wav_batch(ms),
                )
            ]
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_frames", "sample_rate", "bits",
                    "enc_bytes", "vmin", "vmax",
                    "ms_bytes", "ms_n_frames", "ms_value",
                ],
            )

    out = docs.mapInPandas(
        codec,
        "doc_id long, n_frames int, sample_rate int, bits int, "
        "enc_bytes int, vmin double, vmax double, ms_bytes int, "
        "ms_n_frames int, ms_value double",
    )
    return (
        out.select(
            "doc_id", "n_frames", "sample_rate", "bits", "enc_bytes",
            F.round("vmin", 9).alias("vmin"),
            F.round("vmax", 9).alias("vmax"),
            "ms_bytes", "ms_n_frames",
            F.round("ms_value", 9).alias("ms_value"),
        )
        .orderBy("doc_id")
        .limit(300)
    )


ORACLE_MEDIA_ADPCM = """
WITH p AS (
    SELECT doc_id, n_chars % 100 AS k, 200 + n_chars % 700 AS n
    FROM documents WHERE doc_id < 300
)
SELECT doc_id,
       CAST(n AS INT) AS n_frames,
       CAST(8000 AS INT) AS sample_rate,
       CAST(4 AS INT) AS bits,
       CAST(60 + 256 * ((n + 504) // 505) AS INT) AS enc_bytes,
       ROUND(CAST(ROUND(32767 * k / 127.0) AS BIGINT) / 32768.0, 9) AS vmin,
       ROUND(CAST(ROUND(32767 * k / 127.0) AS BIGINT) / 32768.0, 9) AS vmax,
       CAST(90 + 256 * ((GREATEST(n, 2) + 499) // 500) AS INT) AS ms_bytes,
       CAST(n AS INT) AS ms_n_frames,
       ROUND(CAST(ROUND(32767 * k / 127.0) AS BIGINT) / 32768.0, 9)
           AS ms_value
FROM p ORDER BY doc_id LIMIT 300
"""


def q_media_lossless(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossless JPEG gate (sources/jpeg.py SOF3): each document's
    md5 hex chars become a 4x8 grayscale image, encoded with
    ``encode_jpeg_lossless`` (predictor varies with doc_id over all
    seven Table H.1 predictors) and decoded back in the executors.
    The mode is BIT-EXACT, so the decoded bytes must equal the source
    bytes — the oracle replays the identity: frame_md5 =
    md5(md5(text)).  A single wrong predictor, category, or modulo
    wrap anywhere breaks the hash."""
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 250)
        .select("doc_id", "text")
    )

    def codec(it):
        import hashlib

        import numpy as np
        import pandas as pd

        from physicsnemo_curator_spark.sources import jpeg as _jpeg

        for pdf in it:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                src = hashlib.md5(text.encode("utf-8")).hexdigest()
                img = np.frombuffer(
                    src.encode("ascii"), dtype=np.uint8
                ).reshape(4, 8)
                pred = 1 + int(doc_id) % 7
                enc = _jpeg.encode_jpeg_lossless(img, predictor=pred)
                out, meta = _jpeg.decode_jpeg(enc)
                rows.append(
                    (
                        int(doc_id),
                        pred,
                        hashlib.md5(out.tobytes()).hexdigest(),
                        int(meta["width"]),
                        int(meta["height"]),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "predictor", "frame_md5", "width", "height",
                ],
            )

    out = docs.mapInPandas(
        codec,
        "doc_id long, predictor int, frame_md5 string, width int, "
        "height int",
    )
    return out.orderBy("doc_id").limit(250)


ORACLE_MEDIA_LOSSLESS = """
SELECT doc_id,
       CAST(1 + doc_id % 7 AS INT) AS predictor,
       md5(md5(text)) AS frame_md5,
       CAST(8 AS INT) AS width, CAST(4 AS INT) AS height
FROM documents WHERE doc_id < 250 ORDER BY doc_id LIMIT 250
"""


def q_media_flac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAC codec gate (sources/flac.py): each document becomes a
    CONSTANT signal at level ``(n_chars % 100) / 127`` with
    ``300 + n_chars % 900`` frames (spanning one and multiple 512-
    sample blocks), encoded to a real FLAC stream and decoded back in
    the executors.  FLAC is LOSSLESS, so every decoded sample equals
    ``round(32767*k/127)/32768`` EXACTLY and the frame count survives
    block segmentation; the md5 self-check runs inside decode.
    DuckDB replays the arithmetic."""
    from physicsnemo_curator_spark.sources import flac as _flac

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 250)
        .select(
            "doc_id",
            (F.col("n_chars") % 100).cast("int").alias("k"),
            (300 + F.col("n_chars") % 900).cast("int").alias("n"),
        )
    )

    def codec(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            rows = []
            for doc_id, k, n in zip(pdf["doc_id"], pdf["k"], pdf["n"]):
                enc = _flac.encode_flac(
                    np.full(int(n), int(k) / 127.0), 8000,
                    block_size=512,
                )
                out, meta = _flac.decode_flac(enc)
                rows.append(
                    (
                        int(doc_id),
                        int(meta["n_frames"]),
                        int(meta["sample_rate"]),
                        int(meta["channels"]),
                        float(np.min(out)),
                        float(np.max(out)),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_frames", "sample_rate", "channels",
                    "vmin", "vmax",
                ],
            )

    out = docs.mapInPandas(
        codec,
        "doc_id long, n_frames int, sample_rate int, channels int, "
        "vmin double, vmax double",
    )
    return (
        out.select(
            "doc_id", "n_frames", "sample_rate", "channels",
            F.round("vmin", 9).alias("vmin"),
            F.round("vmax", 9).alias("vmax"),
        )
        .orderBy("doc_id")
        .limit(250)
    )


ORACLE_MEDIA_FLAC = """
WITH p AS (
    SELECT doc_id, n_chars % 100 AS k, 300 + n_chars % 900 AS n
    FROM documents WHERE doc_id < 250
)
SELECT doc_id,
       CAST(n AS INT) AS n_frames,
       CAST(8000 AS INT) AS sample_rate,
       CAST(1 AS INT) AS channels,
       ROUND(CAST(ROUND(32767 * k / 127.0) AS BIGINT) / 32768.0, 9) AS vmin,
       ROUND(CAST(ROUND(32767 * k / 127.0) AS BIGINT) / 32768.0, 9) AS vmax
FROM p ORDER BY doc_id LIMIT 250
"""


def q_media_g711(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G.711 compander gate (sources/wav.py formats 7/6): each
    document's level ``round(32767*(n_chars%100)/127)`` runs through
    REAL mu-law and a-law encode->decode (constant 64-frame WAVs).
    The Sun segment algorithm is pure integer arithmetic, so DuckDB
    replays BOTH companders bit-for-bit with CASE-ladder segment
    election and shift/mask math — any deviation in the table edges,
    bias, or xor masks breaks the hash."""
    from physicsnemo_curator_spark.sources import wav as _wav

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select("doc_id", (F.col("n_chars") % 100).cast("int").alias("k"))
    )

    def codec(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            rows = []
            for doc_id, k in zip(pdf["doc_id"], pdf["k"]):
                sig = np.full(64, int(k) / 127.0)
                vu, _ = _wav.decode_wav(
                    _wav.encode_wav(sig, 8000, codec="ulaw")
                )
                va, _ = _wav.decode_wav(
                    _wav.encode_wav(sig, 8000, codec="alaw")
                )
                assert float(vu.min()) == float(vu.max())
                assert float(va.min()) == float(va.max())
                rows.append((int(doc_id), float(vu[0]), float(va[0])))
            yield pd.DataFrame(
                rows, columns=["doc_id", "ulaw_value", "alaw_value"]
            )

    out = docs.mapInPandas(
        codec, "doc_id long, ulaw_value double, alaw_value double"
    )
    return (
        out.select(
            "doc_id",
            F.round("ulaw_value", 9).alias("ulaw_value"),
            F.round("alaw_value", 9).alias("alaw_value"),
        )
        .orderBy("doc_id")
        .limit(300)
    )


ORACLE_MEDIA_G711 = """
WITH p AS (
    SELECT doc_id,
           CAST(ROUND(32767 * (n_chars % 100) / 127.0) AS BIGINT) AS s0
    FROM documents WHERE doc_id < 300
), u AS (
    -- mu-law encode (Sun): 14-bit domain, CLIP 8159, BIAS>>2 = 33
    SELECT doc_id, LEAST(s0 >> 2, 8159) + 33 AS pu, s0 FROM p
), useg AS (
    SELECT doc_id, pu, s0,
           CASE WHEN pu <= 63 THEN 0 WHEN pu <= 127 THEN 1
                WHEN pu <= 255 THEN 2 WHEN pu <= 511 THEN 3
                WHEN pu <= 1023 THEN 4 WHEN pu <= 2047 THEN 5
                WHEN pu <= 4095 THEN 6 WHEN pu <= 8191 THEN 7
                ELSE 8 END AS seg
    FROM u
), ubyte AS (
    -- uval ^ 0xFF (positive mask); seg 8 overflows to 0x7F ^ 0xFF
    SELECT doc_id, s0,
           CASE WHEN seg >= 8 THEN xor(127, 255)
                ELSE xor((seg << 4) | ((pu >> (seg + 1)) & 15), 255)
           END AS b
    FROM useg
), udec AS (
    -- decode: u = ~b & 0xFF; t = (((u&15)<<3)+132) << ((u>>4)&7)
    SELECT doc_id, s0,
           ((((xor(b, 255) & 15) << 3) + 132)
            << ((xor(b, 255) >> 4) & 7)) - 132 AS uval
    FROM ubyte
), a AS (
    -- a-law encode: 13-bit domain, mask 0xD5 for positive
    SELECT doc_id, s0 >> 3 AS pa, s0, uval FROM udec
), aseg AS (
    SELECT doc_id, pa, s0, uval,
           CASE WHEN pa <= 31 THEN 0 WHEN pa <= 63 THEN 1
                WHEN pa <= 127 THEN 2 WHEN pa <= 255 THEN 3
                WHEN pa <= 511 THEN 4 WHEN pa <= 1023 THEN 5
                WHEN pa <= 2047 THEN 6 ELSE 7 END AS seg
    FROM a
), abyte AS (
    SELECT doc_id, s0, uval,
           xor((seg << 4)
               | ((pa >> (CASE WHEN seg < 2 THEN 1 ELSE seg END)) & 15),
               213) AS b
    FROM aseg
), adec AS (
    -- decode: x = b ^ 0x55 (= aval ^ 0x80, sign bit set -> +t)
    SELECT doc_id, uval,
           CASE WHEN ((xor(b, 85) & 112) >> 4) = 0
                THEN ((xor(b, 85) & 15) << 4) + 8
                ELSE (((xor(b, 85) & 15) << 4) + 264)
                     << (((xor(b, 85) & 112) >> 4) - 1)
           END AS aval
    FROM abyte
)
SELECT doc_id,
       ROUND(uval / 32768.0, 9) AS ulaw_value,
       ROUND(aval / 32768.0, 9) AS alaw_value
FROM adec ORDER BY doc_id LIMIT 300
"""


def q_dataset_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hub-dataset local-layout gate (sources/datasets.py — DrivAerML
    ``run_<i>/`` discovery, split-part volume reassembly, and the
    AhmedML CSV broadcast attach; reference
    ``domains/mesh/sources/drivaerml.py:79-1366``, ``ahmedml.py:56-70``):
    documents become three run directories — run_2's volume is split
    into TWELVE unpadded ``.vtu.<k>.part`` files (k=0..11, so a lexical
    sort would concatenate ``.10.part`` before ``.2.part`` and produce
    garbage bytes) — plus per-run ``force_mom_<i>.csv`` scalars, read
    back through ``read_drivaerml(mesh_type='volume')`` +
    ``read_run_metadata`` + ``attach_global_data``, and aggregated.

    Run ``i`` holds one point per document with ``doc_id % 3 == i - 1``
    (sorted) at ``(d, (d*7) % 13, (d*3) % 5)`` with point field ``w =
    n_chars`` and fan cells; its CSV carries ``cd = sum(n_chars)``.
    A byte-order bug anywhere in the part reassembly shreds the XML
    and fails loudly; an attach bug breaks the cd column."""
    from physicsnemo_curator_spark.sources.datasets import (
        attach_global_data,
        read_drivaerml,
        read_run_metadata,
    )
    from physicsnemo_curator_spark.sources.vtk_xml import write_vtu

    base = _fixture_dir(sf_dir, "dsl")
    expected = (
        [os.path.join(base, "run_1", "volume_1.vtu")]
        + [
            os.path.join(base, "run_2", f"volume_2.vtu.{k}.part")
            for k in range(12)
        ]
        + [os.path.join(base, "run_3", "volume_3.vtu")]
        + [
            os.path.join(base, f"run_{i}", f"force_mom_{i}.csv")
            for i in (1, 2, 3)
        ]
    )
    if _fixtures_ready(*expected):
        docs = []  # warm path: every run file is already published
    else:
        docs = sorted(
            (
                (r["doc_id"], r["n_chars"])
                for r in _t(spark, sf_dir, "documents")
                .filter(F.col("doc_id") < 90)
                .select("doc_id", "n_chars")
                .collect()
            )
        )
    for i in (1, 2, 3) if docs else ():
        mine = [(d, w) for d, w in docs if d % 3 == i - 1]
        if len(mine) < 3:
            raise ValueError(
                f"q_dataset_layout fixture needs >= 3 documents with "
                f"doc_id % 3 == {i - 1} under doc_id < 90 — the driver "
                "gate requires the standard testdata documents table"
            )
        rdir = os.path.join(base, f"run_{i}")
        os.makedirs(rdir, exist_ok=True)
        pts, cells, pdata = _fan_mesh(mine)
        if i == 2:
            # split-part volume: write whole bytes once, shard into 12
            # unpadded parts (numeric-sort trap)
            scratch = os.path.join(rdir, f".whole.{os.getpid()}")
            write_vtu(pts, cells, None, pdata, scratch, fmt="appended")
            blob = open(scratch, "rb").read()
            os.remove(scratch)
            sz = -(-len(blob) // 12)
            for k in range(12):
                chunk = blob[k * sz : (k + 1) * sz]
                _publish(
                    os.path.join(rdir, f"volume_2.vtu.{k}.part"),
                    lambda t, c=chunk: open(t, "wb").write(c),
                )
        else:
            _publish(
                os.path.join(rdir, f"volume_{i}.vtu"),
                lambda t, pts=pts, cells=cells, pdata=pdata: write_vtu(
                    pts, cells, None, pdata, t, fmt="appended"
                ),
            )
        cd = sum(w for _, w in mine)
        _publish(
            os.path.join(rdir, f"force_mom_{i}.csv"),
            lambda t, cd=cd: open(t, "w").write(f"cd\n{cd}\n"),
        )

    t = read_drivaerml(spark, base, mesh_type="volume")
    meta = read_run_metadata(spark, base, kind="force_mom")
    attached = attach_global_data(t["points"], meta)
    pts_agg = attached.groupBy("mesh_id").agg(
        F.count("*").alias("n_points"),
        F.sum("x").cast("bigint").alias("sum_x"),
        F.max("cd").cast("bigint").alias("cd"),
    )
    cell_agg = t["cells"].groupBy("mesh_id").agg(
        F.count("*").alias("n_cells"),
        F.sum(F.aggregate("vs", F.lit(0).cast("bigint"), lambda a, v: a + v))
        .cast("bigint")
        .alias("sum_conn"),
    )
    w_agg = (
        t["point_data"]
        .filter(F.col("field") == "w")
        .groupBy("mesh_id")
        .agg(F.sum(F.col("value")).cast("bigint").alias("sum_w"))
    )
    return (
        pts_agg.join(cell_agg, "mesh_id")
        .join(w_agg, "mesh_id")
        .select(
            "mesh_id", "n_points", "n_cells", "sum_x", "sum_w", "sum_conn",
            "cd",
        )
        .orderBy("mesh_id")
    )


ORACLE_DATASET_LAYOUT = """
WITH d AS (SELECT doc_id, n_chars, 1 + doc_id % 3 AS i
           FROM documents WHERE doc_id < 90),
g AS (SELECT i, CAST(COUNT(*) AS BIGINT) n,
             CAST(SUM(doc_id) AS BIGINT) sx,
             CAST(SUM(n_chars) AS BIGINT) sw
      FROM d GROUP BY i)
SELECT 'volume_' || i AS mesh_id, n AS n_points, n - 2 AS n_cells,
       sx AS sum_x, sw AS sum_w, n * (n - 2) AS sum_conn, sw AS cd
FROM g ORDER BY mesh_id
"""


def q_openradioss_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OpenRadioss named-source gate (sources/openradioss.py
    ``read_openradioss`` — per-run timestep-stack assembly, reference
    ``domains/mesh/sources/openradioss.py:85-700``): documents become
    two run directories of three timestep ``.vtu`` files each; the
    source must discover the runs, pair sorted files to timesteps,
    compute t=0-relative displacements, PRUNE the deliberately
    unreferenced first point of every mesh (remapping connectivity down
    by one), and stack trajectories.

    Run ``r`` holds one point per document with ``doc_id % 2 == r``
    (sorted) at ``(d, (d*7) % 13, (d*3) % 5)`` behind a dangling point
    0 no cell references; timestep ``t`` moves point x to ``d +
    t*(n_chars % 5)``.  The last-step trajectory sum pins the
    array_sort stacking; the pair fingerprint pins the pruned-id ⇄
    displacement pairing."""
    from physicsnemo_curator_spark.sources.openradioss import read_openradioss
    from physicsnemo_curator_spark.sources.vtk_xml import write_vtu

    base = _fixture_dir(sf_dir, "orad")
    expected = [
        os.path.join(base, f"run{run}", f"ts{t}.vtu")
        for run in range(2)
        for t in range(3)
    ]
    if _fixtures_ready(*expected):
        docs = []  # warm path: every timestep file is already published
    else:
        docs = sorted(
            (
                (r["doc_id"], r["n_chars"])
                for r in _t(spark, sf_dir, "documents")
                .filter(F.col("doc_id") < 100)
                .select("doc_id", "n_chars")
                .collect()
            )
        )
    for run in range(2) if docs else ():
        mine = [(d, w) for d, w in docs if d % 2 == run]
        if len(mine) < 4:
            raise ValueError(
                f"q_openradioss_scan fixture needs >= 4 documents with "
                f"doc_id % 2 == {run} under doc_id < 100 — the driver "
                "gate requires the standard testdata documents table"
            )
        rdir = os.path.join(base, f"run{run}")
        os.makedirs(rdir, exist_ok=True)
        n = len(mine)
        cells = [[1, i, i + 1] for i in range(2, n)]
        for t in range(3):
            pts = [(1000.0 + run + t, 0.0, 0.0)] + [
                (float(d + t * (w % 5)), float((d * 7) % 13), float((d * 3) % 5))
                for d, w in mine
            ]
            _publish(
                os.path.join(rdir, f"ts{t}.vtu"),
                lambda p, pts=pts, cells=cells: write_vtu(
                    pts, cells, None, {}, p, fmt="appended"
                ),
            )

    t = read_openradioss(spark, base, vtk_glob="*.vtu")
    pts_agg = t["points"].groupBy("mesh_id").agg(
        F.count("*").alias("n_points"),
        F.sum("x").cast("bigint").alias("sum_x0"),
    )
    cell_agg = t["cells"].groupBy("mesh_id").agg(
        F.count("*").alias("n_cells"),
        F.sum(F.aggregate("vs", F.lit(0).cast("bigint"), lambda a, v: a + v))
        .cast("bigint")
        .alias("sum_conn"),
    )
    disp_agg = t["displacements"].groupBy("mesh_id").agg(
        F.sum("dx").cast("bigint").alias("sum_dx")
    )
    traj_agg = t["trajectory"].groupBy("mesh_id").agg(
        F.sum("n_timesteps").cast("bigint").alias("sum_nt"),
        F.sum(F.element_at(F.element_at("trajectory", -1), 1))
        .cast("bigint")
        .alias("sum_last_dx"),
    )
    pair = (
        t["points"]
        .join(
            t["displacements"].filter(F.col("t") == 1),
            ["mesh_id", "point_id"],
        )
        .select(
            "mesh_id",
            F.concat_ws(
                ":", F.col("x").cast("bigint"), F.col("dx").cast("bigint")
            ).alias("s"),
        )
        .groupBy("mesh_id")
        .agg(
            F.md5(
                F.concat_ws("", F.sort_array(F.collect_list("s"))).cast(
                    "binary"
                )
            ).alias("pair_fp")
        )
    )
    return (
        pts_agg.join(cell_agg, "mesh_id")
        .join(disp_agg, "mesh_id")
        .join(traj_agg, "mesh_id")
        .join(F.broadcast(t["globals"]), "mesh_id")
        .join(pair, "mesh_id")
        .select(
            "mesh_id", "n_points", "n_cells", "sum_x0", "sum_conn",
            "num_timesteps", "sum_dx", "sum_nt", "sum_last_dx", "pair_fp",
        )
        .orderBy("mesh_id")
    )


ORACLE_OPENRADIOSS = """
WITH d AS (SELECT doc_id, n_chars, doc_id % 2 AS r
           FROM documents WHERE doc_id < 100),
g AS (SELECT r, CAST(COUNT(*) AS BIGINT) n,
             CAST(SUM(doc_id) AS BIGINT) sx,
             CAST(SUM(n_chars % 5) AS BIGINT) sw5,
             md5(string_agg(doc_id || ':' || (n_chars % 5), ''
                 ORDER BY doc_id || ':' || (n_chars % 5))) pair_fp
      FROM d GROUP BY r)
SELECT 'run' || r AS mesh_id, n AS n_points, n - 2 AS n_cells,
       sx AS sum_x0, (n - 2) * n AS sum_conn,
       CAST(3 AS BIGINT) AS num_timesteps,
       3 * sw5 AS sum_dx, 3 * n AS sum_nt, 2 * sw5 AS sum_last_dx,
       pair_fp
FROM g ORDER BY mesh_id
"""


def q_zarr_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zarr-v2 distributed sink gate (sinks/zarr_store.py
    ``write_grid_zarr`` — task-side chunk writes, previously
    pytest-only; reference ``domains/da/sinks/zarr_writer.py:118-772``):
    documents become a 3-variable (8 x 2 x 5) grid (value = n_chars),
    written through the REAL distributed sink (one zlib chunk file per
    (variable, time) written inside ``applyInPandas`` tasks, plus
    coordinate arrays), re-scanned with a recursive ``binaryFile``
    pass over the chunk files (task-per-chunk decode against each
    array's own ``.zarray`` metadata), and aggregated.  The
    lattice-index-weighted sum pins the C-order chunk layout and the
    ``t.0.0`` index naming; the coordinate sums pin the coordinate
    arrays."""
    from physicsnemo_curator_spark.sinks.zarr_store import write_grid_zarr

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 240)
        .select("doc_id", "n_chars")
    )
    if docs.count() != 240:
        raise ValueError(
            "q_zarr_roundtrip needs contiguous doc_id 0..239 (a missing "
            "site would leave a NaN hole in the dense lattice) — the "
            "driver gate requires the standard testdata documents table"
        )
    grid = docs.select(
        F.concat(F.lit("v"), F.col("doc_id") % 3).alias("variable"),
        (F.col("doc_id") / 3).cast("int").alias("r"),
        F.col("n_chars").cast("double").alias("value"),
    ).select(
        "variable",
        (F.col("r") / 10).cast("int").alias("time_idx"),
        ((F.col("r") % 10) / 5).cast("int").cast("double").alias("lat"),
        (F.col("r") % 5).cast("double").alias("lon"),
        "value",
    )
    base = _fixture_dir(sf_dir, "zarr")
    store = os.path.join(base, "store")
    write_grid_zarr(grid, store)

    raw = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "[0-9]*")
        .load(store)
        .select("path", "content")
    )

    def decode(it):
        import json as _json

        import numpy as np
        import pandas as pd

        from physicsnemo_curator_spark.sinks.zarr_store import _decompress

        for pdf in it:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                # binaryFile reports local paths as 'file:/abs/path'
                p = path[5:] if path.startswith("file:") else path
                adir = os.path.dirname(p)
                aname = os.path.basename(adir)
                variable = os.path.basename(os.path.dirname(adir))
                with open(os.path.join(adir, ".zarray")) as f:
                    meta = _json.load(f)
                arr = np.frombuffer(
                    _decompress(bytes(content), meta["compressor"]),
                    dtype=np.dtype(meta["dtype"]),
                ).reshape(meta["chunks"])
                idx = tuple(
                    int(i) for i in os.path.basename(p).split(".")
                )
                if aname == "data":
                    t = idx[0]
                    for la in range(arr.shape[1]):
                        for lo in range(arr.shape[2]):
                            rows.append(
                                (
                                    variable, aname, t, la, lo,
                                    float(arr[0, la, lo]),
                                )
                            )
                else:
                    for i, v in enumerate(arr):
                        rows.append((variable, aname, i, -1, -1, float(v)))
            yield pd.DataFrame(
                rows,
                columns=["variable", "aname", "t", "la", "lo", "value"],
            )

    decoded = raw.mapInPandas(
        decode,
        "variable string, aname string, t int, la int, lo int, value double",
    )
    data = (
        decoded.filter(F.col("aname") == "data")
        .groupBy("variable")
        .agg(
            F.count("*").alias("n_cells"),
            F.sum(F.col("value").cast("bigint")).alias("sum_v"),
            F.sum(
                F.col("value").cast("bigint")
                * (1 + F.col("lo") + 10 * F.col("la") + 100 * F.col("t"))
            ).alias("wsum_v"),
        )
    )
    coords = (
        decoded.filter(F.col("aname") != "data")
        .groupBy("variable")
        .pivot("aname", ["time", "lat", "lon"])
        .agg(F.sum("value"))
        .select(
            "variable",
            F.col("time").alias("sum_t_coord"),
            F.col("lat").alias("sum_lat_coord"),
            F.col("lon").alias("sum_lon_coord"),
        )
    )
    return (
        data.join(coords, "variable")
        .select(
            "variable", "n_cells", "sum_v", "wsum_v",
            "sum_t_coord", "sum_lat_coord", "sum_lon_coord",
        )
        .orderBy("variable")
    )


ORACLE_ZARR = """
WITH d AS (SELECT doc_id % 3 AS g, doc_id // 3 AS r, n_chars
           FROM documents WHERE doc_id < 240)
SELECT 'v' || g AS variable,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(n_chars) AS BIGINT) AS sum_v,
       CAST(SUM(n_chars * (1 + r % 5 + 10 * ((r % 10) // 5)
                           + 100 * (r // 10))) AS BIGINT) AS wsum_v,
       CAST(28 AS DOUBLE) AS sum_t_coord,
       CAST(1 AS DOUBLE) AS sum_lat_coord,
       CAST(10 AS DOUBLE) AS sum_lon_coord
FROM d GROUP BY g ORDER BY variable
"""


def q_netcdf3_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic NetCDF-3 sink gate (sinks/netcdf3.py +
    ``write_netcdf_per_variable_year`` — CDF-1 with a time record
    dimension, previously pytest-only; reference
    ``domains/da/sinks/netcdf_writer.py:75-435``): documents become a
    2-variable (10 x 2 x 5) hourly grid for year 2024, written through
    the REAL distributed sink (one ``.nc`` per (variable, year),
    record-major time), re-read with ``binaryFile`` + the
    ``read_netcdf3_bytes`` executor kernel, and aggregated.  The
    epoch sum pins the record-stride layout and the UTC epoch
    encoding; the weighted sum pins the (time, lat, lon) order."""
    from physicsnemo_curator_spark.sinks.scientific import (
        write_netcdf_per_variable_year,
    )

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "n_chars")
    )
    if docs.count() != 200:
        raise ValueError(
            "q_netcdf3_roundtrip needs contiguous doc_id 0..199 (a "
            "missing site would leave a NaN hole in the dense lattice) "
            "— the driver gate requires the standard testdata documents "
            "table"
        )
    grid = docs.select(
        F.concat(F.lit("v"), F.col("doc_id") % 2).alias("variable"),
        (F.col("doc_id") / 2).cast("int").alias("r"),
        F.col("n_chars").cast("double").alias("value"),
    ).select(
        "variable",
        F.expr(
            "timestamp'2024-01-01 00:00:00'"
            " + make_interval(0, 0, 0, 0, CAST(r / 10 AS INT), 0, 0)"
        ).alias("time"),
        ((F.col("r") % 10) / 5).cast("int").cast("double").alias("lat"),
        (F.col("r") % 5).cast("double").alias("lon"),
        "value",
    )
    base = _fixture_dir(sf_dir, "nc3")
    out = os.path.join(base, "grids")
    write_netcdf_per_variable_year(grid, out)

    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.nc")
        .load(out)
        .select("path", "content")
    )

    def decode(it):
        import pandas as pd

        from physicsnemo_curator_spark.sinks.netcdf3 import read_netcdf3_bytes

        for pdf in it:
            rows = []
            for content in pdf["content"]:
                nc = read_netcdf3_bytes(bytes(content))
                var = next(
                    k
                    for k in nc["variables"]
                    if k not in ("time", "lat", "lon")
                )
                data = nc["variables"][var]
                epochs = nc["variables"]["time"]
                lats = nc["variables"]["lat"]
                lons = nc["variables"]["lon"]
                nt, nla, nlo = data.shape
                for t in range(nt):
                    for la in range(nla):
                        for lo in range(nlo):
                            rows.append(
                                (
                                    var, t, la, lo, float(data[t, la, lo]),
                                    float(epochs[t]), float(lats[la]),
                                    float(lons[lo]), int(nc["numrecs"]),
                                )
                            )
            yield pd.DataFrame(
                rows,
                columns=[
                    "variable", "t", "la", "lo", "value", "epoch",
                    "latc", "lonc", "numrecs",
                ],
            )

    decoded = raw.mapInPandas(
        decode,
        "variable string, t int, la int, lo int, value double, "
        "epoch double, latc double, lonc double, numrecs int",
    )
    return (
        decoded.groupBy("variable")
        .agg(
            F.count("*").alias("n_cells"),
            F.max("numrecs").alias("numrecs"),
            F.sum(F.col("value").cast("bigint")).alias("sum_v"),
            F.sum(
                F.col("value").cast("bigint")
                * (1 + F.col("lo") + 10 * F.col("la") + 100 * F.col("t"))
            ).alias("wsum_v"),
            # each epoch appears once per (la, lo) site — de-duplicate by
            # summing only the lo==0, la==0 rows
            F.sum(
                F.when(
                    (F.col("la") == 0) & (F.col("lo") == 0), F.col("epoch")
                ).otherwise(0.0)
            ).cast("bigint").alias("sum_epoch"),
            F.sum(
                F.when(
                    (F.col("t") == 0) & (F.col("lo") == 0), F.col("latc")
                ).otherwise(0.0)
            ).alias("sum_lat_coord"),
            F.sum(
                F.when(
                    (F.col("t") == 0) & (F.col("la") == 0), F.col("lonc")
                ).otherwise(0.0)
            ).alias("sum_lon_coord"),
        )
        .orderBy("variable")
    )


ORACLE_NETCDF3 = """
WITH d AS (SELECT doc_id % 2 AS g, doc_id // 2 AS r, n_chars
           FROM documents WHERE doc_id < 200)
SELECT 'v' || g AS variable,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(10 AS INT) AS numrecs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_v,
       CAST(SUM(n_chars * (1 + r % 5 + 10 * ((r % 10) // 5)
                           + 100 * (r // 10))) AS BIGINT) AS wsum_v,
       CAST(10 * epoch(TIMESTAMP '2024-01-01 00:00:00')
            + 3600 * 45 AS BIGINT) AS sum_epoch,
       CAST(1 AS DOUBLE) AS sum_lat_coord,
       CAST(10 AS DOUBLE) AS sum_lon_coord
FROM d GROUP BY g ORDER BY variable
"""


def q_d3plot_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LS-DYNA d3plot binary-codec gate (sources/d3plot.py — the last
    big mesh scan surface that was pytest-only; reference
    ``domains/mesh/sources/d3plot.py:334-604``): the documents table
    becomes three REAL single-precision d3plot files (control block,
    geometry, two timestep states) plus a ``.k`` keyword file, re-read
    with ``read_d3plot`` (binaryFile task-per-file scan) and
    ``parse_k_file``, and aggregated per mesh.

    Mesh ``m`` holds one node per document with ``doc_id % 3 == m``
    (sorted): initial coordinates ``(d, (d*7) % 13, (d*3) % 5)``,
    4-node fan shells ``[0, i, i+1, i+1]`` with part ``1 + (e % 3)``,
    and two states — state ``s`` moves node x to ``d + s*(n_chars %
    7)`` at time ``0.5*s``.  The ``.k`` file maps part ``p`` to
    thickness ``(10+p)/4`` through ``*PART`` → ``*SECTION_SHELL``
    cards.  Every column replays in DuckDB from documents arithmetic;
    the state-1 pair fingerprint pins the node⇄displacement pairing
    across both tables."""
    from physicsnemo_curator_spark.sources.d3plot import (
        parse_k_file,
        read_d3plot,
        write_d3plot,
    )

    base = _fixture_dir(sf_dir, "d3p")
    expected = [os.path.join(base, f"d3plot_m{m}") for m in range(3)] + [
        os.path.join(base, "model.k")
    ]
    if _fixtures_ready(*expected):
        docs = []  # warm path: every fixture file is already published
    else:
        docs = sorted(
            (
                (r["doc_id"], r["n_chars"])
                for r in _t(spark, sf_dir, "documents")
                .filter(F.col("doc_id") < 120)
                .select("doc_id", "n_chars")
                .collect()
            )
        )
    for m in range(3) if docs else ():
        mine = [(d, w) for d, w in docs if d % 3 == m]
        if len(mine) < 3:
            raise ValueError(
                f"q_d3plot_scan fixture needs >= 3 documents with doc_id "
                f"% 3 == {m} under doc_id < 120; this sf dir has "
                f"{len(mine)} — the driver gate requires the standard "
                "testdata documents table"
            )
        coords = [
            (float(d), float((d * 7) % 13), float((d * 3) % 5))
            for d, _ in mine
        ]
        n = len(coords)
        shells = [[0, i, i + 1, i + 1] for i in range(1, n - 1)]
        parts = [1 + (e % 3) for e in range(len(shells))]
        states = []
        for s in range(2):
            pos = [
                (float(d + s * (w % 7)), float((d * 7) % 13), float((d * 3) % 5))
                for d, w in mine
            ]
            states.append((0.5 * s, pos))
        _publish(
            os.path.join(base, f"d3plot_m{m}"),
            lambda t, coords=coords, shells=shells, parts=parts,
            states=states: write_d3plot(coords, shells, parts, states, t),
        )
    kpath = os.path.join(base, "model.k")
    _publish(
        kpath,
        lambda t: open(t, "w").write(
            "$ pcs fixture keyword file\n"
            + "".join(
                f"*PART\npart {p}\n{p},{p + 10}\n"
                f"*SECTION_SHELL\n{p + 10},2\n{(10 + p) / 4.0},0,0,0\n"
                for p in (1, 2, 3)
            )
        ),
    )

    t = read_d3plot(spark, base)
    thick_map = parse_k_file(open(kpath).read())
    tdf = spark.createDataFrame(
        [(p, th) for p, th in sorted(thick_map.items())],
        "part_id int, thickness double",
    )
    nodes_agg = t["nodes"].groupBy("mesh_id").agg(
        F.count("*").alias("n_nodes"),
        F.sum("x").cast("bigint").alias("sum_x"),
        F.sum("y").cast("bigint").alias("sum_y"),
    )
    shell_agg = (
        t["shells"]
        .join(F.broadcast(tdf), "part_id")
        .groupBy("mesh_id")
        .agg(
            F.count("*").alias("n_shells"),
            F.sum(
                F.aggregate("vs", F.lit(0).cast("bigint"), lambda a, v: a + v)
            ).cast("bigint").alias("sum_conn"),
            F.sum("part_id").cast("bigint").alias("sum_part"),
            F.round(F.sum("thickness"), 6).alias("thick_sum"),
        )
    )
    st = t["states"]
    st_agg = st.groupBy("mesh_id").agg(
        F.count("*").alias("n_state_rows"),
        F.sum("x").cast("bigint").alias("sum_sx"),
    )
    # state-1 x vs initial x, per node: pins the node ordering of both
    # the geometry block and every state frame
    pair = (
        t["nodes"]
        .join(
            st.filter(F.col("state_id") == 1).select(
                "mesh_id", "node_id", F.col("x").alias("x1")
            ),
            ["mesh_id", "node_id"],
        )
        .select(
            "mesh_id",
            F.concat_ws(
                ":", F.col("x").cast("bigint"), F.col("x1").cast("bigint")
            ).alias("s"),
        )
        .groupBy("mesh_id")
        .agg(
            F.md5(
                F.concat_ws("", F.sort_array(F.collect_list("s"))).cast(
                    "binary"
                )
            ).alias("pair_fp")
        )
    )
    return (
        nodes_agg.join(shell_agg, "mesh_id")
        .join(st_agg, "mesh_id")
        .join(pair, "mesh_id")
        .select(
            "mesh_id", "n_nodes", "sum_x", "sum_y", "n_shells", "sum_conn",
            "sum_part", "thick_sum", "n_state_rows", "sum_sx", "pair_fp",
        )
        .orderBy("mesh_id")
    )


ORACLE_D3PLOT_SCAN = """
WITH d AS (SELECT doc_id, n_chars, doc_id % 3 AS m
           FROM documents WHERE doc_id < 120),
g AS (SELECT m, CAST(COUNT(*) AS BIGINT) n,
             CAST(SUM(doc_id) AS BIGINT) sx,
             CAST(SUM((doc_id * 7) % 13) AS BIGINT) sy,
             CAST(SUM(n_chars % 7) AS BIGINT) sw7,
             md5(string_agg(doc_id || ':' || (doc_id + n_chars % 7), ''
                 ORDER BY doc_id || ':' || (doc_id + n_chars % 7))) pair_fp
      FROM d GROUP BY m),
k AS (SELECT *, n - 2 AS ns FROM g)
SELECT 'd3plot_m' || m AS mesh_id, n AS n_nodes, sx AS sum_x, sy AS sum_y,
       ns AS n_shells,
       CAST(3 * ns * (ns + 1) // 2 + 2 * ns AS BIGINT) AS sum_conn,
       CAST(ns + 3 * (ns // 3)
            + CASE WHEN ns % 3 = 2 THEN 1 ELSE 0 END AS BIGINT) AS sum_part,
       ROUND(2.75 * ((ns + 2) // 3) + 3.0 * ((ns + 1) // 3)
             + 3.25 * (ns // 3), 6) AS thick_sum,
       2 * n AS n_state_rows,
       2 * sx + sw7 AS sum_sx,
       pair_fp
FROM k ORDER BY mesh_id
"""


def q_aselmdb_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASE-LMDB binary-codec gate (sources/aselmdb.py — pure-Python
    LMDB B-tree walker + ``__ndarray__`` row decode, previously
    pytest-only; reference ``domains/atm/sources/aselmdb.py:647-1071``):
    the documents table becomes three REAL ``.aselmdb`` shards
    (zlib-compressed JSON rows with ndarray markers, numbered keys,
    ``nextid``/``metadata`` reserved keys), re-scanned with
    ``read_aselmdb`` (one task per shard) through
    ``to_atomic_tables``, and aggregated per shard.

    Shard ``s`` holds one system per document with ``doc_id % 3 == s``
    (insertion order = doc_id order, so LMDB row ids are 1..n):
    ``natoms = 2 + d % 4`` atoms with numbers ``1 + (d+j) % 8``,
    positions ``(d+j, (d*7) % 13, j)``, energy ``-(n_chars % 50)/2``,
    forces ``(j, 0, n_chars % 3)``.  The row-id sum pins the B-tree
    key walk; the atom aggregates pin the ndarray decode and the
    posexplode pairing."""
    from physicsnemo_curator_spark.sources.aselmdb import (
        read_aselmdb,
        to_atomic_tables,
        write_aselmdb,
    )

    base = _fixture_dir(sf_dir, "aselmdb")
    expected = [
        os.path.join(base, f"shard{s}.aselmdb") for s in range(3)
    ]
    if _fixtures_ready(*expected):
        docs = []  # warm path: every shard is already published
    else:
        docs = sorted(
            (
                (r["doc_id"], r["n_chars"])
                for r in _t(spark, sf_dir, "documents")
                .filter(F.col("doc_id") < 120)
                .select("doc_id", "n_chars")
                .collect()
            )
        )
    for s in range(3) if docs else ():
        mine = [(d, w) for d, w in docs if d % 3 == s]
        if not mine:
            raise ValueError(
                f"q_aselmdb_scan fixture needs >= 1 document with doc_id "
                f"% 3 == {s} under doc_id < 120 — the driver gate "
                "requires the standard testdata documents table"
            )
        rows = []
        for d, w in mine:
            na = 2 + d % 4
            rows.append(
                {
                    "numbers": [1 + (d + j) % 8 for j in range(na)],
                    "positions": [
                        [float(d + j), float((d * 7) % 13), float(j)]
                        for j in range(na)
                    ],
                    "energy": -(w % 50) / 2.0,
                    "forces": [
                        [float(j), 0.0, float(w % 3)] for j in range(na)
                    ],
                    "pbc": [d % 2 == 0] * 3,
                }
            )
        _publish(
            os.path.join(base, f"shard{s}.aselmdb"),
            lambda t, rows=rows: write_aselmdb(t, rows),
        )

    structs = read_aselmdb(spark, base, pattern="shard*.aselmdb")
    systems, atoms = to_atomic_tables(structs)
    sysk = systems.withColumn(
        "shard",
        F.concat(
            F.lit("shard"),
            F.regexp_extract("path", r"shard(\d+)\.aselmdb$", 1),
        ),
    )
    sys_agg = sysk.groupBy("shard").agg(
        F.count("*").alias("n_systems"),
        F.sum("natoms").cast("bigint").alias("sum_natoms"),
        F.sum("row_id").cast("bigint").alias("sum_row"),
        F.round(F.sum("energy"), 6).alias("sum_energy"),
    )
    at_agg = (
        atoms.join(F.broadcast(sysk.select("system_id", "shard")), "system_id")
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_atoms"),
            F.sum("z").cast("bigint").alias("sum_z"),
            F.sum(F.element_at("pos", 1)).cast("bigint").alias("sum_px"),
            F.sum(F.element_at("force", 3)).cast("bigint").alias("sum_fz"),
        )
    )
    return (
        sys_agg.join(at_agg, "shard")
        .select(
            "shard", "n_systems", "sum_natoms", "sum_row", "sum_energy",
            "n_atoms", "sum_z", "sum_px", "sum_fz",
        )
        .orderBy("shard")
    )


ORACLE_ASELMDB_SCAN = """
WITH d AS (SELECT doc_id AS did, n_chars AS w, doc_id % 3 AS s,
                  2 + doc_id % 4 AS na
           FROM documents WHERE doc_id < 120),
a AS (SELECT d.*, u.j FROM d, LATERAL unnest(range(d.na)) u(j)),
sys AS (SELECT s, CAST(COUNT(*) AS BIGINT) n_systems,
               CAST(SUM(na) AS BIGINT) sum_natoms,
               CAST(COUNT(*) * (COUNT(*) + 1) / 2 AS BIGINT) sum_row,
               ROUND(SUM(-(w % 50) / 2.0), 6) sum_energy
        FROM d GROUP BY s),
at AS (SELECT s, CAST(COUNT(*) AS BIGINT) n_atoms,
              CAST(SUM(1 + (did + j) % 8) AS BIGINT) sum_z,
              CAST(SUM(did + j) AS BIGINT) sum_px,
              CAST(SUM(w % 3) AS BIGINT) sum_fz
       FROM a GROUP BY s)
SELECT 'shard' || s AS shard, n_systems, sum_natoms, sum_row, sum_energy,
       n_atoms, sum_z, sum_px, sum_fz
FROM sys JOIN at USING (s) ORDER BY shard
"""


def q_grid_federated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ERA5Source federated-routing gate (sources/grid_stores.py
    ``read_grid_federated`` — the reference's flagship data-assimilation
    source behavior, previously pytest-only; reference
    ``domains/da/sources/era5.py:103-404``): per-variable backend
    election by priority, failed-probe failover re-route, lat/lon
    grid-alignment verification, and align-merge union.

    Fixture: TWO real Zarr stores from the documents lattice —
    ``alpha`` serves v0 + v1 (value = n_chars), ``beta`` serves v2
    (value = n_chars) AND a DECOY v1 whose values are shifted by
    +1000.  The backend list leads with a ``ghost`` store whose path
    does not exist (probe OSError → warn + re-route, reference
    ``era5.py:244-259``).  Correct routing reads v1 from ``alpha``
    (priority) — if the decoy ever leaks into the scan, ``sum_v``
    inflates by 80 000 and the hash breaks; if the ghost backend is
    not dropped, the read raises."""
    from physicsnemo_curator_spark.sinks.zarr_store import write_grid_zarr
    from physicsnemo_curator_spark.sources.grid_stores import (
        read_grid_federated,
    )

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 240)
        .select("doc_id", "n_chars")
    )
    if docs.count() != 240:
        raise ValueError(
            "q_grid_federated needs contiguous doc_id 0..239 (a missing "
            "site would leave a NaN hole in the dense lattice) — the "
            "driver gate requires the standard testdata documents table"
        )
    lattice = docs.select(
        F.concat(F.lit("v"), F.col("doc_id") % 3).alias("variable"),
        (F.col("doc_id") / 3).cast("int").alias("r"),
        F.col("n_chars").cast("double").alias("value"),
    ).select(
        "variable",
        (F.col("r") / 10).cast("int").alias("time_idx"),
        ((F.col("r") % 10) / 5).cast("int").cast("double").alias("lat"),
        (F.col("r") % 5).cast("double").alias("lon"),
        "value",
    )
    base = _fixture_dir(sf_dir, "gridfed")
    alpha = os.path.join(base, "alpha")
    beta = os.path.join(base, "beta")
    # fixture stores publish ONCE per source identity (the _publish
    # discipline of the other scan gates): the gate under test is the
    # federated ROUTING read — rewriting both zarr stores on every run
    # re-benched the sink q_zarr_roundtrip already gates
    _publish_tree(
        alpha,
        lambda t: write_grid_zarr(
            lattice.filter(F.col("variable").isin("v0", "v1")), t
        ),
    )
    _publish_tree(
        beta,
        lambda t: write_grid_zarr(
            lattice.filter(F.col("variable") == "v2").unionByName(
                lattice.filter(F.col("variable") == "v1").withColumn(
                    "value", F.col("value") + 1000.0
                )
            ),
            t,
        ),
    )
    import warnings

    backends = [
        ("ghost", os.path.join(base, "missing")),
        ("alpha", alpha),
        ("beta", beta),
    ]
    with warnings.catch_warnings():
        # the ghost probe failure warns by design; the gate asserts the
        # RE-ROUTE, not the log line
        warnings.simplefilter("ignore")
        fed = read_grid_federated(spark, backends, ["v0", "v1", "v2"])
    return (
        fed.groupBy("variable")
        .agg(
            F.count("*").alias("n_cells"),
            F.sum(F.col("value").cast("bigint")).alias("sum_v"),
            F.sum(
                F.col("value").cast("bigint")
                * (
                    1
                    + F.col("lon").cast("bigint")
                    + 10 * F.col("lat").cast("bigint")
                    + 100 * F.col("time").cast("bigint")
                )
            ).alias("wsum_v"),
            F.sum(F.col("time").cast("bigint")).alias("sum_t"),
        )
        .orderBy("variable")
    )


ORACLE_GRID_FEDERATED = """
WITH d AS (SELECT doc_id % 3 AS g, doc_id // 3 AS r, n_chars
           FROM documents WHERE doc_id < 240)
SELECT 'v' || g AS variable,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(n_chars) AS BIGINT) AS sum_v,
       CAST(SUM(n_chars * (1 + r % 5 + 10 * ((r % 10) // 5)
                           + 100 * (r // 10))) AS BIGINT) AS wsum_v,
       CAST(SUM(r // 10) AS BIGINT) AS sum_t
FROM d GROUP BY g ORDER BY variable
"""


def q_grid_sidecar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GridSidecarSink gate (sinks/grid_sidecar.py — per-grid sidecar
    directories of memmap-able per-field planes, previously
    pytest-only; reference ``domains/mesh/sinks/grid_sidecar.py:
    50-208``): documents become two 6x5x3 structured grids with two
    fields each, written through the REAL distributed sink (one
    ``applyInPandas`` task per grid, tmp-dir + rename commit, source-
    mirror ``relpath`` layout), re-scanned with ``read_grid_sidecar``
    (task-per-sidecar ``.npy`` decode), and aggregated.  The lattice-
    index-weighted sum pins the (z, y, x) plane layout; the meta
    columns pin ``meta.json``; ``rel_ok`` pins the ``{relpath}/
    {stem}.grid`` mirror naming."""
    from physicsnemo_curator_spark.sinks.grid_sidecar import (
        read_grid_sidecar,
        write_grid_sidecar,
    )

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 180)
        .select("doc_id", "n_chars")
    )
    if docs.count() != 180:
        raise ValueError(
            "q_grid_sidecar needs contiguous doc_id 0..179 (a missing "
            "site would leave a NaN hole in the dense lattice) — the "
            "driver gate requires the standard testdata documents table"
        )
    idx = docs.select(
        F.concat(F.lit("g"), F.col("doc_id") % 2).alias("grid_id"),
        (F.col("doc_id") / 2).cast("int").alias("r"),
        "doc_id",
        "n_chars",
    ).select(
        "grid_id",
        (F.col("r") / 30).cast("int").alias("iz"),
        ((F.col("r") % 30) / 6).cast("int").alias("iy"),
        (F.col("r") % 6).cast("int").alias("ix"),
        "doc_id",
        "n_chars",
    )
    grid = idx.select(
        "grid_id",
        "iz",
        "iy",
        "ix",
        F.explode(
            F.array(
                F.struct(
                    F.lit("a").alias("field"),
                    F.col("n_chars").cast("double").alias("value"),
                ),
                F.struct(
                    F.lit("b").alias("field"),
                    (F.col("doc_id") * 2).cast("double").alias("value"),
                ),
            )
        ).alias("fv"),
    ).select(
        "grid_id", "iz", "iy", "ix",
        F.col("fv.field").alias("field"),
        F.col("fv.value").alias("value"),
    )
    meta = spark.createDataFrame(
        [
            ("g0", 6, 5, 3, 0.0, 0.0, 0.0, 1.0, 1.0, 1.0, "runs/r0"),
            ("g1", 6, 5, 3, 0.5, 1.5, 2.5, 2.0, 0.5, 1.0, "runs/r1"),
        ],
        "grid_id string, nx int, ny int, nz int, ox double, oy double,"
        " oz double, sx double, sy double, sz double, relpath string",
    )
    base = _fixture_dir(sf_dir, "gridsc")
    out_dir = os.path.join(base, "out")
    written = write_grid_sidecar(grid, meta, out_dir)
    t = read_grid_sidecar(spark, out_dir)
    g_agg = t["grid"].groupBy("grid_id", "field").agg(
        F.count("*").alias("n_cells"),
        F.sum(F.col("value").cast("bigint")).alias("sum_v"),
        F.sum(
            F.col("value").cast("bigint")
            * (1 + F.col("ix") + 10 * F.col("iy") + 100 * F.col("iz"))
        ).alias("wsum_v"),
    )
    rel = written.select(
        "grid_id",
        F.col("path")
        .endswith(
            F.concat(
                F.lit("runs/r"),
                F.substring("grid_id", 2, 9),
                F.lit("/"),
                F.col("grid_id"),
                F.lit(".grid"),
            )
        )
        .cast("int")
        .alias("rel_ok"),
    )
    m = t["meta"].select("grid_id", "nx", "ny", "nz", "ox", "sy")
    return (
        g_agg.join(F.broadcast(m), "grid_id")
        .join(F.broadcast(rel), "grid_id")
        .select(
            "grid_id", "field", "n_cells", "sum_v", "wsum_v",
            "nx", "ny", "nz", "ox", "sy", "rel_ok",
        )
        .orderBy("grid_id", "field")
    )


ORACLE_GRID_SIDECAR = """
WITH d AS (SELECT doc_id % 2 AS g, doc_id // 2 AS r, doc_id, n_chars
           FROM documents WHERE doc_id < 180),
fv AS (SELECT g, r, 'a' AS field, n_chars AS v FROM d
       UNION ALL SELECT g, r, 'b', doc_id * 2 FROM d)
SELECT 'g' || g AS grid_id, field,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(v) AS BIGINT) AS sum_v,
       CAST(SUM(v * (1 + r % 6 + 10 * ((r % 30) // 6)
                     + 100 * (r // 30))) AS BIGINT) AS wsum_v,
       6 AS nx, 5 AS ny, 3 AS nz,
       CAST(g * 0.5 AS DOUBLE) AS ox,
       CAST(1.0 - g * 0.5 AS DOUBLE) AS sy,
       1 AS rel_ok
FROM fv GROUP BY g, field ORDER BY grid_id, field
"""


def q_atomic_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atomic-domain end-to-end gate (operators/atomic.py
    ``atomic_level_stats`` + ``pack_offsets``, previously pytest-only;
    reference ``domains/atm/filters/stats.py:273-777`` level-keyed
    Welford stats and the AtomicDataZarrSink offset pre-allocation,
    ``domains/atm/sinks/zarr_writer.py:209+``): the q_aselmdb_scan
    LMDB shards (SHARED fixture — same ``_fixture_dir`` key) scan
    through ``to_atomic_tables``, then one moment-stats row per
    (level, field) — node/z, system/energy, system/natoms — plus a
    ``pack/offset`` row over the ragged-packing exclusive prefix sum
    in deterministic (shard, row_id) order."""
    from physicsnemo_curator_spark.operators.atomic import (
        atomic_level_stats,
        pack_offsets,
    )
    from physicsnemo_curator_spark.sources.aselmdb import (
        read_aselmdb,
        to_atomic_tables,
        write_aselmdb,
    )

    base = _fixture_dir(sf_dir, "aselmdb")
    expected = [
        os.path.join(base, f"shard{s}.aselmdb") for s in range(3)
    ]
    if _fixtures_ready(*expected):
        docs = []  # warm path: the q_aselmdb_scan shards are published
    else:
        docs = sorted(
            (
                (r["doc_id"], r["n_chars"])
                for r in _t(spark, sf_dir, "documents")
                .filter(F.col("doc_id") < 120)
                .select("doc_id", "n_chars")
                .collect()
            )
        )
    for s in range(3) if docs else ():
        mine = [(d, w) for d, w in docs if d % 3 == s]
        if not mine:
            raise ValueError(
                f"q_atomic_stats fixture needs >= 1 document with doc_id "
                f"% 3 == {s} under doc_id < 120 — the driver gate "
                "requires the standard testdata documents table"
            )
        rows = []
        for d, w in mine:
            na = 2 + d % 4
            rows.append(
                {
                    "numbers": [1 + (d + j) % 8 for j in range(na)],
                    "positions": [
                        [float(d + j), float((d * 7) % 13), float(j)]
                        for j in range(na)
                    ],
                    "energy": -(w % 50) / 2.0,
                    "forces": [
                        [float(j), 0.0, float(w % 3)] for j in range(na)
                    ],
                    "pbc": [d % 2 == 0] * 3,
                }
            )
        _publish(
            os.path.join(base, f"shard{s}.aselmdb"),
            lambda t, rows=rows: write_aselmdb(t, rows),
        )

    structs = read_aselmdb(spark, base, pattern="shard*.aselmdb")
    systems, atoms = to_atomic_tables(structs)
    levels = atomic_level_stats(
        atoms, systems, atom_fields=("z",),
        system_fields=("energy", "natoms"),
    )
    # replayable pack order: (shard, row_id), NOT the hash system_id —
    # the oracle reproduces it with a per-shard ROW_NUMBER window
    sys_ord = systems.select(
        (
            F.regexp_extract("path", r"shard(\d+)\.aselmdb$", 1).cast(
                "bigint"
            )
            * 1000
            + F.col("row_id")
        ).alias("system_id"),
        "natoms",
    )
    offsets = pack_offsets(sys_ord)
    off_stats = stats.moment_stats(
        offsets.select(F.col("offset").cast("double").alias("value")),
        [],
        "value",
    ).select(
        F.lit("pack").alias("level"), F.lit("offset").alias("field"), "*"
    )
    out = levels.unionByName(off_stats)
    return out.select(
        "level",
        "field",
        "n",
        _r6(F.col("mean"), "mean"),
        "min_v",
        "max_v",
        _r6(F.col("stddev_pop_v"), "stddev_pop_v"),
        _r6(F.col("var_pop_v"), "var_pop_v"),
        _r6(F.col("skew_v"), "skew_v"),
        _r6(F.col("kurt_v"), "kurt_v"),
        _r6(F.col("abs_mean"), "abs_mean"),
        "abs_max",
    ).orderBy("level", "field")


ORACLE_ATOMIC_STATS = """
WITH d AS (SELECT doc_id AS did, n_chars AS w, doc_id % 3 AS s,
                  2 + doc_id % 4 AS na
           FROM documents WHERE doc_id < 120),
a AS (SELECT d.*, 1 + (did + u.j) % 8 AS z
      FROM d, LATERAL unnest(range(d.na)) u(j)),
ordd AS (SELECT s, ROW_NUMBER() OVER (PARTITION BY s ORDER BY did) rn, na
         FROM d),
offv AS (SELECT CAST(COALESCE(SUM(na) OVER (ORDER BY s, rn
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS DOUBLE) v
         FROM ordd),
vals AS (
  SELECT 'node' AS level, 'z' AS field, CAST(z AS DOUBLE) AS v FROM a
  UNION ALL SELECT 'system', 'energy', -(w % 50) / 2.0 FROM d
  UNION ALL SELECT 'system', 'natoms', CAST(na AS DOUBLE) FROM d
  UNION ALL SELECT 'pack', 'offset', v FROM offv
),
m AS (SELECT level, field, AVG(v) mu FROM vals GROUP BY 1, 2),
ag AS (SELECT level, field, CAST(COUNT(*) AS BIGINT) n, AVG(v) mean,
              MIN(v) min_v, MAX(v) max_v,
              AVG((v - mu) * (v - mu)) m2, AVG(POW(v - mu, 3)) m3,
              AVG(POW(v - mu, 4)) m4,
              AVG(ABS(v)) abs_mean, MAX(ABS(v)) abs_max
       FROM vals JOIN m USING (level, field) GROUP BY 1, 2)
SELECT level, field, n, ROUND(mean, 6) mean, min_v, max_v,
       ROUND(SQRT(m2), 6) stddev_pop_v, ROUND(m2, 6) var_pop_v,
       CASE WHEN m2 <= 0 THEN 0.0
            ELSE ROUND(m3 / POW(m2, 1.5), 6) END skew_v,
       CASE WHEN m2 <= 0 THEN 0.0
            ELSE ROUND(m4 / (m2 * m2) - 3, 6) END kurt_v,
       ROUND(abs_mean, 6) abs_mean, abs_max
FROM ag ORDER BY level, field
"""


def q_mesh_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mesh-quality report composite gate (operators/quality.py
    ``mesh_quality_report`` — the full per-mesh report row of
    reference ``domains/mesh/filters/quality.py:434-836``; q_a4
    covers only the count_if shape, the per-cell kernels are
    exact-geometry pytest-verified): documents become right triangles
    with legs ``a = 1 + doc_id % 7`` and ``b = 1 + n_chars % 5``,
    two meshes by parity.  The report aggregates aspect ratio /
    equiangle skewness (min/max/mean), poor-cell counts at the given
    thresholds, the unresolved-cell audit (arity-2 cells and cells
    referencing a missing point id), and the NaN/Inf field tallies —
    every column replays in DuckDB from the same law-of-cosines
    arithmetic."""
    from physicsnemo_curator_spark.operators.quality import (
        mesh_quality_report,
    )

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 160)
        .select("doc_id", "n_chars")
    )
    d = docs.select(
        "doc_id",
        "n_chars",
        F.concat(F.lit("m"), F.col("doc_id") % 2).alias("mesh_id"),
        (1 + F.col("doc_id") % 7).cast("double").alias("a"),
        (1 + F.col("n_chars") % 5).cast("double").alias("b"),
    )
    pts = d.select(
        "mesh_id",
        F.explode(
            F.array(
                F.struct(
                    (F.col("doc_id") * 3).alias("point_id"),
                    F.col("doc_id").cast("double").alias("x"),
                    F.lit(0.0).alias("y"),
                    F.lit(0.0).alias("z"),
                ),
                F.struct(
                    (F.col("doc_id") * 3 + 1).alias("point_id"),
                    (F.col("doc_id") + F.col("a")).alias("x"),
                    F.lit(0.0).alias("y"),
                    F.lit(0.0).alias("z"),
                ),
                F.struct(
                    (F.col("doc_id") * 3 + 2).alias("point_id"),
                    F.col("doc_id").cast("double").alias("x"),
                    F.col("b").alias("y"),
                    F.lit(0.0).alias("z"),
                ),
            )
        ).alias("p"),
    ).select(
        "mesh_id", F.col("p.point_id").alias("point_id"),
        F.col("p.x").alias("x"), F.col("p.y").alias("y"),
        F.col("p.z").alias("z"),
    )
    v0 = F.col("doc_id") * 3
    cells = d.select(
        "mesh_id",
        F.col("doc_id").alias("cell_id"),
        F.when(F.col("doc_id") % 13 == 0, F.array(v0, v0 + 1))
        .when(
            F.col("doc_id") % 17 == 3,
            F.array(v0, v0 + 1, F.lit(987654321).cast("bigint")),
        )
        .otherwise(F.array(v0, v0 + 1, v0 + 2))
        .alias("vs"),
    )
    point_data = d.select(
        "mesh_id",
        v0.alias("point_id"),
        F.lit("u").alias("field"),
        F.when(F.col("doc_id") % 19 == 0, F.lit(float("nan")))
        .when(F.col("doc_id") % 23 == 0, F.lit(float("inf")))
        .otherwise(F.col("n_chars").cast("double"))
        .alias("value"),
    )
    rep = mesh_quality_report(
        pts, cells, point_data, aspect_threshold=5.0, skew_threshold=0.5
    )
    return rep.select(
        "mesh_id",
        "n_cells",
        _r6(F.col("aspect_min"), "aspect_min"),
        _r6(F.col("aspect_max"), "aspect_max"),
        _r6(F.col("aspect_mean"), "aspect_mean"),
        _r6(F.col("skew_min"), "skew_min"),
        _r6(F.col("skew_max"), "skew_max"),
        _r6(F.col("skew_mean"), "skew_mean"),
        "n_degenerate",
        "n_poor_aspect",
        "n_poor_skew",
        "n_unresolved",
        "n_nan",
        "n_inf",
    ).orderBy("mesh_id")


ORACLE_MESH_QUALITY = """
WITH d AS (SELECT doc_id AS did, n_chars AS w, doc_id % 2 AS g,
                  CAST(1 + doc_id % 7 AS DOUBLE) AS a,
                  CAST(1 + n_chars % 5 AS DOUBLE) AS b
           FROM documents WHERE doc_id < 160),
tri AS (SELECT *, SQRT(a * a + b * b) AS e1 FROM d
        WHERE did % 13 <> 0 AND did % 17 <> 3),
ang AS (SELECT g,
               ACOS(LEAST(GREATEST((a*a + b*b - e1*e1) / (2*a*b),
                                   -1.0), 1.0)) AS a0,
               ACOS(LEAST(GREATEST((a*a + e1*e1 - b*b) / (2*a*e1),
                                   -1.0), 1.0)) AS a1,
               ACOS(LEAST(GREATEST((e1*e1 + b*b - a*a) / (2*e1*b),
                                   -1.0), 1.0)) AS a2,
               GREATEST(a, e1, b) / LEAST(a, e1, b) AS aspect
        FROM tri),
q AS (SELECT g, aspect,
             LEAST(GREATEST(
               GREATEST((GREATEST(a0, a1, a2) - PI() / 3)
                          / (PI() - PI() / 3),
                        (PI() / 3 - LEAST(a0, a1, a2)) / (PI() / 3)),
               0.0), 1.0) AS skew
      FROM ang),
rep AS (SELECT g, CAST(COUNT(*) AS BIGINT) n_cells,
               ROUND(MIN(aspect), 6) aspect_min,
               ROUND(MAX(aspect), 6) aspect_max,
               ROUND(AVG(aspect), 6) aspect_mean,
               ROUND(MIN(skew), 6) skew_min,
               ROUND(MAX(skew), 6) skew_max,
               ROUND(AVG(skew), 6) skew_mean,
               CAST(COUNT(*) FILTER (aspect > 5.0) AS BIGINT)
                 n_poor_aspect,
               CAST(COUNT(*) FILTER (skew > 0.5) AS BIGINT) n_poor_skew
        FROM q GROUP BY g),
audit AS (SELECT g,
                 CAST(COUNT(*) FILTER (did % 13 = 0 OR did % 17 = 3)
                      AS BIGINT) n_unresolved,
                 CAST(COUNT(*) FILTER (did % 19 = 0) AS BIGINT) n_nan,
                 CAST(COUNT(*) FILTER (did % 19 <> 0 AND did % 23 = 0)
                      AS BIGINT) n_inf
          FROM d GROUP BY g)
SELECT 'm' || g AS mesh_id, n_cells, aspect_min, aspect_max, aspect_mean,
       skew_min, skew_max, skew_mean, CAST(0 AS BIGINT) AS n_degenerate,
       n_poor_aspect, n_poor_skew, n_unresolved, n_nan, n_inf
FROM rep JOIN audit USING (g) ORDER BY mesh_id
"""


def q_media_mp4_mkv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP4 + MKV container gate (sources/mp4.py, sources/mkv.py):
    each document becomes TWO real containers — an ISO BMFF file
    (``'raw '`` sample entries: three 8x4 grayscale frames whose
    pixel bytes are the 32 hex chars of ``md5(text || f)``, the full
    ftyp/mdat/moov + stsd/stts/stsc/stsz/stco sample-table machinery)
    and a Matroska file (EBML varints, Segment/Tracks/Cluster,
    ``V_MJPEG`` SimpleBlocks carrying LOSSLESS T.81 Annex H JPEGs of
    ``md5(text || f)`` hex, plus a G.711 audio track — LACED, the
    mode rotating Xiph/EBML/fixed per document (RFC 8794 §11 size
    coding), that must NOT leak into the frame list).  Both explode
    through
    ``sample_frames(every_n=2)``, which dispatches on the container
    signature.  The mp4 frames decode to gray→RGB promotion (every
    byte tripled) and the mkv frames are bit-exact, so DuckDB replays
    the whole pipeline with string arithmetic: any box-size, varint,
    sample-table, or block-framing bug changes the md5."""
    from physicsnemo_curator_spark.sources import mkv as _mkv
    from physicsnemo_curator_spark.sources import mp4 as _mp4
    from physicsnemo_curator_spark.sources import multimodal

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 250)
        .select("doc_id", "text")
    )

    def encode(it):
        import hashlib

        import numpy as np
        import pandas as pd

        def hex_frame(text, f):
            return np.frombuffer(
                hashlib.md5(
                    (text + str(f)).encode("utf-8")
                ).hexdigest().encode("ascii"),
                dtype=np.uint8,
            ).reshape(4, 8)

        for pdf in it:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                p4 = _mp4.encode_mp4(
                    [hex_frame(text, f) for f in range(3)],
                    fps=12,
                    codec="raw",
                )
                mode = ("xiph", "ebml", "fixed")[int(doc_id) % 3]
                pk = _mkv.encode_mkv(
                    [hex_frame(text, f) for f in range(2)],
                    fps=10,
                    codec="mjpeg_lossless",
                    audio=np.full(64, 0.25),
                    sample_rate=8000,
                    audio_codec="ulaw",
                    audio_lacing=mode,
                    # 64 samples: 7 forces the uneven Xiph/EBML
                    # split; fixed needs the even 8
                    lace_frames=8 if mode == "fixed" else 7,
                )
                rows.append(
                    (int(doc_id) * 2, "video", p4, None, None, len(p4))
                )
                rows.append(
                    (int(doc_id) * 2 + 1, "video", pk, None, None, len(pk))
                )
            pdf_out = pd.DataFrame(
                rows,
                columns=[
                    "media_id", "kind", "payload", "width", "height",
                    "n_bytes",
                ],
            )
            pdf_out["width"] = pd.array(pdf_out["width"], dtype="Int32")
            pdf_out["height"] = pd.array(pdf_out["height"], dtype="Int32")
            yield pdf_out

    media = docs.mapInPandas(
        encode,
        "media_id long, kind string, payload binary, width int, "
        "height int, n_bytes long",
    )
    frames = multimodal.sample_frames(media, every_n=2)
    return (
        frames.select(
            "media_id",
            "frame_index",
            F.md5("payload").alias("frame_md5"),
            "width",
            "height",
        )
        .orderBy("media_id", "frame_index")
        .limit(750)
    )


ORACLE_MEDIA_MP4_MKV = """
WITH m AS (
    SELECT doc_id * 2 AS media_id, u.f AS frame_index,
           md5(text || CAST(u.f AS VARCHAR)) AS hex
    FROM documents, (SELECT UNNEST([0, 2]) AS f) u
    WHERE doc_id < 250
), mp4 AS (
    SELECT media_id, frame_index,
           md5(array_to_string(
               list_transform(range(1, 33), i -> repeat(hex[i], 3)), ''
           )) AS frame_md5
    FROM m
), mkv AS (
    SELECT doc_id * 2 + 1 AS media_id, 0 AS frame_index,
           md5(md5(text || '0')) AS frame_md5
    FROM documents WHERE doc_id < 250
)
SELECT media_id, CAST(frame_index AS INT) AS frame_index, frame_md5,
       CAST(8 AS INT) AS width, CAST(4 AS INT) AS height
FROM (SELECT * FROM mp4 UNION ALL SELECT * FROM mkv)
ORDER BY media_id, frame_index LIMIT 750
"""


def q_media_fmp4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fragmented-MP4 (fMP4/CMAF) gate (sources/mp4.py, ISO 14496-12
    §8.8): each document becomes a self-initializing segment stream —
    ``ftyp | moov(mvex/trex, zero-sample stbl) | (styp moof mdat)*`` —
    holding three 8x4 grayscale ``'raw '`` frames whose pixel bytes are
    the 32 hex chars of ``md5(text || f)``, split across fragments with
    ``samples_per_fragment`` rotating 1/2/3 by doc_id (so fragment
    boundaries land before/inside/after every sample position), PLUS a
    G.711 u-law audio track whose trun omits per-sample sizes (decode
    must resolve them through the trex default) — crawled DASH/HLS
    video is predominantly this shape, not progressive moov+mdat.
    Frames explode through ``sample_frames(every_n=2)``; raw gray
    promotes to RGB (every byte tripled), so DuckDB replays the whole
    pipeline with string arithmetic: any mvex/trex, mfhd sequence,
    tfhd flag, trun offset, or traf base-offset bug changes the md5 or
    leaks audio bytes into the frame list."""
    from physicsnemo_curator_spark.sources import mp4 as _mp4
    from physicsnemo_curator_spark.sources import multimodal

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 250)
        .select("doc_id", "text")
    )

    def encode(it):
        import hashlib

        import numpy as np
        import pandas as pd

        def hex_frame(text, f):
            return np.frombuffer(
                hashlib.md5(
                    (text + str(f)).encode("utf-8")
                ).hexdigest().encode("ascii"),
                dtype=np.uint8,
            ).reshape(4, 8)

        for pdf in it:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                seg = _mp4.encode_fmp4(
                    [hex_frame(text, f) for f in range(3)],
                    fps=12,
                    codec="raw",
                    samples_per_fragment=int(doc_id) % 3 + 1,
                    audio=np.full(48, 0.25),
                    sample_rate=8000,
                    audio_codec="ulaw",
                )
                rows.append(
                    (int(doc_id), "video", seg, None, None, len(seg))
                )
            pdf_out = pd.DataFrame(
                rows,
                columns=[
                    "media_id", "kind", "payload", "width", "height",
                    "n_bytes",
                ],
            )
            pdf_out["width"] = pd.array(pdf_out["width"], dtype="Int32")
            pdf_out["height"] = pd.array(pdf_out["height"], dtype="Int32")
            yield pdf_out

    media = docs.mapInPandas(
        encode,
        "media_id long, kind string, payload binary, width int, "
        "height int, n_bytes long",
    )
    frames = multimodal.sample_frames(media, every_n=2)
    return (
        frames.select(
            "media_id",
            "frame_index",
            F.md5("payload").alias("frame_md5"),
            "width",
            "height",
        )
        .orderBy("media_id", "frame_index")
        .limit(500)
    )


ORACLE_MEDIA_FMP4 = """
WITH m AS (
    SELECT doc_id AS media_id, u.f AS frame_index,
           md5(text || CAST(u.f AS VARCHAR)) AS hex
    FROM documents, (SELECT UNNEST([0, 2]) AS f) u
    WHERE doc_id < 250
)
SELECT media_id, CAST(frame_index AS INT) AS frame_index,
       md5(array_to_string(
           list_transform(range(1, 33), i -> repeat(hex[i], 3)), ''
       )) AS frame_md5,
       CAST(8 AS INT) AS width, CAST(4 AS INT) AS height
FROM m
ORDER BY media_id, frame_index LIMIT 500
"""


def q_media_stillimage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BMP / TIFF / GIF still-image gate (sources/{bmp,tiff,gif}.py):
    each document's md5 hex chars become a 4x8 grayscale image pushed
    through all three codecs executor-side — BMP (8-bit palettized
    DIB), TIFF (compression rotating none/LZW/Deflate/PackBits with
    the predictor rotating 1/2 by doc_id — the LZW early-change and
    differencing paths are inside the gate), and a TWO-frame animated
    GIF (frame f = md5(text || f) hex, GIF-flavor LSB-first LZW,
    Graphic Control delays).  Every path is LOSSLESS, so each decoded
    payload must equal its source bytes exactly: the oracle replays
    the identities md5(md5(text)) / md5(md5(text || f)) plus the
    byte-exact uncompressed-TIFF and BMP file sizes, all in DuckDB
    string arithmetic.  A single wrong stride, palette entry, IFD
    offset, LZW width bump, or sub-block length changes a hash."""
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 250)
        .select("doc_id", "text")
    )

    def codec(it):
        import hashlib

        import numpy as np
        import pandas as pd

        from physicsnemo_curator_spark.sources import bmp as _bmp
        from physicsnemo_curator_spark.sources import gif as _gif
        from physicsnemo_curator_spark.sources import tiff as _tiff

        comps = ["none", "lzw", "deflate", "packbits"]

        def hex_img(text, suffix=""):
            return np.frombuffer(
                hashlib.md5(
                    (text + suffix).encode("utf-8")
                ).hexdigest().encode("ascii"),
                dtype=np.uint8,
            ).reshape(4, 8)

        for pdf in it:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                img = hex_img(text)
                b = _bmp.encode_bmp(img)
                bd, _m = _bmp.decode_bmp(b)
                comp = comps[int(doc_id) % 4]
                pred = 1 + int(doc_id) % 2
                t = _tiff.encode_tiff(
                    img, compression=comp, predictor=pred
                )
                td, tm = _tiff.decode_tiff(t)
                t_none = _tiff.encode_tiff(img, compression="none")
                g = _gif.encode_gif(
                    [hex_img(text, "0"), hex_img(text, "1")], delay_cs=4
                )
                gframes, gm = _gif.decode_gif(g)
                rows.append(
                    (
                        int(doc_id),
                        hashlib.md5(bd.tobytes()).hexdigest(),
                        len(b),
                        comp,
                        hashlib.md5(td.tobytes()).hexdigest(),
                        int(tm["bits"]),
                        len(t_none),
                        hashlib.md5(gframes[0].tobytes()).hexdigest(),
                        hashlib.md5(gframes[1].tobytes()).hexdigest(),
                        int(gm["n_frames"]),
                        int(gm["fps"]),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "bmp_md5", "bmp_bytes", "tiff_comp",
                    "tiff_md5", "tiff_bits", "tiff_none_bytes",
                    "gif_md5_0", "gif_md5_1", "gif_frames", "gif_fps",
                ],
            )

    out = docs.mapInPandas(
        codec,
        "doc_id long, bmp_md5 string, bmp_bytes int, tiff_comp string, "
        "tiff_md5 string, tiff_bits int, tiff_none_bytes int, "
        "gif_md5_0 string, gif_md5_1 string, gif_frames int, "
        "gif_fps int",
    )
    return out.orderBy("doc_id").limit(250)


ORACLE_MEDIA_STILLIMAGE = """
SELECT doc_id,
       md5(md5(text)) AS bmp_md5,
       CAST(1110 AS INT) AS bmp_bytes,
       ['none', 'lzw', 'deflate', 'packbits'][1 + doc_id % 4]
           AS tiff_comp,
       md5(md5(text)) AS tiff_md5,
       CAST(8 AS INT) AS tiff_bits,
       CAST(178 AS INT) AS tiff_none_bytes,
       md5(md5(text || '0')) AS gif_md5_0,
       md5(md5(text || '1')) AS gif_md5_1,
       CAST(2 AS INT) AS gif_frames,
       CAST(25 AS INT) AS gif_fps
FROM documents WHERE doc_id < 250 ORDER BY doc_id LIMIT 250
"""


def q_media_hierarchical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical JPEG gate (sources/jpeg.py, T.81 Annex J): each
    document's md5 hex chars become a 4x8 grayscale image AND an
    interleaved 4x8x3 RGB image (channel c = md5(text || c) hex),
    both encoded as a lossless hierarchical pyramid — DHP full
    geometry, decimated SOF3 first frame, EXP reference expansion +
    differential SOF7 refinements, with the level count rotating
    1..3 by doc_id — and decoded back in the executors.  Every stage
    corrects exactly, so the decoded bytes equal the source bytes:
    gray_md5 = md5(md5(text)) and rgb_md5 = md5 of the three hex
    strings interleaved character-by-character, both replayed in
    DuckDB string arithmetic.  A wrong expansion tap, mod-2^16 wrap,
    or frame-geometry bug anywhere in the pyramid breaks the hash."""
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 250)
        .select("doc_id", "text")
    )

    def codec(it):
        import hashlib

        import numpy as np
        import pandas as pd

        from physicsnemo_curator_spark.sources import jpeg as _jpeg

        def hex_plane(text, suffix=""):
            return np.frombuffer(
                hashlib.md5(
                    (text + suffix).encode("utf-8")
                ).hexdigest().encode("ascii"),
                dtype=np.uint8,
            ).reshape(4, 8)

        for pdf in it:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                levels = 1 + int(doc_id) % 3
                gray = hex_plane(text)
                ge = _jpeg.encode_jpeg_hierarchical(gray, levels=levels)
                gd, gm = _jpeg.decode_jpeg(ge)
                rgb = np.stack(
                    [hex_plane(text, str(c)) for c in range(3)], axis=2
                )
                re_ = _jpeg.encode_jpeg_hierarchical(rgb, levels=levels)
                rd, rm = _jpeg.decode_jpeg(re_)
                rows.append(
                    (
                        int(doc_id),
                        levels,
                        hashlib.md5(gd.tobytes()).hexdigest(),
                        hashlib.md5(rd.tobytes()).hexdigest(),
                        int(gm["width"]),
                        int(gm["height"]),
                        int(rm["channels"]),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "levels", "gray_md5", "rgb_md5",
                    "width", "height", "rgb_channels",
                ],
            )

    out = docs.mapInPandas(
        codec,
        "doc_id long, levels int, gray_md5 string, rgb_md5 string, "
        "width int, height int, rgb_channels int",
    )
    return out.orderBy("doc_id").limit(250)


ORACLE_MEDIA_HIERARCHICAL = """
WITH h AS (
    SELECT doc_id,
           md5(text || '0') AS h0, md5(text || '1') AS h1,
           md5(text || '2') AS h2
    FROM documents WHERE doc_id < 250
)
SELECT doc_id,
       CAST(1 + doc_id % 3 AS INT) AS levels,
       md5(md5(text)) AS gray_md5,
       md5(array_to_string(
           list_transform(range(1, 33), i -> h0[i] || h1[i] || h2[i]), ''
       )) AS rgb_md5,
       CAST(8 AS INT) AS width, CAST(4 AS INT) AS height,
       CAST(3 AS INT) AS rgb_channels
FROM h JOIN documents USING (doc_id)
ORDER BY doc_id LIMIT 250
"""


def q_media_imagehash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image-hash gate (operators/imagehash.py): each
    document yields a RAW 8x9 grayscale plane (bytes = the 72 leading
    hex chars of md5(text)||md5(text||'a')||md5(text||'b')) plus a
    one-byte-perturbed twin (byte ``doc_id % 72`` incremented — flips
    at most two dHash gradient bits), pushed through
    ``with_image_hashes`` and the banded ``image_near_duplicates``
    join (pigeonhole guarantee: hamming <= 3 with 4 bands MUST pair
    them), and an 8x8 plane through aHash.  DuckDB replays the
    gradient comparisons, the strict-mean threshold, and the pair
    hamming directly on the md5 strings — a wrong bit order, packing,
    banding mask, or join drop changes the row."""
    from physicsnemo_curator_spark.operators import imagehash as ih

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "text")
    )

    def build(it):
        import hashlib

        import pandas as pd

        for pdf in it:
            drows, arows = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                s = (
                    hashlib.md5(text.encode()).hexdigest()
                    + hashlib.md5((text + "a").encode()).hexdigest()
                    + hashlib.md5((text + "b").encode()).hexdigest()
                )[:72].encode("ascii")
                p = int(doc_id) % 72
                s2 = s[:p] + bytes([s[p] + 1]) + s[p + 1 :]
                drows.append((2 * int(doc_id), "image", s, 9, 8, 72))
                drows.append((2 * int(doc_id) + 1, "image", s2, 9, 8, 72))
                t = (
                    hashlib.md5(text.encode()).hexdigest()
                    + hashlib.md5((text + "c").encode()).hexdigest()
                )[:64].encode("ascii")
                arows.append((int(doc_id), "image", t, 8, 8, 64))
            cols = ["media_id", "kind", "payload", "width", "height", "n_bytes"]
            yield pd.DataFrame(drows + arows, columns=cols).assign(
                _side=["d"] * len(drows) + ["a"] * len(arows)
            )

    media = docs.mapInPandas(
        build,
        "media_id long, kind string, payload binary, width int, "
        "height int, n_bytes long, _side string",
    )
    dmedia = media.filter(F.col("_side") == "d").drop("_side")
    amedia = media.filter(F.col("_side") == "a").drop("_side")
    # hash ONCE: both the banded join and the bit-string projection
    # read the same persisted signature table
    dh_all = ih.with_image_hashes(dmedia, method="dhash").persist()
    pairs = ih.banded_hamming_pairs(dh_all, max_hamming=3, n_bands=4)
    dh = dh_all.filter(F.col("media_id") % 2 == 0)
    ah = ih.with_image_hashes(amedia, method="ahash")
    return (
        pairs.withColumn("doc_id", (F.col("a") / 2).cast("long"))
        .join(
            dh.select(
                (F.col("media_id") / 2).cast("long").alias("doc_id"),
                F.col("bits").alias("dhash_bits"),
            ),
            "doc_id",
        )
        .join(
            ah.select(
                F.col("media_id").alias("doc_id"),
                F.col("bits").alias("ahash_bits"),
            ),
            "doc_id",
        )
        .select("doc_id", "a", "b", "hamming", "dhash_bits", "ahash_bits")
        .orderBy("doc_id")
        .limit(200)
    )


ORACLE_MEDIA_IMAGEHASH = """
WITH p AS (
    SELECT doc_id,
           substr(md5(text) || md5(text || 'a') || md5(text || 'b'),
                  1, 72) AS s,
           substr(md5(text) || md5(text || 'c'), 1, 64) AS t,
           doc_id % 72 AS pp
    FROM documents WHERE doc_id < 200
), b AS (
    SELECT doc_id,
           array_to_string(list_transform(range(0, 64), k ->
               CASE WHEN ascii(s[CAST((k // 8) * 9 + (k % 8) + 2 AS INT)])
                       > ascii(s[CAST((k // 8) * 9 + (k % 8) + 1 AS INT)])
                    THEN '1' ELSE '0' END), '') AS dhash_bits,
           (SELECT array_to_string(list_transform(range(0, 64), k ->
               CASE WHEN ascii(s2[CAST((k // 8) * 9 + (k % 8) + 2 AS INT)])
                       > ascii(s2[CAST((k // 8) * 9 + (k % 8) + 1 AS INT)])
                    THEN '1' ELSE '0' END), '')
            FROM (SELECT substr(s, 1, CAST(pp AS INT))
                         || chr(ascii(s[CAST(pp + 1 AS INT)]) + 1)
                         || substr(s, CAST(pp + 2 AS INT)) AS s2)
           ) AS pert_bits,
           list_sum(list_transform(range(1, 65),
                    i -> ascii(t[CAST(i AS INT)]))) / 64.0 AS am,
           t
    FROM p
)
SELECT doc_id,
       doc_id * 2 AS a,
       doc_id * 2 + 1 AS b,
       CAST(len(list_filter(range(1, 65), i ->
           dhash_bits[CAST(i AS INT)] <> pert_bits[CAST(i AS INT)]
       )) AS INT) AS hamming,
       dhash_bits,
       array_to_string(list_transform(range(1, 65), i ->
           CASE WHEN ascii(t[CAST(i AS INT)]) > am
                THEN '1' ELSE '0' END), '') AS ahash_bits
FROM b ORDER BY doc_id LIMIT 200
"""


def q_media_audiohash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acoustic fingerprint gate (operators/audiohash.py): each
    document becomes a REAL PCM16 WAV whose loudness profile is 65
    piecewise-constant frames at levels ``ascii(md5 hex chars)/255``
    (the 65 leading chars of md5(text)||md5(text||'a')||md5(text||'b')),
    plus a twin with frame
    ``doc_id % 65`` one level higher (flips at most two envelope
    bits).  Both run through ``with_audio_fingerprints`` (decode →
    frame RMS → rise bits) and the banded ``audio_near_duplicates``
    join.  PCM16 quantization is strictly monotone in the level, so
    the RMS comparisons equal the ascii comparisons and DuckDB
    replays fingerprint bits AND pair hamming from the md5 strings —
    a framing, quantization, packing, or banding bug changes the
    row."""
    from physicsnemo_curator_spark.operators import audiohash as _ah

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "text")
    )

    def build(it):
        import hashlib

        import numpy as np
        import pandas as pd

        from physicsnemo_curator_spark.sources import wav as _wav

        for pdf in it:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                s = (
                    hashlib.md5(text.encode()).hexdigest()
                    + hashlib.md5((text + "a").encode()).hexdigest()
                    + hashlib.md5((text + "b").encode()).hexdigest()
                )[:65].encode("ascii")
                p = int(doc_id) % 65
                s2 = s[:p] + bytes([s[p] + 1]) + s[p + 1 :]
                for mid, lv in ((2 * int(doc_id), s), (2 * int(doc_id) + 1, s2)):
                    sig = np.repeat(
                        np.frombuffer(lv, np.uint8).astype(np.float64)
                        / 255.0,
                        40,
                    )
                    enc = _wav.encode_wav(sig, 8000)
                    rows.append((mid, "audio", enc, None, None, len(enc)))
            pdf_out = pd.DataFrame(
                rows,
                columns=[
                    "media_id", "kind", "payload", "width", "height",
                    "n_bytes",
                ],
            )
            pdf_out["width"] = pd.array(pdf_out["width"], dtype="Int32")
            pdf_out["height"] = pd.array(pdf_out["height"], dtype="Int32")
            yield pdf_out

    media = docs.mapInPandas(
        build,
        "media_id long, kind string, payload binary, width int, "
        "height int, n_bytes long",
    )
    from physicsnemo_curator_spark.operators.imagehash import (
        banded_hamming_pairs as _bhp,
    )

    # fingerprint ONCE for both the join and the projection
    fps_all = _ah.with_audio_fingerprints(media).persist()
    pairs = _bhp(fps_all, max_hamming=3, n_bands=4)
    fps = fps_all.filter(F.col("media_id") % 2 == 0)
    return (
        pairs.withColumn("doc_id", (F.col("a") / 2).cast("long"))
        .join(
            fps.select(
                (F.col("media_id") / 2).cast("long").alias("doc_id"),
                F.col("bits").alias("envelope_bits"),
                "n_frames",
                "sample_rate",
            ),
            "doc_id",
        )
        .select(
            "doc_id", "a", "b", "hamming", "envelope_bits",
            "n_frames", "sample_rate",
        )
        .orderBy("doc_id")
        .limit(200)
    )


ORACLE_MEDIA_AUDIOHASH = """
WITH p AS (
    SELECT doc_id,
           substr(md5(text) || md5(text || 'a') || md5(text || 'b'),
                  1, 65) AS s,
           doc_id % 65 AS pp
    FROM documents WHERE doc_id < 200
), b AS (
    SELECT doc_id,
           array_to_string(list_transform(range(1, 65), i ->
               CASE WHEN ascii(s[CAST(i + 1 AS INT)])
                       > ascii(s[CAST(i AS INT)])
                    THEN '1' ELSE '0' END), '') AS envelope_bits,
           (SELECT array_to_string(list_transform(range(1, 65), i ->
               CASE WHEN ascii(s2[CAST(i + 1 AS INT)])
                       > ascii(s2[CAST(i AS INT)])
                    THEN '1' ELSE '0' END), '')
            FROM (SELECT substr(s, 1, CAST(pp AS INT))
                         || chr(ascii(s[CAST(pp + 1 AS INT)]) + 1)
                         || substr(s, CAST(pp + 2 AS INT)) AS s2)
           ) AS pert_bits
    FROM p
)
SELECT doc_id,
       doc_id * 2 AS a,
       doc_id * 2 + 1 AS b,
       CAST(len(list_filter(range(1, 65), i ->
           envelope_bits[CAST(i AS INT)] <> pert_bits[CAST(i AS INT)]
       )) AS INT) AS hamming,
       envelope_bits,
       CAST(65 * 40 AS BIGINT) AS n_frames,
       CAST(8000 AS INT) AS sample_rate
FROM b ORDER BY doc_id LIMIT 200
"""


def q_media_videohash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video fingerprint gate (operators/imagehash.py): each document
    becomes a FOUR-frame raw video (frame f's 8x9 plane = 72 leading
    hex chars of md5(text||f)||md5(text||f||'a')||md5(text||f||'b'))
    plus a twin with ONE byte of ONE frame bumped (frame doc%4, byte
    doc%72).  ``with_video_fingerprints`` explodes frames through the
    container dispatch, dHashes each, and majority-votes the 64 bit
    positions (ties resolve to frame 0's bit — a constant tie-break
    would collapse disagreeing even-count videos onto one shared
    signature); the banded join must pair every twin (a one-frame
    perturbation moves at most two majority bits).  DuckDB replays
    per-frame gradient bits, the tie-breaking 2/4 majority, the
    perturbation and the pair hamming from the md5 strings — a
    sampling, voting, packing, or banding bug changes the row."""
    from physicsnemo_curator_spark.operators import imagehash as ih

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 150)
        .select("doc_id", "text")
    )

    def build(it):
        import hashlib

        import pandas as pd

        for pdf in it:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                frames = []
                for f in range(4):
                    frames.append(
                        (
                            hashlib.md5((text + str(f)).encode()).hexdigest()
                            + hashlib.md5(
                                (text + str(f) + "a").encode()
                            ).hexdigest()
                            + hashlib.md5(
                                (text + str(f) + "b").encode()
                            ).hexdigest()
                        )[:72].encode("ascii")
                    )
                pf = int(doc_id) % 4
                pp = int(doc_id) % 72
                pert = list(frames)
                pert[pf] = (
                    pert[pf][:pp]
                    + bytes([pert[pf][pp] + 1])
                    + pert[pf][pp + 1 :]
                )
                rows.append(
                    (2 * int(doc_id), "video", b"".join(frames), 9, 8, 288)
                )
                rows.append(
                    (2 * int(doc_id) + 1, "video", b"".join(pert), 9, 8, 288)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "kind", "payload", "width", "height",
                    "n_bytes",
                ],
            )

    media = docs.mapInPandas(
        build,
        "media_id long, kind string, payload binary, width int, "
        "height int, n_bytes long",
    )
    # fingerprint ONCE (frame explode + per-frame hashing + 64-way
    # vote) for both the banded join and the projection
    fps_all = ih.with_video_fingerprints(media).persist()
    pairs = ih.banded_hamming_pairs(fps_all, max_hamming=3, n_bands=4)
    fps = fps_all.filter(F.col("media_id") % 2 == 0)
    return (
        pairs.withColumn("doc_id", (F.col("a") / 2).cast("long"))
        .join(
            fps.select(
                (F.col("media_id") / 2).cast("long").alias("doc_id"),
                "bits",
                "n_frames_hashed",
            ),
            "doc_id",
        )
        .select("doc_id", "a", "b", "hamming", "bits", "n_frames_hashed")
        .orderBy("doc_id")
        .limit(150)
    )


ORACLE_MEDIA_VIDEOHASH = """
WITH p AS (
    SELECT doc_id, text, doc_id % 4 AS pf, doc_id % 72 AS pp
    FROM documents WHERE doc_id < 150
), fr AS (
    SELECT doc_id, pf, pp, u.f AS f,
           substr(md5(text || CAST(u.f AS VARCHAR))
                  || md5(text || CAST(u.f AS VARCHAR) || 'a')
                  || md5(text || CAST(u.f AS VARCHAR) || 'b'),
                  1, 72) AS s
    FROM p, (SELECT UNNEST([0, 1, 2, 3]) AS f) u
), fr2 AS (
    SELECT doc_id, f, s,
           CASE WHEN f = pf THEN
               substr(s, 1, CAST(pp AS INT))
               || chr(ascii(s[CAST(pp + 1 AS INT)]) + 1)
               || substr(s, CAST(pp + 2 AS INT))
           ELSE s END AS s2
    FROM fr
), fb AS (
    SELECT doc_id, f, kk.k AS k,
           CASE WHEN ascii(s[CAST((kk.k // 8) * 9 + (kk.k % 8) + 2 AS INT)])
                   > ascii(s[CAST((kk.k // 8) * 9 + (kk.k % 8) + 1 AS INT)])
                THEN 1 ELSE 0 END AS bit,
           CASE WHEN ascii(s2[CAST((kk.k // 8) * 9 + (kk.k % 8) + 2 AS INT)])
                   > ascii(s2[CAST((kk.k // 8) * 9 + (kk.k % 8) + 1 AS INT)])
                THEN 1 ELSE 0 END AS pbit
    FROM fr2, (SELECT UNNEST(range(0, 64)) AS k) kk
), agg AS (
    SELECT doc_id, k,
           CASE WHEN SUM(bit) * 2 > 4 THEN '1'
                WHEN SUM(bit) * 2 = 4 THEN
                    CASE WHEN MAX(CASE WHEN f = 0 THEN bit END) = 1
                         THEN '1' ELSE '0' END
                ELSE '0' END AS mb,
           CASE WHEN SUM(pbit) * 2 > 4 THEN '1'
                WHEN SUM(pbit) * 2 = 4 THEN
                    CASE WHEN MAX(CASE WHEN f = 0 THEN pbit END) = 1
                         THEN '1' ELSE '0' END
                ELSE '0' END AS pb
    FROM fb GROUP BY doc_id, k
)
SELECT doc_id,
       doc_id * 2 AS a,
       doc_id * 2 + 1 AS b,
       CAST(SUM(CASE WHEN mb <> pb THEN 1 ELSE 0 END) AS INT) AS hamming,
       string_agg(mb, '' ORDER BY k) AS bits,
       CAST(4 AS BIGINT) AS n_frames_hashed
FROM agg GROUP BY doc_id ORDER BY doc_id LIMIT 150
"""


def q_media_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-only probe gate (sources/probe.py + sources/exif.py):
    each document becomes FOUR payloads — a PNG (md5-hex 4x8 gray), a
    JPEG with an embedded EXIF APP1 (orientation 1 + doc%8), a PCM
    WAV with ``100 + n_chars%500`` frames, and an animated GIF with
    ``2 + doc%3`` frames at 4 cs delay — pushed through
    ``with_media_probe``, which reads ONLY headers (format sniff, SOF
    scan, EXIF IFD, fmt/fact chunks, GIF sub-block walk).  Every
    output field is pure arithmetic over the document row, so DuckDB
    replays the whole table; a marker-walk, IFD, chunk-size, or
    duration bug changes a row."""
    from physicsnemo_curator_spark.sources import probe as _probe

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "text", "n_chars")
    )

    def build(it):
        import hashlib

        import numpy as np
        import pandas as pd

        from physicsnemo_curator_spark.sources import exif as _exif
        from physicsnemo_curator_spark.sources import gif as _gif
        from physicsnemo_curator_spark.sources import jpeg as _jpeg
        from physicsnemo_curator_spark.sources import png as _png
        from physicsnemo_curator_spark.sources import wav as _wav

        for pdf in it:
            rows = []
            for doc_id, text, n_chars in zip(
                pdf["doc_id"], pdf["text"], pdf["n_chars"]
            ):
                doc_id = int(doc_id)
                img = np.frombuffer(
                    hashlib.md5(text.encode()).hexdigest().encode(),
                    dtype=np.uint8,
                ).reshape(4, 8)
                p_png = _png.encode_png(img)
                p_jpeg = _exif.embed_exif(
                    _jpeg.encode_jpeg(img, quality=90),
                    {"orientation": 1 + doc_id % 8},
                )
                n = 100 + int(n_chars) % 500
                p_wav = _wav.encode_wav(np.zeros(n), 8000)
                nf = 2 + doc_id % 3
                p_gif = _gif.encode_gif([img] * nf, delay_cs=4)
                for k, p in enumerate((p_png, p_jpeg, p_wav, p_gif)):
                    rows.append(
                        (doc_id * 4 + k, "image", p, None, None, len(p))
                    )
            pdf_out = pd.DataFrame(
                rows,
                columns=[
                    "media_id", "kind", "payload", "width", "height",
                    "n_bytes",
                ],
            )
            pdf_out["width"] = pd.array(pdf_out["width"], dtype="Int32")
            pdf_out["height"] = pd.array(pdf_out["height"], dtype="Int32")
            yield pdf_out

    media = docs.mapInPandas(
        build,
        "media_id long, kind string, payload binary, width int, "
        "height int, n_bytes long",
    )
    return (
        _probe.with_media_probe(media)
        .select(
            "media_id", "format", "kind", "width", "height",
            "n_frames", "sample_rate", "channels", "bits",
            F.round("duration_s", 9).alias("duration_s"),
            "orientation",
        )
        .orderBy("media_id")
        .limit(800)
    )


ORACLE_MEDIA_PROBE = """
WITH p AS (
    SELECT doc_id, 100 + n_chars % 500 AS n, 2 + doc_id % 3 AS nf,
           1 + doc_id % 8 AS o
    FROM documents WHERE doc_id < 200
)
SELECT media_id, format, kind, width, height, n_frames, sample_rate,
       channels, bits, duration_s, orientation
FROM (
    SELECT doc_id * 4 AS media_id, 'png' AS format, 'image' AS kind,
           CAST(8 AS INT) AS width, CAST(4 AS INT) AS height,
           CAST(NULL AS BIGINT) AS n_frames,
           CAST(NULL AS INT) AS sample_rate, CAST(1 AS INT) AS channels,
           CAST(8 AS INT) AS bits, CAST(NULL AS DOUBLE) AS duration_s,
           CAST(NULL AS INT) AS orientation
    FROM p
    UNION ALL
    SELECT doc_id * 4 + 1, 'jpeg', 'image',
           CAST(8 AS INT), CAST(4 AS INT), NULL, NULL, CAST(1 AS INT),
           CAST(8 AS INT), NULL, CAST(o AS INT)
    FROM p
    UNION ALL
    SELECT doc_id * 4 + 2, 'wav', 'audio', NULL, NULL,
           CAST(n AS BIGINT), CAST(8000 AS INT), CAST(1 AS INT),
           CAST(16 AS INT), ROUND(n / 8000.0, 9), NULL
    FROM p
    UNION ALL
    SELECT doc_id * 4 + 3, 'gif',
           CASE WHEN nf > 1 THEN 'video' ELSE 'image' END,
           CAST(8 AS INT), CAST(4 AS INT), CAST(nf AS BIGINT), NULL,
           CAST(3 AS INT), CAST(8 AS INT), ROUND(nf * 4 / 100.0, 9),
           NULL
    FROM p
)
ORDER BY media_id LIMIT 800
"""


def q_media_audiotags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-metadata gate (sources/audiotags.py): each document
    becomes FOUR tiny audio payloads — PCM WAV, native FLAC, Ogg-FLAC
    and AIFF, all ``50 + n_chars % 200`` zero frames at 8 kHz.  WAV /
    FLAC / AIFF are first stamped with a STALE title then re-embedded
    with the real tags (pinning the replace path); Ogg-FLAC carries
    its tags through ``encode_ogg_flac(tags=...)`` page framing.
    Extraction round-trips the normalized dict and decode confirms
    the samples survived the splice.  Every tag value is pure string
    arithmetic over the document row, so DuckDB replays the table —
    a chunk-alignment, vendor-length, lacing, or last-block-flag bug
    changes a row."""
    from physicsnemo_curator_spark.sources import audiotags as _at

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 150)
        .select("doc_id", "text", "n_chars")
    )

    def codec(it):
        import numpy as np
        import pandas as pd

        from physicsnemo_curator_spark.sources import aiff as _aiff
        from physicsnemo_curator_spark.sources import flac as _flac
        from physicsnemo_curator_spark.sources import wav as _wav

        for pdf in it:
            rows = []
            for doc_id, text, n_chars in zip(
                pdf["doc_id"], pdf["text"], pdf["n_chars"]
            ):
                doc_id, n_chars = int(doc_id), int(n_chars)
                tags = {
                    "title": text[:16],
                    "artist": f"artist-{doc_id % 7}",
                    "comment": f"c:{n_chars % 100}",
                }
                n = 50 + n_chars % 200
                sig = np.zeros(n)
                stale = {"title": "stale"}
                payloads = [
                    (
                        "wav",
                        _at.embed_audio_tags(
                            _at.embed_audio_tags(
                                _wav.encode_wav(sig, 8000), stale
                            ),
                            tags,
                        ),
                        _wav.decode_wav,
                    ),
                    (
                        "flac",
                        _at.embed_audio_tags(
                            _at.embed_audio_tags(
                                _flac.encode_flac(sig, 8000), stale
                            ),
                            tags,
                        ),
                        _flac.decode_flac,
                    ),
                    (
                        "ogg_flac",
                        _flac.encode_ogg_flac(sig, 8000, tags=tags),
                        _flac.decode_ogg_flac,
                    ),
                    (
                        "aiff",
                        _at.embed_audio_tags(
                            _at.embed_audio_tags(
                                _aiff.encode_aiff(sig, 8000), stale
                            ),
                            tags,
                        ),
                        _aiff.decode_aiff,
                    ),
                ]
                for k, (name, payload, dec) in enumerate(payloads):
                    got = _at.extract_audio_tags(payload)
                    out, _meta = dec(payload)
                    rows.append(
                        (
                            doc_id * 4 + k,
                            name,
                            got.get("title"),
                            got.get("artist"),
                            got.get("comment"),
                            int(out.shape[0]),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "container", "title", "artist",
                    "comment", "n_frames",
                ],
            )

    out = docs.mapInPandas(
        codec,
        "media_id long, container string, title string, artist string, "
        "comment string, n_frames int",
    )
    return out.orderBy("media_id").limit(600)


ORACLE_MEDIA_AUDIOTAGS = """
WITH p AS (
    SELECT doc_id, substr(text, 1, 16) AS title,
           'artist-' || CAST(doc_id % 7 AS VARCHAR) AS artist,
           'c:' || CAST(n_chars % 100 AS VARCHAR) AS comment,
           50 + n_chars % 200 AS n
    FROM documents WHERE doc_id < 150
),
c AS (
    SELECT * FROM (VALUES (0, 'wav'), (1, 'flac'), (2, 'ogg_flac'),
                          (3, 'aiff')) AS t(k, container)
)
SELECT p.doc_id * 4 + c.k AS media_id, c.container, p.title, p.artist,
       p.comment, CAST(p.n AS INT) AS n_frames
FROM p CROSS JOIN c
ORDER BY media_id LIMIT 600
"""


def q_media_imagetags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-metadata gate (sources/imagetags.py + with_media_tags):
    each document becomes FIVE payloads from its md5 4x8 pixel grid —
    PNG (tEXt title+comment), JPEG (EXIF Artist + COM comment), TIFF
    (append-only IFD rewrite: DocumentName + Software), GIF (Comment
    Extension) and an untaggable BMP — each stamped with doc-derived
    strings and read back through the ``with_media_tags`` operator.
    Every surviving tag is pure string arithmetic over the document
    row and every refused slot is NULL, so DuckDB replays the support
    matrix exactly — a chunk CRC, marker-walk, IFD-pointer, or
    sub-block bug changes a row."""
    from physicsnemo_curator_spark.sources import multimodal as _mm

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 120)
        .select("doc_id", "text", "n_chars")
    )

    def build(it):
        import hashlib

        import numpy as np
        import pandas as pd

        from physicsnemo_curator_spark.sources import bmp as _bmp
        from physicsnemo_curator_spark.sources import gif as _gif
        from physicsnemo_curator_spark.sources import imagetags as _it
        from physicsnemo_curator_spark.sources import jpeg as _jpeg
        from physicsnemo_curator_spark.sources import png as _png
        from physicsnemo_curator_spark.sources import tiff as _tiff

        for pdf in it:
            rows = []
            for doc_id, text, n_chars in zip(
                pdf["doc_id"], pdf["text"], pdf["n_chars"]
            ):
                doc_id, n_chars = int(doc_id), int(n_chars)
                img = np.frombuffer(
                    hashlib.md5(text.encode()).hexdigest().encode(),
                    dtype=np.uint8,
                ).reshape(4, 8)
                title = f"t:{doc_id % 50}"
                author = f"a:{n_chars % 10}"
                comment = f"c:{doc_id % 9}"
                software = f"s:{n_chars % 7}"
                payloads = [
                    _it.embed_image_tags(
                        _png.encode_png(img),
                        {"title": title, "comment": comment},
                    ),
                    _it.embed_image_tags(
                        _jpeg.encode_jpeg(img, quality=90),
                        {"author": author, "comment": comment},
                    ),
                    _it.embed_image_tags(
                        _tiff.encode_tiff(img, compression="lzw"),
                        {"title": title, "software": software},
                    ),
                    _it.embed_image_tags(
                        _gif.encode_gif([img]), {"comment": comment}
                    ),
                    _bmp.encode_bmp(img),
                ]
                for k, p in enumerate(payloads):
                    rows.append((doc_id * 5 + k, "image", p, 8, 4, len(p)))
            out = pd.DataFrame(
                rows,
                columns=[
                    "media_id", "kind", "payload", "width", "height",
                    "n_bytes",
                ],
            )
            out["width"] = pd.array(out["width"], dtype="Int32")
            out["height"] = pd.array(out["height"], dtype="Int32")
            yield out

    media = docs.mapInPandas(
        build,
        "media_id long, kind string, payload binary, width int, "
        "height int, n_bytes long",
    )
    return (
        _mm.with_media_tags(media)
        .select(
            "media_id", "tag_title", "tag_author", "tag_comment",
            "tag_software",
        )
        .orderBy("media_id")
        .limit(600)
    )


ORACLE_MEDIA_IMAGETAGS = """
WITH p AS (
    SELECT doc_id,
           't:' || CAST(doc_id % 50 AS VARCHAR) AS title,
           'a:' || CAST(n_chars % 10 AS VARCHAR) AS author,
           'c:' || CAST(doc_id % 9 AS VARCHAR) AS comment,
           's:' || CAST(n_chars % 7 AS VARCHAR) AS software
    FROM documents WHERE doc_id < 120
),
c AS (SELECT * FROM (VALUES (0), (1), (2), (3), (4)) AS t(k))
SELECT p.doc_id * 5 + c.k AS media_id,
       CASE WHEN c.k IN (0, 2) THEN p.title END AS tag_title,
       CASE WHEN c.k = 1 THEN p.author END AS tag_author,
       CASE WHEN c.k IN (0, 1, 3) THEN p.comment END AS tag_comment,
       CASE WHEN c.k = 2 THEN p.software END AS tag_software
FROM p CROSS JOIN c
ORDER BY media_id LIMIT 600
"""


def q_media_mpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MPEG audio header gate (sources/mpegaudio.py): each document
    becomes a CBR MP3 (MPEG-1 Layer III @ 32 kHz — every table
    bitrate is an exact 4.5·kbps frame length there, so byte totals
    are pure arithmetic) with an ID3v2.4 leader, and an ADTS AAC
    stream (LC @ 16 kHz).  The executors walk REAL frame headers
    (parse_mp3 / parse_adts / extract_id3 — no entropy decode exists)
    and DuckDB replays every field: sample accounting from the public
    tables, durations, CBR/average bitrates, tag strings, and the
    TOTAL BYTE LENGTH down to the ID3 frame overhead — a bitrate
    table, syncsafe size, or frame-length slot bug changes a row."""
    from physicsnemo_curator_spark.sources import mpegaudio as _mpeg

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 150)
        .select("doc_id", "n_chars")
    )
    _MP3_RATES = (32, 40, 48, 56, 64, 80, 96, 112)

    def codec(it):
        import pandas as pd

        for pdf in it:
            rows = []
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                doc_id, n_chars = int(doc_id), int(n_chars)
                title = f"t:{doc_id % 50}"
                comment = f"c:{n_chars % 100}"
                nf = 3 + n_chars % 10
                kbps = _MP3_RATES[doc_id % 8]
                mp3 = _mpeg.build_mp3(
                    nf,
                    bitrate_kbps=kbps,
                    sample_rate=32000,
                    channels=1 + doc_id % 2,
                    tags={"title": title, "comment": comment},
                )
                p = _mpeg.parse_mp3(mp3)
                t = _mpeg.extract_id3(mp3)
                rows.append(
                    (
                        doc_id * 2, p["format"], p["sample_rate"],
                        p["channels"], p["n_samples"],
                        round(p["duration_s"], 9),
                        float(p["bitrate_kbps"]),
                        t.get("title"), t.get("comment"), len(mp3),
                    )
                )
                na = 2 + doc_id % 5
                pl = 20 + n_chars % 30
                aac = _mpeg.build_adts(
                    na,
                    sample_rate=16000,
                    channels=1 + n_chars % 2,
                    payload_len=pl,
                )
                q = _mpeg.parse_adts(aac)
                rows.append(
                    (
                        doc_id * 2 + 1, q["format"], q["sample_rate"],
                        q["channels"], q["n_samples"],
                        round(q["duration_s"], 9),
                        float(q["bitrate_kbps"]), None, None, len(aac),
                    )
                )
            out = pd.DataFrame(
                rows,
                columns=[
                    "media_id", "format", "sample_rate", "channels",
                    "n_samples", "duration_s", "bitrate_kbps", "title",
                    "comment", "n_bytes",
                ],
            )
            out["title"] = pd.array(out["title"], dtype="string")
            out["comment"] = pd.array(out["comment"], dtype="string")
            yield out

    out = docs.mapInPandas(
        codec,
        "media_id long, format string, sample_rate int, channels int, "
        "n_samples long, duration_s double, bitrate_kbps double, "
        "title string, comment string, n_bytes long",
    )
    return out.orderBy("media_id").limit(300)


ORACLE_MEDIA_MPEG = """
WITH p AS (
    SELECT doc_id, n_chars,
           't:' || CAST(doc_id % 50 AS VARCHAR) AS title,
           'c:' || CAST(n_chars % 100 AS VARCHAR) AS comment,
           3 + n_chars % 10 AS nf,
           CAST([32, 40, 48, 56, 64, 80, 96, 112][(doc_id % 8) + 1]
                AS BIGINT) AS kbps,
           2 + doc_id % 5 AS na,
           20 + n_chars % 30 AS pl
    FROM documents WHERE doc_id < 150
)
SELECT media_id, format, sample_rate, channels, n_samples, duration_s,
       bitrate_kbps, title, comment, n_bytes
FROM (
    -- MP3: frame length 4.5*kbps bytes at 32 kHz; ID3v2.4 leader is
    -- 10 (header) + 11+len(title) (TIT2) + 15+len(comment) (COMM)
    SELECT doc_id * 2 AS media_id, 'mp3' AS format,
           CAST(32000 AS INT) AS sample_rate,
           CAST(1 + doc_id % 2 AS INT) AS channels,
           CAST(nf * 1152 AS BIGINT) AS n_samples,
           ROUND(nf * 1152 / 32000.0, 9) AS duration_s,
           CAST(kbps AS DOUBLE) AS bitrate_kbps,
           title, comment,
           CAST(36 + length(title) + length(comment)
                + nf * (9 * kbps / 2) AS BIGINT) AS n_bytes
    FROM p
    UNION ALL
    -- ADTS AAC: one 1024-sample raw data block per frame, 7-byte
    -- headers; average bitrate over the whole stream
    SELECT doc_id * 2 + 1, 'aac', CAST(16000 AS INT),
           CAST(1 + n_chars % 2 AS INT),
           CAST(na * 1024 AS BIGINT),
           ROUND(na * 1024 / 16000.0, 9),
           ROUND(na * (7 + pl) * 8 / (na * 1024.0 / 16000) / 1000, 3),
           NULL, NULL,
           CAST(na * (7 + pl) AS BIGINT)
    FROM p
)
ORDER BY media_id LIMIT 300
"""


def q_media_qoi_pnm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QOI + Netpbm codec gate (sources/qoi.py, sources/pnm.py):
    each document's md5-hex 4x8 grid round-trips through FIVE
    lossless encodings — QOI (gray→replicated-RGB chunk stream), P5
    (8-bit), P6 (replicated RGB), P4 (bitmap of hexchar>64, spec
    polarity), P5 (16-bit via x257) — decoded back in the executors.
    Identity means frame_md5 = md5(md5(text)) (P4: md5 of the
    translate()-derived bit string) and the fixed-header Netpbm byte
    sizes pin the writer layout; probe supplies format/bits.  DuckDB
    replays every field — a hash-table, LUMA-bias, packing, or
    maxval bug changes a row."""
    from physicsnemo_curator_spark.sources import probe as _probe

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 150)
        .select("doc_id", "text")
    )

    def codec(it):
        import hashlib

        import numpy as np
        import pandas as pd

        from physicsnemo_curator_spark.sources import ico as _ico
        from physicsnemo_curator_spark.sources import pnm as _pnm
        from physicsnemo_curator_spark.sources import qoi as _qoi
        from physicsnemo_curator_spark.sources import tga as _tga
        from physicsnemo_curator_spark.sources import tiff as _tiff

        for pdf in it:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                h = hashlib.md5(text.encode()).hexdigest()
                img = np.frombuffer(h.encode(), dtype=np.uint8).reshape(
                    4, 8
                )
                variants = [
                    ("qoi", _qoi.encode_qoi(img)),
                    ("p5", _pnm.encode_pnm(img)),
                    ("p6", _pnm.encode_pnm(
                        np.repeat(img[:, :, None], 3, axis=2)
                    )),
                    ("p4", _pnm.encode_pnm(img > 64)),
                    ("p5w", _pnm.encode_pnm(
                        img.astype(np.uint16) * 257
                    )),
                    ("btif", _tiff.encode_tiff(
                        img, compression="lzw", bigtiff=True
                    )),
                    ("ico", _ico.encode_ico([img])),
                    ("tga", _tga.encode_tga(img)),
                ]
                for k, (name, payload) in enumerate(variants):
                    if name == "qoi":
                        dec, _ = _qoi.decode_qoi(payload)
                        flat = bytes(dec[:, :, 0].reshape(-1))
                    elif name == "btif":
                        dec, _ = _tiff.decode_tiff(payload)
                        flat = bytes(dec.reshape(-1))
                    elif name == "ico":
                        ((dec, _m),) = _ico.decode_ico(payload)
                        flat = bytes(dec[:, :, 0].reshape(-1))
                    elif name == "tga":
                        dec, _ = _tga.decode_tga(payload)
                        flat = bytes(dec.reshape(-1))
                    elif name == "p4":
                        dec, _ = _pnm.decode_pnm(payload)
                        flat = "".join(
                            "1" if v else "0" for v in dec.reshape(-1)
                        ).encode()
                    elif name == "p5w":
                        dec, _ = _pnm.decode_pnm(payload)
                        flat = bytes(
                            (dec // 257).astype(np.uint8).reshape(-1)
                        )
                    else:
                        dec, _ = _pnm.decode_pnm(payload)
                        if dec.ndim == 3:
                            dec = dec[:, :, 0]
                        flat = bytes(dec.reshape(-1))
                    pr = (
                        _tga.probe_tga(payload)
                        if name == "tga"
                        else _probe.probe_media(payload)
                    )
                    rows.append(
                        (
                            doc_id * 8 + k, name,
                            hashlib.md5(flat).hexdigest(),
                            len(payload)
                            if name not in ("qoi", "btif")
                            else None,
                            pr["format"], pr["width"], pr["height"],
                            pr["bits"],
                        )
                    )
            out = pd.DataFrame(
                rows,
                columns=[
                    "media_id", "container", "frame_md5", "n_bytes",
                    "fmt", "width", "height", "bits",
                ],
            )
            out["n_bytes"] = pd.array(out["n_bytes"], dtype="Int64")
            yield out

    out = docs.mapInPandas(
        codec,
        "media_id long, container string, frame_md5 string, "
        "n_bytes long, fmt string, width int, height int, bits int",
    )
    return out.orderBy("media_id").limit(1200)


ORACLE_MEDIA_QOI_PNM = """
WITH p AS (
    SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id < 150
),
c AS (
    SELECT * FROM (VALUES
        (0, 'qoi', NULL, 'qoi', 8),
        (1, 'p5', 43, 'pnm', 8),
        (2, 'p6', 107, 'pnm', 8),
        (3, 'p4', 11, 'pnm', 1),
        (4, 'p5w', 77, 'pnm', 16),
        (5, 'btif', NULL, 'bigtiff', 8),
        (6, 'ico', 174, 'ico', 8),
        (7, 'tga', 50, 'tga', 8)
    ) AS t(k, container, n_bytes, fmt, bits)
)
SELECT p.doc_id * 8 + c.k AS media_id, c.container,
       CASE WHEN c.k = 3
            THEN md5(translate(p.h, '0123456789abcdef',
                               '0000000000111111'))
            ELSE md5(p.h) END AS frame_md5,
       CAST(c.n_bytes AS BIGINT) AS n_bytes, c.fmt,
       CAST(8 AS INT) AS width, CAST(4 AS INT) AS height,
       CAST(c.bits AS INT) AS bits
FROM p CROSS JOIN c
ORDER BY media_id LIMIT 1200
"""


def q_quality_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form regression gate (operators/regression.py): fit
    ``y = 2*x1 - 3*x2 + 5 + (doc_id % 7)`` over the FULL documents
    table with integer-valued features (x1 = n_chars % 89, x2 =
    doc_id % 31) — every moment sum is then EXACT in float64, so
    DuckDB can replay the whole fit by solving the same normal
    equations with Cramer's rule.  One distributed aggregation pass,
    driver-side 3x3 solve, Catalyst-expression scoring; outputs the
    coefficients, fit metrics, and the first 20 scored rows."""
    from physicsnemo_curator_spark.operators.regression import (
        fit_linear_model,
        with_linear_score,
    )

    feats = (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            (F.col("n_chars") % 89).cast("double").alias("x1"),
            (F.col("doc_id") % 31).cast("double").alias("x2"),
        )
        .withColumn(
            "y",
            2.0 * F.col("x1") - 3.0 * F.col("x2") + 5.0
            + (F.col("doc_id") % 7).cast("double"),
        )
    )
    m = fit_linear_model(feats, ["x1", "x2"], "y")
    head = spark.createDataFrame(
        [
            (0, "coef", round(m.coef[0], 5), round(m.coef[1], 5),
             round(m.intercept, 5)),
            (1, "fit", round(m.r2, 9), round(m.sse, 3),
             float(m.n_rows)),
        ],
        "row_id long, kind string, a double, b double, c double",
    )
    scores = (
        with_linear_score(feats.filter(F.col("doc_id") < 20), m)
        .select(
            (100 + F.col("doc_id")).alias("row_id"),
            F.lit("score").alias("kind"),
            F.round("score", 5).alias("a"),
            F.col("y").alias("b"),
            F.lit(None).cast("double").alias("c"),
        )
    )
    return head.unionByName(scores).orderBy("row_id").limit(30)


ORACLE_QUALITY_REGRESSION = """
WITH f AS (
    SELECT doc_id,
           CAST(n_chars % 89 AS DOUBLE) AS x1,
           CAST(doc_id % 31 AS DOUBLE) AS x2,
           2.0 * (n_chars % 89) - 3.0 * (doc_id % 31) + 5.0
               + (doc_id % 7) AS y
    FROM documents
),
mo AS (
    SELECT SUM(x1*x1) AS sxx, SUM(x1*x2) AS sxy, SUM(x2*x2) AS syy,
           SUM(x1) AS sx, SUM(x2) AS sy, SUM(x1*y) AS sxz,
           SUM(x2*y) AS syz, SUM(y) AS sz, SUM(y*y) AS szz,
           CAST(COUNT(*) AS DOUBLE) AS n
    FROM f
),
th AS (
    SELECT *,
           sxx*(syy*n - sy*sy) - sxy*(sxy*n - sy*sx)
               + sx*(sxy*sy - syy*sx) AS det,
           (sxz*(syy*n - sy*sy) - sxy*(syz*n - sy*sz)
               + sx*(syz*sy - syy*sz)) AS det1,
           (sxx*(syz*n - sz*sy) - sxz*(sxy*n - sy*sx)
               + sx*(sxy*sz - syz*sx)) AS det2,
           (sxx*(syy*sz - sy*syz) - sxy*(sxy*sz - sx*syz)
               + sxz*(sxy*sy - syy*sx)) AS det3
    FROM mo
),
model AS (
    SELECT det1/det AS c1, det2/det AS c2, det3/det AS b0,
           szz - (det1/det*sxz + det2/det*syz + det3/det*sz) AS sse,
           szz - sz*sz/n AS sst, n
    FROM th
)
SELECT row_id, kind, a, b, c FROM (
    SELECT 0 AS row_id, 'coef' AS kind, ROUND(c1, 5) AS a,
           ROUND(c2, 5) AS b, ROUND(b0, 5) AS c
    FROM model
    UNION ALL
    SELECT 1, 'fit', ROUND(1.0 - sse/sst, 9), ROUND(sse, 3), n
    FROM model
    UNION ALL
    SELECT 100 + f.doc_id, 'score',
           ROUND(m.b0 + m.c1*f.x1 + m.c2*f.x2, 5), f.y,
           CAST(NULL AS DOUBLE)
    FROM f CROSS JOIN model m WHERE f.doc_id < 20
)
ORDER BY row_id LIMIT 30
"""


def q_webdataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset shard gate (sources/webdataset.py): documents
    become keyed samples (``%06d`` keys; .txt/.cls/.met entries),
    written through the REAL distributed sink — xxhash64 shard
    assignment, one byte-reproducible USTAR archive per task — then
    re-scanned with ``read_webdataset`` (binaryFile + tar walk per
    shard) and regrouped with the map aggregation.  Every surviving
    field is document arithmetic (DuckDB md5(text), modulo class,
    concatenated metadata), so the tar header layout, member naming,
    grouping key split, and map pivot are all pinned."""
    from physicsnemo_curator_spark.sources.webdataset import (
        group_samples,
        read_webdataset,
        write_webdataset,
    )

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "text", "n_chars")
    )
    entries = docs.select(
        F.lpad(F.col("doc_id").cast("string"), 6, "0").alias("key"),
        F.explode(
            F.array(
                F.struct(
                    F.lit("txt").alias("ext"),
                    F.col("text").cast("binary").alias("payload"),
                ),
                F.struct(
                    F.lit("cls").alias("ext"),
                    (F.col("doc_id") % 10)
                    .cast("string")
                    .cast("binary")
                    .alias("payload"),
                ),
                F.struct(
                    F.lit("met").alias("ext"),
                    F.concat(F.lit("n="), F.col("n_chars"))
                    .cast("binary")
                    .alias("payload"),
                ),
            )
        ).alias("e"),
    ).select("key", "e.ext", "e.payload")
    base = _fixture_dir(sf_dir, "wds")
    out = os.path.join(base, "shards")
    write_webdataset(entries, out, n_shards=4).collect()
    grouped = group_samples(read_webdataset(spark, out))
    return (
        grouped.select(
            "key",
            "n_entries",
            F.col("entries")["cls"].cast("string").alias("cls"),
            F.col("entries")["met"].cast("string").alias("met"),
            F.md5(F.col("entries")["txt"]).alias("txt_md5"),
        )
        .orderBy("key")
        .limit(200)
    )


ORACLE_WEBDATASET = """
SELECT lpad(CAST(doc_id AS VARCHAR), 6, '0') AS key,
       CAST(3 AS BIGINT) AS n_entries,
       CAST(doc_id % 10 AS VARCHAR) AS cls,
       'n=' || CAST(n_chars AS VARCHAR) AS met,
       md5(text) AS txt_md5
FROM documents WHERE doc_id < 200
ORDER BY key LIMIT 200
"""


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE training gate (operators/bpe.py): learn THREE
    merges over 250 truncated documents — per round, adjacent-pair
    counting is a pure Catalyst aggregation and the argmax breaks
    ties on (count desc, token asc, token asc).  DuckDB replays the
    whole training loop by simulating the token stream with sentinel
    characters: each learned pair collapses to chr(rank) via
    left-to-right replace() (exactly the greedy non-overlapping BPE
    merge scan), pair counts re-derive from the sentineled text, and
    sentinels expand back to real token strings for the tie-break
    and the output — a counting, tie-break, or merge-application bug
    changes a row."""
    from physicsnemo_curator_spark.operators.bpe import train_bpe

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(
            (F.col("doc_id") < 250)
            & ~F.col("text").rlike("[\\x01\\x02\\x03]")
        )
        .select("doc_id", F.substring("text", 1, 400).alias("text"))
    )
    merges = train_bpe(docs, n_merges=3)
    return spark.createDataFrame(
        [
            (m["rank"], m["a"], m["b"], m["count"], m["n_tokens"])
            for m in merges
        ],
        "rank long, a string, b string, pair_count long, n_tokens long",
    ).orderBy("rank")


ORACLE_BPE_TRAIN = """
WITH d AS (
    SELECT substr(text, 1, 400) AS t0 FROM documents
    WHERE doc_id < 250
      AND NOT regexp_matches(text, '[\x01\x02\x03]')
),
p1 AS (
    SELECT substr(t0, i, 1) AS a, substr(t0, i + 1, 1) AS b,
           COUNT(*) AS n
    FROM d, LATERAL unnest(range(1, length(t0))) u(i)
    GROUP BY 1, 2
),
m1 AS (SELECT a, b, n FROM p1 ORDER BY n DESC, a, b LIMIT 1),
d1 AS (
    SELECT replace(t0, (SELECT a || b FROM m1), chr(1)) AS t1 FROM d
),
s1 AS (SELECT CAST(COALESCE(SUM(length(t1)), 0) AS BIGINT) AS n_tokens FROM d1),
p2 AS (
    SELECT substr(t1, i, 1) AS sa, substr(t1, i + 1, 1) AS sb,
           COUNT(*) AS n
    FROM d1, LATERAL unnest(range(1, length(t1))) u(i)
    GROUP BY 1, 2
),
m2 AS (
    SELECT sa, sb,
           replace(sa, chr(1), (SELECT a || b FROM m1)) AS a,
           replace(sb, chr(1), (SELECT a || b FROM m1)) AS b,
           n
    FROM p2 ORDER BY n DESC, a, b LIMIT 1
),
d2 AS (
    SELECT replace(t1, (SELECT sa || sb FROM m2), chr(2)) AS t2
    FROM d1
),
s2 AS (SELECT CAST(COALESCE(SUM(length(t2)), 0) AS BIGINT) AS n_tokens FROM d2),
p3 AS (
    SELECT substr(t2, i, 1) AS sa, substr(t2, i + 1, 1) AS sb,
           COUNT(*) AS n
    FROM d2, LATERAL unnest(range(1, length(t2))) u(i)
    GROUP BY 1, 2
),
m3 AS (
    SELECT sa, sb,
           replace(replace(sa, chr(2), (SELECT a || b FROM m2)),
                   chr(1), (SELECT a || b FROM m1)) AS a,
           replace(replace(sb, chr(2), (SELECT a || b FROM m2)),
                   chr(1), (SELECT a || b FROM m1)) AS b,
           n
    FROM p3 ORDER BY n DESC, a, b LIMIT 1
),
d3 AS (
    SELECT replace(t2, (SELECT sa || sb FROM m3), chr(3)) AS t3
    FROM d2
),
s3 AS (SELECT CAST(COALESCE(SUM(length(t3)), 0) AS BIGINT) AS n_tokens FROM d3)
SELECT * FROM (
    SELECT CAST(0 AS BIGINT) AS rank, a, b, n AS pair_count,
           (SELECT n_tokens FROM s1) AS n_tokens
    FROM m1
    UNION ALL
    SELECT 1, a, b, n, (SELECT n_tokens FROM s2) FROM m2
    UNION ALL
    SELECT 2, a, b, n, (SELECT n_tokens FROM s3) FROM m3
)
ORDER BY rank
"""


# one explicit whitespace class shared verbatim by the Spark splitter
# (Java regex) and the DuckDB oracle (RE2): the engines' `\s` differ
# on vertical tab, so spell the set out
_WS_CLASS = "[ \t\n\r\f\x0b]+"


def q_bpe_train_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-histogram BPE training gate (operators/bpe.py
    train_bpe_hist — the production-vocab scale path the r09 verdict
    asked for): ONE corpus pass builds the distinct-word frequency
    table, then each of the THREE merge rounds counts pairs over that
    histogram weighted by word count (per-round cost = unique words,
    not corpus rows).  DuckDB replays the identical loop over its own
    word histogram with the same sentinel-collapse trick as
    ORACLE_BPE_TRAIN — a weighting, tie-break, or merge-application
    bug changes a row."""
    from physicsnemo_curator_spark.operators.bpe import train_bpe_hist

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(
            (F.col("doc_id") < 250)
            & ~F.col("text").rlike("[\\x01\\x02\\x03]")
        )
        .select("doc_id", F.substring("text", 1, 400).alias("text"))
    )
    merges = train_bpe_hist(docs, n_merges=3, pattern=_WS_CLASS)
    return spark.createDataFrame(
        [
            (m["rank"], m["a"], m["b"], m["count"], m["n_tokens"])
            for m in merges
        ],
        "rank long, a string, b string, pair_count long, n_tokens long",
    ).orderBy("rank")


ORACLE_BPE_TRAIN_HIST = f"""
WITH d AS (
    SELECT substr(text, 1, 400) AS t0 FROM documents
    WHERE doc_id < 250
      AND NOT regexp_matches(text, '[\x01\x02\x03]')
),
w0 AS (
    SELECT ww AS w, CAST(COUNT(*) AS BIGINT) AS c
    FROM d, LATERAL unnest(regexp_split_to_array(t0, '{_WS_CLASS}')) u(ww)
    WHERE ww <> '' GROUP BY 1
),
p1 AS (
    SELECT substr(w, i, 1) AS a, substr(w, i + 1, 1) AS b,
           CAST(SUM(c) AS BIGINT) AS n
    FROM w0, LATERAL unnest(range(1, length(w))) u(i)
    GROUP BY 1, 2
),
m1 AS (SELECT a, b, n FROM p1 ORDER BY n DESC, a, b LIMIT 1),
w1 AS (
    SELECT replace(w, (SELECT a || b FROM m1), chr(1)) AS w, c FROM w0
),
s1 AS (SELECT CAST(COALESCE(SUM(length(w) * c), 0) AS BIGINT) AS n_tokens FROM w1),
p2 AS (
    SELECT substr(w, i, 1) AS sa, substr(w, i + 1, 1) AS sb,
           CAST(SUM(c) AS BIGINT) AS n
    FROM w1, LATERAL unnest(range(1, length(w))) u(i)
    GROUP BY 1, 2
),
m2 AS (
    SELECT sa, sb,
           replace(sa, chr(1), (SELECT a || b FROM m1)) AS a,
           replace(sb, chr(1), (SELECT a || b FROM m1)) AS b,
           n
    FROM p2 ORDER BY n DESC, a, b LIMIT 1
),
w2 AS (
    SELECT replace(w, (SELECT sa || sb FROM m2), chr(2)) AS w, c FROM w1
),
s2 AS (SELECT CAST(COALESCE(SUM(length(w) * c), 0) AS BIGINT) AS n_tokens FROM w2),
p3 AS (
    SELECT substr(w, i, 1) AS sa, substr(w, i + 1, 1) AS sb,
           CAST(SUM(c) AS BIGINT) AS n
    FROM w2, LATERAL unnest(range(1, length(w))) u(i)
    GROUP BY 1, 2
),
m3 AS (
    SELECT sa, sb,
           replace(replace(sa, chr(2), (SELECT a || b FROM m2)),
                   chr(1), (SELECT a || b FROM m1)) AS a,
           replace(replace(sb, chr(2), (SELECT a || b FROM m2)),
                   chr(1), (SELECT a || b FROM m1)) AS b,
           n
    FROM p3 ORDER BY n DESC, a, b LIMIT 1
),
w3 AS (
    SELECT replace(w, (SELECT sa || sb FROM m3), chr(3)) AS w, c FROM w2
),
s3 AS (SELECT CAST(COALESCE(SUM(length(w) * c), 0) AS BIGINT) AS n_tokens FROM w3)
SELECT * FROM (
    SELECT CAST(0 AS BIGINT) AS rank, a, b, n AS pair_count,
           (SELECT n_tokens FROM s1) AS n_tokens
    FROM m1
    UNION ALL
    SELECT 1, a, b, n, (SELECT n_tokens FROM s2) FROM m2
    UNION ALL
    SELECT 2, a, b, n, (SELECT n_tokens FROM s3) FROM m3
)
ORDER BY rank
"""


def q_web_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-text extraction gate (operators/webtext.py): each document
    becomes a synthetic page — head/title with a double-escaped
    entity, a script whose body contains fake tags, a comment, block
    elements around the document text, an escaped div and a nav
    anchor — pushed through ``extract_web_text`` (pure Catalyst
    regexp chain, plan-pinned JVM-only by tests).  DuckDB replays the
    IDENTICAL pattern chain (Java regex ≡ RE2 on this dialect-
    portable subset, 'g'-flagged), so a stripping-order, entity, or
    link-density bug changes a row."""
    from physicsnemo_curator_spark.operators.webtext import (
        extract_web_text,
    )

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "n_chars", "text")
    )
    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit("<html><head><title>Doc "),
            (F.col("doc_id") % 50).cast("string"),
            F.lit(
                ' &amp; Co</title><script>var x="<p>no</p>";'
                "</script></head><body><!-- "
            ),
            F.col("n_chars").cast("string"),
            F.lit(" --><h1>Heading</h1><p>"),
            # sanitized so document text can never open a tag or
            # entity — the gate pins the CHAIN, not doc content
            F.regexp_replace(F.substring("text", 1, 150), "[<>&]", ""),
            F.lit('</p><div>tail &lt;x&gt;</div><a href="/a">nav '),
            (F.col("doc_id") % 7).cast("string"),
            F.lit("</a></body></html>"),
        ).alias("html"),
    )
    return (
        extract_web_text(pages)
        .select(
            "doc_id",
            "title",
            F.md5(F.col("text").cast("binary")).alias("txt_md5"),
            F.length("text").alias("n_clean"),
            "link_density",
        )
        .orderBy("doc_id")
        .limit(200)
    )


ORACLE_WEB_EXTRACT = """
WITH d AS (
    SELECT doc_id, n_chars,
           regexp_replace(substr(text, 1, 150), '[<>&]', '', 'g')
               AS body
    FROM documents WHERE doc_id < 200
),
h AS (
    SELECT doc_id,
           '<html><head><title>Doc ' || CAST(doc_id % 50 AS VARCHAR)
           || ' &amp; Co</title><script>var x="<p>no</p>";'
           || '</script></head><body><!-- '
           || CAST(n_chars AS VARCHAR) || ' --><h1>Heading</h1><p>'
           || body || '</p><div>tail &lt;x&gt;</div><a href="/a">nav '
           || CAST(doc_id % 7 AS VARCHAR) || '</a></body></html>'
           AS html
    FROM d
),
stripped AS (
    SELECT doc_id, html,
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        regexp_replace(regexp_replace(regexp_replace(
            html,
            '(?s)<!--.*?-->', ' ', 'g'),
            '(?is)<head\\b[^>]*>.*?</head>', ' ', 'g'),
            '(?is)<script\\b[^>]*>.*?</script>', ' ', 'g'),
            '(?is)<style\\b[^>]*>.*?</style>', ' ', 'g'),
            '(?is)<noscript\\b[^>]*>.*?</noscript>', ' ', 'g'),
            '(?i)</?(?:p|div|br|h[1-6]|li|ul|ol|tr|td|th|table|section|article|header|footer|blockquote|pre|form)\\b[^>]*>',
            chr(10), 'g'),
            '(?s)<[^>]*>', ' ', 'g') AS s
    FROM h
),
decoded AS (
    SELECT doc_id, html,
        replace(replace(replace(replace(replace(replace(replace(
            s,
            '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
            '&quot;', '"'), '&#39;', ''''), '&apos;', ''''),
            '&amp;', '&') AS s
    FROM stripped
),
clean AS (
    SELECT doc_id, html,
        trim(regexp_replace(regexp_replace(regexp_replace(
        regexp_replace(
            s,
            '[ \\t\\x0B\\f\\r]+', ' ', 'g'),
            ' ?\\n ?', chr(10), 'g'),
            '\\n{2,}', chr(10), 'g'),
            '^\\n+|\\n+$', '', 'g'), ' ') AS txt
    FROM decoded
),
anchors AS (
    SELECT doc_id,
           CAST(COALESCE(list_sum(list_transform(
               regexp_extract_all(html, '(?is)<a\\b[^>]*>(.*?)</a>', 1),
               a -> length(a))), 0) AS DOUBLE) AS anchor_chars
    FROM h
)
SELECT c.doc_id,
       trim(replace(replace(replace(replace(replace(replace(replace(
           regexp_extract(c.html, '(?is)<title[^>]*>(.*?)</title>', 1),
           '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
           '&#39;', ''''), '&apos;', ''''), '&amp;', '&'), ' ')
           AS title,
       md5(c.txt) AS txt_md5,
       CAST(length(c.txt) AS INT) AS n_clean,
       CASE WHEN length(c.txt) > 0
            THEN ROUND(a.anchor_chars / length(c.txt), 9)
            ELSE 0.0 END AS link_density
FROM clean c JOIN anchors a USING (doc_id)
ORDER BY doc_id LIMIT 200
"""


def q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL normalization gate (operators/webtext.py): each document
    becomes TWO messy crawl URLs — an uppercase-authority http :80
    with interleaved utm parameters and a fragment, and an https
    :443 whose query is tracking-only — normalized to dedup keys.
    The oracle doesn't replay regexes: it CONSTRUCTS the expected
    canonical strings from the same arithmetic, so scheme/port/
    parameter/fragment handling and the host/domain split are pinned
    end-to-end."""
    from physicsnemo_curator_spark.operators.webtext import (
        with_normalized_urls,
    )

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select("doc_id", "n_chars")
    )
    a = (F.col("doc_id") % 5).cast("string")
    b = (F.col("doc_id") % 20).cast("string")
    c = (F.col("doc_id") % 9).cast("string")
    n = F.col("n_chars").cast("string")
    urls = docs.select(
        (F.col("doc_id") * 2).alias("row_id"),
        F.concat(
            F.lit("HTTP://Sub"), a, F.lit(".Example"), b,
            F.lit(".COM:80/Pa"), n, F.lit("?utm_source=s"), a,
            F.lit("&id="), c, F.lit("&utm_medium=m#frag"), b,
        ).alias("url"),
    ).unionByName(
        docs.select(
            (F.col("doc_id") * 2 + 1).alias("row_id"),
            F.concat(
                F.lit("https://W"), b, F.lit(".Example"), a,
                F.lit(".ORG:443/q/"), c, F.lit("?gclid=g"), n,
            ).alias("url"),
        )
    )
    return (
        with_normalized_urls(urls)
        .select("row_id", "url_norm", "host", "domain")
        .orderBy("row_id")
        .limit(600)
    )


ORACLE_URL_NORMALIZE = """
WITH p AS (
    SELECT doc_id,
           CAST(doc_id % 5 AS VARCHAR) AS a,
           CAST(doc_id % 20 AS VARCHAR) AS b,
           CAST(doc_id % 9 AS VARCHAR) AS c,
           CAST(n_chars AS VARCHAR) AS n
    FROM documents WHERE doc_id < 300
)
SELECT row_id, url_norm, host, domain FROM (
    SELECT doc_id * 2 AS row_id,
           'http://sub' || a || '.example' || b || '.com/Pa' || n
               || '?id=' || c AS url_norm,
           'sub' || a || '.example' || b || '.com' AS host,
           'example' || b || '.com' AS domain
    FROM p
    UNION ALL
    SELECT doc_id * 2 + 1,
           'https://w' || b || '.example' || a || '.org/q/' || c,
           'w' || b || '.example' || a || '.org',
           'example' || a || '.org'
    FROM p
)
ORDER BY row_id LIMIT 600
"""


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode normalization gate (textops.normalize_text): each
    document's text is augmented with a DECOMPOSED accent
    (e + U+0301), a zero-width space, a BOM, an NBSP and a bidi
    control — exactly the crawl debris that splits identical dedup
    keys — then canonicalized (invisible strip + NBSP fold + NFC).
    DuckDB replays it with the same chr() construction, replace()
    chain and its native nfc_normalize, so a stripping-set or
    composition bug changes a row."""
    from physicsnemo_curator_spark.operators.textops import (
        normalize_text,
    )

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select(
            "doc_id",
            F.concat(
                F.substring("text", 1, 60),
                F.lit(
                    " e\u0301col\u200be\ufeff\u00a0fin"
                    "\u202adu\u202c"
                ),
            ).alias("text"),
        )
    )
    return (
        normalize_text(docs)
        .select(
            "doc_id",
            F.md5(F.col("text_norm").cast("binary")).alias("norm_md5"),
            F.length("text").alias("n_raw"),
            F.length("text_norm").alias("n_norm"),
        )
        .orderBy("doc_id")
        .limit(300)
    )


ORACLE_TEXT_NORMALIZE = """
WITH d AS (
    SELECT doc_id,
           substr(text, 1, 60) || ' e' || chr(769) || 'col'
               || chr(8203) || 'e' || chr(65279) || chr(160) || 'fin'
               || chr(8234) || 'du' || chr(8236) AS raw
    FROM documents WHERE doc_id < 300
),
n AS (
    SELECT doc_id, raw,
           nfc_normalize(
               replace(
                   replace(replace(replace(raw, chr(8203), ''),
                                   chr(65279), ''),
                           chr(8234), ''),
                   chr(160), ' ')
           ) AS norm
    FROM d
    -- chr(8236) (PDF, the bidi pop) is also stripped
)
SELECT doc_id,
       md5(replace(norm, chr(8236), '')) AS norm_md5,
       CAST(length(raw) AS INT) AS n_raw,
       CAST(length(replace(norm, chr(8236), '')) AS INT) AS n_norm
FROM n ORDER BY doc_id LIMIT 300
"""


def q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt politeness gate (operators/webtext.py): 8 synthetic
    hosts carry real robots bodies (shared Disallow/Allow pair plus a
    per-host /blog Disallow on every third host), 2 hosts have no
    robots row; each document becomes one URL across 10 hosts x 5
    path classes, filtered through ``filter_robots`` (broadcast
    robots join + RFC 9309 longest-match evaluation).  The surviving
    set is pure modulo arithmetic, so DuckDB replays the precedence
    table — a group-selection, longest-match, or unmatched-host bug
    changes the row set."""
    from physicsnemo_curator_spark.operators.webtext import (
        filter_robots,
    )

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 400)
        .select("doc_id")
    )
    # path class from doc_id//10 so it DECORRELATES from the host
    # (doc_id % 10) — every host sees every path class
    k = (F.col("doc_id") / 10).cast("long") % 5
    path = (
        F.when(k == 0, "/public/p")
        .when(k == 1, "/private/x")
        .when(k == 2, "/private/ok/y")
        .when(k == 3, "/tmp/z")
        .otherwise("/blog/b")
    )
    urls = docs.select(
        "doc_id",
        F.concat(
            F.lit("http://h"),
            (F.col("doc_id") % 10).cast("string"),
            path,
        ).alias("url"),
    )
    base = (
        "User-agent: *\nDisallow: /private\nAllow: /private/ok\n"
        "Disallow: /tmp\n"
    )
    robots = spark.createDataFrame(
        [
            (f"h{i}", base + ("Disallow: /blog\n" if i % 3 == 0 else ""))
            for i in range(8)
        ],
        "host string, robots_txt string",
    )
    return (
        filter_robots(urls, robots)
        .select("doc_id", "url")
        .orderBy("doc_id")
        .limit(400)
    )


ORACLE_ROBOTS_FILTER = """
WITH p AS (
    SELECT doc_id, doc_id % 10 AS h, (doc_id // 10) % 5 AS k
    FROM documents WHERE doc_id < 400
),
verdict AS (
    SELECT doc_id, h, k,
           CASE
               WHEN h >= 8 THEN TRUE            -- no robots row
               WHEN k = 0 THEN TRUE             -- /public/p
               WHEN k = 1 THEN FALSE            -- /private/x
               WHEN k = 2 THEN TRUE             -- Allow /private/ok wins
               WHEN k = 3 THEN FALSE            -- /tmp/z
               ELSE h % 3 <> 0                  -- /blog only on h%3=0
           END AS allowed
    FROM p
)
SELECT doc_id,
       'http://h' || CAST(h AS VARCHAR) ||
       CASE k WHEN 0 THEN '/public/p' WHEN 1 THEN '/private/x'
              WHEN 2 THEN '/private/ok/y' WHEN 3 THEN '/tmp/z'
              ELSE '/blog/b' END AS url
FROM verdict WHERE allowed
ORDER BY doc_id LIMIT 400
"""


def q_media_subtitles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtitle codec gate (sources/subtitles.py): each document
    becomes an SRT file with ``2 + doc_id % 3`` cues (timestamps and
    md5-slice texts from document arithmetic), serialized with
    write_srt and re-parsed from the REAL bytes in the executors.
    Every field — cue indices, millisecond timestamps through the
    HH:MM:SS,mmm round trip, texts, and the EXACT file byte length
    (pinning the serializer layout) — is DuckDB arithmetic."""
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "text")
    )

    def codec(it):
        import hashlib

        import pandas as pd

        from physicsnemo_curator_spark.sources.subtitles import (
            parse_subtitles,
            write_srt,
        )

        for pdf in it:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                h = hashlib.md5(text.encode()).hexdigest()
                n_cues = 2 + doc_id % 3
                cues = [
                    {
                        "cue_index": k + 1,
                        "start_ms": doc_id * 1000 + k * 2000,
                        "end_ms": doc_id * 1000 + k * 2000 + 1500,
                        "text": f"cue{k}:{h[k * 4 : k * 4 + 8]}",
                    }
                    for k in range(n_cues)
                ]
                blob = write_srt(cues)
                for cue in parse_subtitles(blob):
                    rows.append(
                        (
                            doc_id * 10 + cue["cue_index"],
                            cue["cue_index"], cue["start_ms"],
                            cue["end_ms"], cue["text"], len(blob),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "row_id", "cue_index", "start_ms", "end_ms",
                    "text", "n_bytes",
                ],
            )

    out = docs.mapInPandas(
        codec,
        "row_id long, cue_index int, start_ms long, end_ms long, "
        "text string, n_bytes long",
    )
    return out.orderBy("row_id").limit(800)


ORACLE_MEDIA_SUBTITLES = """
WITH d AS (
    SELECT doc_id, md5(text) AS h, 2 + doc_id % 3 AS n_cues
    FROM documents WHERE doc_id < 200
),
c AS (
    SELECT d.doc_id, d.h, d.n_cues, CAST(u.k AS INT) AS k
    FROM d, LATERAL unnest(range(0, d.n_cues)) u(k)
),
cue AS (
    SELECT doc_id, n_cues, k + 1 AS cue_index,
           doc_id * 1000 + k * 2000 AS start_ms,
           doc_id * 1000 + k * 2000 + 1500 AS end_ms,
           'cue' || CAST(k AS VARCHAR) || ':' || substr(h, k * 4 + 1, 8)
               AS text
    FROM c
),
-- write_srt layout: per cue 'index\\n' + 29-char timing + '\\n' +
-- text + '\\n', cues joined by one extra '\\n'
sizes AS (
    SELECT doc_id,
           CAST(SUM(length(CAST(cue_index AS VARCHAR)) + 1 + 29 + 1
                    + length(text) + 1) + COUNT(*) - 1 AS BIGINT)
               AS n_bytes
    FROM cue GROUP BY doc_id
)
SELECT cue.doc_id * 10 + cue.cue_index AS row_id,
       CAST(cue.cue_index AS INT) AS cue_index,
       CAST(cue.start_ms AS BIGINT) AS start_ms,
       CAST(cue.end_ms AS BIGINT) AS end_ms,
       cue.text, sizes.n_bytes
FROM cue JOIN sizes USING (doc_id)
ORDER BY row_id LIMIT 800
"""


def q_corpus_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card gate (validation.corpus_card): the one-pass
    corpus summary over the FULL documents table — size, exact
    dedup rate via distinct digests, char/token totals and means,
    extremes, short-doc fraction.  Every value is plain aggregate
    arithmetic, replayed verbatim in DuckDB (token counts share the
    same whitespace-split definition on both engines)."""
    from physicsnemo_curator_spark.operators.validation import (
        corpus_card,
    )

    return corpus_card(
        _t(spark, sf_dir, "documents").select("text")
    ).orderBy("metric")


ORACLE_CORPUS_CARD = """
WITH src AS (SELECT coalesce(text, '') AS text FROM documents),
m AS (
    SELECT COUNT(*) AS n_docs,
           COUNT(DISTINCT md5(text)) AS n_unique,
           SUM(length(text)) AS total_chars,
           AVG(length(text)) AS avg_chars,
           SUM(len(string_split_regex(text, '\\s+'))) AS total_tokens,
           AVG(len(string_split_regex(text, '\\s+'))) AS avg_tokens,
           MIN(length(text)) AS min_chars,
           MAX(length(text)) AS max_chars,
           AVG(CASE WHEN length(text) < 100 THEN 1.0 ELSE 0.0 END)
               AS short_frac
    FROM src
)
SELECT metric, value FROM (
    SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value FROM m
    UNION ALL SELECT 'n_unique', CAST(n_unique AS DOUBLE) FROM m
    UNION ALL SELECT 'dup_ratio',
        ROUND(1.0 - CAST(n_unique AS DOUBLE) / n_docs, 9) FROM m
    UNION ALL SELECT 'total_chars', CAST(total_chars AS DOUBLE) FROM m
    UNION ALL SELECT 'avg_chars', ROUND(CAST(avg_chars AS DOUBLE), 6)
        FROM m
    UNION ALL SELECT 'total_tokens', CAST(total_tokens AS DOUBLE) FROM m
    UNION ALL SELECT 'avg_tokens', ROUND(CAST(avg_tokens AS DOUBLE), 6)
        FROM m
    UNION ALL SELECT 'min_chars', CAST(min_chars AS DOUBLE) FROM m
    UNION ALL SELECT 'max_chars', CAST(max_chars AS DOUBLE) FROM m
    UNION ALL SELECT 'short_frac', ROUND(CAST(short_frac AS DOUBLE), 9)
        FROM m
)
ORDER BY metric
"""


def q_text_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation gate (textops.split_sentences): the
    lookaround-free sentinel chain (terminal-punctuation runs +
    whitespace -> 0x1F, split, drop blanks) replayed verbatim in
    DuckDB over the raw document text — counts, an order-preserving
    md5 over the 0x1E-joined sentences, and the first sentence's
    length all pin the boundary behavior."""
    from physicsnemo_curator_spark.operators.textops import (
        split_sentences,
    )

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select("doc_id", "text")
    )
    out = split_sentences(docs)
    return (
        out.select(
            "doc_id",
            F.size("sentences").alias("n_sentences"),
            F.md5(
                F.concat_ws("\x1e", F.col("sentences")).cast("binary")
            ).alias("sent_md5"),
            F.length(F.element_at("sentences", 1)).alias("first_len"),
        )
        .orderBy("doc_id")
        .limit(300)
    )


ORACLE_TEXT_SENTENCES = """
WITH d AS (
    SELECT doc_id,
           list_filter(
               string_split(
                   regexp_replace(
                       regexp_replace(coalesce(text, ''),
                                      '[\\x1e\\x1f]', '', 'g'),
                       '([.!?]+)\\s+', '\\1' || chr(31), 'g'),
                   chr(31)),
               s -> trim(s) <> '') AS sents
    FROM documents WHERE doc_id < 300
)
SELECT doc_id,
       CAST(len(sents) AS INT) AS n_sentences,
       md5(array_to_string(sents, chr(30))) AS sent_md5,
       CAST(length(sents[1]) AS INT) AS first_len
FROM d ORDER BY doc_id LIMIT 300
"""


QUERIES: dict[str, QuerySpec] = {
    "q_text_sentences": QuerySpec(
        q_text_sentences, ORACLE_TEXT_SENTENCES
    ),
    "q_corpus_card": QuerySpec(q_corpus_card, ORACLE_CORPUS_CARD),
    "q_media_subtitles": QuerySpec(
        q_media_subtitles, ORACLE_MEDIA_SUBTITLES
    ),
    "q_robots_filter": QuerySpec(q_robots_filter, ORACLE_ROBOTS_FILTER),
    "q_text_normalize": QuerySpec(
        q_text_normalize, ORACLE_TEXT_NORMALIZE
    ),
    "q_url_normalize": QuerySpec(q_url_normalize, ORACLE_URL_NORMALIZE),
    "q_web_extract": QuerySpec(q_web_extract, ORACLE_WEB_EXTRACT),
    "q_bpe_train": QuerySpec(q_bpe_train, ORACLE_BPE_TRAIN),
    "q_bpe_train_hist": QuerySpec(q_bpe_train_hist, ORACLE_BPE_TRAIN_HIST),
    "q_webdataset": QuerySpec(q_webdataset, ORACLE_WEBDATASET),
    "q_quality_regression": QuerySpec(
        q_quality_regression, ORACLE_QUALITY_REGRESSION
    ),
    "q_media_qoi_pnm": QuerySpec(q_media_qoi_pnm, ORACLE_MEDIA_QOI_PNM),
    "q_media_mpeg": QuerySpec(q_media_mpeg, ORACLE_MEDIA_MPEG),
    "q_media_imagetags": QuerySpec(
        q_media_imagetags, ORACLE_MEDIA_IMAGETAGS
    ),
    "q_media_audiotags": QuerySpec(
        q_media_audiotags, ORACLE_MEDIA_AUDIOTAGS
    ),
    "q_media_probe": QuerySpec(q_media_probe, ORACLE_MEDIA_PROBE),
    "q_media_imagehash": QuerySpec(
        q_media_imagehash, ORACLE_MEDIA_IMAGEHASH
    ),
    "q_media_videohash": QuerySpec(
        q_media_videohash, ORACLE_MEDIA_VIDEOHASH
    ),
    "q_media_audiohash": QuerySpec(
        q_media_audiohash, ORACLE_MEDIA_AUDIOHASH
    ),
    "q_media_mp4_mkv": QuerySpec(q_media_mp4_mkv, ORACLE_MEDIA_MP4_MKV),
    "q_media_fmp4": QuerySpec(q_media_fmp4, ORACLE_MEDIA_FMP4),
    "q_media_stillimage": QuerySpec(
        q_media_stillimage, ORACLE_MEDIA_STILLIMAGE
    ),
    "q_media_hierarchical": QuerySpec(
        q_media_hierarchical, ORACLE_MEDIA_HIERARCHICAL
    ),
    "q_grid_federated": QuerySpec(q_grid_federated, ORACLE_GRID_FEDERATED),
    "q_grid_sidecar": QuerySpec(q_grid_sidecar, ORACLE_GRID_SIDECAR),
    "q_atomic_stats": QuerySpec(q_atomic_stats, ORACLE_ATOMIC_STATS),
    "q_mesh_quality": QuerySpec(q_mesh_quality, ORACLE_MESH_QUALITY),
    "q_d3plot_scan": QuerySpec(q_d3plot_scan, ORACLE_D3PLOT_SCAN),
    "q_aselmdb_scan": QuerySpec(q_aselmdb_scan, ORACLE_ASELMDB_SCAN),
    "q_zarr_roundtrip": QuerySpec(q_zarr_roundtrip, ORACLE_ZARR),
    "q_netcdf3_roundtrip": QuerySpec(q_netcdf3_roundtrip, ORACLE_NETCDF3),
    "q_openradioss_scan": QuerySpec(q_openradioss_scan, ORACLE_OPENRADIOSS),
    "q_dataset_layout": QuerySpec(q_dataset_layout, ORACLE_DATASET_LAYOUT),
    "q_media_wav_features": QuerySpec(q_media_wav_features, ORACLE_MEDIA_WAV),
    "q_media_avi_frames": QuerySpec(q_media_avi_frames, ORACLE_MEDIA_AVI),
    "q_media_adpcm": QuerySpec(q_media_adpcm, ORACLE_MEDIA_ADPCM),
    "q_media_lossless": QuerySpec(q_media_lossless, ORACLE_MEDIA_LOSSLESS),
    "q_media_flac": QuerySpec(q_media_flac, ORACLE_MEDIA_FLAC),
    "q_media_g711": QuerySpec(q_media_g711, ORACLE_MEDIA_G711),
    "q_vtk_domain": QuerySpec(q_vtk_domain, ORACLE_VTK_DOMAIN),
    "q_text_bigram_lm": QuerySpec(q_text_bigram_lm, ORACLE_TEXT_BIGRAM_LM),
    "q_media_png_resize": QuerySpec(q_media_png_resize, ORACLE_MEDIA_PNG),
    "q_media_jpeg_resize": QuerySpec(q_media_jpeg_resize, ORACLE_MEDIA_JPEG),
    "q_hdf5_roundtrip": QuerySpec(q_hdf5_roundtrip, ORACLE_HDF5),
    # ---- driver window (first 50): the nine round-7-new queries
    # (codec/runtime gates: vtk scan + domain pairing, vti, stream
    # bloom, png/jpeg/wav media, hdf5, bigram LM), then the 39-query
    # cohort last driver-checked in r05 (q_a1 family, joins, text
    # tail, sampling, timeseries) — 48 never/stale-checked rows
    # inside the gate; the tail holds r06-green rows (rotate them
    # back next round). ----
    "q_vtk_scan": QuerySpec(q_vtk_scan, ORACLE_VTK_SCAN),
    "q_vti_scan": QuerySpec(q_vti_scan, ORACLE_VTI_SCAN),
    "q_stream_bloom": QuerySpec(q_stream_bloom, ORACLE_STREAM_BLOOM),
    # ---- driver window (first 50): round-6-touched queries first,
    # then the cohort last driver-checked in r03, then everything
    # not driver-checked since r04, then the riskiest r05-green
    # rows (streaming / codec / dedup-store paths). ----
    "q_media_frames": QuerySpec(q_media_frames, ORACLE_MEDIA_FRAMES),
    "q_sketch_quantiles": QuerySpec(q_sketch_quantiles, ORACLE_SKETCH_QUANTILES),
    "q_text_chunks": QuerySpec(q_text_chunks, ORACLE_TEXT_CHUNKS),
    "q_mix_weights": QuerySpec(q_mix_weights, ORACLE_MIX_WEIGHTS),
    "q_sample_stratified": QuerySpec(
        q_sample_stratified,
        ORACLE_SAMPLE_STRATIFIED,
        bench=lambda s, d: q_sample_stratified(s, d, hash_fn="xxhash64"),
    ),
    # ---- tail (position > 50): r05-driver-green primitive rows;
    # tests/test_oracle.py hash-checks ALL of them locally every run ----
    "q_a1_moment_stats": QuerySpec(q_a1_moment_stats, ORACLE_A1),
    "q_a2_elementwise_stats": QuerySpec(q_a2_elementwise_stats, ORACLE_A2),
    "q_a3_pivot_counts": QuerySpec(q_a3_pivot_counts, ORACLE_A3),
    "q_a8_welford_state": QuerySpec(q_a8_welford_state, ORACLE_A8),
    "q_a11_heavy_hitters": QuerySpec(q_a11_heavy_hitters, ORACLE_A11),
    "q_sketch_distinct": QuerySpec(q_sketch_distinct, ORACLE_SKETCH_DISTINCT),
    "q_validate_expectations": QuerySpec(q_validate_expectations, ORACLE_VALIDATE),
    "q_profile_columns": QuerySpec(
        q_profile_columns,
        ORACLE_PROFILE,
        bench=lambda s, d: q_profile_columns(s, d, distinct="approx"),
    ),
    "q_j1_broadcast_join": QuerySpec(q_j1_broadcast_join, ORACLE_J1),
    "q_j2_point_to_cell": QuerySpec(q_j2_point_to_cell, ORACLE_J2),
    "q_j3_scatter_mean": QuerySpec(q_j3_scatter_mean, ORACLE_J3),
    "q_j4_range_join": QuerySpec(q_j4_range_join, ORACLE_J4),
    "q_j5_semi_join": QuerySpec(q_j5_semi_join, ORACLE_J5),
    "q_s3_edge_dedup": QuerySpec(q_s3_edge_dedup, ORACLE_S3),
    "q_m1_von_mises": QuerySpec(q_m1_von_mises, ORACLE_M1),
    "q_scan_pushdown": QuerySpec(q_scan_pushdown, ORACLE_SCAN),
    "q_precision_downcast": QuerySpec(q_precision_downcast, ORACLE_PRECISION),
    "q_global_inject": QuerySpec(q_global_inject, ORACLE_GLOBAL),
    "q_ts_asof_join": QuerySpec(q_ts_asof_join, ORACLE_ASOF),
    "q_ts_rollup_daily": QuerySpec(q_ts_rollup_daily, ORACLE_TS_ROLLUP),
    "q_w4_sessionize": QuerySpec(q_w4_sessionize, ORACLE_SESSIONIZE),
    "q_dedup_exact": QuerySpec(q_dedup_exact, ORACLE_DEDUP_EXACT),
    "q_dedup_ngram_jaccard": QuerySpec(q_dedup_ngram_jaccard, ORACLE_NGRAM_JACCARD),
    "q_sample_split": QuerySpec(
        q_sample_split,
        ORACLE_SAMPLE_SPLIT,
        bench=lambda s, d: q_sample_split(s, d, hash_fn="xxhash64"),
    ),
    "q_text_redact_pii": QuerySpec(q_text_redact_pii, ORACLE_TEXT_REDACT),
    "q_text_logprob": QuerySpec(q_text_logprob, ORACLE_TEXT_LOGPROB),
    "q_text_decontaminate": QuerySpec(q_text_decontaminate, ORACLE_DECONTAMINATE),
    "q_emb_outliers": QuerySpec(q_emb_outliers, ORACLE_EMB_OUTLIERS),
    "q_text_features": QuerySpec(q_text_features, ORACLE_TEXT_FEATURES),
    "q_text_winnow": QuerySpec(
        q_text_winnow,
        ORACLE_TEXT_WINNOW,
        bench=lambda s, d: q_text_winnow(s, d, hash_fn="xxhash64"),
    ),
    "q_text_lang_quality": QuerySpec(q_text_lang_quality, ORACLE_TEXT_LANG),
    "q_text_vocab": QuerySpec(q_text_vocab, ORACLE_TEXT_VOCAB),
    "q_text_tfidf_sim": QuerySpec(q_text_tfidf_sim, ORACLE_TFIDF_SIM),
    "q_ann_cosine_topk": QuerySpec(q_ann_cosine_topk, ORACLE_ANN),
    "q_text_token_ids": QuerySpec(q_text_token_ids, ORACLE_TEXT_TOKEN_IDS),
    "q_pack_sequences": QuerySpec(q_pack_sequences, ORACLE_PACK_SEQUENCES),
    "q_warc_scan": QuerySpec(q_warc_scan, ORACLE_WARC_SCAN),
    "q_sketch_bloom": QuerySpec(
        q_sketch_bloom,
        ORACLE_SKETCH_BLOOM,
        bench=lambda s, d: q_sketch_bloom(s, d, hash_fn="xxhash64"),
    ),
    "q_sketch_cms": QuerySpec(
        q_sketch_cms,
        ORACLE_SKETCH_CMS,
        bench=lambda s, d: q_sketch_cms(s, d, hash_fn="xxhash64"),
    ),
    "q_text_substring_dup": QuerySpec(q_text_substring_dup, ORACLE_TEXT_SUBSTRING_DUP),
    "q_text_substring_rm": QuerySpec(q_text_substring_rm, ORACLE_TEXT_SUBSTRING_RM),
    "q_mix_temperature": QuerySpec(q_mix_temperature, ORACLE_MIX_TEMPERATURE),
    "q_s2_intersect": QuerySpec(q_s2_intersect, ORACLE_S2),
    "q_s4_union_all": QuerySpec(q_s4_union_all, ORACLE_S4),
    "q_s5_except": QuerySpec(q_s5_except, ORACLE_S5),
    "q_a5_distinct_agg": QuerySpec(q_a5_distinct_agg, ORACLE_A5),
    "q_a9_cube": QuerySpec(q_a9_cube, ORACLE_A9),
    "q_a10_pivot_mean": QuerySpec(q_a10_pivot_mean, ORACLE_A10),
    "q_a12_grouping_sets": QuerySpec(q_a12_grouping_sets, ORACLE_A12),
    "q_str2_like_pushdown": QuerySpec(q_str2_like_pushdown, ORACLE_STR2),
    "q_str3_regexp": QuerySpec(q_str3_regexp, ORACLE_STR3),
    "q_d2_date_functions": QuerySpec(q_d2_date_functions, ORACLE_D2),
    "q_w3_delta_vs_first": QuerySpec(q_w3_delta_vs_first, ORACLE_W3),
    "q_ann_lsh_topk": QuerySpec(
        q_ann_lsh_topk,
        ORACLE_ANN_LSH,
        bench=lambda s, d: q_ann_lsh_topk(s, d, md5_planes=False),
    ),
    "q_ann_ivf_topk": QuerySpec(q_ann_ivf_topk, ORACLE_ANN_IVF),
    "q_ann_sq8_topk": QuerySpec(
        q_ann_sq8_topk,
        ORACLE_ANN_SQ8,
        bench=lambda s, d: q_ann_sq8_topk(s, d, rescore=2),
    ),
    "q_ann_pq_topk": QuerySpec(
        q_ann_pq_topk,
        ORACLE_ANN_PQ,
        bench=lambda s, d: q_ann_pq_topk(s, d, rescore=2),
    ),
    "q_ann_ivfpq_topk": QuerySpec(
        q_ann_ivfpq_topk,
        ORACLE_ANN_IVFPQ,
        bench=lambda s, d: q_ann_ivfpq_topk(s, d, rescore=2),
    ),
    "q_ann_ivfpq_incremental": QuerySpec(
        q_ann_ivfpq_incremental,
        ORACLE_ANN_IVFPQ_INC,
        bench=lambda s, d: q_ann_ivfpq_incremental(s, d, rescore=2),
    ),
    "q_cluster_sample": QuerySpec(q_cluster_sample, ORACLE_CLUSTER_SAMPLE),
    "q_ann_mmr": QuerySpec(q_ann_mmr, ORACLE_ANN_MMR),
    "q_ann_ivfpq_mmr": QuerySpec(q_ann_ivfpq_mmr, ORACLE_ANN_IVFPQ_MMR),
    "q_ann_rrf": QuerySpec(q_ann_rrf, ORACLE_ANN_RRF),
    "q_ann_rrf_anns": QuerySpec(q_ann_rrf_anns, ORACLE_ANN_RRF_ANNS),
    "q_hard_negatives": QuerySpec(q_hard_negatives, ORACLE_HARD_NEGATIVES),
    "q_embedding_drift": QuerySpec(q_embedding_drift, ORACLE_EMBEDDING_DRIFT),
    "q_embedding_drift_psi": QuerySpec(
        q_embedding_drift_psi, ORACLE_EMBEDDING_DRIFT_PSI
    ),
    "q_snapshot_diff": QuerySpec(q_snapshot_diff, ORACLE_SNAPSHOT_DIFF),
    "q_embedding_near_dup": QuerySpec(
        q_embedding_near_dup,
        ORACLE_EMB_NEAR_DUP,
        bench=b_embedding_near_dup,
    ),
    "q_minhash_near_dup": QuerySpec(
        q_minhash_near_dup,
        ORACLE_MINHASH,
        bench=lambda s, d: q_minhash_near_dup(s, d, hash_fn="xxhash64"),
    ),
    "q_simhash_groups": QuerySpec(
        q_simhash_groups,
        ORACLE_SIMHASH_GROUPS,
        bench=lambda s, d: q_simhash_groups(s, d, hash_fn="xxhash64", bits=64),
    ),
    "q_simhash_near_dup": QuerySpec(
        q_simhash_near_dup,
        ORACLE_SIMHASH_NEAR_DUP,
        bench=lambda s, d: q_simhash_near_dup(s, d, hash_fn="xxhash64", bits=64),
    ),
    "q_j6_anti_join": QuerySpec(q_j6_anti_join, ORACLE_J6),
    "q_a4_conditional_counts": QuerySpec(q_a4_conditional_counts, ORACLE_A4),
    "q_m2_validity_counts": QuerySpec(q_m2_validity_counts, ORACLE_M2),
    "q_w2_prefix_sum": QuerySpec(q_w2_prefix_sum, ORACLE_W2),
    "q_st2_sliding_stats": QuerySpec(q_st2_sliding_stats, ORACLE_ST2),
    "q_w1_row_number": QuerySpec(q_w1_row_number, ORACLE_W1),
    "q_sql_pricing_summary": QuerySpec(q_sql_pricing_summary, ORACLE_PRICING),
    "q_a6_rollup": QuerySpec(q_a6_rollup, ORACLE_A6),
    "q_a7_distinct_exact": QuerySpec(q_a7_distinct_exact, ORACLE_A7),
    "q_t1_topk": QuerySpec(q_t1_topk, ORACLE_T1),
    "q_d1_year_split": QuerySpec(q_d1_year_split, ORACLE_D1),
    "q_str1_string_fns": QuerySpec(q_str1_string_fns, ORACLE_STR1),
    "q_arr1_array_agg": QuerySpec(q_arr1_array_agg, ORACLE_ARR1),
    "q_json1_extract": QuerySpec(q_json1_extract, ORACLE_JSON1),
    "q_w5_group_zscore": QuerySpec(q_w5_group_zscore, ORACLE_W5),
    "q_median_exact": QuerySpec(q_median_exact, ORACLE_MEDIAN),
    "q_st3_stream_welford": QuerySpec(q_st3_stream_welford, ORACLE_ST3),
    "q_st5_stream_leftouter_join": QuerySpec(
        q_st5_stream_leftouter_join,
        ORACLE_ST5,
        bench=lambda s, d: q_st5_stream_leftouter_join(
            s, d, max_files_per_trigger=3
        ),
    ),
    "q_st6_stream_fullouter_join": QuerySpec(
        q_st6_stream_fullouter_join,
        ORACLE_ST6,
        bench=lambda s, d: q_st6_stream_fullouter_join(
            s, d, max_files_per_trigger=3
        ),
    ),
    "q_st4_stream_interval_join": QuerySpec(
        q_st4_stream_interval_join,
        ORACLE_ST4,
        # same join, coarser triggers: the declared gate pins the
        # cross-batch state semantics with one file per micro-batch;
        # the benched twin amortizes trigger overhead the way a
        # deployment sizes triggers
        bench=lambda s, d: q_st4_stream_interval_join(
            s, d, max_files_per_trigger=3
        ),
    ),
    "q_dashboard_index": QuerySpec(q_dashboard_index, ORACLE_DASHBOARD_INDEX),
    "q_dashboard_workers": QuerySpec(
        q_dashboard_workers, ORACLE_DASHBOARD_WORKERS
    ),
    "q_media_resample": QuerySpec(q_media_resample, ORACLE_MEDIA_RESAMPLE),
    "q_st1_tumbling_window": QuerySpec(q_st1_tumbling_window, ORACLE_ST1),
    "q_grib2_scan": QuerySpec(q_grib2_scan, ORACLE_GRIB2),
    "q_semantic_dedup": QuerySpec(
        q_semantic_dedup,
        ORACLE_SEMANTIC_DEDUP,
        bench=lambda s, d: q_semantic_dedup(
            s, d, dot="arrow", pin_oracle_k=False
        ),
    ),
    "q_semantic_incremental": QuerySpec(
        q_semantic_incremental,
        ORACLE_SEMANTIC_INCREMENTAL,
        bench=lambda s, d: q_semantic_incremental(
            s, d, dot="arrow", pin_oracle_k=False
        ),
    ),
    "q_dedup_incremental": QuerySpec(
        q_dedup_incremental,
        ORACLE_DEDUP_INCREMENTAL,
        bench=lambda s, d: q_dedup_incremental(s, d, hash_fn="xxhash64"),
    ),
    "q_dedup_components": QuerySpec(
        q_dedup_components,
        ORACLE_DEDUP_COMPONENTS,
        bench=lambda s, d: q_dedup_components(s, d, hash_fn="xxhash64"),
    ),
    "q_dedup_representative": QuerySpec(
        q_dedup_representative,
        ORACLE_DEDUP_REPRESENTATIVE,
        bench=lambda s, d: q_dedup_representative(s, d, hash_fn="xxhash64"),
    ),
    "q_split_leakage_free": QuerySpec(
        q_split_leakage_free,
        ORACLE_SPLIT_LEAKAGE_FREE,
        bench=lambda s, d: q_split_leakage_free(s, d, hash_fn="xxhash64"),
    ),
    "q_split_store": QuerySpec(
        q_split_store,
        ORACLE_SPLIT_STORE,
        bench=lambda s, d: q_split_store(s, d, hash_fn="xxhash64"),
    ),
    "q_split_conflicts": QuerySpec(
        q_split_conflicts,
        ORACLE_SPLIT_CONFLICTS,
        bench=lambda s, d: q_split_conflicts(s, d, hash_fn="xxhash64"),
    ),
    "q_ann_pq_interleaved": QuerySpec(
        q_ann_pq_interleaved, ORACLE_ANN_PQ_INTERLEAVED
    ),
    "q_ann_pq_rotated": QuerySpec(
        q_ann_pq_rotated, ORACLE_ANN_PQ_ROTATED
    ),
    "q_text_span_dedup": QuerySpec(q_text_span_dedup, ORACLE_TEXT_SPAN_DEDUP),
    "q_text_repetition": QuerySpec(q_text_repetition, ORACLE_TEXT_REPETITION),

}


# Driver-window rotation (same mechanism as r08-r15): the 50-row
# oracle window samples the FIRST 50 names, so everything the previous
# round's driver did NOT check comes first.  The r16 window (first 50)
# = the 16 r15-rewritten-but-unverified paths (VERDICT r15 "What's
# wrong #4": openradioss join->window, text limit pushdowns, quantile
# explode, sq8 string exprs, shared pair-cache consumers, IVF-PQ
# shared trainer) + every path THIS round's optimization touched
# (semantic/dedup/BPE collect fusion, UDF dedup-eval markers, store
# plan memos, LUT fusion) + the stalest unchecked rows (r12 leftovers,
# r13 cohort heads).  Tail = remaining r13 cohort, r14-checked, then
# the r15-checked block (freshest last).
_DRIVER_ORDER = [
    "q_openradioss_scan",
    "q_text_lang_quality",
    "q_text_redact_pii",
    "q_text_features",
    "q_text_substring_rm",
    "q_sketch_quantiles",
    "q_dedup_representative",
    "q_split_leakage_free",
    "q_ann_sq8_topk",
    "q_dedup_ngram_jaccard",
    "q_text_winnow",
    "q_ann_cosine_topk",
    "q_sketch_cms",
    "q_ann_ivfpq_topk",
    "q_ann_ivfpq_incremental",
    "q_ann_ivfpq_mmr",
    "q_semantic_incremental",
    "q_bpe_train_hist",
    "q_ann_rrf_anns",
    "q_ann_pq_topk",
    "q_ann_pq_interleaved",
    "q_ann_pq_rotated",
    "q_ann_lsh_topk",
    "q_ann_ivf_topk",
    "q_embedding_near_dup",
    "q_semantic_dedup",
    "q_dedup_incremental",
    "q_bpe_train",
    "q_dedup_components",
    "q_minhash_near_dup",
    "q_ann_rrf",
    "q_hard_negatives",
    "q_split_store",
    "q_split_conflicts",
    "q_ann_mmr",
    "q_media_jpeg_resize",
    "q_hdf5_roundtrip",
    "q_vtk_scan",
    "q_vti_scan",
    "q_stream_bloom",
    "q_media_frames",
    "q_text_chunks",
    "q_mix_weights",
    "q_sample_stratified",
    "q_a1_moment_stats",
    "q_a2_elementwise_stats",
    "q_embedding_drift_psi",
    "q_cluster_sample",
    "q_embedding_drift",
    "q_snapshot_diff",
    "q_media_mp4_mkv",
    "q_st4_stream_interval_join",
    "q_dashboard_index",
    "q_dashboard_workers",
    "q_media_resample",
    "q_a3_pivot_counts",
    "q_a8_welford_state",
    "q_a11_heavy_hitters",
    "q_sketch_distinct",
    "q_validate_expectations",
    "q_profile_columns",
    "q_j1_broadcast_join",
    "q_j2_point_to_cell",
    "q_j3_scatter_mean",
    "q_j4_range_join",
    "q_j5_semi_join",
    "q_s3_edge_dedup",
    "q_m1_von_mises",
    "q_scan_pushdown",
    "q_precision_downcast",
    "q_global_inject",
    "q_ts_asof_join",
    "q_ts_rollup_daily",
    "q_w4_sessionize",
    "q_dedup_exact",
    "q_sample_split",
    "q_text_logprob",
    "q_text_decontaminate",
    "q_emb_outliers",
    "q_text_vocab",
    "q_text_tfidf_sim",
    "q_text_token_ids",
    "q_pack_sequences",
    "q_d3plot_scan",
    "q_aselmdb_scan",
    "q_zarr_roundtrip",
    "q_netcdf3_roundtrip",
    "q_dataset_layout",
    "q_warc_scan",
    "q_sketch_bloom",
    "q_media_fmp4",
    "q_st5_stream_leftouter_join",
    "q_text_substring_dup",
    "q_mix_temperature",
    "q_s2_intersect",
    "q_s4_union_all",
    "q_s5_except",
    "q_a5_distinct_agg",
    "q_a9_cube",
    "q_a10_pivot_mean",
    "q_a12_grouping_sets",
    "q_str2_like_pushdown",
    "q_str3_regexp",
    "q_d2_date_functions",
    "q_w3_delta_vs_first",
    "q_simhash_groups",
    "q_simhash_near_dup",
    "q_j6_anti_join",
    "q_a4_conditional_counts",
    "q_m2_validity_counts",
    "q_w2_prefix_sum",
    "q_st2_sliding_stats",
    "q_sql_pricing_summary",
    "q_a7_distinct_exact",
    "q_d1_year_split",
    "q_str1_string_fns",
    "q_arr1_array_agg",
    "q_json1_extract",
    "q_w5_group_zscore",
    "q_median_exact",
    "q_st3_stream_welford",
    "q_st1_tumbling_window",
    "q_grib2_scan",
    "q_text_span_dedup",
    "q_text_repetition",
    "q_text_sentences",
    "q_corpus_card",
    "q_media_subtitles",
    "q_robots_filter",
    "q_st6_stream_fullouter_join",
    "q_text_normalize",
    "q_url_normalize",
    "q_web_extract",
    "q_webdataset",
    "q_quality_regression",
    "q_media_qoi_pnm",
    "q_media_mpeg",
    "q_media_imagetags",
    "q_media_audiotags",
    "q_media_probe",
    "q_media_imagehash",
    "q_media_audiohash",
    "q_media_videohash",
    "q_media_stillimage",
    "q_media_hierarchical",
    "q_grid_federated",
    "q_grid_sidecar",
    "q_atomic_stats",
    "q_mesh_quality",
    "q_media_avi_frames",
    "q_media_adpcm",
    "q_media_lossless",
    "q_media_flac",
    "q_media_g711",
    "q_w1_row_number",
    "q_t1_topk",
    "q_a6_rollup",
    "q_media_wav_features",
    "q_vtk_domain",
    "q_text_bigram_lm",
    "q_media_png_resize",
]


def _ordered() -> dict[str, QuerySpec]:
    if set(_DRIVER_ORDER) != set(QUERIES) or len(_DRIVER_ORDER) != len(
        QUERIES
    ):
        missing = set(QUERIES) - set(_DRIVER_ORDER)
        extra = set(_DRIVER_ORDER) - set(QUERIES)
        raise RuntimeError(
            f"_DRIVER_ORDER out of sync with QUERIES: missing={sorted(missing)} "
            f"extra={sorted(extra)} (len {len(_DRIVER_ORDER)} vs {len(QUERIES)})"
        )
    return {name: QUERIES[name] for name in _DRIVER_ORDER}


def queries() -> dict[str, SparkQuery]:
    return {name: spec.spark for name, spec in _ordered().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in _ordered().items() if spec.oracle
    }


DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
