#!/usr/bin/env python
"""Per-query profiler for the optimization rounds.

Usage: python tools/profile_query.py q_name [q_name ...] [--explain-dir DIR]

For each named query: builds the DataFrame (plan construction timed
separately), runs it twice (cold/warm), prints per-run wall plus the
Spark job count consumed by each run (statusTracker delta — every job
is a driver round-trip at sf0.1, so job count is the fixed-overhead
proxy) and its Janino compiles (CodegenMetrics delta — a warm run
should compile nothing), and optionally dumps .explain("formatted")
to DIR/<name>.txt.

Mirrors bench.py's session config (AQE off, shuffle=8 at sf0.1) so the
numbers line up with the bench artifact.
"""

from __future__ import annotations

import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from physicsnemo_curator_spark.plans.queries import QUERIES
from physicsnemo_curator_spark.session import get_spark


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    explain_dir = None
    for i, a in enumerate(sys.argv[1:]):
        if a == "--explain-dir":
            explain_dir = sys.argv[1:][i + 1]
            args.remove(explain_dir)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    shuffle = max(8, min(cpus, int(64 * sf))) if sf > 0 else cpus
    spark = get_spark(
        app_name="pcs-profile",
        shuffle_partitions=shuffle,
        extra_conf={"spark.sql.adaptive.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(10_000).selectExpr("sum(id)").collect()
    from physicsnemo_curator_spark.sources.tables import TABLE_NAMES, load_table

    for t in TABLE_NAMES:
        load_table(spark, sf_dir, t).count()

    st = spark.sparkContext.statusTracker()

    def njobs() -> int:
        return len(st.getJobIdsForGroup(None))

    # Janino compiles: a warm rep that still compiles has missed the
    # session's generated-code cache
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def ncompiles() -> int:
        return codegen.METRIC_COMPILATION_TIME().getCount()

    for name in args:
        spec = QUERIES[name]
        fn = spec.bench or spec.spark
        spark.sparkContext.setJobDescription(f"profile:{name}")
        for rep in range(2):
            j0, c0 = njobs(), ncompiles()
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t_build = time.perf_counter() - t0
            t1 = time.perf_counter()
            df.collect()
            t_exec = time.perf_counter() - t1
            print(
                f"{name} rep{rep}: build {t_build:6.2f}s  exec {t_exec:6.2f}s"
                f"  jobs {njobs() - j0}  compiles {ncompiles() - c0}"
            )
        if explain_dir:
            os.makedirs(explain_dir, exist_ok=True)
            df = fn(spark, sf_dir)
            mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
            txt = df._jdf.queryExecution().explainString(mode)
            with open(os.path.join(explain_dir, f"{name}.txt"), "w") as fh:
                fh.write(txt)
        spark.sparkContext.setJobDescription(None)
    spark.stop()


if __name__ == "__main__":
    main()
