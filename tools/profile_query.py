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

Runs on bench.py's session (``bench_session``) so the numbers line up
with the bench artifact.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import bench_session
from physicsnemo_curator_spark.plans.queries import QUERIES


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    explain_dir = None
    for i, a in enumerate(sys.argv[1:]):
        if a == "--explain-dir":
            explain_dir = sys.argv[1:][i + 1]
            args.remove(explain_dir)
    spark, sf_dir, _, _ = bench_session("pcs-profile")

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
