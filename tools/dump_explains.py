#!/usr/bin/env python
"""Dump .explain("formatted") for named queries to a directory.

Usage: python tools/dump_explains.py DIR SUFFIX q_name [q_name ...]

Builds each query's DataFrame (running whatever driver-side fixture /
training steps the build needs) and writes DIR/<name>_<SUFFIX>.txt.
Runs on bench.py's session (``bench_session``) so the plans match the
bench artifact's execution shape.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import bench_session  # noqa: E402
from physicsnemo_curator_spark.plans.queries import QUERIES  # noqa: E402


def main() -> None:
    out_dir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    os.makedirs(out_dir, exist_ok=True)
    spark, sf_dir, _, _ = bench_session("pcs-explains")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    for name in names:
        spec = QUERIES[name]
        fn = spec.bench or spec.spark
        try:
            df = fn(spark, sf_dir)
            txt = df._jdf.queryExecution().explainString(mode)
        except Exception as exc:  # noqa: BLE001
            txt = f"BUILD ERROR: {type(exc).__name__}: {exc}"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(txt)
        print(name, "ok" if not txt.startswith("BUILD ERROR") else "ERR")
    spark.stop()


if __name__ == "__main__":
    main()
