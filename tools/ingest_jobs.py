#!/usr/bin/env python
"""Spark jobs per step of a warm ``ingest_batches`` op, by job label.

Runs the benchmark's ingest flow (``perfbench/workloads.py``
``IngestWorkload``: the cold pass seeds the stores, each warm pass
probes the next batch from a fresh copy of them) and prints, per warm
op, the jobs each step submitted.  A job is named by its description
(``core.jobs.job_label``: ``operator/step``); a job without one is
named by the benchmark span it started in.  The last table is the mean
over the warm ops.

Usage: python tools/ingest_jobs.py [seed] [warm_passes]
"""

from __future__ import annotations

import collections
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import workloads as W  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402
from physicsnemo_curator_spark.session import get_spark  # noqa: E402


def _label(store, jid: int, spans) -> str:
    job = store.job(jid)
    desc = job.description()
    if desc.isDefined():
        return desc.get()
    at = job.submissionTime().get().getTime() / 1e3
    inside = [n for n, a, b, _, _ in spans if a <= at <= b]
    return f"({inside[-1] if inside else 'outside any span'})"


def main() -> None:
    seed = int(sys.argv[1]) if len(sys.argv) > 1 else 901
    warm_passes = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    work = tempfile.mkdtemp(prefix="ingest-jobs-")
    try:
        wl = W.IngestWorkload(
            W.IngestWorkload.prepare(
                seed, work, W.IngestWorkload.N_BATCHES, W.IngestWorkload.BATCH_SIZE
            )
        )
        spark = get_spark(app_name="pcs-ingest-jobs", extra_conf={"spark.ui.enabled": "false"})
        spark.sparkContext.setLogLevel("ERROR")
        st = spark.sparkContext.statusTracker()
        store = spark.sparkContext._jsc.sc().statusStore()
        wl.setup(spark)
        tables = []
        for p in range(1 + warm_passes):
            wl.begin_pass(spark, p)
            for op in wl.pass_ops(p):
                tracer = Tracer(True)
                before = set(st.getJobIdsForGroup(None))
                losers = wl.run_op(spark, op, tracer)
                jobs = sorted(set(st.getJobIdsForGroup(None)) - before)
                counts = collections.Counter(_label(store, j, tracer.spans) for j in jobs)
                err = wl.check_op(spark, op, losers)
                if err:
                    raise SystemExit(f"{op}: {err}")
                if p:
                    tables.append(counts)
                    print(f"== pass {p} {op}: {len(jobs)} jobs ==")
                    for name, n in sorted(counts.items()):
                        print(f"  {n:3d}  {name}")
            fails = wl.end_pass(spark, p)
            if fails:
                raise SystemExit(f"pass {p}: {fails}")
        total = collections.Counter()
        for t in tables:
            total.update(t)
        print(f"== mean over {len(tables)} warm ops: "
              f"{sum(total.values()) / len(tables):.2f} jobs ==")
        for name, n in sorted(total.items()):
            print(f"  {n / len(tables):6.2f}  {name}")
        spark.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
