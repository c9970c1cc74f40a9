#!/usr/bin/env python
"""Per-job trace for a declared query: run it warm and print every
Spark job the warm rep submits (job id, # stages, first stage name =
call site, and the operator step's job label when it set one), and
the session's persisted-RDD count before and after that rep, so a frame
an operator persists and never releases shows up as a rise.  Job counts
are deterministic, so this works on a contended box where wall-clock
A/Bs do not.

Usage: python tools/job_trace.py q_name [q_name ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import bench_session
from physicsnemo_curator_spark.plans.queries import QUERIES


def main() -> None:
    names = sys.argv[1:]
    spark, sf_dir, _, _ = bench_session("pcs-jobtrace")
    sc = spark.sparkContext
    jsc = sc._jsc.sc()

    for name in names:
        spec = QUERIES[name]
        fn = spec.bench or spec.spark
        fn(spark, sf_dir).collect()  # cold rep (fills fixture/session caches)
        st = sc.statusTracker()
        before = set(st.getJobIdsForGroup(None))
        rdds_before = sc._jsc.getPersistentRDDs().size()
        fn(spark, sf_dir).collect()  # warm rep — the one we trace
        rdds_after = sc._jsc.getPersistentRDDs().size()
        after = [j for j in st.getJobIdsForGroup(None) if j not in before]
        print(
            f"== {name}: {len(after)} warm jobs, persisted RDDs "
            f"{rdds_before} -> {rdds_after} =="
        )
        for jid in sorted(after):
            ji = jsc.statusTracker().getJobInfo(jid)
            if ji.isEmpty():
                print(f"  job {jid}: <gone>")
                continue
            info = ji.get()
            sids = list(info.stageIds())
            # first stage's name carries the call site of the action
            label = ""
            for sid in sids:
                si = jsc.statusTracker().getStageInfo(sid)
                if not si.isEmpty():
                    label = si.get().name()
                    break
            # the operator step that submitted it (core.jobs.job_label)
            desc = jsc.statusStore().job(jid).description()
            step = f"  [{desc.get()}]" if desc.isDefined() else ""
            print(f"  job {jid}: {len(sids)} stages  {label}{step}")
    spark.stop()


if __name__ == "__main__":
    main()
