#!/usr/bin/env python
"""Regenerate docs/PLANS.md: the materialization policy (from
``core.store.release``) and the executed physical plans of the flagship
queries, annotated with the scale property each demonstrates.

Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import inspect
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from physicsnemo_curator_spark.core.store import release  # noqa: E402
from physicsnemo_curator_spark.plans.queries import QUERIES  # noqa: E402
from physicsnemo_curator_spark.session import get_spark  # noqa: E402

SHOWCASE = [
    (
        "q_scan_pushdown",
        "Predicate + projection pushdown: PushedFilters and a 3-column ReadSchema at the parquet scan.",
    ),
    (
        "q_a1_moment_stats",
        "Partial (map-side) aggregation before one hash-partitioned exchange — the Welford/Chan merge done by Catalyst.",
    ),
    (
        "q_j1_broadcast_join",
        "Small dims broadcast: two BroadcastHashJoins, zero fact-table shuffles before the aggregate.",
    ),
    (
        "q_t1_topk",
        "ORDER BY + LIMIT compiles to TakeOrderedAndProject — per-partition top-k, no global sort.",
    ),
    (
        "q_j5_semi_join",
        "Existence check as LeftSemi — no row multiplication, payload columns pruned from the probe side.",
    ),
    (
        "q_ts_asof_join",
        "As-of join as union + running last() window: one exchange on the join key, no range explosion.",
    ),
    (
        "q_semantic_incremental",
        "Persisted-store probe: batch side broadcast, store scan pruned to the batch's cell partitions (PartitionFilters) — probe cost ∝ batch, never ∝ store.",
    ),
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    out_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "docs",
        "PLANS.md",
    )
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w") as f:
        f.write(
            "# PLANS — executed physical plans of the flagship queries\n\n"
            f"Generated by `tools/dump_plans.py` against `{sf_dir}`.\n"
            "Each plan demonstrates one scale property asserted in "
            "`tests/test_plans.py`.\n"
        )
        # the release policy's one copy is core.store.release's docstring
        f.write(
            "\n## Materialization (`core.store.release`)\n\n"
            f"{inspect.getdoc(release)}\n"
        )
        for name, why in SHOWCASE:
            df = QUERIES[name].spark(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            f.write(f"\n## {name}\n\n{why}\n\n```\n{plan}\n```\n")
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
