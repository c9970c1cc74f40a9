"""Spans recorded by the benchmark's own wrappers, and the ``spark.*``
layer totals read back from Spark's uncompressed event log.

Spans are held in memory as ``(name, start, end, parent, op)`` tuples and
written out once, when the run ends.  Times are wall-clock epoch seconds
so that they line up with the event log's millisecond timestamps.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """Span recorder.  With ``enabled=False`` every call is a no-op, so
    the untraced run executes exactly the same Spark work."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[tuple[str, float, float, int | None, str]] = []
        self._stack: list[int] = []
        self.op = ""

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append((name, time.time(), 0.0, parent, self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            n, t0, _, p, op = self.spans[idx]
            self.spans[idx] = (n, t0, time.time(), p, op)

    def totals(self, ops: set[str]) -> dict[str, float]:
        """Seconds per span name, summed over the spans of ``ops``."""
        out: dict[str, float] = {}
        for name, t0, t1, _, op in self.spans:
            if op in ops:
                out[name] = out.get(name, 0.0) + (t1 - t0)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                [
                    {"name": n, "start": a, "end": b, "parent": p, "op": o}
                    for n, a, b, p, o in self.spans
                ],
                fh,
            )


# Task-level SQL accumulators, by the names Spark gives them, and the
# layer each feeds.  All four are millisecond timing metrics.
_ACCUMS = {
    "scan time": "scan_s",
    "time in aggregation build": "agg_build_s",
    "time to run Python workers": "pyworker_s",
    "time to start Python workers": "pyworker_start_s",
}

SPARK_KEYS = (
    "jobs", "stages", "tasks", "sched_delay_s", "empty_task_frac",
    "driver_gap_s", "task_s", "gc_s", "pyworker_s", "pyworker_start_s",
    "scan_s", "agg_build_s", "shuffle_write_s", "shuffle_bytes",
    "shuffle_fetch_wait_s", "spill_bytes", "failed_tasks",
)


def read_event_log(log_dir: str) -> tuple[list[dict], list[dict], list[dict]]:
    """(jobs, stages, tasks) from every event log file under ``log_dir``.

    jobs: {start, end} and stages: {at} (submission), in epoch seconds.
    tasks: per-task counters already converted to seconds and bytes, plus
    ``launch`` for attribution."""
    jobs: dict[tuple[str, int], dict] = {}
    stages: list[dict] = []
    tasks: list[dict] = []
    # Spark 4 writes rolling logs: one directory per application holding
    # events_<n>_<app> files
    paths = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
        if os.path.basename(p).startswith("events_")
    )
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[(path, ev["Job ID"])] = {"start": ev["Submission Time"] / 1e3}
                elif kind == "SparkListenerJobEnd":
                    job = jobs.get((path, ev["Job ID"]))
                    if job is not None:
                        job["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    stages.append({"at": info.get("Submission Time", 0) / 1e3})
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(_task(ev))
    return [j for j in jobs.values() if "end" in j], stages, tasks


def _task(ev: dict) -> dict:
    info = ev["Task Info"]
    m = ev.get("Task Metrics") or {}
    t = {
        "launch": info["Launch Time"] / 1e3,
        "failed": ev.get("Task End Reason", {}).get("Reason") != "Success",
    }
    run_ms = m.get("Executor Run Time", 0)
    duration_ms = info["Finish Time"] - info["Launch Time"]
    t["sched_delay_s"] = max(
        0,
        duration_ms
        - run_ms
        - m.get("Executor Deserialize Time", 0)
        - m.get("Result Serialization Time", 0)
        - info.get("Getting Result Time", 0),
    ) / 1e3
    t["task_s"] = run_ms / 1e3
    t["gc_s"] = m.get("JVM GC Time", 0) / 1e3
    sw = m.get("Shuffle Write Metrics", {})
    sr = m.get("Shuffle Read Metrics", {})
    t["shuffle_write_s"] = sw.get("Shuffle Write Time", 0) / 1e9
    t["shuffle_bytes"] = sw.get("Shuffle Bytes Written", 0)
    t["shuffle_fetch_wait_s"] = sr.get("Fetch Wait Time", 0) / 1e3
    t["spill_bytes"] = m.get("Disk Bytes Spilled", 0)
    records = m.get("Input Metrics", {}).get("Records Read", 0) + sr.get(
        "Total Records Read", 0
    )
    t["empty"] = records == 0
    for acc in info.get("Accumulables", []):
        key = _ACCUMS.get(acc.get("Name"))
        if key is not None:
            t[key] = t.get(key, 0.0) + float(acc.get("Update", 0)) / 1e3
    return t


def spark_layers(
    log: tuple[list[dict], list[dict], list[dict]], windows: list[tuple[float, float]]
) -> dict[str, float]:
    """Totals of the ``spark.*`` layer over a set of op windows.

    A job, stage or task belongs to the op whose [start, end] window
    holds its start; ops run one at a time, so windows never overlap.
    ``driver_gap_s`` is the part of each op's wall time outside every
    job's [submission, completion] interval."""
    jobs, stages, tasks = log

    def inside(t: float) -> bool:
        return any(a <= t <= b for a, b in windows)

    out = {k: 0.0 for k in SPARK_KEYS}
    out["jobs"] = float(sum(inside(j["start"]) for j in jobs))
    out["stages"] = float(sum(inside(s["at"]) for s in stages))
    mine = [t for t in tasks if inside(t["launch"])]
    out["tasks"] = float(len(mine))
    for t in mine:
        for k in ("sched_delay_s", "task_s", "gc_s", "pyworker_s", "pyworker_start_s",
                  "scan_s", "agg_build_s", "shuffle_write_s", "shuffle_bytes",
                  "shuffle_fetch_wait_s", "spill_bytes"):
            out[k] += t.get(k, 0.0)
        out["failed_tasks"] += t["failed"]
    out["empty_task_frac"] = (
        sum(t["empty"] for t in mine) / len(mine) if mine else 0.0
    )
    for a, b in windows:
        busy = sorted(
            (max(a, j["start"]), min(b, j["end"]))
            for j in jobs
            if j["end"] > a and j["start"] < b
        )
        covered, cur_a, cur_b = 0.0, None, None
        for s, e in busy:
            if cur_b is None or s > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = s, e
            else:
                cur_b = max(cur_b, e)
        if cur_b is not None:
            covered += cur_b - cur_a
        out["driver_gap_s"] += max(0.0, (b - a) - covered)
    return out
