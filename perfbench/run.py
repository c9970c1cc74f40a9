#!/usr/bin/env python3
"""Curation benchmark: each workload is a single-client closed loop.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

One run is one process on ``local[nproc]``: a child process generates
the inputs from the seed and loads or computes the oracle results
(untimed, and outside the driver's memory), then the run sets up (process
start to ready for the first op, minus that child), runs one cold pass
over the workload's op sequence, then warm passes until ``--seconds`` of
warm op time are measured and the workload's minimum of warm passes is
done.  Every op is timed in wall time and in the CPU time of the run's
process tree, and its output is checked outside its timed window.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on the
benchmark's spans and Spark's uncompressed event log and reports the
per-layer split.  Before the last line, stdout lists every metric by name
with its unit, and every failing op; the last line is one JSON object
holding the metrics that ``BENCHMARK.json`` names.  See DESIGN.md.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("relational", "near_dup", "ingest_batches", "mesh_curate")
# Seconds after process start past which no new warm pass begins, so a
# run ends well inside three minutes even when the program slows down.
WARM_DEADLINE_S = 140.0

END_TO_END_UNITS = {
    "setup_s": "s",
    "first_pass_s": "s",
    "pass_s": "s",
    "pass_best_s": "s",
    "pass_cpu_s": "s",
    "items_per_cpu_s": "1/s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "items_per_s": "1/s",
    "drift_ratio": "ratio",
    "jvm_peak_rss_mb": "MB",
    "driver_peak_rss_mb": "MB",
    "retained_mb": "MB",
    "write_amp": "ratio",
    "failed_frac": "ratio",
}
SPAN_LAYERS = {
    "plans.build_s": "plans.build",
    "plans.collect_s": "plans.collect",
    "operators.dedup.probe_s": "operators.dedup.probe",
    "operators.dedup.append_s": "operators.dedup.append",
    "operators.sampling.assign_s": "operators.sampling.assign",
    "operators.sketches.append_s": "operators.sketches.append",
    "operators.mesh.clean_s": "operators.mesh.clean",
    "operators.quality.report_s": "operators.quality.report",
    "operators.stats.moments_s": "operators.stats.moments",
    "sinks.write_s": "sinks.write",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "core.store.bytes": "bytes",
    "core.store.files": "count",
    "core.cache.persisted_rdds_max": "count",
    "core.cache.storage_mb_max": "MB",
    "streaming.op_s": "s",
    "trace.pass_s": "s",
    **{k: "s" for k in SPAN_LAYERS},
}
SPARK_UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count", "failed_tasks": "count",
    "empty_task_frac": "ratio", "shuffle_bytes": "bytes", "spill_bytes": "bytes",
}


def _seconds_since_process_start() -> float:
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process under
    it (Spark's JVM, its Python workers), exited ones included.  The
    kernel charges time the hypervisor steals to steal, not to them."""
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:  # exited while listed
                continue
            # ppid; utime + stime + cutime + cstime in clock ticks
            procs[int(d)] = (int(f[1]), sum(map(int, f[11:15])))
    me, ticks = os.getpid(), 0
    for pid, (ppid, t) in procs.items():
        while pid not in (me, 0, 1):
            pid = procs.get(pid, (0, 0))[0]
        if pid == me:
            ticks += t
    return ticks / os.sysconf("SC_CLK_TCK")


def _tail(latencies: list[float]) -> tuple[float, int]:
    """The highest whole percentile with at least 10 samples beyond it,
    as (value, percentile); the median when there are fewer than 20."""
    xs = sorted(latencies)
    n = len(xs)
    best = 50
    for q in range(50, 100):
        if n - -(-q * n // 100) >= 10:  # samples above the q-th percentile
            best = q
    return xs[max(1, -(-best * n // 100)) - 1], best


def _storage(spark) -> tuple[int, float]:
    """(persisted RDD count, MB they hold in memory plus on disk)."""
    sc = spark.sparkContext._jsc.sc()
    n = sc.getPersistentRDDs().size()
    mb = sum(i.memSize() + i.diskSize() for i in sc.getRDDStorageInfo()) / 2**20
    return n, mb


def _session(name: str, work: str, trace: bool):
    """The engine's own session (``get_spark``) plus the benchmark's
    config: no UI, every temporary file inside the run's work dir, and the
    uncompressed event log only when tracing."""
    from physicsnemo_curator_spark.session import get_spark

    conf = {
        "spark.ui.enabled": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name=f"perfbench-{name}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def prepare(name: str, seed: int, work: str, smoke: bool) -> dict:
    """The workload's inputs and check data; runs in the child process."""
    from perfbench import workloads as W

    cache = os.path.join(ROOT, ".perfbench", "oracle-cache")
    if name == "relational":
        qs = W.RELATIONAL[:2] + W.RELATIONAL[-1:] if smoke else W.RELATIONAL
        return W.QueryWorkload.prepare(qs, seed, work, cache,
                                       0.05 if smoke else W.RELATIONAL_SCALE)
    if name == "near_dup":
        qs = W.NEAR_DUP[:2] if smoke else W.NEAR_DUP
        return W.QueryWorkload.prepare(qs, seed, work, cache,
                                       0.05 if smoke else W.NEAR_DUP_SCALE)
    if name == "ingest_batches":
        I = W.IngestWorkload
        return I.prepare(seed, work, *((2, 20) if smoke else (I.N_BATCHES, I.BATCH_SIZE)))
    M = W.MeshWorkload
    return M.prepare(seed, work, *((1, 2, 6) if smoke else (M.N_DIRS, M.N_MESHES, M.GRID)))


def _prepare_in_child(args, work: str) -> dict:
    cmd = [sys.executable, os.path.abspath(__file__), "--prepare-into", work,
           "--workload", args.workload, "--seed", str(args.seed)]
    subprocess.run(cmd + (["--smoke-run"] if args.smoke else []), check=True, timeout=150,
                   stdout=sys.stderr)
    with open(os.path.join(work, "prep.pickle"), "rb") as fh:
        return pickle.load(fh)


def _workload(name: str, prep: dict):
    from perfbench import workloads as W

    if name in ("relational", "near_dup"):
        return W.QueryWorkload(prep)
    return W.IngestWorkload(prep) if name == "ingest_batches" else W.MeshWorkload(prep)


def run(args) -> dict:
    t_proc = time.perf_counter() - _seconds_since_process_start()
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    import tempfile

    tempfile.tempdir = os.path.join(work, "tmp")
    try:
        return _run(args, work, t_proc)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, t_proc: float) -> dict:
    from perfbench.trace import Tracer, read_event_log, spark_layers
    from perfbench.workloads import STREAMING_OPS

    t_prep = time.perf_counter()
    prep = _prepare_in_child(args, work)
    prep_s = time.perf_counter() - t_prep

    # Set-up: process start to ready for the first op, minus the child
    # that generated the inputs and the oracle results.
    tracer = Tracer(bool(args.trace))
    wl = _workload(args.workload, prep)
    t_s = time.perf_counter()
    spark = _session(args.workload, work, bool(args.trace))
    start_s = time.perf_counter() - t_s
    spark.range(1000).selectExpr("sum(id)").collect()
    wl.setup(spark)
    setup_s = time.perf_counter() - t_proc - prep_s
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()

    # op -> (latency, wall start, wall end, CPU seconds)
    passes: list[dict[str, tuple[float, float, float, float]]] = []
    failures: list[str] = []
    attempted = 0
    io_by_pass: list[tuple[int, int, int, int]] = []
    cache_samples: list[tuple[str, int, float]] = []
    measured = 0.0
    while True:
        p = len(passes)
        wl.begin_pass(spark, p)
        rows: dict[str, tuple[float, float, float, float]] = {}
        for op in wl.pass_ops(p):
            attempted += 1
            tracer.op = f"{p}:{op}"
            c0 = _tree_cpu_s()
            w0, t0 = time.time(), time.perf_counter()
            try:
                result = wl.run_op(spark, op, tracer)
            except Exception as exc:  # noqa: BLE001 — a failing op is counted, not fatal
                failures.append(f"pass {p} {op}: {type(exc).__name__}: {str(exc)[:300]}")
                continue
            lat, w1 = time.perf_counter() - t0, time.time()
            rows[op] = (lat, w0, w1, _tree_cpu_s() - c0)
            if args.trace:
                cache_samples.append((tracer.op, *_storage(spark)))
            try:
                err = wl.check_op(spark, op, result)
            except Exception as exc:  # noqa: BLE001
                err = f"check raised {type(exc).__name__}: {str(exc)[:300]}"
            if err:
                failures.append(f"pass {p} {op}: {err}")
        try:
            failures.extend(f"pass {p} {e}" for e in wl.end_pass(spark, p))
        except Exception as exc:  # noqa: BLE001
            failures.append(f"pass {p} end-of-pass: {type(exc).__name__}: {str(exc)[:300]}")
        io_by_pass.append(wl.io_stats())
        passes.append(rows)
        if p >= 1:
            measured += sum(r[0] for r in rows.values())
        n_warm = len(passes) - 1
        elapsed = time.perf_counter() - t_proc
        if n_warm >= 1 and (elapsed > WARM_DEADLINE_S or args.smoke):
            break
        if n_warm >= wl.MIN_WARM_PASSES and measured >= args.seconds:
            break

    spark._jvm.System.gc()
    retained_mb = _storage(spark)[1]
    jvm_rss = _vm_hwm_mb(jvm_pid)
    driver_rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    _stop(spark)

    warm = passes[1:]
    warm_lat = [r[0] for ps in warm for r in ps.values()]
    if not warm_lat:
        raise RuntimeError("no warm op succeeded:\n" + "\n".join(failures))
    pass_times = [sum(r[0] for r in ps.values()) for ps in warm]
    # Each op at its best warm run, in wall time and in CPU time: the
    # host's noise only ever adds time, and the JVM's compiler keeps
    # making later passes cheaper.
    done = [op for op in wl.pass_ops(1) if any(op in ps for ps in warm)]
    pass_best = sum(min(ps[op][0] for ps in warm if op in ps) for op in done)
    pass_cpu = sum(min(ps[op][3] for ps in warm if op in ps) for op in done)
    items = sum(wl.items(op) for op in done)
    ratios = [warm[-1][op][0] / warm[0][op][0] for op in warm[0] if op in warm[-1]]
    tail, tail_q = _tail(warm_lat)
    wamp = [(sb + tb) / wl.input_bytes for sb, _, tb, _ in io_by_pass[1:]]
    failed = len({f.split(":")[0] for f in failures})
    metrics = {
        "setup_s": setup_s,
        "first_pass_s": sum(r[0] for r in passes[0].values()),
        "pass_s": statistics.median(pass_times),
        "pass_best_s": pass_best,
        "pass_cpu_s": pass_cpu,
        "items_per_cpu_s": items / pass_cpu,
        "op_p50_s": statistics.median(warm_lat),
        "op_tail_s": tail,
        "items_per_s": items / pass_best,
        "drift_ratio": statistics.median(ratios) if ratios else 1.0,
        "jvm_peak_rss_mb": jvm_rss,
        "driver_peak_rss_mb": driver_rss,
        "retained_mb": retained_mb,
        "write_amp": statistics.median(wamp),
        "failed_frac": failed / attempted,
    }
    units = dict(END_TO_END_UNITS)
    info = {
        "workload": args.workload, "seed": args.seed, "ops_per_pass": len(wl.pass_ops(1)),
        "warm_passes": len(warm), "warm_ops": len(warm_lat), "tail_percentile": tail_q,
        "item": wl.item, "prepare_s": round(prep_s, 3),
        "passes_s": [round(sum(r[0] for r in ps.values()), 3) for ps in passes],
        "ops": {
            op: (round(passes[0][op][0], 3) if op in passes[0] else None,
                 [round(ps[op][0], 3) for ps in warm if op in ps])
            for op in wl.ops
        },
    }
    out = {"metrics": metrics, "units": units, "info": info, "failures": failures,
           "attempted": attempted, "failed": failed}
    if not args.trace:
        return out

    # Per-layer split: totals per warm pass, reported as the median pass.
    log = read_event_log(os.path.join(work, "eventlog"))
    layers: list[dict[str, float]] = []
    for p, ps in enumerate(warm, start=1):
        ops = {f"{p}:{op}" for op in ps}
        spans = tracer.totals(ops)
        sb, sf, tb, tf = io_by_pass[p]
        samples = [s for s in cache_samples if s[0] in ops]
        row = {k: spans.get(v, 0.0) for k, v in SPAN_LAYERS.items()}
        row.update({
            "sinks.bytes_written": float(sb), "sinks.files_written": float(sf),
            "core.store.bytes": float(tb), "core.store.files": float(tf),
            "core.cache.persisted_rdds_max": float(max((s[1] for s in samples), default=0)),
            "core.cache.storage_mb_max": max((s[2] for s in samples), default=0.0),
            "streaming.op_s": sum(r[0] for op, r in ps.items() if op in STREAMING_OPS),
            "trace.pass_s": sum(r[0] for r in ps.values()),
        })
        row.update({
            f"spark.{k}": v for k, v in spark_layers(log, [r[1:3] for r in ps.values()]).items()
        })
        layers.append(row)
    layer_metrics = {k: statistics.median(row[k] for row in layers) for k in layers[0]}
    layer_metrics["session.start_s"] = start_s
    metrics.update(layer_metrics)
    units.update(LAYER_UNITS)
    units.update({k: SPARK_UNITS.get(k[6:], "s") for k in layer_metrics if k.startswith("spark.")})
    out["per_pass"] = layers
    out["cache_series"] = [(op, n, round(mb, 3)) for op, n, mb in cache_samples]
    keep = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(keep, exist_ok=True)
    base = os.path.join(keep, f"{args.workload}-{args.seed}")
    tracer.dump(base + ".spans.json")
    with open(base + ".layers.json", "w") as fh:
        json.dump({k: out[k] for k in ("info", "per_pass", "cache_series")}, fh)
    return out


def report(args, out: dict, spec: dict) -> dict:
    """Print every metric by name with its unit and every failing op;
    return the result line with the metrics ``spec`` names."""
    info, metrics, units = out["info"], out["metrics"], out["units"]
    print(f"# workload {info['workload']} seed {info['seed']}: {info['ops_per_pass']} ops "
          f"per warm pass, {info['warm_passes']} warm passes, {info['warm_ops']} warm ops, "
          f"items are {info['item']}")
    print(f"# inputs and oracle {info['prepare_s']} s (not in any metric); "
          f"passes {info['passes_s']} s")
    for op, (cold, warm) in info["ops"].items():
        print(f"# op {op}: cold {cold} s, warm {warm} s")
    for k in sorted(metrics):
        note = ""
        if k == "op_tail_s":
            note = f" (p{info['tail_percentile']} of {info['warm_ops']} warm ops)"
        print(f"{k} {metrics[k]:.6g} {units[k]}{note}")
    for f in out["failures"]:
        print(f"FAILED {f}")
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    return {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in names},
    }


def _prepare_env() -> None:
    """Keep every file the run writes inside the checkout, and let
    Spark's Python workers import the package from it."""
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, ROOT)


def smoke(spec: dict) -> int:
    """Every workload once at the smallest inputs, untraced and traced;
    fails unless each run is correct and prints every named metric."""
    import subprocess

    bad = 0
    for name in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = subprocess.run(
                [sys.executable, __file__, "--workload", name, "--seed", "0",
                 "--seconds", "1", "--trace", str(trace), "--smoke-run"],
                capture_output=True, text=True, timeout=600,
            )
            lines = res.stdout.strip().splitlines()
            try:
                line = json.loads(lines[-1])
            except (IndexError, json.JSONDecodeError):
                print(f"{name} trace={trace}: FAIL, no result line\n{res.stderr[-2000:]}")
                bad += 1
                continue
            missing = [m["name"] for m in spec[key] if m["name"] not in line["metrics"]]
            ok = res.returncode == 0 and not missing and line["correct"]
            bad += not ok
            print(f"{name} trace={trace}: {'ok' if ok else 'FAIL'}, missing {missing}, "
                  f"failed {line['failed']}/{line['attempted']}")
            print("\n".join(x for x in lines if x.startswith("FAILED")))
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload once at the smallest inputs")
    ap.add_argument("--smoke-run", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--prepare-into", help=argparse.SUPPRESS)
    args = ap.parse_args()
    _prepare_env()
    if args.prepare_into:
        prep = prepare(args.workload, args.seed, args.prepare_into, args.smoke_run)
        with open(os.path.join(args.prepare_into, "prep.pickle"), "wb") as fh:
            pickle.dump(prep, fh)
        return 0
    try:
        import physicsnemo_curator_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package under test is missing: {exc}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.smoke:
        return smoke(spec)
    if args.workload is None:
        ap.error("--workload is required")
    args.smoke = args.smoke_run
    line = report(args, run(args), spec)
    sys.stdout.flush()
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
