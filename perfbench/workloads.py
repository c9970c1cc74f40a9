"""The four benchmark workloads.

``prepare`` makes a workload's inputs from the seed and everything its
checks need (the oracle results, what the generators know); it runs in
a child process, so that neither its time nor its memory lands in any
metric, and returns a picklable dict.  The workload object built from
that dict does its part of set-up (timed) and then runs one operation
at a time.  ``run_op`` is the timed window; ``check_op`` and
``end_pass`` verify outputs outside it and return failure reasons.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

from . import gen, oracle

# The relational family: Catalyst/JVM-bound queries (scan, aggregation,
# joins, windows, set operations, Structured Streaming triggers) whose
# Python workers sit idle.  A subset of the family's 55 queries: at
# least one of each shape (q_a*, q_j*, q_s*, q_w*, q_str*, q_d*, q_st*,
# q_m*, q_ts*, and the named extras), the cheapest of each where the
# shape has several, so that set-up, a cold pass and two warm passes at
# sf0.1 fit in one run.  DESIGN.md lists what each left-out query costs.
RELATIONAL = (
    "q_a1_moment_stats", "q_a3_pivot_counts", "q_a7_distinct_exact",
    "q_j1_broadcast_join", "q_j4_range_join", "q_s2_intersect", "q_w1_row_number",
    "q_str2_like_pushdown", "q_d2_date_functions", "q_st1_tumbling_window",
    "q_m2_validity_counts", "q_ts_rollup_daily", "q_t1_topk", "q_json1_extract",
    "q_scan_pushdown", "q_stream_bloom",
)
# Table rows as a fraction of sf0.1.
RELATIONAL_SCALE = 1.0
NEAR_DUP_SCALE = 0.05
# The near-dup, ANN and semantic family: driver-side DataFrame
# construction, eager operator actions, Arrow UDF workers and persists.
NEAR_DUP = ("q_dedup_exact", "q_ann_ivf_topk", "q_text_span_dedup")
# Ops whose time is Structured Streaming triggers (the streaming layer):
# the family's queries that run a real readStream.  q_st1 and q_st2 are
# batch twins of streaming rollups and run no stream.
STREAMING_OPS = frozenset({
    "q_st3_stream_welford", "q_st4_stream_interval_join", "q_st5_stream_leftouter_join",
    "q_st6_stream_fullouter_join", "q_stream_bloom",
})


def dir_stats(*roots: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``roots``; Spark's
    ``.crc`` side files and ``_SUCCESS`` markers are not data."""
    nbytes = nfiles = 0
    for root in roots:
        for base, _, files in os.walk(root):
            for f in files:
                if f.endswith(".crc") or f.startswith("_"):
                    continue
                nbytes += os.path.getsize(os.path.join(base, f))
                nfiles += 1
    return nbytes, nfiles


class Workload:
    """Hooks a workload may override; ``ops``, ``item``, ``input_bytes``,
    ``setup``, ``items``, ``run_op`` and ``check_op`` it must define."""

    # Warm passes a run makes at least, host speed permitting.
    MIN_WARM_PASSES = 2

    def pass_ops(self, p: int) -> list[str]:
        """The ops of pass ``p`` (0 is the cold pass), in order."""
        return self.ops

    def begin_pass(self, spark, p: int) -> None:
        pass

    def end_pass(self, spark, p: int) -> list[str]:
        return []

    def io_stats(self) -> tuple[int, int, int, int]:
        """(sink bytes, sink files, store bytes, store files)."""
        return 0, 0, 0, 0


class QueryWorkload(Workload):
    """One declared query per op, checked against its DuckDB oracle.

    ``spark.catalog.clearCache()`` runs before every op, so each op is
    priced standalone: without it, queries that share the session's
    persisted shingle and pair frames would price a cache hit."""

    item = "queries"

    @staticmethod
    def prepare(queries: tuple[str, ...], seed: int, work: str, cache_dir: str,
                scale: float) -> dict:
        from physicsnemo_curator_spark.plans.queries import QUERIES

        order = np.random.default_rng(seed).permutation(len(queries))
        sf_dir = os.path.join(work, "tables")
        input_bytes = gen.write_tables(seed, sf_dir, scale)
        expected = oracle.oracle_results(
            sf_dir, {q: QUERIES[q].oracle for q in queries}, cache_dir
        )
        return {"ops": [queries[i] for i in order], "sf_dir": sf_dir,
                "input_bytes": input_bytes, "expected": expected}

    def __init__(self, prep: dict) -> None:
        from physicsnemo_curator_spark.plans.queries import QUERIES

        self.ops = prep["ops"]
        self.specs = {q: QUERIES[q] for q in self.ops}
        self.sf_dir = prep["sf_dir"]
        self.input_bytes = prep["input_bytes"]
        self.expected = prep["expected"]

    def setup(self, spark) -> None:
        from physicsnemo_curator_spark.sources.tables import load_table

        for t in oracle.TABLES:
            load_table(spark, self.sf_dir, t)

    def items(self, op: str) -> int:
        return 1

    def run_op(self, spark, op: str, tracer):
        spark.catalog.clearCache()
        with tracer.span("plans.build"):
            df = self.specs[op].spark(spark, self.sf_dir)
        with tracer.span("plans.collect"):
            rows = df.collect()
        return df.columns, rows

    def check_op(self, spark, op: str, result) -> str | None:
        columns, rows = result
        want = self.expected[op]
        if sorted(columns) != want["columns"]:
            return f"columns {sorted(columns)} != oracle {want['columns']}"
        return oracle.compare(oracle.canon_rows(columns, rows), want["rows"])


def _shingles(text: str, k: int = 3) -> frozenset[str]:
    """Distinct word k-grams of ``text``, as the dedup operators build
    them (their text normalization is the identity on generated text)."""
    toks = text.split(" ")
    return frozenset(" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1))


class IngestWorkload(Workload):
    """One document batch per op through the ``examples/incremental_ingest.py``
    flow, in one long-lived session: MinHash store probe, drop the
    matches with a left-anti join, store append, incremental split
    assignment, sketch append, curated write.  Caches are never cleared,
    because what the session keeps between batches is what this
    workload watches.

    The cold pass first seeds empty stores with ``batch00`` (the
    example's first-batch path: store write, in-batch near-duplicate
    groups, leakage-free splits), then probes the later batches.  The
    stores as the seed left them are kept, and every warm pass starts
    from a fresh copy of them and probes the later batches again, so
    every warm op is the steady-state probe flow.

    The probe is checked against the generated texts.  A document whose
    word 3-gram set equals that of a stored document (or of a
    lower-id document in its own batch) must be dropped: its MinHash
    signature matches in every band.  A dropped document must share at
    least ``MAY_MATCH`` Jaccard with a stored or batch document: the
    probe estimates Jaccard from 32 hashes, so copies between that and
    1.0 may go either way, but unrelated documents may not go."""

    item = "documents"
    MIN_WARM_PASSES = 4
    N_BATCHES = 2
    BATCH_SIZE = 310
    WEIGHTS = {"train": 0.9, "val": 0.1}
    THRESHOLD = 0.8
    MAY_MATCH = 0.4

    @staticmethod
    def prepare(seed: int, work: str, n_batches: int, batch_size: int) -> dict:
        import pyarrow.parquet as pq

        paths = gen.ingest_batches(seed, os.path.join(work, "batches"), n_batches, batch_size)
        batches = [
            pq.read_table(p, columns=["doc_id", "text"]).to_pydict() for p in paths
        ]
        sh = {d: _shingles(t) for b in batches for d, t in zip(b["doc_id"], b["text"])}
        by_shingle: dict[str, list[int]] = {}
        for d, grams in sh.items():
            for g in grams:
                by_shingle.setdefault(g, []).append(d)
        exact, near = {}, {}
        for d, grams in sh.items():
            shared: dict[int, int] = {}
            for g in grams:
                for e in by_shingle[g]:
                    shared[e] = shared.get(e, 0) + 1
            shared.pop(d)
            exact[d] = [e for e, n in shared.items() if sh[e] == grams]
            near[d] = [e for e, n in shared.items()
                       if n / (len(grams) + len(sh[e]) - n) >= IngestWorkload.MAY_MATCH]
        return {"paths": paths, "batch_ids": [b["doc_id"] for b in batches],
                "input_bytes": sum(os.path.getsize(p) for p in paths),
                "exact": exact, "near": near, "root": os.path.join(work, "ingest")}

    def __init__(self, prep: dict) -> None:
        self.paths = prep["paths"]
        self.batch_ids = prep["batch_ids"]
        self.input_bytes = prep["input_bytes"]
        self.exact, self.near = prep["exact"], prep["near"]
        self.ops = [f"batch{b:02d}" for b in range(len(self.paths))]
        self.root = prep["root"]
        self.seeded = self.root + "-seeded"
        self.first_docs: set[int] | None = None
        self.stored: set[int] = set()
        self.survivors: dict[str, set[int]] = {}

    def _roots(self) -> dict[str, str]:
        return {k: os.path.join(self.root, k) for k in ("minhash", "split", "hll", "curated")}

    def setup(self, spark) -> None:
        os.makedirs(self.root, exist_ok=True)

    def pass_ops(self, p: int) -> list[str]:
        return self.ops if p == 0 else self.ops[1:]

    def begin_pass(self, spark, p: int) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        if p == 0:
            os.makedirs(self.root)
            self.stored, self.survivors = set(), {}
            return
        # Plain copies get new mtimes, so the program's store plan memo
        # sees a new store generation, as it would after a real seed.
        shutil.copytree(self.seeded, self.root, copy_function=shutil.copy)
        seed = set(self.batch_ids[0])
        self.stored, self.survivors = set(seed), {self.ops[0]: seed}

    def items(self, op: str) -> int:
        return len(self.batch_ids[self.ops.index(op)])

    def run_op(self, spark, op: str, tracer):
        from pyspark.sql import functions as F

        from physicsnemo_curator_spark.operators import components, dedup, sampling, sketches

        r = self._roots()
        b = self.ops.index(op)
        batch = spark.read.parquet(self.paths[b])
        losers = None
        if b == 0:
            survivors = batch
            with tracer.span("operators.dedup.append"):
                dedup.write_minhash_store(batch, r["minhash"], batch_id=op)
            with tracer.span("operators.sampling.assign"):
                pairs0 = dedup.minhash_near_duplicates(batch, threshold=self.THRESHOLD)
                groups0 = components.dedup_groups(pairs0.select("a", "b")).select(
                    "doc_id", "component"
                )
                assigned = sampling.leakage_free_splits(
                    batch, groups0, self.WEIGHTS, seed=7
                ).select("doc_id", "split", "component")
                sampling.write_split_store(assigned, r["split"], batch_id=op)
        else:
            with tracer.span("operators.dedup.probe"):
                pairs = dedup.incremental_near_duplicates(
                    spark, batch, r["minhash"], threshold=self.THRESHOLD, update_store=False
                )
            losers = pairs.select(F.col("b").alias("doc_id")).distinct()
            survivors = batch.join(losers, "doc_id", "left_anti")
            with tracer.span("operators.dedup.append"):
                dedup.write_minhash_store(survivors, r["minhash"], mode="append", batch_id=op)
            with tracer.span("operators.sampling.assign"):
                groups = components.dedup_groups(pairs.select("a", "b")).select(
                    "doc_id", "component"
                )
                assigned = sampling.assign_splits_incremental(
                    spark, survivors, groups, self.WEIGHTS, r["split"],
                    seed=7, update_store=True, batch_id=op,
                )
        with tracer.span("operators.sketches.append"):
            sketches.append_sketch_store(survivors, r["hll"], ["lang"], "doc_id", batch_id=op)
        with tracer.span("sinks.write"):
            survivors.join(assigned.select("doc_id", "split"), "doc_id").write.mode(
                "append"
            ).partitionBy("split").parquet(r["curated"])
        return losers

    def check_op(self, spark, op: str, losers) -> str | None:
        ids = self.batch_ids[self.ops.index(op)]
        batch = set(ids)
        if losers is None:  # the first batch seeds the stores and drops nothing
            self.survivors[op] = batch
            self.stored |= batch
            shutil.copytree(self.root, self.seeded)
            return None
        dropped = {row.doc_id for row in losers.collect()}
        must = {d for d in ids
                if any(e in self.stored or (e in batch and e < d) for e in self.exact[d])}
        may = {d for d in ids if any(e in self.stored or e in batch for e in self.near[d])}
        self.survivors[op] = batch - dropped
        self.stored |= batch - dropped
        if must - dropped:
            return f"exact copies kept: {sorted(must - dropped)[:5]}"
        if dropped - may:
            return f"unrelated documents dropped: {sorted(dropped - may)[:5]}"
        return None

    def end_pass(self, spark, p: int) -> list[str]:
        """Per-batch store and output checks, read once per pass with
        pyarrow, so the checks add no Spark jobs to the session."""
        import collections

        import pyarrow.dataset as ds

        def column(path: str, name: str) -> list:
            return ds.dataset(path, format="parquet", partitioning="hive",
                              ignore_prefixes=[".", "_SUCCESS"]).to_table(
                columns=[name]
            ).column(name).to_pylist()

        r = self._roots()
        errors = []
        sigs = collections.Counter(column(os.path.join(r["minhash"], "signatures"), "_batch"))
        split_counts = collections.Counter(column(r["split"], "doc_id"))
        curated = set(column(r["curated"], "doc_id"))
        for op, ids in zip(self.ops, self.batch_ids):
            surv = self.survivors.get(op)
            if surv is None:
                continue
            written = curated & set(ids)
            if written != surv:
                errors.append(f"{op}: {len(written)} written + {len(ids) - len(surv)} dropped "
                              f"!= {len(ids)} in")
            bad = [d for d in surv if split_counts.get(d) != 1]
            if bad:
                errors.append(f"{op}: {len(bad)} survivors not in the split store once")
            if sigs.get(op, 0) != len(surv):
                errors.append(f"{op}: store gained {sigs.get(op, 0)} signatures "
                              f"for {len(surv)} survivors")
        if self.first_docs is None:
            self.first_docs = curated
        elif curated != self.first_docs:
            errors.append("curated: doc set differs from the first pass")
        return errors

    def io_stats(self) -> tuple[int, int, int, int]:
        r = self._roots()
        sb, sf = dir_stats(r["curated"])
        tb, tf = dir_stats(r["minhash"], r["split"], r["hll"])
        return sb, sf, tb, tf


class MeshWorkload(Workload):
    """One run of the mesh curation pipeline per op: ``vtk_mesh`` scan,
    duplicate-point merge and connectivity remap, quality report, moment
    statistics, partitioned write.  Each op reads its own seed-generated
    .vtu directory; files cycle through the four VTK XML encodings."""

    item = "mesh points"
    N_DIRS = 2
    N_MESHES = 4
    GRID = 12

    @staticmethod
    def prepare(seed: int, work: str, n_dirs: int, n_meshes: int, grid: int) -> dict:
        rng = np.random.default_rng(seed)
        dirs, truth = {}, {}
        for d in range(n_dirs):
            op = f"meshdir{d}"
            dirs[op] = os.path.join(work, "vtu", op)
            truth[op] = gen.meshes(int(rng.integers(0, 2**31)), dirs[op], n_meshes, grid)
        return {"dirs": dirs, "truth": truth,
                "ops": [list(dirs)[i] for i in rng.permutation(n_dirs)],
                "input_bytes": sum(dir_stats(p)[0] for p in dirs.values()),
                "out": os.path.join(work, "curated")}

    def __init__(self, prep: dict) -> None:
        self.dirs, self.truth, self.ops = prep["dirs"], prep["truth"], prep["ops"]
        self.input_bytes, self.out = prep["input_bytes"], prep["out"]

    def setup(self, spark) -> None:
        from physicsnemo_curator_spark.sources import mesh_datasource

        mesh_datasource.register(spark)
        os.makedirs(self.out, exist_ok=True)

    def items(self, op: str) -> int:
        return sum(t["points"] for t in self.truth[op].values())

    def run_op(self, spark, op: str, tracer):
        from pyspark.sql import functions as F

        from physicsnemo_curator_spark.operators import mesh, quality, stats
        from physicsnemo_curator_spark.sinks.partitioned import write_partitioned

        def scan(table):
            return (
                spark.read.format("vtk_mesh").option("table", table)
                .option("glob", "*.vtu").load(self.dirs[op])
            )

        points, cells, pdata = scan("points"), scan("cells"), scan("point_data")
        with tracer.span("operators.mesh.clean"):
            cpoints, remap = mesh.merge_duplicate_points(points, tol=1e-6)
            ccells = mesh.remap_connectivity(cells, remap)
            n_points = dict(cpoints.groupBy("mesh_id").count().collect())
            n_cells = dict(ccells.groupBy("mesh_id").count().collect())
        with tracer.span("operators.quality.report"):
            report = quality.mesh_quality_report(cpoints, ccells).collect()
        with tracer.span("operators.stats.moments"):
            moments = stats.moment_stats(
                pdata.filter(F.col("field").isin("temp", "pressure")), ["field"], "value"
            ).collect()
        out = os.path.join(self.out, op)
        with tracer.span("sinks.write"):
            write_partitioned(cpoints, os.path.join(out, "points"), ["mesh_id"])
            write_partitioned(ccells, os.path.join(out, "cells"), ["mesh_id"])
        return n_points, n_cells, report, moments

    def check_op(self, spark, op: str, result) -> str | None:
        n_points, n_cells, report, moments = result
        truth = self.truth[op]
        want_pts = {m: t["unique_points"] for m, t in truth.items()}
        want_cells = {m: t["cells"] for m, t in truth.items()}
        if n_points != want_pts:
            return f"unique points {n_points} != {want_pts}"
        if n_cells != want_cells:
            return f"cells {n_cells} != {want_cells}"
        if sorted(r.mesh_id for r in report) != sorted(truth):
            return f"quality rows for {sorted(r.mesh_id for r in report)}"
        for r in moments:
            vals = np.concatenate([t[r.field] for t in truth.values()])
            for got, want in ((r.n, len(vals)), (r.mean, vals.mean()), (r.var_pop_v, vals.var())):
                if not np.isclose(got, want, rtol=1e-9, atol=0.0):
                    return f"moment_stats {r.field}: {got} != numpy {want}"
        if sorted(r.field for r in moments) != ["pressure", "temp"]:
            return f"moment_stats fields {[r.field for r in moments]}"
        out = os.path.join(self.out, op)
        for table, want in (("points", want_pts), ("cells", want_cells)):
            got = dict(spark.read.parquet(os.path.join(out, table)).groupBy("mesh_id")
                       .count().collect())
            if got != want:
                return f"written {table} rows {got} != {want}"
        return None

    def io_stats(self) -> tuple[int, int, int, int]:
        sb, sf = dir_stats(self.out)
        return sb, sf, 0, 0
