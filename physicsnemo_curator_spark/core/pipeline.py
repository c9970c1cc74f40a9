"""Immutable, lazy pipeline builder with resumable execution.

Parity map to the reference (``core/base.py``):

- ``Pipeline`` immutable builder whose ``.transform()`` / ``.write()``
  return new pipelines (reference ``core/base.py:387-502``) — here the
  spec is data (name + params per stage) and ``build()`` assembles the
  lazy DataFrame; Catalyst replaces the generator chain.
- Config-hash identity: the pipeline's identity is the SHA-256 of its
  canonical serialized spec (reference ``core/pipeline_store.py:
  471-516``), which keys the resume manifest.
- Resume: completed partitions are skipped on re-run (reference
  ``core/base.py:597-602``, ``test_checkpoint.py`` semantics) via the
  manifest table instead of SQLite.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from physicsnemo_curator_spark.core import registry
from physicsnemo_curator_spark.core.jobs import job_label
from physicsnemo_curator_spark.core.manifest import Manifest
from physicsnemo_curator_spark.core.store import release


@dataclass(frozen=True)
class Stage:
    name: str
    params: dict[str, Any] = field(default_factory=dict)

    def to_dict(self) -> dict[str, Any]:
        return {"name": self.name, "params": self.params}


@dataclass(frozen=True)
class RunResult:
    spec_hash: str
    written: list[str]
    rows: int
    skipped_partitions: list[Any]
    wall_time_s: float


@dataclass(frozen=True)
class Pipeline:
    source: Stage
    transforms: tuple[Stage, ...] = ()
    sink: Stage | None = None

    # -- construction (immutable builder) ---------------------------------

    @classmethod
    def read(cls, name: str, **params: Any) -> Pipeline:
        return cls(source=Stage(name, params))

    def transform(self, name: str, **params: Any) -> Pipeline:
        return Pipeline(self.source, (*self.transforms, Stage(name, params)), self.sink)

    def write(self, name: str, **params: Any) -> Pipeline:
        return Pipeline(self.source, self.transforms, Stage(name, params))

    # -- identity ----------------------------------------------------------

    def to_dict(self) -> dict[str, Any]:
        return {
            "version": 1,
            "source": self.source.to_dict(),
            "transforms": [t.to_dict() for t in self.transforms],
            "sink": self.sink.to_dict() if self.sink else None,
        }

    @property
    def spec_hash(self) -> str:
        def _stable(o: Any) -> str:
            # only types with a process-independent string form may be
            # hashed; default=str would silently stringify arbitrary
            # objects into id()-bearing reprs, changing the pipeline's
            # identity every process (resume would never find progress)
            import datetime
            import decimal

            if isinstance(o, (datetime.date, datetime.datetime)):
                return o.isoformat()
            if isinstance(o, decimal.Decimal):
                return str(o)
            raise TypeError(
                f"pipeline param of type {type(o).__name__} is not "
                "JSON-serializable; pass a stable primitive instead"
            )

        canonical = json.dumps(self.to_dict(), sort_keys=True, default=_stable)
        return hashlib.sha256(canonical.encode()).hexdigest()

    # -- lazy plan ----------------------------------------------------------

    def build(self, spark: SparkSession) -> DataFrame:
        """Assemble the lazy DataFrame (no execution — Catalyst plans)."""
        df = registry.get_source(self.source.name)(spark, **self.source.params)
        for t in self.transforms:
            df = registry.get_transform(t.name)(df, **t.params)
        return df

    # -- actions -------------------------------------------------------------

    def run(
        self,
        spark: SparkSession,
        *,
        resume: bool = False,
        partition_col: str | None = None,
        manifest_dir: str | None = None,
    ) -> RunResult:
        """Execute source → transforms → sink.

        With ``resume=True`` and a ``partition_col``, partitions already
        recorded in the manifest for this spec-hash are filtered out
        before the write (reference checkpoint fast path,
        ``core/base.py:597-602``) and newly completed ones recorded
        after — failed/missing partitions re-run on the next invocation
        because they were never marked.
        """
        if self.sink is None:
            raise ValueError("pipeline has no sink; call .write(...) first")
        t0 = time.perf_counter()
        df = self.build(spark)

        skipped: list[Any] = []
        manifest: Manifest | None = None
        if resume:
            if not (partition_col and manifest_dir):
                raise ValueError("resume=True requires partition_col and manifest_dir")
            # a whole-path overwrite sink would DELETE the output of
            # previously-completed partitions while the manifest still
            # marks them done — silent, unrecoverable data loss.  The
            # resume contract needs an append / per-partition sink.
            mode = self.sink.params.get("mode")
            if mode == "overwrite" or (
                mode is None and self.sink.name in ("parquet", "csv", "json")
            ):
                raise ValueError(
                    "resume=True with a whole-path overwrite sink would "
                    "delete completed partitions' output; use "
                    "mode='append' (completed partitions are filtered "
                    "out, so appends never duplicate)"
                )
            manifest = Manifest(manifest_dir, self.spec_hash)
            done = manifest.completed()  # canonical strings (+ None)
            if done:
                done_strs = sorted(v for v in done if v is not None)
                none_done = None in done
                skipped = list(done_strs) + ([None] if none_done else [])
                pcol = df[partition_col].cast("string")
                # three-valued logic guards: a NULL partition value must
                # not silently vanish from ~isin, and NULL in the done
                # list must not poison the whole predicate
                keep = (
                    F.coalesce(~pcol.isin(done_strs), F.lit(True))
                    if done_strs
                    else F.lit(True)
                )
                if none_done:
                    keep = keep & df[partition_col].isNotNull()
                df = df.filter(keep)

        # count + write must not execute the plan twice: pin the result
        # once (spills to disk if needed) BEFORE collecting pending
        # partitions, so the distinct scan, the count, and the write all
        # share one materialization.  On a 100 TB input each recompute
        # would re-run the whole job.
        df = df.persist()
        try:
            pending: list[Any] = []
            if manifest is not None:
                # The resume bookkeeping collects DISTINCT partition
                # values to the driver — fine for date/variable keys
                # (hundreds to thousands of values) but an OOM hazard if
                # someone points checkpointing at a high-cardinality
                # column (doc id, timestamp).  limit(cap+1) bounds the
                # collect itself, so the failure is a loud ValueError,
                # not a dead driver.
                cap = int(
                    os.environ.get(
                        "SPARK_GRAFT_RESUME_PARTITION_CAP", "100000"
                    )
                )
                with job_label(spark, "pipeline.run/pending"):
                    vals = (
                        df.select(partition_col)
                        .distinct()
                        .limit(cap + 1)
                        .collect()
                    )
                if len(vals) > cap:
                    raise ValueError(
                        f"checkpoint partition column {partition_col!r} has "
                        f"more than {cap} distinct values — resume tracking "
                        "collects them to the driver, which does not scale "
                        "to high-cardinality keys. Use a coarser partition "
                        "column (date, variable, shard), or raise "
                        "SPARK_GRAFT_RESUME_PARTITION_CAP if the driver "
                        "has memory for it."
                    )
                pending = [r[0] for r in vals]
                if not pending:
                    return RunResult(
                        self.spec_hash, [], 0, skipped, time.perf_counter() - t0
                    )
            with job_label(spark, "pipeline.run/count"):
                rows = df.count()
            with job_label(spark, f"pipeline.run/write:{self.sink.name}"):
                written = registry.get_sink(self.sink.name)(df, **self.sink.params)
        finally:
            release(df)
        if manifest is not None:
            manifest.mark_completed(pending)
        return RunResult(
            self.spec_hash, written, rows, skipped, time.perf_counter() - t0
        )

    # -- serialization (YAML round-trip) --------------------------------------

    def save(self, path: str) -> None:
        from physicsnemo_curator_spark.core.serialization import save_pipeline

        save_pipeline(self, path)

    @classmethod
    def load(cls, path: str) -> Pipeline:
        from physicsnemo_curator_spark.core.serialization import load_pipeline

        return load_pipeline(path)
