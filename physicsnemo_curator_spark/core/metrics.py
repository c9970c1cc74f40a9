"""Run metrics: the engine's replacement for the reference's SQLite
metrics store.

The reference persists per-index wall time / memory / stage breakdowns
into SQLite (reference ``core/pipeline_store.py:541-626``) and
aggregates them for the dashboard (``dashboard/data.py:34-332``).  On
Spark, task-level metrics already live in the event log / UI; what the
engine still owns is the *run ledger*: one record per pipeline
execution (spec hash, rows, wall time, outputs), appended to a parquet
table that Spark SQL can query — the ``pipeline_runs`` /
``index_results`` analogue with the WAL concurrency problem deleted.
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import asdict

from pyspark.sql import DataFrame, SparkSession

def _seq() -> int:
    """Tie-break key for same-epoch-second records: wall-clock
    nanoseconds.  A per-process counter would restart at 0 in every
    worker/retried driver, letting a fresh retry record LOSE the
    latest-record-wins resolution to a stale one; ns wall time orders
    appends within a process strictly (consecutive calls differ) and
    across processes to clock precision — the best available without a
    coordination service, and 10^9× finer than the epoch column."""
    return time.time_ns()

RUN_SCHEMA = (
    "run_id string, spec_hash string, rows long, wall_time_s double, "
    "written array<string>, skipped long, finished_at_epoch long"
)

# per-unit-of-work record (reference ``index_results``: one row per
# pipeline index, core/pipeline_store.py:541-626)
INDEX_SCHEMA = (
    "run_id string, idx long, worker_id string, status string, "
    "wall_time_s double, peak_memory_mb double, error string, "
    "finished_at_epoch long, seq long"
)

# per-(index, stage) timing record (reference ``StageMetrics``)
STAGE_SCHEMA = (
    "run_id string, idx long, stage_name string, stage_order int, "
    "wall_time_s double"
)


class MetricsStore:
    def __init__(self, metrics_dir: str) -> None:
        self.path = os.path.join(metrics_dir, "pipeline_runs")
        self.index_path = os.path.join(metrics_dir, "index_results")
        self.stage_path = os.path.join(metrics_dir, "stage_results")

    def record(self, spark: SparkSession, result) -> str:
        """Append one run record (RunResult-shaped)."""
        run_id = uuid.uuid4().hex[:12]
        rec = asdict(result)
        row = (
            run_id,
            rec["spec_hash"],
            rec["rows"],
            float(rec["wall_time_s"]),
            rec["written"],
            len(rec["skipped_partitions"]),
            int(time.time()),
        )
        spark.createDataFrame([row], RUN_SCHEMA).write.mode("append").parquet(
            self.path
        )
        return run_id

    def runs(self, spark: SparkSession) -> DataFrame:
        try:
            return spark.read.parquet(self.path)
        except Exception:
            # fresh store (or retention removed the table): empty
            # history, matching the dashboard frames' behavior
            return spark.createDataFrame([], RUN_SCHEMA)

    def summary(self, spark: SparkSession) -> DataFrame:
        """Totals/means per spec hash (reference ``PipelineMetrics.summary``,
        ``core/pipeline_store.py:208-238``)."""
        from pyspark.sql import functions as F

        return self.runs(spark).groupBy("spec_hash").agg(
            F.count(F.lit(1)).alias("n_runs"),
            F.sum("rows").alias("total_rows"),
            F.avg("wall_time_s").alias("avg_wall_time_s"),
            F.sum("wall_time_s").alias("total_wall_time_s"),
            F.max("finished_at_epoch").alias("last_run_epoch"),
        )

    # -- per-index / per-stage recording -----------------------------------

    def record_index_results(
        self, spark: SparkSession, run_id: str, records: list[dict]
    ) -> None:
        """Append per-unit records: dicts with ``idx`` and optionally
        ``worker_id``, ``status``, ``wall_time_s``, ``peak_memory_mb``,
        ``error`` (reference index_results rows)."""
        now = int(time.time())
        rows = [
            (
                run_id,
                int(r["idx"]),
                str(r.get("worker_id", "")),
                str(r.get("status", "completed")),
                float(r.get("wall_time_s", 0.0)),
                float(r.get("peak_memory_mb", 0.0)),
                str(r.get("error", "")),
                now,
                _seq(),
            )
            for r in records
        ]
        spark.createDataFrame(rows, INDEX_SCHEMA).write.mode("append").parquet(
            self.index_path
        )

    def record_stage_results(
        self, spark: SparkSession, run_id: str, records: list[dict]
    ) -> None:
        """Append per-(index, stage) timings: dicts with ``idx``,
        ``stage_name``, ``stage_order``, ``wall_time_s``."""
        rows = [
            (
                run_id,
                int(r["idx"]),
                str(r["stage_name"]),
                int(r.get("stage_order", 0)),
                float(r.get("wall_time_s", 0.0)),
            )
            for r in records
        ]
        spark.createDataFrame(rows, STAGE_SCHEMA).write.mode("append").parquet(
            self.stage_path
        )

    # -- dashboard SQL frames (reference dashboard/data.py:34-332) ---------

    def _frame(
        self,
        spark: SparkSession,
        path: str,
        view: str,
        run_id: str | None = None,
    ) -> bool:
        from pyspark.sql import functions as F

        from physicsnemo_curator_spark.core.store import read_optional_parquet

        # a ledger not written yet is expected (no Spark job for an
        # absent local path; s3a/hdfs paths are read and only a missing
        # path counts as absent); any other read failure propagates
        df = read_optional_parquet(spark, path)
        if df is None:
            return False
        if run_id is not None:
            # DataFrame-side equality — run_id is caller-supplied text
            # and must never be spliced into SQL
            df = df.filter(F.col("run_id") == run_id)
        df.createOrReplaceTempView(view)
        return True

    def index_df(self, spark: SparkSession, run_id: str | None = None) -> DataFrame:
        """Per-index frame — columns ``idx, status, wall_time_s,
        peak_memory_mb, error`` ordered by idx (reference
        ``DashboardStore.index_df``, dashboard/data.py:88-135; a failed
        index appears with its error, exactly one row per idx via
        latest-record-wins)."""
        if not self._frame(spark, self.index_path, "pcs_index_results", run_id):
            return spark.createDataFrame([], INDEX_SCHEMA).select(
                "idx", "status", "wall_time_s", "peak_memory_mb", "error"
            )
        return spark.sql(
            f"""
            SELECT idx, status, wall_time_s, peak_memory_mb, error
            FROM (
              SELECT *, ROW_NUMBER() OVER (
                PARTITION BY idx ORDER BY finished_at_epoch DESC, seq DESC
              ) AS _rn
              FROM pcs_index_results
            ) WHERE _rn = 1
            ORDER BY idx
            """
        )

    def stage_df(self, spark: SparkSession, run_id: str | None = None) -> DataFrame:
        """Per-stage frame — ``idx, stage_name, stage_order,
        wall_time_s`` (reference ``DashboardStore.stage_df``,
        dashboard/data.py:140-167)."""
        if not self._frame(spark, self.stage_path, "pcs_stage_results", run_id):
            return spark.createDataFrame([], STAGE_SCHEMA).select(
                "idx", "stage_name", "stage_order", "wall_time_s"
            )
        return spark.sql(
            f"""
            SELECT idx, stage_name, stage_order, wall_time_s
            FROM pcs_stage_results
            ORDER BY idx, stage_order
            """
        )

    def run_summary_df(
        self,
        spark: SparkSession,
        total: int | None = None,
        run_id: str | None = None,
    ) -> DataFrame:
        """Run-state summary frame — one row: ``total, completed,
        failed, remaining, total_elapsed_s, workers`` (reference
        ``PipelineStore.summary``, core/pipeline_store.py:1248-1294,
        surfaced by ``DashboardStore.summary``; config_hash/db_path are
        SQLite identity fields the parquet ledger replaces with
        run_id).  ``total=None`` falls back to the recorded index
        count, exactly like the reference's stored-total fallback
        (dashboard/data.py:180-188).  Latest-record-wins per idx, so a
        retried index is counted once."""
        have = self._frame(spark, self.index_path, "pcs_index_results", run_id)
        if not have:
            t = int(total or 0)
            return spark.createDataFrame(
                [(t, 0, 0, t, 0.0, 0)],
                "total long, completed long, failed long, remaining long, "
                "total_elapsed_s double, workers long",
            )
        total_sql = (
            str(int(total))
            if total is not None
            else "(SELECT COUNT(*) FROM latest)"
        )
        return spark.sql(
            f"""
            WITH latest AS (
              SELECT * FROM (
                SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY idx ORDER BY finished_at_epoch DESC, seq DESC
                ) AS _rn
                FROM pcs_index_results
              ) WHERE _rn = 1
            )
            SELECT CAST({total_sql} AS BIGINT) AS total,
                   COALESCE(SUM(CASE WHEN status = 'completed'
                                     THEN 1 ELSE 0 END), 0)
                     AS completed,
                   COALESCE(SUM(CASE WHEN status <> 'completed'
                                     THEN 1 ELSE 0 END), 0)
                     AS failed,
                   CAST({total_sql} AS BIGINT) - COUNT(*) AS remaining,
                   COALESCE(SUM(CASE WHEN status = 'completed'
                                     THEN wall_time_s END), 0.0)
                     AS total_elapsed_s,
                   COUNT(DISTINCT worker_id) AS workers
            FROM latest
            """
        )

    def dashboard_views(
        self,
        spark: SparkSession,
        total: int | None = None,
        run_id: str | None = None,
    ) -> dict[str, DataFrame]:
        """The reference dashboard's four reactive frames
        (``DashboardStore.index_df/stage_df/workers_df/summary``,
        dashboard/data.py:34-332) as Spark DataFrames, each also
        registered as a temp view ``pcs_dash_<name>`` so a SQL
        dashboard can query them directly — the data half of the
        reference's Panel app.  Each frame snapshots the ledger's file
        listing at creation (Spark caches the parquet file index), so
        records appended later are NOT visible through the existing
        views: re-calling ``dashboard_views`` is the refresh event,
        exactly like the reference's ``refresh`` param trigger."""
        frames = {
            "index": self.index_df(spark, run_id),
            "stage": self.stage_df(spark, run_id),
            "workers": self.workers_df(spark, run_id),
            "summary": self.run_summary_df(spark, total, run_id),
        }
        for name, df in frames.items():
            df.createOrReplaceTempView(f"pcs_dash_{name}")
        return frames

    def dashboard_report(
        self,
        spark: SparkSession,
        total: int | None = None,
        run_id: str | None = None,
        top_k: int = 10,
    ) -> str:
        """Render the four dashboard frames into one plain-text run
        report — the engine's stand-in for the reference's Textual
        render layer (reference ``dashboard/app.py:39+`` widgets over
        ``dashboard/data.py:34-332`` frames; SURVEY §2.8 keeps the TUI
        itself out of engine scope, this report closes the row's data
        +presentation surface without one).

        Driver-side cost is bounded: the summary is one row, workers is
        O(workers), the stage table is a grouped aggregate O(stages),
        and only the ``top_k`` slowest indices plus failed indices are
        collected — never the full index ledger.  Formatting is
        deterministic (fixed float widths, epoch integers), so the
        report is golden-testable against a seeded ledger."""
        from pyspark.sql import functions as F

        frames = self.dashboard_views(spark, total, run_id)
        s = frames["summary"].collect()[0]
        lines = [
            "PIPELINE RUN REPORT",
            "===================",
            "",
            "Summary",
            (
                f"  total={s['total']}  completed={s['completed']}  "
                f"failed={s['failed']}  remaining={s['remaining']}"
            ),
            f"  elapsed_completed_s={s['total_elapsed_s']:.3f}  "
            f"workers={s['workers']}",
            "",
        ]

        def table(title: str, rows: list, cols: list[str]) -> None:
            lines.append(title)
            if not rows:
                lines.append("  (none)")
                lines.append("")
                return
            cells = [
                [
                    f"{r[c]:.3f}" if isinstance(r[c], float) else str(r[c])
                    for c in cols
                ]
                for r in rows
            ]
            widths = [
                max(len(c), *(len(row[i]) for row in cells))
                for i, c in enumerate(cols)
            ]
            lines.append(
                ("  " + "  ".join(c.ljust(w) for c, w in zip(cols, widths))).rstrip()
            )
            for row in cells:
                lines.append(
                    ("  " + "  ".join(v.ljust(w) for v, w in zip(row, widths))).rstrip()
                )
            lines.append("")

        table(
            "Workers",
            frames["workers"].collect(),
            [
                "worker_id",
                "completed",
                "failed",
                "last_heartbeat_epoch",
                "current_idx",
            ],
        )
        stage_rows = (
            frames["stage"]
            .groupBy("stage_name", "stage_order")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.avg("wall_time_s").alias("mean_s"),
                F.sum("wall_time_s").alias("total_s"),
            )
            .orderBy("stage_order", "stage_name")
            .collect()
        )
        table(
            "Stages",
            stage_rows,
            ["stage_name", "stage_order", "n", "mean_s", "total_s"],
        )
        slow = (
            frames["index"]
            .orderBy(F.desc("wall_time_s"), "idx")
            .limit(top_k)
            .collect()
        )
        table(
            f"Slowest indices (top {top_k})",
            slow,
            ["idx", "status", "wall_time_s", "peak_memory_mb"],
        )
        failures = (
            frames["index"]
            .filter(F.col("status") != "completed")
            .orderBy("idx")
            .limit(top_k)
            .collect()
        )
        # the section must announce truncation: the summary may say
        # failed=500 while only top_k rows print
        fail_title = "Failures"
        if s["failed"] > len(failures):
            fail_title = f"Failures (first {len(failures)} of {s['failed']})"
        table(fail_title, failures, ["idx", "status", "error"])
        return "\n".join(lines)

    def workers_df(self, spark: SparkSession, run_id: str | None = None) -> DataFrame:
        """Per-worker frame — ``worker_id, completed, failed,
        last_heartbeat_epoch, current_idx`` (reference
        ``DashboardStore.workers_df``, dashboard/data.py:196-229, with
        completed/failed computed from actual index results exactly as
        the reference does; pid/hostname are process-pool concepts Spark
        replaces with executor IDs)."""
        if not self._frame(spark, self.index_path, "pcs_index_results", run_id):
            return spark.createDataFrame(
                [],
                "worker_id string, completed long, failed long, "
                "last_heartbeat_epoch long, current_idx long",
            )
        return spark.sql(
            f"""
            SELECT worker_id,
                   SUM(CASE WHEN status = 'completed' THEN 1 ELSE 0 END)
                     AS completed,
                   SUM(CASE WHEN status <> 'completed' THEN 1 ELSE 0 END)
                     AS failed,
                   MAX(finished_at_epoch) AS last_heartbeat_epoch,
                   -- seq tie-break: same-second records (common when a
                   -- batch of results lands together) must resolve to
                   -- the LAST inserted, not an arbitrary one
                   MAX_BY(idx, STRUCT(finished_at_epoch, seq))
                     AS current_idx
            FROM pcs_index_results
            GROUP BY worker_id
            ORDER BY worker_id
            """
        )
