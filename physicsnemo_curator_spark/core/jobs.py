"""Spark job labels: which operator step submitted a job.

``job_label`` sets the Spark job *description* (``spark.job.description``)
to ``operator/step`` while an operator runs an action, so the event log,
the Spark UI and ``tools/job_trace.py`` name the step behind every job.
It leaves the job *group* alone: callers count and cancel jobs by their
own group.  The description is a thread-local property that AQE's
query-stage submissions inherit, so every stage job of the action
carries the label.
"""

from __future__ import annotations

from contextlib import contextmanager

__all__ = ["job_label"]

_DESCRIPTION = "spark.job.description"


@contextmanager
def job_label(spark, label: str):
    """Run the block with the job description set to ``label``, then
    restore the description that was set before (or none)."""
    sc = spark.sparkContext
    old = sc.getLocalProperty(_DESCRIPTION)
    sc.setLocalProperty(_DESCRIPTION, label)
    try:
        yield
    finally:
        sc.setLocalProperty(_DESCRIPTION, old)
