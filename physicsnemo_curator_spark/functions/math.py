"""Scalar math kernels as Catalyst column expressions.

Each mirrors a vectorized kernel in the reference (SURVEY.md §2.4) but
compiles to JVM codegen instead of a Python/Rust loop — at 100 TB these
run inside the parquet scan stage with zero Python cost.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def von_mises(sx: Column, sy: Column, sz: Column, txy: Column, tyz: Column, tzx: Column) -> Column:
    """Von Mises stress from a Voigt 6-vector.

    Reference kernels: ``domains/mesh/sources/openradioss.py:64-84``,
    ``domains/mesh/sources/d3plot.py:313-333`` (and the Rust variant).
    """
    return F.sqrt(
        0.5 * ((sx - sy) ** 2 + (sy - sz) ** 2 + (sz - sx) ** 2)
        + 3.0 * (txy**2 + tyz**2 + tzx**2)
    )


def l2_norm(dx: Column, dy: Column, dz: Column) -> Column:
    """Edge-length / displacement-magnitude kernel (quality metrics)."""
    return F.sqrt(dx * dx + dy * dy + dz * dz)


def cross3(ax, ay, az, bx, by, bz) -> tuple[Column, Column, Column]:
    return (ay * bz - az * by, az * bx - ax * bz, ax * by - ay * bx)


def interior_angle(cos_theta: Column) -> Column:
    """acos of a clamped cosine — triangle interior angles
    (reference ``domains/mesh/filters/quality.py:147-177``)."""
    return F.acos(F.greatest(F.least(cos_theta, F.lit(1.0)), F.lit(-1.0)))


def aspect_ratio(e0: Column, e1: Column, e2: Column) -> Column:
    """max edge / min edge (reference ``quality.py:300-329``)."""
    return F.greatest(e0, e1, e2) / F.least(e0, e1, e2)


def equiangle_skewness(theta_max: Column, theta_min: Column, theta_equi: float) -> Column:
    """Equiangle skew clamped to [0,1] (reference ``quality.py:332-355``)."""
    s = F.greatest(
        (theta_max - F.lit(theta_equi)) / F.lit(math.pi - theta_equi),
        (F.lit(theta_equi) - theta_min) / F.lit(theta_equi),
    )
    return F.greatest(F.least(s, F.lit(1.0)), F.lit(0.0))


def nan_count(v: Column) -> Column:
    """Aggregate: count of NaN values (reference ``quality.py:692-738``)."""
    return F.count_if(F.isnan(v))


def inf_count(v: Column) -> Column:
    """Aggregate: count of ±Inf values."""
    return F.count_if(F.abs(v) == F.lit(float("inf")))
