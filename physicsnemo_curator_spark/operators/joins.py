"""Join strategy helpers: skew salting, bucketed co-location.

AQE's skew-join splitting handles most skew at runtime
(``spark.sql.adaptive.skewJoin.enabled``, on in the session defaults);
``salted_join`` is the explicit form for joins AQE can't split (e.g.
skewed aggregation keys, or a hot key joining a non-broadcastable
side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    key: str,
    *,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join where ``skewed`` has hot keys: salt the skewed side
    with a random-ish shard id derived from stable row content, and
    explode ``other`` across all shards — the hot key's rows spread
    over ``salt`` reducers instead of one.

    other grows ×salt, so use it when other is small-ish but above the
    broadcast threshold, or when AQE skew-split is unavailable
    (aggregation-free plans, non-AQE clusters).

    Only ``inner`` and ``left`` joins are valid: in a right/full outer
    join every unmatched exploded copy of an ``other`` row would emit
    its own null-padded output row (up to ``salt`` spurious rows per
    right row).
    """
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(
            f"salted_join supports inner/left joins only, got {how!r} "
            "(outer joins on the exploded side emit spurious rows)"
        )
    skewed_s = skewed.withColumn(
        "_salt", F.pmod(F.xxhash64(*skewed.columns), F.lit(salt)).cast("int")
    )
    other_s = other.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    out = skewed_s.join(other_s, [key, "_salt"], how)
    return out.drop("_salt")

