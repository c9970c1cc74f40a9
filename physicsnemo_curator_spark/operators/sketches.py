"""Mergeable cardinality sketches: incremental distinct counts at scale.

A 100 TB pipeline tracks per-partition/per-day distinct counts (users,
documents, vocab) without re-scanning history.  Exact COUNT(DISTINCT)
is not mergeable — yesterday's number plus today's number double-counts
the overlap — but HyperLogLog sketches union losslessly: persist one
small binary sketch per (group, batch), merge any subset later, and
estimate within ~1.6 % (lgConfigK=12 default).  Spark ships the Apache
DataSketches HLL as first-class expressions (``hll_sketch_agg`` /
``hll_union_agg`` / ``hll_sketch_estimate``, JVM-side, partial-agg
friendly); these operators wrap them into the persisted-store workflow
matching the engine's other incremental state (Welford power sums in
``operators/stats.py``, the MinHash store in ``operators/dedup.py``).
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from physicsnemo_curator_spark.core.jobs import job_label

__all__ = [
    "distinct_sketches",
    "merge_sketch_tables",
    "estimate_distinct",
    "append_sketch_store",
    "read_sketch_store",
    "value_histograms",
    "merge_histogram_tables",
    "histogram_quantiles",
    "bloom_filters",
    "merge_bloom_tables",
    "bloom_might_contain",
    "cms_sketches",
    "merge_cms_tables",
    "cms_estimate",
    "append_bloom_store",
    "probe_bloom_store",
    "list_bloom_store_batches",
]


def distinct_sketches(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    *,
    lg_config_k: int = 12,
    sketch_col: str = "sketch",
) -> DataFrame:
    """One HLL sketch of ``value_col``'s distinct values per group —
    a partial+final hash aggregate; each sketch is ~2^lgConfigK bytes
    regardless of group size."""
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(value_col, F.lit(lg_config_k)).alias(sketch_col)
    )


def merge_sketch_tables(
    sketches: DataFrame,
    group_cols: list[str],
    *,
    sketch_col: str = "sketch",
) -> DataFrame:
    """Union sketches per group across batches — the mergeability that
    exact distinct counts lack.  Input may mix lgConfigK values
    (allowDifferentLgConfigK=true keeps the coarser precision)."""
    return sketches.groupBy(*group_cols).agg(
        F.hll_union_agg(sketch_col, F.lit(True)).alias(sketch_col)
    )


def estimate_distinct(
    sketches: DataFrame,
    *,
    sketch_col: str = "sketch",
    out_col: str = "n_distinct",
) -> DataFrame:
    """Replace the binary sketch with its cardinality estimate."""
    return sketches.withColumn(
        out_col, F.hll_sketch_estimate(sketch_col)
    ).drop(sketch_col)


def append_sketch_store(
    df: DataFrame,
    store: str,
    group_cols: list[str],
    value_col: str,
    *,
    batch_id: str,
    lg_config_k: int = 12,
) -> None:
    """Sketch this batch and append it to the store partitioned by
    ``batch_id`` — idempotent re-runs overwrite only their own batch
    partition (dynamic partition overwrite)."""
    sk = distinct_sketches(
        df, group_cols, value_col, lg_config_k=lg_config_k
    ).withColumn("batch_id", F.lit(batch_id))
    with job_label(df.sparkSession, "sketches.append_sketch_store/write"):
        sk.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("batch_id").parquet(store)


def read_sketch_store(
    spark: SparkSession,
    store: str,
    group_cols: list[str],
    *,
    batches: list[str] | None = None,
) -> DataFrame:
    """Merged per-group estimates over all (or selected) batches.
    Partition pruning keeps a batch subset scan proportional to the
    subset, not the store."""
    sk = spark.read.parquet(store)
    if batches is not None:
        sk = sk.filter(F.col("batch_id").isin(batches))
    return estimate_distinct(merge_sketch_tables(sk, group_cols))


# --- Mergeable quantile sketches: fixed-bin histograms ---------------------


def value_histograms(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    *,
    lo: float,
    hi: float,
    n_bins: int = 256,
    hist_col: str = "hist",
) -> DataFrame:
    """One fixed-bin histogram of ``value_col`` per group — the
    mergeable quantile counterpart of :func:`distinct_sketches`.

    Unlike ``percentile_approx`` (whose GK state Spark never exposes),
    a fixed-bin histogram persists as a plain ``array<bigint>`` and
    merges by elementwise addition — so per-batch histograms union
    losslessly across days/partitions and quantile error stays bounded
    by one bin width of the DECLARED range [lo, hi).  Out-of-range
    values land in ``below``/``above`` overflow counters rather than
    silently clamping into edge bins.

    Plan: a (group, bin) partial+final count (at most groups x n_bins
    rows survive the map side), then one array assembly per group —
    both hash aggregates, no window over the corpus.
    """
    if not hi > lo:
        raise ValueError("need hi > lo")
    if n_bins < 1:
        raise ValueError("n_bins must be >= 1")
    width = (hi - lo) / n_bins
    v = F.col(value_col).cast("double")
    bin_ = F.floor((v - F.lit(lo)) / F.lit(width)).cast("int")
    # NULL values must not land in a bin: F.least skips NULLs, so the
    # otherwise branch would silently route them to bin n_bins-1 —
    # route them to a NULL bin and drop it instead (NULLs carry no
    # quantile information)
    bin_ = (
        F.when(v.isNull(), F.lit(None).cast("int"))
        .when(v < lo, F.lit(-1))
        .when(v >= hi, F.lit(n_bins))
        .otherwise(F.least(bin_, F.lit(n_bins - 1)))
    )
    per_bin = (
        df.select(*group_cols, bin_.alias("_bin"))
        .filter(F.col("_bin").isNotNull())
        .groupBy(*group_cols, "_bin")
        .agg(F.count("*").alias("_c"))
    )
    # the map is built ONCE per group in the aggregate; the densifying
    # transform and the edge lookups live in a projection that only
    # looks up (the cms_sketches lesson: a map construction referenced
    # inside the transform lambda is rebuilt per element by the
    # interpreted HOF; bit-identical output)
    grouped = per_bin.groupBy(*group_cols).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("_bin"), F.col("_c")))
        ).alias("_m")
    )
    entries = F.col("_m")
    counts = F.transform(
        F.sequence(F.lit(0), F.lit(n_bins - 1)),
        lambda i: F.coalesce(entries[i], F.lit(0)).cast("long"),
    )
    return grouped.select(
        *group_cols,
        counts.alias(hist_col),
        F.coalesce(entries[F.lit(-1)], F.lit(0)).cast("long").alias("below"),
        F.coalesce(entries[F.lit(n_bins)], F.lit(0)).cast("long").alias("above"),
    )


def merge_histogram_tables(
    hists: DataFrame,
    group_cols: list[str],
    *,
    hist_col: str = "hist",
) -> DataFrame:
    """Merge per-batch histograms per group: elementwise array addition
    (the mergeability exact quantiles lack).

    Histograms are only mergeable over the SAME binning — mixed array
    lengths within a group mean the batches were sketched with
    different n_bins, and zip_with would silently NULL-pad the shorter
    side; that mistake fails loudly here instead."""
    merged = F.aggregate(
        F.collect_list(hist_col),
        F.transform(
            F.sequence(F.lit(1), F.size(F.first(hist_col))), lambda _: F.lit(0).cast("long")
        ),
        lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
    )
    out = hists.groupBy(*group_cols).agg(
        merged.alias(hist_col),
        F.sum("below").alias("below"),
        F.sum("above").alias("above"),
        (
            F.min(F.size(F.col(hist_col)))
            == F.max(F.size(F.col(hist_col)))
        ).alias("_same_bins"),
    )

    # attach the guard to EVERY data column, not just hist: Catalyst
    # prunes unselected columns, so a hist-only guard silently vanishes
    # for consumers that read only below/above
    def _guarded(col: str):
        return F.when(F.col("_same_bins"), F.col(col)).otherwise(
            F.raise_error(
                F.lit(
                    "merge_histogram_tables: mixed n_bins within a group "
                    "— histograms are only mergeable over identical "
                    "binning"
                )
            )
        )

    return (
        out.withColumn(hist_col, _guarded(hist_col))
        .withColumn("below", _guarded("below"))
        .withColumn("above", _guarded("above"))
        .drop("_same_bins")
    )


def histogram_quantiles(
    hists: DataFrame,
    group_cols: list[str],
    qs: list[float],
    *,
    lo: float,
    hi: float,
    hist_col: str = "hist",
) -> DataFrame:
    """Per-group quantile estimates from a histogram table.

    For each q: the target rank is ``ceil(q * n)`` (clamped to >= 1)
    over the in-range mass; the estimate is the left edge of the first
    bin whose cumulative count reaches it, plus a linear interpolation
    inside that bin — deterministic arithmetic, replayable in SQL.
    Output: one row per (group, q) with ``quantile`` and ``estimate``.
    """
    if not qs:
        raise ValueError("qs must be non-empty")
    width_expr = (F.lit(hi) - F.lit(lo)) / F.size(F.col(hist_col))
    exploded = hists.select(
        *group_cols,
        F.col(hist_col),
        F.posexplode(F.col(hist_col)).alias("_bin", "_c"),
    )
    total = F.aggregate(
        F.col(hist_col), F.lit(0).cast("long"), lambda a, b: a + b
    )
    cum = F.aggregate(
        F.slice(F.col(hist_col), F.lit(1), F.col("_bin") + 1),
        F.lit(0).cast("long"),
        lambda a, b: a + b,
    )
    ranked = exploded.select(
        *group_cols,
        "_bin",
        "_c",
        total.alias("_n"),
        cum.alias("_cum"),
        width_expr.alias("_w"),
    ).filter(F.col("_c") > 0)
    # ONE plan for every q: explode a literal quantile array instead of
    # unioning a per-q branch — the union form re-analyzed and
    # re-executed the whole `ranked` subtree once per quantile
    # (identical rows and arithmetic; only the plan shape changes)
    qarr = F.array(*[F.lit(float(q)) for q in qs])
    withq = ranked.select(*ranked.columns, F.explode(qarr).alias("quantile"))
    target = F.greatest(
        F.ceil(F.col("quantile") * F.col("_n")), F.lit(1)
    ).cast("long")
    est = (
        F.lit(lo)
        + F.col("_w") * F.col("_bin")
        + F.col("_w")
        * (
            (target - (F.col("_cum") - F.col("_c"))).cast("double")
            / F.col("_c").cast("double")
        )
    )
    return withq.filter(
        (F.col("_cum") >= target) & (F.col("_cum") - F.col("_c") < target)
    ).select(*group_cols, "quantile", est.alias("estimate"))


# --- Mergeable Bloom filters: set membership without the set ---------------


def _hash_positions(key, k: int, n_positions: int, hash_fn: str) -> list:
    """``k`` deterministic positions in ``[0, n_positions)`` for a key.

    ``hash_fn='md5'`` derives each position from the first 15 hex chars
    of ``md5(f"{i}:{key}")`` — the engine-reproducible form a DuckDB
    auditor replays bit-for-bit (the same convention as the minhash /
    simhash oracle twins, ``operators/dedup.py``).  ``'xxhash64'`` is
    the production twin: one 64-bit JVM hash per (seed, key), no hex
    materialization — same collision math, fixed-width hot path.

    NULL keys raise with an actionable message: unguarded, a NULL
    position would either abort the build deep inside map_from_entries
    with a cryptic [NULL_MAP_KEY], or probe to a NULL membership that
    both filter(x) and filter(~x) drop — the key silently neither
    'seen' nor 'new'."""
    key_s = F.when(
        key.isNull(),
        F.raise_error(
            F.lit(
                "sketch key is NULL — filter or impute NULL keys "
                "before building/probing (a NULL key has no hash "
                "positions)"
            )
        ),
    ).otherwise(key.cast("string"))
    out = []
    for i in range(k):
        if hash_fn == "xxhash64":
            h = F.xxhash64(F.lit(i), key_s)
        elif hash_fn == "md5":
            h = F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{i}:"), key_s).cast("binary")),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
        else:
            raise ValueError(f"unknown hash_fn {hash_fn!r}")
        out.append(F.pmod(h, F.lit(n_positions)).cast("int"))
    return out


def bloom_filters(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    *,
    n_bits: int = 4096,
    k: int = 4,
    hash_fn: str = "md5",
    bloom_col: str = "bloom",
) -> DataFrame:
    """One Bloom filter of ``key_col``'s values per group, as a dense
    ``array<bigint>`` of ``n_bits/64`` words.

    The crawl-scale membership primitive: "which of today's URLs did
    ANY earlier batch already ingest" needs per-batch key sets, but at
    100 TB the sets themselves are the problem — a Bloom filter is a
    fixed ``n_bits`` bits per (group, batch) regardless of key count,
    merges across batches by elementwise OR (:func:`merge_bloom_tables`
    — lossless, unlike the keys), and probes without shuffling the
    corpus (:func:`bloom_might_contain` broadcasts the filters).
    False-positive rate ~ ``(1 - e^(-k*n/m))^k``; no false negatives.

    Plan shape: keys explode to ``k`` (group, position) rows, one
    partial+final aggregate ORs per-word masks, and a dense-array
    rebuild fills absent words with zero — everything JVM-side.
    """
    if n_bits % 64 != 0 or n_bits <= 0:
        raise ValueError("n_bits must be a positive multiple of 64")
    if k < 1:
        raise ValueError("k must be >= 1")
    n_words = n_bits // 64
    pos = F.explode(
        F.array(*_hash_positions(F.col(key_col), k, n_bits, hash_fn))
    ).alias("_pos")
    words = (
        df.select(*group_cols, pos)
        .select(
            *group_cols,
            (F.col("_pos") / 64).cast("int").alias("_word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), _pos % 64)").alias("_mask"),
        )
        .groupBy(*group_cols, "_word")
        .agg(F.bit_or("_mask").alias("_mask"))
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(n_words - 1)),
        lambda w: F.coalesce(
            F.element_at(
                F.map_from_entries(
                    F.collect_list(F.struct("_word", "_mask"))
                ),
                w,
            ),
            F.lit(0).cast("long"),
        ),
    )
    return words.groupBy(*group_cols).agg(dense.alias(bloom_col))


def merge_bloom_tables(
    blooms: DataFrame,
    group_cols: list[str],
    *,
    bloom_col: str = "bloom",
) -> DataFrame:
    """OR per-batch Bloom filters per group — lossless union of the
    underlying key sets' membership.  Mixed ``n_bits`` within a group
    (different array lengths) fails loudly, same discipline as
    :func:`merge_histogram_tables` — ORing different geometries is
    meaningless."""
    merged = F.aggregate(
        F.collect_list(bloom_col),
        F.transform(
            F.sequence(F.lit(1), F.size(F.first(bloom_col))),
            lambda _: F.lit(0).cast("long"),
        ),
        lambda acc, x: F.zip_with(acc, x, lambda a, b: a.bitwiseOR(b)),
    )
    out = blooms.groupBy(*group_cols).agg(
        merged.alias(bloom_col),
        (
            F.min(F.size(F.col(bloom_col)))
            == F.max(F.size(F.col(bloom_col)))
        ).alias("_same_bits"),
    )
    guarded = F.when(F.col("_same_bits"), F.col(bloom_col)).otherwise(
        F.raise_error(
            F.lit(
                "merge_bloom_tables: mixed n_bits within a group — "
                "filters only merge over identical geometry"
            )
        )
    )
    return out.withColumn(bloom_col, guarded).drop("_same_bits")


def bloom_might_contain(
    filters: DataFrame,
    probes: DataFrame,
    group_cols: list[str],
    key_col: str,
    *,
    n_bits: int = 4096,
    k: int = 4,
    hash_fn: str = "md5",
    bloom_col: str = "bloom",
    out_col: str = "might_contain",
) -> DataFrame:
    """Probe each (group, key) row of ``probes`` against the group's
    filter: true iff every one of the key's ``k`` bits is set.
    ``n_bits``/``k``/``hash_fn`` must match the build (geometry is
    asserted against the filter arrays at runtime).  The filter table
    is small by construction (one fixed-size array per group) and
    BROADCASTS — the probe corpus never shuffles.

    A probe group with NO filter answers ``false`` for every key
    (LEFT join, not inner): an empty filter contains nothing, and the
    dedup contract 'false means definitely new' must hold for
    never-before-seen groups too — an inner join would silently drop
    those rows from the output entirely.

    Plan shape: the k (word, mask) pairs are computed on the probe
    side BEFORE the join (pure column arithmetic), so the joined
    check is k array lookups + bitwise ANDs per row.
    """
    if n_bits % 64 != 0 or n_bits <= 0:
        raise ValueError("n_bits must be a positive multiple of 64")
    n_words = n_bits // 64
    pos_cols = _hash_positions(F.col(key_col), k, n_bits, hash_fn)
    probed = probes.select(
        "*",
        *[
            (p / 64).cast("int").alias(f"_w{i}")
            for i, p in enumerate(pos_cols)
        ],
        *[(F.pmod(p, F.lit(64))).alias(f"_b{i}") for i, p in enumerate(pos_cols)],
    )
    for i in range(k):
        probed = probed.withColumn(
            f"_m{i}", F.expr(f"shiftleft(CAST(1 AS BIGINT), _b{i})")
        )
    geometry_ok = F.size(F.col(bloom_col)) == n_words
    hit = F.lit(True)
    for i in range(k):
        word = F.element_at(F.col(bloom_col), F.col(f"_w{i}") + 1)
        hit = hit & (word.bitwiseAND(F.col(f"_m{i}")) != 0)
    guarded = (
        F.when(F.col(bloom_col).isNull(), F.lit(False))
        .when(geometry_ok, hit)
        .otherwise(
            F.raise_error(
                F.lit(
                    "bloom_might_contain: filter geometry does not match "
                    "n_bits — probe with the build-time parameters"
                )
            )
        )
    )
    joined = probed.join(F.broadcast(filters), group_cols, "left")
    drop = [f"_w{i}" for i in range(k)] + [f"_b{i}" for i in range(k)] + [
        f"_m{i}" for i in range(k)
    ]
    return joined.withColumn(out_col, guarded).drop(bloom_col, *drop)


# --- Mergeable count-min sketches: approximate counts, bounded memory ------


def cms_sketches(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    *,
    depth: int = 4,
    width: int = 1024,
    hash_fn: str = "md5",
    cms_col: str = "cms",
) -> DataFrame:
    """One count-min sketch of ``key_col``'s occurrence counts per
    group, as a dense ``array<bigint>`` of ``depth*width`` counters
    (row-major).

    The bounded-memory frequency primitive: per-key counts over a
    100 TB stream need O(distinct keys) state exactly, but only
    ``depth*width`` counters approximately — estimates never
    UNDER-count (est >= true), over-count by at most ~2n/width with
    probability 1 - 2^-depth, and sketches merge by elementwise
    ADDITION across batches/days (:func:`merge_cms_tables`) — the
    property exact per-key counts lack once the key space outgrows
    memory.  Row ``r`` hashes the key with seed ``r`` into one of
    ``width`` columns; same hash derivations as :func:`bloom_filters`
    (md5 = oracle-replayable, xxhash64 = production).
    """
    if depth < 1 or width < 1:
        raise ValueError("depth and width must be >= 1")
    n_counters = depth * width
    pos_cols = _hash_positions(F.col(key_col), depth, width, hash_fn)
    idx = F.explode(
        F.array(
            *[
                (F.lit(r * width) + p).cast("int")
                for r, p in enumerate(pos_cols)
            ]
        )
    ).alias("_idx")
    per_idx = (
        df.select(*group_cols, idx)
        .groupBy(*group_cols, "_idx")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    # two steps: the map is BUILT once per group inside the aggregate,
    # and the densifying transform lives in a downstream projection
    # that only LOOKS UP — with the map construction inside the
    # transform lambda, the interpreted HOF rebuilt the whole map per
    # element (measured 1.92 s vs 1.51 s warm on the cms gate at
    # sf0.1; bit-identical output)
    grouped = per_idx.groupBy(*group_cols).agg(
        F.map_from_entries(F.collect_list(F.struct("_idx", "_c"))).alias(
            "_m"
        )
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(n_counters - 1)),
        lambda i: F.coalesce(F.element_at(F.col("_m"), i), F.lit(0)).cast(
            "long"
        ),
    )
    return grouped.select(*group_cols, dense.alias(cms_col))


def merge_cms_tables(
    sketches: DataFrame,
    group_cols: list[str],
    *,
    cms_col: str = "cms",
) -> DataFrame:
    """Elementwise-ADD count-min sketches per group across batches —
    exact count additivity carries through the sketch, so merged
    estimates equal estimates over the union.  Mixed geometries
    (different array lengths) fail loudly."""
    merged = F.aggregate(
        F.collect_list(cms_col),
        F.transform(
            F.sequence(F.lit(1), F.size(F.first(cms_col))),
            lambda _: F.lit(0).cast("long"),
        ),
        lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
    )
    out = sketches.groupBy(*group_cols).agg(
        merged.alias(cms_col),
        (
            F.min(F.size(F.col(cms_col))) == F.max(F.size(F.col(cms_col)))
        ).alias("_same_geo"),
    )
    guarded = F.when(F.col("_same_geo"), F.col(cms_col)).otherwise(
        F.raise_error(
            F.lit(
                "merge_cms_tables: mixed depth*width within a group — "
                "sketches only merge over identical geometry"
            )
        )
    )
    return out.withColumn(cms_col, guarded).drop("_same_geo")


def cms_estimate(
    sketches: DataFrame,
    probes: DataFrame,
    group_cols: list[str],
    key_col: str,
    *,
    depth: int = 4,
    width: int = 1024,
    hash_fn: str = "md5",
    cms_col: str = "cms",
    out_col: str = "est_count",
) -> DataFrame:
    """Estimated occurrence count for each (group, key) probe row:
    min over the ``depth`` rows of the key's counter — never below the
    true count.  Geometry must match the build (asserted at runtime);
    the sketch table broadcasts, the probe side never shuffles.

    A probe group with NO sketch estimates 0 for every key (LEFT
    join): the count over an empty build set is exactly zero, and an
    inner join would silently drop the rows instead of answering."""
    if depth < 1 or width < 1:
        raise ValueError("depth and width must be >= 1")
    n_counters = depth * width
    pos_cols = _hash_positions(F.col(key_col), depth, width, hash_fn)
    probed = probes.select(
        "*",
        *[
            (F.lit(r * width) + p).cast("int").alias(f"_i{r}")
            for r, p in enumerate(pos_cols)
        ],
    )
    joined = probed.join(F.broadcast(sketches), group_cols, "left")
    counters = [
        F.element_at(F.col(cms_col), F.col(f"_i{r}") + 1)
        for r in range(depth)
    ]
    est = F.least(*counters) if depth > 1 else counters[0]
    geometry_ok = F.size(F.col(cms_col)) == n_counters
    guarded = (
        F.when(F.col(cms_col).isNull(), F.lit(0).cast("long"))
        .when(geometry_ok, est)
        .otherwise(
            F.raise_error(
                F.lit(
                    "cms_estimate: sketch geometry does not match "
                    "depth*width — probe with the build-time parameters"
                )
            )
        )
    )
    return joined.withColumn(out_col, guarded).drop(
        cms_col, *[f"_i{r}" for r in range(depth)]
    )


def append_bloom_store(
    df: DataFrame,
    store: str,
    group_cols: list[str],
    key_col: str,
    *,
    batch_id: str,
    n_bits: int = 4096,
    k: int = 4,
    hash_fn: str = "xxhash64",
) -> None:
    """Filter this batch's keys and append to the store partitioned by
    ``batch_id`` — idempotent re-runs overwrite only their own batch
    partition, same discipline as :func:`append_sketch_store`.  The
    incremental crawl-dedup workflow: each ingest batch persists one
    fixed-size filter per group; "is this URL new?" later needs only
    the merged filters, never the historical key sets.

    The build parameters (n_bits, k, hash_fn) are PERSISTED alongside
    each batch: a probe with mismatched k or hash_fn would pass a
    size-only geometry check yet return silent FALSE NEGATIVES — the
    one failure the Bloom contract promises away — so the store is
    self-describing and :func:`probe_bloom_store` reads/validates the
    parameters instead of trusting the caller to re-supply them."""
    bf = (
        bloom_filters(
            df, group_cols, key_col, n_bits=n_bits, k=k, hash_fn=hash_fn
        )
        .withColumn("batch_id", F.lit(batch_id))
        .withColumn("n_bits", F.lit(n_bits))
        .withColumn("k", F.lit(k))
        .withColumn("hash_fn", F.lit(hash_fn))
    )
    bf.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("batch_id").parquet(store)


def probe_bloom_store(
    spark: SparkSession,
    store: str,
    probes: DataFrame,
    group_cols: list[str],
    key_col: str,
    *,
    n_bits: int | None = None,
    k: int | None = None,
    hash_fn: str | None = None,
    batches: list[str] | None = None,
    out_col: str = "might_contain",
) -> DataFrame:
    """Probe keys against the union of all (or selected) persisted
    batch filters: ``might_contain`` false means DEFINITELY new —
    the safe direction for dedup (a false positive only re-checks a
    key exactly, never drops a new one silently).  Batch pruning keeps
    a subset read proportional to the subset; a group never seen in
    any selected batch answers false for every key.

    Build parameters default to the store's own persisted metadata
    (the safe path); passing them explicitly validates against the
    store and raises on mismatch — probing with a different k or
    hash_fn would silently produce false negatives, so there is no
    trust-the-caller mode.  A store mixing parameter sets across
    batches also raises (filters with different derivations cannot be
    merged meaningfully)."""
    bf = spark.read.parquet(store)
    if batches is not None:
        bf = bf.filter(F.col("batch_id").isin(batches))
    params = bf.select("n_bits", "k", "hash_fn").distinct().collect()
    if len(params) == 0:
        # An empty selection is a caller error (typo'd batch ids or an
        # empty store), not a mixed-parameter store — say so, listing
        # what was asked for vs what exists, instead of pointing the
        # user at a rebuild they don't need.
        available = list_bloom_store_batches(spark, store)
        raise ValueError(
            "no batches matched the requested ids: requested="
            f"{sorted(batches) if batches is not None else None}, "
            f"available={sorted(available)}"
        )
    if len(params) != 1:
        raise ValueError(
            "bloom store mixes build parameters across batches: "
            f"{sorted((r.n_bits, r.k, r.hash_fn) for r in params)} — "
            "rebuild with one parameter set before probing"
        )
    s_bits, s_k, s_hash = params[0].n_bits, params[0].k, params[0].hash_fn
    for name, given, stored in (
        ("n_bits", n_bits, s_bits),
        ("k", k, s_k),
        ("hash_fn", hash_fn, s_hash),
    ):
        if given is not None and given != stored:
            raise ValueError(
                f"probe {name}={given!r} does not match the store's "
                f"build-time {name}={stored!r} — probing with mismatched "
                "parameters yields silent false negatives"
            )
    merged = merge_bloom_tables(
        bf.drop("batch_id", "n_bits", "k", "hash_fn"), group_cols
    )
    return bloom_might_contain(
        merged,
        probes,
        group_cols,
        key_col,
        n_bits=s_bits,
        k=s_k,
        hash_fn=s_hash,
        out_col=out_col,
    )


def list_bloom_store_batches(spark: SparkSession, store: str) -> list[str]:
    """Batch ids present in a Bloom store, via Spark's reader — NOT a
    driver-local directory listing, so object-store/HDFS paths and
    cluster layouts where the store isn't mounted on the driver all
    work (a local listdir would silently report an empty store there
    and disable every probe).  A missing store (not created yet)
    returns []; any OTHER read failure — corrupt parquet, permission
    error, transient FS fault — propagates, because treating it as
    "empty store" would silently disable dedup for the caller (e.g.
    run_streaming_bloom_dedup would re-emit every previously-seen key
    as definitely-new)."""
    try:
        return [
            r.batch_id
            for r in spark.read.parquet(store).select("batch_id").distinct().collect()
        ]
    except FileNotFoundError:
        return []
    except AnalysisException as exc:
        # classify by the STABLE error class (message text is version-
        # and vendor-dependent; core.errors.analysis_condition is the
        # one accessor shim); fall back to the known message shapes
        # for builds predating error classes
        from physicsnemo_curator_spark.core.errors import (
            analysis_condition,
        )

        err_class = analysis_condition(exc)
        if (
            (err_class and "PATH_NOT_FOUND" in err_class)
            or "PATH_NOT_FOUND" in str(exc)
            or "Path does not exist" in str(exc)
        ):
            return []
        raise
