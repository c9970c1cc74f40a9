"""Similarity search over an embedding column (north star).

``embeddings(vec_id, embedding ARRAY<FLOAT>, label)``.

Two tiers:
- ``cosine_topk`` — brute-force exact top-k: broadcast the (small)
  query set against the (huge) corpus; the dot product is a JVM-side
  higher-order function (``zip_with`` + ``aggregate``), no Python.
- ``lsh_topk`` — random-hyperplane LSH buckets shrink the candidate
  set first; exact cosine re-rank inside buckets.  The scale path:
  candidate-join shuffle keys on (band, bucket) instead of a cross
  join.
"""

from __future__ import annotations

import math
import random

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from physicsnemo_curator_spark.core.jobs import job_label
from physicsnemo_curator_spark.core.store import release


def dot(a: Column, b: Column) -> Column:
    """Σ a_i·b_i via zip_with + aggregate (JVM higher-order fns).

    Dimension-agnostic fallback; higher-order fns are interpreted per
    element, so prefer :func:`dot_unrolled` when the dimension is known.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v.cast("double"),
    )


def l2(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + (v * v).cast("double")))


def _safe_ratio(num: Column, denom: Column) -> Column:
    """num/denom with a NULL result when denom is not positive.

    Spark 4's ANSI mode (the default, and what the correctness gate
    runs under) raises DIVIDE_BY_ZERO even for DOUBLE division, so a
    single zero-norm vector (all-zeros padding artifact) would crash
    every cosine job; NULL instead drops the row from thresholded
    filters and ranks it last in top-k."""
    return F.when(denom > 0, num / denom)


def cosine(a: Column, b: Column) -> Column:
    return _safe_ratio(dot(a, b), l2(a) * l2(b))


def _sql_of(c: Column | str) -> str:
    """SQL fragment for a column reference.

    Prefer passing a plain name/SQL string — that is fully portable
    (every internal call site does).  A Column is accepted only under
    the classic py4j runtime, where its JVM representation prints as
    SQL; under Spark Connect there is no public Column→SQL path, so
    pass the string form instead.
    """
    if isinstance(c, str):
        return c
    jc = getattr(c, "_jc", None)  # classic runtime only
    if jc is not None:
        return jc.toString()
    raise TypeError(
        "unrolled vector ops need the column as a SQL string under "
        "Spark Connect (e.g. dot_unrolled('embedding', 'embedding', dim))"
    )


def dot_unrolled(a: Column | str, b: Column | str, dim: int) -> Column:
    """Σ a_i·b_i as a flat, left-to-right codegen expression.

    Same sequential summation order as :func:`dot` (bit-identical
    result), but whole-stage-codegen compiles it — ~an order of
    magnitude faster than interpreted higher-order functions on the
    brute-force scoring path.

    Built as ONE parsed SQL string: constructing 64+ terms through
    Column operators costs ~5 py4j round-trips per term and dominated
    similarity-query *planning* time (~4 s per query at dim=64);
    a single F.expr call is ~milliseconds.
    """
    sa, sb = _sql_of(a), _sql_of(b)
    terms = "".join(
        f" + CAST(element_at({sa}, {i}) AS DOUBLE)"
        f" * CAST(element_at({sb}, {i}) AS DOUBLE)"
        for i in range(1, dim + 1)
    )
    return F.expr("0.0D" + terms)


def l2_unrolled(a: Column | str, dim: int) -> Column:
    return F.sqrt(dot_unrolled(a, a, dim))


def cosine_unrolled(a: Column | str, b: Column | str, dim: int) -> Column:
    return _safe_ratio(
        dot_unrolled(a, b, dim), l2_unrolled(a, dim) * l2_unrolled(b, dim)
    )


def cosine_prenormed(
    a: Column | str, b: Column | str, norm_a: Column, norm_b: Column, dim: int
) -> Column:
    """Cosine with norms computed upstream of the pair join.

    Numerically identical to :func:`cosine_unrolled` (same dot order,
    same sqrt), but the scoring projection carries only the dim-term
    dot product.  Two reasons this matters at scale: (1) norms are
    O(rows), pair scoring is O(pairs) — recomputing both norms per pair
    triples the hot-loop FLOPs; (2) the 3×dim-term expression inside a
    join's generated consume function overflows janino's 64 KB method
    limit (seen at dim=64 under BroadcastNestedLoopJoin), dropping the
    whole stage out of whole-stage codegen.
    """
    return _safe_ratio(dot_unrolled(a, b, dim), norm_a * norm_b)


def _vec_dim(df: DataFrame, vec_col: str) -> int:
    return df.select(F.size(vec_col).alias("d")).first()["d"]


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    Broadcast-joins the query set (small) against the corpus (huge) —
    no corpus shuffle; the only wide op is the per-query top-k, done
    with a window over (query, score).  Deterministic tie-break on id.
    Pass ``dim`` to skip the dimension-probe scan job (at 100 TB a
    ``.first()`` is a full extra job per query).
    """
    if dim is None:
        dim = _vec_dim(corpus, vec_col)
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    ).withColumn("_qnorm", l2_unrolled("_qvec", dim))
    c = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_cvec")
    ).withColumn("_cnorm", l2_unrolled("_cvec", dim))
    scored = c.join(F.broadcast(q)).select(
        "query_id",
        "vec_id",
        cosine_prenormed(
            "_cvec", "_qvec", F.col("_cnorm"), F.col("_qnorm"), dim
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic unit-ish gaussian hyperplanes (driver-side, tiny)."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def md5_hyperplanes(dim: int, n_planes: int, tag: str = "p") -> list[list[float]]:
    """Hyperplanes whose components are md5-derived dyadic rationals.

    Component (i, j) = int(md5("{tag}:{i}:{j}")[:8 hex], 16) / 2^32 - 0.5
    — uniform on [-0.5, 0.5), exactly representable in a double, and
    reproducible in ANY engine with md5() (the DuckDB oracle rebuilds
    the identical plane table in SQL), so the full LSH bucketing is
    engine-checkable.  Statistically these behave like the gaussian
    planes for sign-LSH (only the direction distribution matters).
    """
    import hashlib

    return [
        [
            int(hashlib.md5(f"{tag}:{i}:{j}".encode()).hexdigest()[:8], 16)
            / 4294967296.0
            - 0.5
            for j in range(dim)
        ]
        for i in range(n_planes)
    ]


def lsh_buckets(
    df: DataFrame,
    dim: int,
    *,
    vec_col: str = "embedding",
    n_bits: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Attach a single random-hyperplane LSH bucket id (n_bits signs
    packed) — the partition key for coarse clustering / block writes.
    Same Arrow-matmul path as :func:`lsh_banded` (one band)."""
    banded = lsh_banded(
        df, dim, vec_col=vec_col, n_bands=1, bits_per_band=n_bits, seed=seed
    )
    return banded.drop("band")


def lsh_banded(
    df: DataFrame,
    dim: int,
    *,
    vec_col: str = "embedding",
    n_bands: int = 8,
    bits_per_band: int = 4,
    seed: int = 42,
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """Multi-band hyperplane LSH: one (band, bucket) row per band.

    Candidate recall is 1-(1-p^b)^L for per-bit agreement p — the same
    amplification trick as MinHash banding, which single-bucket
    hyperplane LSH lacks.  The candidate join keys on (band, bucket),
    so shuffle volume is rows × n_bands, never pairs.

    All n_bands × bits_per_band projections happen in one Arrow-batched
    pandas UDF as a single numpy matmul per batch — building them as
    Catalyst column expressions (thousands of literal terms) stalls
    plan analysis and falls out of codegen.

    ``planes`` (n_bands*bits_per_band rows × dim) overrides the seeded
    gaussian planes — pass :func:`md5_hyperplanes` output for an
    oracle-reproducible bucketing.
    """
    from pyspark.sql.functions import pandas_udf

    if planes is None:
        planes = []
        for band in range(n_bands):
            planes.extend(random_hyperplanes(dim, bits_per_band, seed + 1000 * band))
    p_matrix = np.asarray(planes, dtype=np.float64)  # (n_bands*bits, dim)
    if p_matrix.shape != (n_bands * bits_per_band, dim):
        raise ValueError(
            f"planes shape {p_matrix.shape} != ({n_bands * bits_per_band}, {dim})"
        )
    weights = (1 << np.arange(bits_per_band, dtype=np.int64))

    @pandas_udf("array<int>")
    def bucket_all_bands(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        x = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        if x.ndim != 2 or x.shape[1] != dim:
            raise ValueError(
                f"embedding batch has shape {x.shape}, expected (*, {dim})"
                " — ragged or wrong-dimension vectors"
            )
        signs = (x @ p_matrix.T >= 0).astype(np.int64)  # (rows, bands*bits)
        signs = signs.reshape(len(x), n_bands, bits_per_band)
        buckets = (signs * weights).sum(axis=2).astype("int32")  # (rows, bands)
        return pd.Series(list(buckets))

    # pure, but a pushed isnotnull(_buckets) constraint duplicated the
    # projection into two ArrowEvalPython nodes (guide §4.4) — every
    # vector hashed through all bands twice.  Nondeterministic pins one
    # evaluation.
    bucket_all_bands = bucket_all_bands.asNondeterministic()

    # NULL embeddings would arrive as None and crash np.asarray; a NULL
    # vector has no bucket — drop it here (same skip convention as the
    # SQL cosine path, which NULL-propagates)
    banded = df.filter(F.col(vec_col).isNotNull()).withColumn(
        "_buckets", bucket_all_bands(F.col(vec_col))
    )
    return banded.select(
        *df.columns, F.posexplode("_buckets").alias("band", "bucket")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_bands: int = 8,
    bits_per_band: int = 4,
    seed: int = 42,
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate top-k: candidates from any shared (band, bucket),
    exact cosine re-rank over the deduped candidate set.  Raise recall
    with more bands; shrink candidate sets with more bits per band.
    ``planes`` as in :func:`lsh_banded`."""
    c = lsh_banded(
        corpus.select(F.col(id_col), F.col(vec_col)),
        dim, vec_col=vec_col, n_bands=n_bands, bits_per_band=bits_per_band,
        seed=seed, planes=planes,
    )
    q = lsh_banded(
        queries.select(F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qvec")),
        dim,
        vec_col="_qvec",
        n_bands=n_bands,
        bits_per_band=bits_per_band,
        seed=seed,
        planes=planes,
    )
    # Dedup candidates on bare (query_id, vec_id) so the shuffle never
    # carries corpus vectors; re-attach them by id afterwards (queries
    # stay broadcast-joined — the query set is small by construction).
    cand = (
        c.select("band", "bucket", F.col(id_col).alias("vec_id"))
        .join(F.broadcast(q.select("band", "bucket", "query_id")), ["band", "bucket"])
        .select("query_id", "vec_id")
        .dropDuplicates(["query_id", "vec_id"])
    )
    corpus_vecs = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("_cvec"),
        l2_unrolled(vec_col, dim).alias("_cnorm"),
    )
    query_vecs = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
        l2_unrolled(vec_col, dim).alias("_qnorm"),
    )
    scored = (
        cand.join(corpus_vecs, "vec_id")
        .join(F.broadcast(query_vecs), "query_id")
        .select(
            "query_id",
            "vec_id",
            cosine_prenormed(
                "_cvec", "_qvec", F.col("_cnorm"), F.col("_qnorm"), dim
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def pairwise_near_duplicates(
    embeddings: DataFrame,
    threshold: float = 0.95,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bands: int | None = None,
    bits_per_band: int | None = None,
    seed: int = 42,
    exact: bool = False,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (a < b, cosine ≥ threshold).

    exact=True does the full self-join (test scale / oracle); the
    default generates candidates from shared (band, bucket) keys so the
    self-join is band-local (multi-band recall amplification).
    Pass ``dim`` to skip the dimension-probe scan job.

    ``bits_per_band=None`` (default) SCALES THE BUCKET COUNT WITH THE
    DATA: a fixed 2^bits bucket space makes within-bucket pair counts
    grow quadratically as rows grow (measured: 10× rows → ~16× wall at
    8 fixed bits in the sf1 soak), so the default targets a constant
    ~32 vectors per bucket — bits = log2(n/32), clamped to [4, 24] —
    and raises ``n_bands`` alongside (L = max(8, bits)) so multi-band
    recall amplification compensates for the sharper per-band filter.
    The extra count() job is one metadata-cheap pass; callers that know
    their corpus can pin both knobs explicitly.

    The banded path returns a local checkpoint the caller owns; the
    exact path a lazy plan.
    """
    import math as _math

    e = embeddings.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec"))
    if dim is None:
        dim = _vec_dim(e, "vec")
    e = e.withColumn("_nrm", l2_unrolled("vec", dim))
    if not exact:
        if bits_per_band is None:
            n = e.count()
            bits_per_band = max(4, min(24, _math.ceil(_math.log2(max(n, 64) / 32))))
        if n_bands is None:
            n_bands = max(8, bits_per_band)
        # Candidate generation shuffles BARE ID PAIRS only: banding,
        # the band-local self-join, and the dedup all run on (vec_id,
        # band, bucket) rows.  Vectors re-attach afterwards via two
        # id-keyed joins for the verify stage — at corpus scale the
        # candidate dedup would otherwise shuffle every duplicated
        # candidate's full embedding (dim floats × 2 per pair).
        ids = e.select("vec_id", "vec")
        eb = lsh_banded(ids, dim, vec_col="vec", seed=seed,
                        n_bands=n_bands, bits_per_band=bits_per_band
                        ).select("vec_id", "band", "bucket").persist()
        cand = (
            eb.alias("l")
            .join(
                eb.alias("r"),
                (F.col("l.band") == F.col("r.band"))
                & (F.col("l.bucket") == F.col("r.bucket"))
                & (F.col("l.vec_id") < F.col("r.vec_id")),
            )
            .select(F.col("l.vec_id").alias("a"), F.col("r.vec_id").alias("b"))
            .dropDuplicates(["a", "b"])
        )
        # materialize the (bounded, id-pair) candidate set so the
        # banded cache can release NOW
        with job_label(e.sparkSession, "similarity.pairwise_near_duplicates/candidates"):
            cand = cand.localCheckpoint(eager=True)
        release(eb)
        pairs = (
            cand.join(e.select(F.col("vec_id").alias("a"),
                               F.col("vec").alias("_va"),
                               F.col("_nrm").alias("_na")), "a")
            .join(e.select(F.col("vec_id").alias("b"),
                           F.col("vec").alias("_vb"),
                           F.col("_nrm").alias("_nb")), "b")
        )
    else:
        pairs = (
            e.alias("l")
            .join(e.alias("r"), F.col("l.vec_id") < F.col("r.vec_id"))
            .select(
                F.col("l.vec_id").alias("a"),
                F.col("r.vec_id").alias("b"),
                F.col("l.vec").alias("_va"),
                F.col("r.vec").alias("_vb"),
                F.col("l._nrm").alias("_na"),
                F.col("r._nrm").alias("_nb"),
            )
        )
    scored = pairs.select(
        "a",
        "b",
        cosine_prenormed(
            "_va", "_vb", F.col("_na"), F.col("_nb"), dim
        ).alias("cosine"),
    ).filter(F.col("cosine") >= F.lit(threshold))
    if exact:
        return scored
    # the candidates' checkpoint is released once the pairs that read
    # it are materialized
    with job_label(e.sparkSession, "similarity.pairwise_near_duplicates/verify"):
        scored = scored.localCheckpoint(eager=True)
    release(cand)
    return scored


# ---------------------------------------------------------------------------
# 8-bit scalar quantization (SQ8) — the memory-bandwidth scale path


def sq8_train(
    corpus: DataFrame, *, vec_col: str = "embedding", dim: int | None = None
) -> tuple[list[float], list[float]]:
    """Per-dimension (min, max) "codebook" for 8-bit scalar
    quantization — ONE aggregate job emitting 2·dim scalars to the
    driver (the only driver-side state; dim is 64-1536 in practice,
    never rows).

    The 2·dim aggregate expressions are built as SQL strings, not
    Column operators: each ``F.min(col[i].cast(...))`` chain costs ~5
    py4j round-trips, and the 128-column construction alone measured
    ~2 s per call at dim=64 (the dot_unrolled lesson); ``selectExpr``
    parses the same expressions JVM-side in milliseconds."""
    if dim is None:
        dim = _vec_dim(corpus, vec_col)
    exprs = []
    for i in range(dim):
        exprs.append(f"min(cast(`{vec_col}`[{i}] as double)) as mn{i}")
        exprs.append(f"max(cast(`{vec_col}`[{i}] as double)) as mx{i}")
    row = corpus.selectExpr(*exprs).collect()[0]
    mins = [float(row[f"mn{i}"]) for i in range(dim)]
    maxs = [float(row[f"mx{i}"]) for i in range(dim)]
    return mins, maxs


def sq8_code_expr(
    vec: Column | str, mins: list[float], maxs: list[float]
) -> Column:
    """``array<int>`` of 8-bit codes: ``floor((v-mn)/(mx-mn)*255 + .5)``
    clamped to [0, 255]; a constant dimension (mx == mn) codes to 0.
    ``floor(x + 0.5)`` — not ``round`` — so Spark and the DuckDB oracle
    agree on every half-way case.  Codes pack 4× (vs float32; 8× vs
    float64) — at a 100 TB embedding corpus the brute-force scan is
    memory-bandwidth-bound, so the code table cuts scan cost
    proportionally; store it with ``sq8_code_expr`` once and scan codes
    instead of floats."""
    vec = F.col(vec) if isinstance(vec, str) else vec

    def code(i: int) -> Column:
        lo, hi = float(mins[i]), float(maxs[i])
        if hi <= lo:
            return F.lit(0)
        raw = F.floor(
            (vec[i].cast("double") - F.lit(lo))
            / F.lit(hi - lo)
            * F.lit(255.0)
            + F.lit(0.5)
        )
        return F.least(F.lit(255), F.greatest(F.lit(0), raw)).cast("int")

    # F.array of per-element expressions, NOT F.transform: Catalyst
    # rewrites GetArrayItem(CreateArray(e_0..e_d), i) to e_i, so a
    # downstream unrolled dot product stays O(1) per element — with
    # transform() every extraction re-evaluates the whole d-element
    # lambda (measured O(d^2)-per-pair: 16.9 s vs 1.7 s on the sq8
    # gate at sf0.1)
    return F.array(*[code(i) for i in range(len(mins))])


def sq8_reconstruct_expr(
    codes: Column | str, mins: list[float], maxs: list[float]
) -> Column:
    """``array<double>`` de-quantization: ``mn + code/255*(mx-mn)`` —
    the asymmetric-distance convention (float query × reconstructed
    corpus), matching the stored-code scan path."""
    codes = F.col(codes) if isinstance(codes, str) else codes
    # same CreateArray-of-element-exprs shape as sq8_code_expr (see the
    # O(d^2) note there)
    return F.array(
        *[
            F.lit(float(mins[i]))
            + codes[i].cast("double")
            / F.lit(255.0)
            * F.lit(float(maxs[i]) - float(mins[i]))
            for i in range(len(mins))
        ]
    )


def _lit_double_array(vals: list[float]) -> Column:
    """``array<double>`` literal.  One JVM-side SQL parse (``1.5D``
    literals; ``repr`` round-trips doubles exactly, verified against
    the ``F.lit`` path bit-for-bit) instead of dim+1 py4j round-trips —
    the ``F.array(*[F.lit(v) ...])`` form measured ~110-300 ms per
    64-element array, ~1 ms as a parsed string.  Non-finite values
    (no SQL literal form) fall back to the Column path."""
    if all(math.isfinite(v) for v in vals):
        return F.expr("array(" + ",".join(f"{float(v)!r}D" for v in vals) + ")")
    return F.array(*[F.lit(float(v)) for v in vals])


def sq8_recon_expr(
    vec: Column | str, mins: list[float], maxs: list[float]
) -> Column:
    """Fused quantize→de-quantize in ONE ``transform()`` pass — the
    expression :func:`sq8_topk` scores with.

    Why a higher-order function here when :func:`sq8_code_expr` uses
    CreateArray: inside a top-k plan the corpus projection fuses into
    the window's pre-shuffle Sort/WindowGroupLimit stage, and the
    inlined per-element recon code (128 copies: norm + dot) blows
    janino's 64 KB method limit — the WHOLE stage then falls back to
    interpreted eval (measured 7.4 s vs 0.08 s warm on the sf0.1
    gate).  ``transform`` keeps the generated method tiny and
    evaluates the array once per row.  The CreateArray variants remain
    the right shape for persisted code tables (plain projections,
    where Catalyst's extract-value rewrite makes element access
    O(1))."""
    vec = F.col(vec) if isinstance(vec, str) else vec
    mn = _lit_double_array(mins)
    mx = _lit_double_array(maxs)

    def recon(v, i):
        lo = F.element_at(mn, i + 1)
        hi = F.element_at(mx, i + 1)
        raw = F.floor(
            (v.cast("double") - lo) / (hi - lo) * F.lit(255.0) + F.lit(0.5)
        )
        code = F.when(
            hi > lo,
            F.least(F.lit(255.0), F.greatest(F.lit(0.0), raw)),
        ).otherwise(F.lit(0.0))
        return lo + code / F.lit(255.0) * (hi - lo)

    return F.transform(vec, recon)


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int | None = None,
    codebook: tuple[list[float], list[float]] | None = None,
    rescore: int = 0,
) -> DataFrame:
    """Approximate top-k by cosine over 8-bit scalar-quantized corpus
    vectors (asymmetric: the query stays float, the corpus is
    quantize→reconstruct) — same broadcast-join/no-corpus-shuffle plan
    as :func:`cosine_topk`, but the production form scans a 4-8×
    smaller code table.  ``rescore=m`` re-ranks each query's top m·k
    SQ8 candidates with EXACT cosine on the original vectors (two
    narrow passes; recall→1 as m grows).  ``codebook`` skips the
    training aggregate when (mins, maxs) are precomputed/persisted."""
    if dim is None:
        dim = _vec_dim(corpus, vec_col)
    mins, maxs = codebook if codebook is not None else sq8_train(
        corpus, vec_col=vec_col, dim=dim
    )
    k0 = k * rescore if rescore else k
    # HOF scoring end to end (recon/norm/dot all evaluate the array
    # once; see sq8_recon_expr for why unrolled expressions implode
    # here) — the fold order of aggregate() matches dot_unrolled's
    # left-association, so scores are bit-identical to the unrolled
    # kernel's
    # NULL vectors are dropped (the IVF family's _assign_with_norm
    # convention): a NULL embedding reconstructs to NULL and its
    # null-cosine rows would still consume row_number ranks
    q = queries.filter(F.col(vec_col).isNotNull()).select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
    ).withColumn("_qnorm", l2(F.col("_qvec")))
    c = corpus.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("vec_id"),
        sq8_recon_expr(vec_col, mins, maxs).alias("_cvec"),
    ).withColumn("_cnorm", l2(F.col("_cvec")))
    scored = c.join(F.broadcast(q)).select(
        "query_id",
        "vec_id",
        _safe_ratio(
            dot(F.col("_cvec"), F.col("_qvec")),
            F.col("_cnorm") * F.col("_qnorm"),
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    approx = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k0)
        .select("query_id", "vec_id", "cosine", "rank")
    )
    return rerank_or_return(
        approx,
        corpus,
        queries,
        k,
        rescore,
        dim=dim,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
    )


def rerank_or_return(
    approx: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    rescore: int,
    *,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """The shared tail of every quantized ANN path (SQ8 / PQ / IVF-PQ):
    pass the approximate top-``k·rescore`` through when ``rescore`` is
    0, else :func:`exact_rerank` its candidate set down to ``k``."""
    if not rescore:
        return approx
    return exact_rerank(
        corpus,
        queries,
        approx.select("query_id", "vec_id"),
        k,
        dim=dim,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
    )


def exact_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    *,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact-cosine re-rank of an ANN candidate set on the ORIGINAL
    vectors — the shared second pass of every quantized path (SQ8, PQ):
    ``candidates (query_id, vec_id)`` semi-joins a sliver of the
    corpus (O(queries·m·k) pairs), the query side broadcasts, and the
    window keeps the top ``k`` per query with the family's
    deterministic (score desc, vec_id asc) tie-break."""
    c = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_cvec")
    ).join(candidates, "vec_id")
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
    )
    scored = c.join(F.broadcast(q), "query_id").select(
        "query_id",
        "vec_id",
        cosine_unrolled("_cvec", "_qvec", dim).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    *,
    lamb: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR 1998)
    over an ANN candidate set: greedily pick ``k`` results per query,
    each maximizing ``λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)`` —
    relevant AND different from what's already picked.  The diversity
    tail every retrieval-for-training pipeline wants: plain top-k
    returns near-duplicate neighbors; MMR spends the same k slots on
    coverage.

    ``candidates`` is ``(query_id, vec_id)`` from ANY rung of the ANN
    ladder (exact, LSH, IVF, SQ8, PQ, IVF-PQ) — the same contract as
    :func:`exact_rerank`.  rel and sim are exact cosines on the
    original vectors.  The empty-selection max is 0, so the first pick
    scores ``λ·rel`` (argmax = most relevant).  Ties break (score
    desc, vec_id asc) — the family convention.

    Plan shape: the greedy loop is inherently sequential IN k but
    independent ACROSS queries, so it runs as ``applyInPandas`` with
    one group per query over the candidate sliver (O(queries·N) rows,
    N = candidates per query; the O(N²) pair sims happen vectorized
    inside the group's numpy batch).  The corpus contributes one
    semi-join of the candidate ids — never a full scan or shuffle.
    Output: ``(query_id, vec_id, mmr_rank, mmr_score)``."""
    # NULL vectors are dropped on both sides (the family convention —
    # np.asarray(None) would crash the pandas batch).  Candidates are
    # deduped per (query, vec): the "from ANY rung" contract means
    # upstream unions can repeat a pair, and a repeated row would both
    # let the same vector consume two of the k slots and skew the
    # pairwise sim matrix inside the pandas group.
    c = corpus.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_cvec")
    ).join(
        candidates.select("query_id", "vec_id").dropDuplicates(
            ["query_id", "vec_id"]
        ),
        "vec_id",
    )
    q = queries.filter(F.col(vec_col).isNotNull()).select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
    )
    joined = c.join(F.broadcast(q), "query_id")
    lam = float(lamb)
    # id/query-id types pass through unchanged (string doc ids are as
    # valid as longs — the exact_rerank contract)
    dt = dict(joined.dtypes)
    schema = (
        f"query_id {dt['query_id']}, vec_id {dt['vec_id']}, "
        "mmr_rank int, mmr_score double"
    )

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        qv = np.asarray(pdf["_qvec"].iloc[0], dtype=np.float64)
        ids = pdf["vec_id"].to_numpy()
        X = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in pdf["_cvec"]]
        )
        # deterministic processing order: sort by id so numpy argmax's
        # first-wins tie-break IS the (score desc, vec_id asc) rule
        order = np.argsort(ids)
        ids, X = ids[order], X[order]
        norms = np.sqrt((X * X).sum(axis=1))
        norms[norms == 0.0] = 1.0
        qn = float(np.sqrt(qv @ qv)) or 1.0
        rel = (X @ qv) / (norms * qn)
        sim = (X @ X.T) / np.outer(norms, norms)
        n = len(ids)
        out = []
        # -inf sentinel = "nothing selected yet": the max over chosen
        # sims may be NEGATIVE (anti-correlated vectors), so a zero
        # floor would overstate diversity; only the EMPTY max is 0
        max_sim = np.full(n, -np.inf)
        taken = np.zeros(n, dtype=bool)
        for step in range(min(k, n)):
            ms = np.where(np.isneginf(max_sim), 0.0, max_sim)
            score = lam * rel - (1.0 - lam) * ms
            score[taken] = -np.inf
            j = int(score.argmax())
            taken[j] = True
            out.append((pdf["query_id"].iloc[0], ids[j],
                        step + 1, float(score[j])))
            max_sim = np.maximum(max_sim, sim[:, j])
        return pd.DataFrame(
            out, columns=["query_id", "vec_id", "mmr_rank", "mmr_score"]
        )

    return joined.groupBy("query_id").applyInPandas(pick, schema)


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 10,
    *,
    c: int = 60,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Büttcher, SIGIR 2009):
    combine ANY ranked lists per query — different ANN rungs, a lexical
    ranker vs an embedding ranker, differently-tuned retrievers — by
    ``score(d) = Σ_lists 1/(c + rank_list(d))``, keeping the top ``k``
    fused.  Rank-based fusion needs NO score calibration between the
    rankers (the reason RRF is the default hybrid-retrieval combiner),
    and ``c`` (60 in the paper) damps the head so one list's #1 can't
    dominate alone.

    Plan shape: union of the (query, id, rank) triples → one hash
    aggregate (map-side combined) → per-query window top-k.  Pure
    codegen — no UDF, no driver state; each input list is already
    O(queries·k) rows, so the fusion is negligible next to the
    retrievers that produced it.  Ties break (score desc, id asc) —
    the family convention.  Output: ``(query_id, vec_id, rrf_score,
    rank)``."""
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    parts = [
        r.select(
            F.col(query_id_col).alias("query_id"),
            F.col(id_col).alias("vec_id"),
            F.col(rank_col).alias("_r"),
        )
        for r in rankings
    ]
    un = parts[0]
    for p in parts[1:]:
        un = un.unionByName(p)
    fused = un.groupBy("query_id", "vec_id").agg(
        F.sum(F.lit(1.0) / (F.lit(float(c)) + F.col("_r"))).alias(
            "rrf_score"
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc("vec_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rrf_score", "rank")
    )


def hard_negatives(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 10,
    *,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    anchor_id_col: str = "anchor_id",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor,
    the ``k`` most-similar corpus vectors with a DIFFERENT label —
    near the anchor in embedding space but semantically wrong, the
    negatives that actually move a contrastive loss (random negatives
    are trivially separable).  The standard retrieval-training data
    op (e.g. DPR, Karpukhin et al. 2020 — BM25/ANN-mined negatives).

    Same broadcast/no-corpus-shuffle plan as :func:`cosine_topk` with
    one extra label-inequality predicate inside the join — the corpus
    scan is unchanged, the label filter is codegen.  Anchors carry
    their own label (``anchors`` must include ``label_col``).  Output:
    ``(anchor_id, vec_id, label, cosine, rank)``."""
    # NULL embeddings are dropped (family convention — a NULL vector's
    # null cosine would still consume ranks); NULL labels likewise: a
    # NULL label fails every <>-comparison, so a NULL-label anchor
    # would silently mine zero negatives and a NULL-label corpus row
    # could never be one — drop both LOUD-ly in the plan, not by
    # three-valued-logic accident
    a = anchors.filter(
        F.col(vec_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(
        F.col(anchor_id_col).alias("anchor_id"),
        F.col(label_col).alias("_albl"),
        F.col(vec_col).alias("_avec"),
    ).withColumn("_anorm", l2_unrolled("_avec", dim))
    c = corpus.filter(
        F.col(vec_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(
        F.col(id_col).alias("vec_id"),
        F.col(label_col).alias("label"),
        F.col(vec_col).alias("_cvec"),
    ).withColumn("_cnorm", l2_unrolled("_cvec", dim))
    scored = c.join(
        F.broadcast(a), F.col("label") != F.col("_albl")
    ).select(
        "anchor_id",
        "vec_id",
        "label",
        cosine_prenormed(
            "_cvec", "_avec", F.col("_cnorm"), F.col("_anorm"), dim
        ).alias("cosine"),
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("anchor_id", "vec_id", "label", "cosine", "rank")
    )


def embedding_drift(
    reference: DataFrame,
    current: DataFrame,
    *,
    vec_col: str = "embedding",
    eps: float = 1e-12,
) -> DataFrame:
    """Per-dimension distribution drift between two embedding corpora —
    the monitor a production pipeline runs between snapshots (model
    updated? preprocessing changed? corpus shifted?): for every
    dimension, both sides' population mean/std plus two
    scale-free signals — ``mean_shift`` = |μ_cur − μ_ref| / σ_ref (the
    standardized mean difference drift monitors threshold, typically
    at 0.1-0.25) and ``std_ratio`` = σ_cur / σ_ref (variance collapse
    or explosion, ≈1 when healthy).

    Plan shape: one ``posexplode`` + hash aggregate per side (map-side
    combined, output = dim rows each), then a dim-sized join — both
    corpora are scanned exactly once and nothing larger than ``dim``
    rows ever shuffles.  Constant reference dimensions (σ_ref = 0) get
    ``eps`` in the denominator so the signal is finite and LARGE
    rather than a silent NULL.  Output: ``(j, ref_mean, ref_std,
    cur_mean, cur_std, mean_shift, std_ratio)``."""

    def stats(df: DataFrame, prefix: str) -> DataFrame:
        x = df.filter(F.col(vec_col).isNotNull()).select(
            F.posexplode(vec_col).alias("j", "x")
        )
        return x.groupBy("j").agg(
            F.avg(F.col("x").cast("double")).alias(f"{prefix}_mean"),
            F.stddev_pop(F.col("x").cast("double")).alias(f"{prefix}_std"),
        )
    ref = stats(reference, "ref")
    cur = stats(current, "cur")
    joined = ref.join(cur, "j")
    denom = F.greatest(F.col("ref_std"), F.lit(float(eps)))
    return joined.select(
        "j",
        "ref_mean",
        "ref_std",
        "cur_mean",
        "cur_std",
        (F.abs(F.col("cur_mean") - F.col("ref_mean")) / denom).alias(
            "mean_shift"
        ),
        (F.col("cur_std") / denom).alias("std_ratio"),
    )


def embedding_drift_psi(
    reference: DataFrame,
    current: DataFrame,
    *,
    vec_col: str = "embedding",
    bins: int = 10,
    alpha: float = 0.5,
) -> DataFrame:
    """Per-dimension Population Stability Index between two embedding
    corpora — the binned-distribution signal :func:`embedding_drift`'s
    mean/std moments can't see: a dimension whose distribution turns
    bimodal (or swaps tails) can keep its mean AND std while the data
    underneath changed completely.  PSI_j = Σ_bins (p−q)·ln(p/q) over
    ``bins`` equal-width bins spanning the REFERENCE min/max per
    dimension (current values clamp into the edge bins, so novel
    out-of-range mass lands in bin 0 / bins−1 instead of vanishing);
    p/q are Laplace-smoothed with ``alpha`` pseudo-counts so an empty
    bin contributes a finite, large term rather than ±inf.  The usual
    reading: <0.1 stable, 0.1–0.25 drifting, >0.25 shifted.

    Plan shape: one dim-sized min/max aggregate over the reference
    (bin bounds), broadcast into both sides' posexplode → (j, bin)
    hash aggregates (map-side combined, output ≤ dim·bins rows each),
    then a (j, bin)-sized full-outer join and a final dim-sized
    aggregate.  Nothing larger than dim·bins rows ever shuffles; the
    CURRENT corpus is scanned once, the REFERENCE twice (bounds +
    histogram — cache/persist the reference, or precompute bounds,
    when that second scan matters at scale).  A constant reference
    dimension (width 0) keeps its reference mass in bin 0 and routes
    moved current values to an edge bin (above → bins−1, below → 1),
    so even a constant→constant shift registers instead of silently
    collapsing into the reference's own bin.  Output: ``(j, ref_n,
    cur_n, psi)``."""
    nb = int(bins)
    if nb < 2:
        raise ValueError(f"bins must be >= 2, got {bins}")
    a = float(alpha)

    def exploded(df: DataFrame) -> DataFrame:
        return df.filter(F.col(vec_col).isNotNull()).select(
            F.posexplode(vec_col).alias("j", "x")
        ).select("j", F.col("x").cast("double").alias("x"))

    bounds = exploded(reference).groupBy("j").agg(
        F.min("x").alias("_lo"), F.max("x").alias("_hi")
    )

    def binned(df: DataFrame, tag: str) -> DataFrame:
        width = (F.col("_hi") - F.col("_lo")) / F.lit(nb)
        # clamp the RATIO (double) before floor, not the floored long:
        # a far-out-of-range current value divided by a tiny reference
        # width can exceed int64, where Spark's floor wraps silently
        # but DuckDB's CAST raises — clamping first keeps both engines
        # in [0, nb-1] with identical results for every in-range value
        ratio = F.least(
            F.greatest(
                (F.col("x") - F.col("_lo")) / width, F.lit(0.0)
            ),
            F.lit(float(nb - 1)),
        )
        bin_ = (
            F.when(width > 0, F.floor(ratio))
            # width 0 (constant reference dim): the reference sits in
            # bin 0 by definition, so drifted current values must NOT
            # land there too — route above/below to distinct bins
            .when(F.col("x") > F.col("_lo"), F.lit(nb - 1))
            .when(F.col("x") < F.col("_lo"), F.lit(1))
            .otherwise(F.lit(0))
        )
        return (
            exploded(df)
            .join(F.broadcast(bounds), "j")
            .select("j", bin_.cast("int").alias("bin"))
            .groupBy("j", "bin")
            .agg(F.count("*").alias(f"{tag}_cnt"))
        )

    ref = binned(reference, "ref")
    cur = binned(current, "cur")
    joined = ref.join(cur, ["j", "bin"], "full_outer").select(
        "j",
        F.coalesce("ref_cnt", F.lit(0)).alias("ref_cnt"),
        F.coalesce("cur_cnt", F.lit(0)).alias("cur_cnt"),
    )
    def p_of(cnt, n):
        return (cnt + F.lit(a)) / (n + F.lit(a * nb))

    def term(rc, cc):
        p = p_of(rc, F.col("ref_n"))
        q = p_of(cc, F.col("cur_n"))
        return (p - q) * F.log(p / q)

    # only OBSERVED (j, bin) cells are materialized; the nb − observed
    # all-empty bins are not free to skip (their alpha pseudo-shares
    # differ when ref_n != cur_n), but they all contribute the SAME
    # term(0, 0), folded in by count below — exact, no dense grid
    per_dim = joined.groupBy("j").agg(
        F.sum("ref_cnt").alias("ref_n"),
        F.sum("cur_cnt").alias("cur_n"),
        F.count("*").alias("_observed"),
        F.collect_list(F.struct("ref_cnt", "cur_cnt")).alias("_cells"),
    )
    observed_sum = F.aggregate(
        F.transform(
            F.col("_cells"), lambda c: term(c["ref_cnt"], c["cur_cnt"])
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    empty_sum = (F.lit(nb) - F.col("_observed")).cast("double") * term(
        F.lit(0), F.lit(0)
    )
    return per_dim.select(
        "j", "ref_n", "cur_n", (observed_sum + empty_sum).alias("psi")
    )


def embedding_centroids(
    emb: DataFrame, *, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-label centroid vectors: elementwise mean via posexplode +
    one (label, dim) aggregate, re-packed in dimension order.  The
    result is labels-sized — broadcastable by construction."""
    x = emb.select(F.col(label_col), F.posexplode(vec_col).alias("pos", "val"))
    per = x.groupBy(label_col, "pos").agg(F.avg("val").alias("cv"))
    return per.groupBy(label_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cv"))),
            lambda s: s["cv"],
        ).alias("centroid")
    )


def embedding_label_cosines(
    emb: DataFrame,
    *,
    dim: int,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Cosine of every vector to its OWN label's centroid — the
    embedding-based curation filter: low values flag mislabeled or
    out-of-distribution samples.  One broadcast join (centroids are
    labels-sized) + a codegen unrolled dot per row; no shuffle of the
    embedding table itself beyond the centroid aggregate."""
    cents = embedding_centroids(
        emb, label_col=label_col, vec_col=vec_col
    ).withColumn("_cnorm", l2_unrolled("centroid", dim))
    # norms computed UPSTREAM of the join (O(rows) + O(labels)):
    # cosine_unrolled inside the join projection re-derived both norms
    # per row — 3x the dim-term expression in the joined stage, the
    # exact codegen/FLOP blowup cosine_prenormed exists to avoid
    rows = emb.withColumn("_vnorm", l2_unrolled(vec_col, dim))
    joined = rows.join(F.broadcast(cents), label_col)
    return joined.select(
        F.col(id_col),
        F.col(label_col),
        cosine_prenormed(
            vec_col, "centroid", F.col("_vnorm"), F.col("_cnorm"), dim
        ).alias("cos_centroid"),
    )
