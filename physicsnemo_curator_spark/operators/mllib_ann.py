"""IVF-style approximate nearest neighbor via MLlib KMeans.

The coarse-quantizer path for similarity search at 100 TB (north star:
"DataFrame ops with MLlib for dataset preprocessing"): train KMeans on
a sample, assign every corpus vector to its nearest centroid (the IVF
cell), and answer queries by scoring only the ``n_probe`` closest
cells.  Complements the hyperplane-LSH path in
:mod:`physicsnemo_curator_spark.operators.similarity`:

- LSH: no training, recall from band amplification — best for
  streaming ingest and dedup.
- IVF: data-adaptive cells, tunable recall/cost via n_probe — best for
  repeated queries against a static corpus (cells persist as a
  bucketed table; each query touches n_probe/k of the data).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.ml.clustering import KMeans, KMeansModel
from pyspark.ml.functions import array_to_vector
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from physicsnemo_curator_spark.core.errors import analysis_condition
from physicsnemo_curator_spark.core.store import (
    LEASE_FILE as _LEASE_FILE,
    acquire_lease as _acquire_lease,
    carry_surviving as _carry_surviving,
    held_lease as _held_lease,
    release_lease as _release_lease,
    verify_lease as _verify_lease,
    memoized_parquet as _memoized_parquet,
    read_batch as _read_batch_partition,
    read_optional_parquet as _read_optional_parquet,
    release as _release,
    try_local_path as _try_local_store_path,
    validate_batch_id as _core_validate_batch_id,
    write_batch_partitioned as _write_batch_partitioned,
)

from physicsnemo_curator_spark.operators.similarity import (
    _safe_ratio,
    cosine_prenormed,
)


def train_ivf(
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    k: int = 16,
    seed: int = 42,
    sample_fraction: float | None = None,
    max_iter: int = 20,
) -> KMeansModel:
    """Train the coarse quantizer.  At 100 TB, fit on a sample —
    centroid quality needs thousands of points per cell, not billions."""
    train = corpus
    if sample_fraction is not None:
        train = corpus.sample(fraction=sample_fraction, seed=seed)
    feats = train.select(array_to_vector(F.col(vec_col)).alias("features"))
    km = KMeans(k=k, seed=seed, featuresCol="features", maxIter=max_iter)
    return km.fit(feats)


def assign_cells(
    df: DataFrame, model: KMeansModel, *, vec_col: str = "embedding"
) -> DataFrame:
    """Attach the IVF cell id.  The prediction is a pure vector op; the
    result is the partitioning/bucketing key for the corpus table."""
    feats = df.withColumn("features", array_to_vector(F.col(vec_col)))
    out = model.transform(feats).withColumnRenamed("prediction", "cell")
    return out.drop("features")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    model: KMeansModel | list[list[float]],
    k: int = 10,
    *,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: score only vectors in each query's n_probe
    nearest cells.

    ``model`` is either an MLlib KMeansModel (:func:`train_ivf`) or a
    plain centroid list (:func:`train_ivf_sample`).

    Plan shape (chosen for both 100 TB scale AND cold-start latency):
    cell assignment + L2 norm for every corpus row come from ONE
    Arrow-batched numpy projection; each query's n_probe nearest cells
    + its norm come from one more (then ``posexplode``); the only big
    codegen expression left is the scoring dot product inside the
    broadcast join — one janino compile instead of four (measured
    7.5 s → ~2 s cold at dim=64).  The corpus-side join keys on cell,
    so the scan reads ~n_probe/k of the corpus per query batch (with
    the corpus stored partitioned by cell, that's partition pruning).
    """
    centers = (
        model.clusterCenters() if isinstance(model, KMeansModel) else model
    )
    dim = len(centers[0])  # centroids carry the dimension — no scan job
    # per-query probe set + norm in one numpy pass; euclidean cell
    # ranking uses the SAME metric as assignment, so a query's own cell
    # is always probed (argmin ||q-c||² ≙ argmin (c·c − 2 q·c))
    probe_meta = _ivf_meta_udf(centers, n_probe, dedup_eval=False)
    q = queries.filter(F.col(vec_col).isNotNull()).select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
        probe_meta(F.col(vec_col)).alias("_m"),
    )
    probed = q.select(
        "query_id",
        "_qvec",
        F.col("_m.norm").alias("_qnorm"),
        F.explode(F.col("_m.cells")).alias("cell"),
    )
    corpus_meta = _ivf_meta_udf(centers, 1)
    # NULL vectors are dropped across the whole ANN family (a NULL
    # embedding crashes the Arrow batch and has no cell/codes/rank)
    corpus = corpus.filter(F.col(vec_col).isNotNull())
    cells = corpus.withColumn("_m", corpus_meta(F.col(vec_col))).select(
        *corpus.columns,
        F.element_at(F.col("_m.cells"), 1).alias("cell"),
        F.col("_m.norm").alias("_cnorm"),
    )
    scored = cells.join(F.broadcast(probed), "cell").select(
        "query_id",
        F.col(id_col).alias("vec_id"),
        cosine_prenormed(
            vec_col,
            "_qvec",
            F.col("_cnorm"),
            F.col("_qnorm"),
            dim,
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def pq_train(
    corpus: DataFrame,
    *,
    m: int = 8,
    ks: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    perm: list[int] | None = None,
    rot: list[list[float]] | None = None,
    sample_vectors: list[list[float]] | None = None,
) -> list[list[list[float]]]:
    """Product-quantization codebooks, shape ``(m, ks, dim//m)``: the
    dimension splits into ``m`` subspaces and each subspace gets the
    corresponding SUBVECTORS of the ``ks`` md5-ordered sample rows —
    the same deterministic sample-init as :func:`md5_sample_centroids`
    (no Lloyd refinement), so encoding and ADC scoring replay exactly
    in the DuckDB oracle.  Driver-side state is ks full vectors.

    ``sample_vectors`` skips the sampling job when the caller already
    holds the md5-ordered sample (``md5_sample_centroids(corpus,
    k>=ks)`` — the first ks rows are used): IVF-PQ callers draw the
    coarse centroids from the same ordering, so one collect serves
    both trainers."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    _check_one_transform(perm, rot)
    _validate_perm(perm, dim)
    _validate_rot(rot, dim)
    base = (
        sample_vectors[:ks]
        if sample_vectors is not None
        else md5_sample_centroids(corpus, k=ks, id_col=id_col, vec_col=vec_col)
    )
    if len(base) < ks:
        raise ValueError(f"corpus has only {len(base)} rows; need ks={ks}")
    if perm is not None:
        base = [[vec[d] for d in perm] for vec in base]
    elif rot is not None:
        base = (np.asarray(base, dtype=np.float64) @ np.asarray(rot)).tolist()
    return [
        [vec[j * dsub : (j + 1) * dsub] for vec in base] for j in range(m)
    ]


def pq_train_sample(
    corpus: DataFrame,
    *,
    m: int = 8,
    ks: int = 16,
    dim: int = 64,
    vec_col: str = "embedding",
    seed: int = 42,
    sample_rows: int = 2048,
    iters: int = 10,
    perm: list[int] | None = None,
    rot: list[list[float]] | None = None,
) -> list[list[list[float]]]:
    """Lloyd-refined PQ codebooks — the production trainer: per
    subspace, k-means over the SUBVECTORS of a driver-side sample
    (the :func:`train_ivf_sample` pattern — codebook quality needs
    thousands of representative points, not the corpus, so at 100 TB
    the sample is the same size as here and the refinement runs on one
    machine in milliseconds).  Refined codebooks cut quantization
    error vs the sample-init :func:`pq_train`, which stays the
    oracle-replayable gate trainer (RECALL.md holds both
    measurements).  Driver-side state during training is the
    ``sample_rows`` sampled vectors (fixed-size by design, like
    :func:`train_ivf_sample` — never the corpus); the returned
    codebooks are ``m·ks`` subvectors."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    n = corpus.count()
    frac = min(1.0, sample_rows / max(n, 1) * 1.2)
    rows = (
        corpus.filter(F.col(vec_col).isNotNull())
        .sample(fraction=frac, seed=seed)
        .select(vec_col)
        .limit(sample_rows)
        .collect()
    )
    _check_one_transform(perm, rot)
    _validate_perm(perm, dim)
    _validate_rot(rot, dim)
    x = np.asarray([r[0] for r in rows], dtype=np.float64)
    if len(x) < ks:
        raise ValueError(f"corpus sample has {len(x)} rows; need ks={ks}")
    if perm is not None:
        x = x[:, np.asarray(perm)]
    elif rot is not None:
        x = x @ np.asarray(rot, dtype=np.float64)
    rng = np.random.default_rng(seed)
    out = []
    for j in range(m):
        sub = x[:, j * dsub : (j + 1) * dsub]
        centers = sub[rng.choice(len(sub), size=ks, replace=False)].copy()
        for _ in range(iters):
            d2 = ((sub[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(ks):
                members = sub[assign == c]
                if len(members):
                    centers[c] = members.mean(axis=0)
        out.append([[float(v) for v in c] for c in centers])
    return out


def dim_variances(
    corpus: DataFrame, dim: int, *, vec_col: str = "embedding"
) -> list[float]:
    """Per-dimension variance of an embedding column — ONE aggregate
    over ``(dim index, value)`` rows (the embedding-drift shape:
    map-side combine, output is ``dim`` rows regardless of corpus).
    Feeds :func:`subspace_permutation`'s variance-balanced mode."""
    rows = (
        corpus.filter(F.col(vec_col).isNotNull())
        .select(F.posexplode(vec_col).alias("j", "x"))
        .groupBy("j")
        .agg(F.var_pop("x").alias("v"))
        .collect()
    )
    if not rows:
        raise ValueError("dim_variances: corpus has no non-null vectors")
    seen = {r["j"] for r in rows}
    if max(seen) != dim - 1 or min(seen) < 0 or max(seen) >= dim:
        raise ValueError(
            f"dim_variances: embeddings span dims 0..{max(seen)} but "
            f"dim={dim} was requested — a mismatched dim would skew "
            "the variance-balanced subspace deal"
        )
    out = [0.0] * dim
    for r in rows:
        out[r["j"]] = float(r["v"] or 0.0)
    return out


def subspace_permutation(
    dim: int, m: int, *, variances: list[float] | None = None
) -> list[int]:
    """A dimension permutation for PQ subspace assignment — the
    published fix for ANISOTROPIC (PCA-like) embeddings, where
    contiguous slicing gives the first subspace all the high-variance
    dimensions and the last ones near-constant noise, wasting their
    code budget (the OPQ line of work; this is its cheap,
    rotation-free ancestor).

    Two modes: ``variances=None`` → the STRIDE INTERLEAVE (subspace
    ``j`` takes dims ``j, j+m, j+2m, …``), a pure function of (dim, m)
    that balances any monotone spectrum and replays in ANSI SQL
    (``j = i % m``); with ``variances`` → snake-order round-robin
    dealing of dims sorted by variance descending (ties to the lower
    dim index), the data-driven balance.  Returns ``perm`` such that
    permuted slot ``p`` holds original dim ``perm[p]``; pass it as
    ``perm=`` to the PQ family (train, encode, top-k, index write and
    probe must all use the SAME permutation).  Measured on the decayed
    clustered fixture: raw PQ recall ~2.3× contiguous slicing
    (RECALL.md r14)."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    if variances is None:
        return [j + t * m for j in range(m) for t in range(dim // m)]
    if len(variances) != dim:
        raise ValueError(
            f"variances has {len(variances)} entries, expected {dim}"
        )
    order = sorted(range(dim), key=lambda d: (-variances[d], d))
    slots: list[list[int]] = [[] for _ in range(m)]
    for i, d in enumerate(order):
        r, c = divmod(i, m)
        slots[c if r % 2 == 0 else m - 1 - c].append(d)
    return [d for s in slots for d in s]


def _validate_perm(perm: list[int] | None, dim: int) -> None:
    if perm is not None and sorted(perm) != list(range(dim)):
        raise ValueError(
            f"perm must be a permutation of range({dim}); got "
            f"{len(perm)} entries"
        )


def _validate_rot(rot, dim: int) -> None:
    """A subspace rotation must be a ``dim×dim`` ORTHOGONAL matrix —
    orthogonality is what makes ADC cosine exact under the transform
    (norms and dot products are preserved: ``qᵀx = (qR)ᵀ(xR)``).  A
    non-orthogonal matrix would silently skew every distance, so it
    raises here instead."""
    if rot is None:
        return
    r = np.asarray(rot, dtype=np.float64)
    if r.shape != (dim, dim):
        raise ValueError(
            f"rot must be a {dim}x{dim} matrix; got shape {r.shape}"
        )
    if not np.allclose(r.T @ r, np.eye(dim), atol=1e-8):
        raise ValueError(
            f"rot is not orthogonal (max |RᵀR - I| = "
            f"{np.abs(r.T @ r - np.eye(dim)).max():.2e}); ADC cosine "
            "is only exact under orthogonal transforms"
        )


def _norm_rot(rot) -> list[list[float]] | None:
    """Canonicalize a rotation for storage/comparison: identity (within
    float tolerance) normalizes to None — it cannot change a code, so
    it must not trip the store's mismatch guard (the :func:`_norm_perm`
    rule)."""
    if rot is None:
        return None
    r = np.asarray(rot, dtype=np.float64)
    if r.ndim == 2 and r.shape[0] == r.shape[1] and np.allclose(
        r, np.eye(r.shape[0]), atol=1e-12
    ):
        return None
    return [[float(v) for v in row] for row in r]


def _rots_equal(a, b) -> bool:
    """Stamp-vs-caller rotation comparison (both already normalized):
    float-tolerant, because one side round-tripped through JSON."""
    if a is None or b is None:
        return a is None and b is None
    a_arr, b_arr = np.asarray(a), np.asarray(b)
    return a_arr.shape == b_arr.shape and np.allclose(
        a_arr, b_arr, atol=1e-9
    )


def _check_one_transform(perm, rot) -> None:
    """``perm`` and ``rot`` are alternative subspace-assignment
    transforms (a permutation IS an orthogonal matrix): accepting both
    would demand an application-order convention every stage must
    agree on — one silent disagreement garbles all rankings — so the
    API takes exactly one.  :func:`opq_train` absorbs the balanced
    permutation as its rotation init."""
    if perm is not None and rot is not None:
        raise ValueError(
            "pass either perm= or rot=, not both: a permutation is an "
            "orthogonal rotation — fold it in (perm_matrix(perm), or "
            "opq_train whose learned rotation starts from the "
            "balanced perm)"
        )


def perm_matrix(perm: list[int]) -> list[list[float]]:
    """The orthogonal matrix equivalent of a
    :func:`subspace_permutation`: ``X @ perm_matrix(perm)`` equals
    ``X[:, perm]`` EXACTLY (each column has one 1.0; adding the zero
    terms is float-exact), so perm-based and rot-based pipelines are
    byte-interchangeable — asserted in tests."""
    dim = len(perm)
    _validate_perm(perm, dim)
    p = np.zeros((dim, dim))
    for j, d in enumerate(perm):
        p[d, j] = 1.0
    return [[float(v) for v in row] for row in p]


def givens_rotation(dim: int, *, angle_step: float = 1.0) -> list[list[float]]:
    """A FIXED block-diagonal Givens rotation — the SQL-replayable
    member of the rotation family (the gate rotation, as the stride
    interleave is the gate permutation): dimension pair ``(2t, 2t+1)``
    rotates by the deterministic angle ``(t+1)·angle_step`` radians,
    so an oracle can recompute every matrix entry from ``cos``/``sin``
    of the pair index and replay ``x @ R`` as plain arithmetic.
    Orthogonal by construction; mixes within pairs only — a plumbing
    probe, not a quality claim (that's :func:`opq_train`)."""
    if dim % 2:
        raise ValueError(f"givens_rotation needs an even dim, got {dim}")
    r = np.zeros((dim, dim))
    for t in range(dim // 2):
        c, s = np.cos((t + 1) * angle_step), np.sin((t + 1) * angle_step)
        r[2 * t, 2 * t] = c
        r[2 * t, 2 * t + 1] = -s
        r[2 * t + 1, 2 * t] = s
        r[2 * t + 1, 2 * t + 1] = c
    return [[float(v) for v in row] for row in r]


_PYTHAGOREAN_TRIPLES = ((3, 4, 5), (5, 12, 13), (8, 15, 17), (20, 21, 29))


def pythagorean_rotation(dim: int) -> list[list[float]]:
    """Block-diagonal Givens rotation with EXACT-RATIONAL sin/cos
    from Pythagorean triples — pair ``t`` rotates by
    ``(c, s) = (a/h, b/h)`` of triple ``t % 4`` from
    (3,4,5) (5,12,13) (8,15,17) (20,21,29).  This is the
    SQL-REPLAYABLE gate rotation: each entry is ONE IEEE division
    (correctly rounded by the standard), so an oracle recomputing
    ``3.0/5.0`` gets the bit-identical double — unlike
    :func:`givens_rotation`, whose libm ``cos``/``sin`` may differ
    between numpy and the oracle engine in the last ulp and flip an
    encode argmin.  Orthogonal up to the same float tolerance as any
    rotation here; a plumbing probe, not a quality claim."""
    if dim % 2:
        raise ValueError(f"pythagorean_rotation needs an even dim, got {dim}")
    r = np.zeros((dim, dim))
    for t in range(dim // 2):
        a, b, h = _PYTHAGOREAN_TRIPLES[t % 4]
        c, s = a / h, b / h
        r[2 * t, 2 * t] = c
        r[2 * t, 2 * t + 1] = -s
        r[2 * t + 1, 2 * t] = s
        r[2 * t + 1, 2 * t + 1] = c
    return [[float(v) for v in row] for row in r]


def opq_train(
    corpus: DataFrame,
    *,
    m: int = 8,
    ks: int = 16,
    dim: int = 64,
    vec_col: str = "embedding",
    seed: int = 42,
    sample_rows: int = 2048,
    iters_opq: int = 8,
    iters_kmeans: int = 4,
    init: str = "balanced",
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """OPQ-style learned rotation (public method: Ge et al.,
    "Optimized Product Quantization", CVPR 2013 — the non-parametric
    alternation), the rung above :func:`subspace_permutation`: instead
    of only REASSIGNING dimensions to subspaces, learn the orthogonal
    ``R`` that minimizes PQ quantization error ``‖XR − Y‖²`` by
    alternating (a) per-subspace k-means on the rotated sample with
    (b) the orthogonal-Procrustes rotation update (``XᵀY = USVᵀ →
    R = UVᵀ``, one numpy SVD).  Returns ``(rot, codebooks)`` — pass
    BOTH to the PQ family (``rot=`` walks exactly the perm's path:
    train → encode → LUT → index write/probe → sidecar).

    Driver-side state is the ``sample_rows`` sample and the ``dim²``
    rotation — the :func:`pq_train_sample` scale contract (at 100 TB
    the sample is the same size as here; nothing distributes).
    ``init='balanced'`` starts from the variance-balanced permutation
    MATRIX (the r14 result folded in as the starting point — the
    learned rotation can only refine it); ``init='identity'`` starts
    from contiguous slicing."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    if init not in ("balanced", "identity"):
        raise ValueError(
            f"unknown init {init!r}; expected 'balanced' or 'identity'"
        )
    dsub = dim // m
    n = corpus.count()
    frac = min(1.0, sample_rows / max(n, 1) * 1.2)
    rows = (
        corpus.filter(F.col(vec_col).isNotNull())
        .sample(fraction=frac, seed=seed)
        .select(vec_col)
        .limit(sample_rows)
        .collect()
    )
    x = np.asarray([r[0] for r in rows], dtype=np.float64)
    if len(x) < ks:
        raise ValueError(f"corpus sample has {len(x)} rows; need ks={ks}")
    if init == "balanced":
        var = [float(v) for v in x.var(axis=0)]
        rot = np.asarray(
            perm_matrix(subspace_permutation(dim, m, variances=var))
        )
    else:
        rot = np.eye(dim)
    rng = np.random.default_rng(seed)
    kinit = [
        rng.choice(len(x), size=ks, replace=False) for _ in range(m)
    ]
    centers = None
    for _ in range(iters_opq):
        xr = x @ rot
        # (a) per-subspace Lloyd on the rotated sample.  k-means init
        # indices are FIXED across OPQ iterations (drawn once above):
        # re-drawing per iteration would re-randomize the codebooks
        # every time R moves and the alternation would never settle.
        centers = []
        for j in range(m):
            sub = xr[:, j * dsub : (j + 1) * dsub]
            c = sub[kinit[j]].copy()
            for _ in range(iters_kmeans):
                d2 = ((sub[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
                assign = d2.argmin(axis=1)
                for ci in range(ks):
                    members = sub[assign == ci]
                    if len(members):
                        c[ci] = members.mean(axis=0)
            centers.append(c)
        # (b) reconstruct and solve orthogonal Procrustes for R
        y = np.empty_like(xr)
        for j in range(m):
            sub = xr[:, j * dsub : (j + 1) * dsub]
            d2 = (
                (sub[:, None, :] - centers[j][None, :, :]) ** 2
            ).sum(axis=2)
            y[:, j * dsub : (j + 1) * dsub] = centers[j][d2.argmin(axis=1)]
        u, _, vt = np.linalg.svd(x.T @ y)
        rot = u @ vt
    # final codebooks must match the FINAL rotation (the loop above
    # updated R after training them)
    xr = x @ rot
    codebooks = []
    for j in range(m):
        sub = xr[:, j * dsub : (j + 1) * dsub]
        c = sub[kinit[j]].copy()
        for _ in range(iters_kmeans):
            d2 = ((sub[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for ci in range(ks):
                members = sub[assign == ci]
                if len(members):
                    c[ci] = members.mean(axis=0)
        codebooks.append([[float(v) for v in row] for row in c])
    return [[float(v) for v in row] for row in rot], codebooks


def _pq_encode_udf(
    codebooks: list[list[list[float]]],
    perm: list[int] | None = None,
    rot: list[list[float]] | None = None,
):
    """Arrow-batched encoder: per subspace, argmin of Σ(x−c)² over the
    codebook, ties to the lowest code (numpy argmin-first, matching
    the oracle's ``ORDER BY d, code``).  ``perm`` reorders dimensions
    before slicing (see :func:`subspace_permutation`); ``rot`` applies
    an orthogonal rotation instead (``x @ R`` per batch — one matmul,
    see :func:`opq_train`); exactly one — codebooks must have been
    trained with the same transform."""
    cb = np.asarray(codebooks, dtype=np.float64)  # (m, ks, dsub)
    m, _ks, dsub = cb.shape
    _check_one_transform(perm, rot)
    _validate_perm(perm, m * dsub)
    _validate_rot(rot, m * dsub)
    p = np.asarray(perm, dtype=np.int64) if perm is not None else None
    r = np.asarray(rot, dtype=np.float64) if rot is not None else None

    @F.pandas_udf("array<int>")
    def enc(v: pd.Series) -> pd.Series:
        X = np.asarray(
            [np.asarray(x, dtype=np.float64) for x in v], dtype=np.float64
        )
        if p is not None:
            X = X[:, p]
        elif r is not None:
            X = X @ r
        out = np.empty((len(X), m), dtype=np.int32)
        for j in range(m):
            sub = X[:, j * dsub : (j + 1) * dsub]
            d = ((sub[:, None, :] - cb[j][None, :, :]) ** 2).sum(axis=2)
            out[:, j] = d.argmin(axis=1)
        return pd.Series(list(out))

    # enc is pure, but a downstream join's isnotnull(codes) constraint
    # pushed below the projection re-evaluates the UDF (guide §4.4:
    # Filter-below + Project-above = two ArrowEvalPython nodes, every
    # vector encoded twice).  Nondeterministic forbids the duplication.
    return enc.asNondeterministic()


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    perm: list[int] | None = None,
    rot: list[list[float]] | None = None,
) -> DataFrame:
    """``(vec_id, codes ARRAY<INT>)`` — ONE Arrow-batched numpy
    projection (the IVF-assignment precedent).  At ``m=8`` the codes
    are 8 small ints per vector — a ~32× smaller table than float64
    embeddings, the storage the billion-scale ANN literature persists
    instead of raw vectors.  NULL vectors are dropped (the IVF family's
    :func:`_assign_with_norm` convention — ``np.asarray(None)`` would
    crash the whole Arrow batch; a NULL embedding has no codes)."""
    enc = _pq_encode_udf(codebooks, perm, rot)
    return corpus.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("vec_id"), enc(F.col(vec_col)).alias("codes")
    )


def _pq_lut(
    queries: DataFrame,
    codebooks_arr: np.ndarray,
    *,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    max_probe_queries: int = 10_000,
    perm: list[int] | None = None,
    rot: list[list[float]] | None = None,
    query_rows: list | None = None,
) -> DataFrame:
    """Per-query ADC lookup table, ``nq·m·ks`` tiny rows:
    ``(query_id, j, code, dotv, n2, qnorm)``.  ``queries`` is the
    SMALL broadcast side by contract — it is collected driver-side.

    The contract is enforced LOUDLY, not just documented: the collect
    is bounded at ``max_probe_queries + 1`` rows, so a corpus-sized
    frame passed as the probe side raises a sized error message (the
    MinHash store's knob-guard pattern) instead of materializing the
    whole corpus on the driver — at 100 TB that is the difference
    between a tuning hint and a driver OOM.

    ``query_rows`` — pre-collected ``(query_id, vector)`` pairs from
    :func:`sample_and_query_rows` — skips the collect (the gate's
    trainer sample and this probe collect ride one action); the bound
    check still applies."""
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    spark = queries.sparkSession
    m, ks, dsub = codebooks_arr.shape
    _check_one_transform(perm, rot)
    _validate_perm(perm, m * dsub)
    _validate_rot(rot, m * dsub)
    parr = np.asarray(perm, dtype=np.int64) if perm is not None else None
    rarr = np.asarray(rot, dtype=np.float64) if rot is not None else None
    if query_rows is not None:
        qrows = [(qid, v) for qid, v in query_rows if v is not None]
    else:
        qrows = [
            (r["query_id"], r["_q"])
            for r in (
                queries.select(
                    F.col(query_id_col).alias("query_id"),
                    F.col(vec_col).alias("_q"),
                )
                .filter(F.col("_q").isNotNull())
                .limit(max_probe_queries + 1)
                .collect()
            )
        ]
    if len(qrows) > max_probe_queries:
        raise ValueError(
            f"PQ probe side holds more than {max_probe_queries} query "
            "vectors; the ADC lookup table is built driver-side from "
            "the SMALL broadcast side by contract (nq*m*ks rows). "
            "Batch the probes, or raise max_probe_queries only if the "
            "driver has the headroom"
        )
    lut_rows = []
    for qid, qvec in qrows:
        q = np.asarray(qvec, dtype=np.float64)
        qnorm = float(np.sqrt((q * q).sum()))  # perm/rot-invariant
        if parr is not None:
            q = q[parr]
        elif rarr is not None:
            q = q @ rarr
        for j in range(m):
            qsub = q[j * dsub : (j + 1) * dsub]
            for c in range(ks):
                lut_rows.append(
                    (
                        qid,
                        j,
                        c,
                        float(qsub @ codebooks_arr[j, c]),
                        float((codebooks_arr[j, c] ** 2).sum()),
                        qnorm,
                    )
                )
    qid_type = queries.select(F.col(query_id_col)).schema[0].dataType
    return spark.createDataFrame(
        lut_rows,
        StructType(
            [
                StructField("query_id", qid_type),
                StructField("j", IntegerType()),
                StructField("code", IntegerType()),
                StructField("dotv", DoubleType()),
                StructField("n2", DoubleType()),
                StructField("qnorm", DoubleType()),
            ]
        ),
    )


def _pq_adc_rank(
    exploded: DataFrame, lut: DataFrame, join_keys: list[str], k0: int
) -> DataFrame:
    """The shared ADC scoring tail: broadcast LUT join → one hash
    aggregate per (query, vector) → window top-k0 with the family's
    deterministic tie-break."""
    scored = (
        exploded.join(F.broadcast(lut), join_keys)
        .groupBy("query_id", "vec_id")
        .agg(
            F.sum("dotv").alias("_sd"),
            F.sum("n2").alias("_sn"),
            F.first("qnorm").alias("_qn"),
        )
        .select(
            "query_id",
            "vec_id",
            _safe_ratio(
                F.col("_sd"), F.sqrt("_sn") * F.col("_qn")
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k0)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    m: int = 8,
    ks: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    codebooks: list[list[list[float]]] | None = None,
    rescore: int = 0,
    max_probe_queries: int = 10_000,
    perm: list[int] | None = None,
    rot: list[list[float]] | None = None,
    query_rows: list | None = None,
) -> DataFrame:
    """Approximate top-k by cosine with asymmetric distance computation
    (ADC) over PQ codes — the billion-scale ANN shape: the corpus is
    ``m`` uint8 codes per vector, each query precomputes an
    ``(m × ks)`` lookup table of subspace dot products, and scoring a
    pair is m table lookups instead of a dim-term dot product.

    Plan: codes from one Arrow projection → ``posexplode`` to
    ``(vec_id, j, code)`` → broadcast-join the per-query LUT rows
    (``queries`` is the SMALL side by contract — it is collected
    driver-side to build the LUT, nq·m·ks tiny rows) → one hash
    aggregate per (query, vector) sums the dots and reconstruction
    norms → window top-k.  ``||recon||² = Σ_j ||c_{j,code_j}||²``
    exactly (subspaces concatenate).  ``rescore=m'`` re-ranks the top
    ``m'·k`` with exact cosine on the original vectors.

    With ``codebooks=None`` the trainer sample and the LUT's query
    collect ride ONE action (:func:`sample_and_query_rows`); callers
    that train codebooks themselves can pass ``query_rows`` from the
    same helper for the same effect."""
    if codebooks is None and query_rows is None:
        sample, query_rows = sample_and_query_rows(
            corpus, queries, ks, id_col=id_col, vec_col=vec_col,
            query_id_col=query_id_col, max_probe_queries=max_probe_queries,
        )
        codebooks = pq_train(
            corpus, m=m, ks=ks, dim=dim, id_col=id_col, vec_col=vec_col,
            perm=perm, rot=rot, sample_vectors=sample,
        )
    elif codebooks is None:
        codebooks = pq_train(
            corpus, m=m, ks=ks, dim=dim, id_col=id_col, vec_col=vec_col,
            perm=perm, rot=rot,
        )
    cb = np.asarray(codebooks, dtype=np.float64)
    codes = pq_encode(
        corpus, codebooks, id_col=id_col, vec_col=vec_col, perm=perm, rot=rot
    )
    lut = _pq_lut(
        queries,
        cb,
        query_id_col=query_id_col,
        vec_col=vec_col,
        max_probe_queries=max_probe_queries,
        perm=perm,
        rot=rot,
        query_rows=query_rows,
    )
    exploded = codes.select(
        "vec_id", F.posexplode("codes").alias("j", "code")
    )
    # joining on (j, code) alone cross-pairs every vector with every
    # query through the LUT's query_id column — exactly the brute
    # all-candidates regime PQ is built for
    approx = _pq_adc_rank(
        exploded, lut, ["j", "code"], k * rescore if rescore else k
    )
    from physicsnemo_curator_spark.operators.similarity import (
        rerank_or_return,
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


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centers: list[list[float]],
    k: int = 10,
    *,
    n_probe: int = 3,
    m: int = 8,
    ks: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    codebooks: list[list[list[float]]] | None = None,
    rescore: int = 0,
    max_probe_queries: int = 10_000,
    perm: list[int] | None = None,
    rot: list[list[float]] | None = None,
    query_rows: list | None = None,
) -> DataFrame:
    """IVF-PQ — the billion-scale composition: the coarse quantizer
    restricts each query to its ``n_probe`` nearest cells and PQ/ADC
    scores only those candidates.  This is the architecture large-
    vector-search deployments actually run: cells bound the scan
    (n_probe/k_cells of the corpus), codes bound the bytes (~32×
    smaller at m=8), and the optional exact re-rank restores precision
    on the short list.

    Plan: ONE projection computes each corpus row's cell AND its PQ
    codes (two Arrow UDFs, one pass — at scale this is the persisted
    index table, bucketed by cell); queries explode to their probe
    cells; candidates come from a broadcast cell join; scoring is the
    shared ADC tail keyed on (query_id, j, code) so each candidate
    meets only its own query's LUT rows.

    With ``codebooks=None`` the trainer sample and the LUT's query
    collect ride ONE action (:func:`sample_and_query_rows`); callers
    that train codebooks themselves can pass ``query_rows`` from the
    same helper for the same effect."""
    dim = len(centers[0])
    if codebooks is None and query_rows is None:
        sample, query_rows = sample_and_query_rows(
            corpus, queries, ks, id_col=id_col, vec_col=vec_col,
            query_id_col=query_id_col, max_probe_queries=max_probe_queries,
        )
        codebooks = pq_train(
            corpus, m=m, ks=ks, dim=dim, id_col=id_col, vec_col=vec_col,
            perm=perm, rot=rot, sample_vectors=sample,
        )
    elif codebooks is None:
        codebooks = pq_train(
            corpus, m=m, ks=ks, dim=dim, id_col=id_col, vec_col=vec_col,
            perm=perm, rot=rot,
        )
    cb = np.asarray(codebooks, dtype=np.float64)
    cell_meta = _ivf_meta_udf(centers, 1)
    enc = _pq_encode_udf(codebooks, perm, rot)
    corpus = corpus.filter(F.col(vec_col).isNotNull())
    indexed = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.element_at(cell_meta(F.col(vec_col))["cells"], 1).alias("cell"),
        enc(F.col(vec_col)).alias("codes"),
    )
    probe_meta = _ivf_meta_udf(centers, n_probe, dedup_eval=False)
    probed = queries.filter(F.col(vec_col).isNotNull()).select(
        F.col(query_id_col).alias("query_id"),
        F.explode(probe_meta(F.col(vec_col))["cells"]).alias("cell"),
    )
    cand = indexed.join(F.broadcast(probed), "cell").select(
        "query_id", "vec_id", F.posexplode("codes").alias("j", "code")
    )
    lut = _pq_lut(
        queries,
        cb,
        query_id_col=query_id_col,
        vec_col=vec_col,
        max_probe_queries=max_probe_queries,
        perm=perm,
        rot=rot,
        query_rows=query_rows,
    )
    approx = _pq_adc_rank(
        cand, lut, ["query_id", "j", "code"], k * rescore if rescore else k
    )
    from physicsnemo_curator_spark.operators.similarity import (
        rerank_or_return,
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


_POINTER_FILE = "_CURRENT"
_GEN_DIR_RE = r"v\d{5}"


def _local_store_path(store: str) -> str:
    """Like :func:`_try_local_store_path` but for operations that have
    NO degraded mode (compaction's pointer flip and generation sweep):
    a non-file scheme raises with the three client operations an
    object-store port needs — the PROTOCOL is scheme-agnostic, the
    sandbox has no object-store client."""
    local = _try_local_store_path(store)
    if local is None:
        raise NotImplementedError(
            f"store metadata I/O (generation pointer, generation "
            f"sweep) is implemented for local paths and file:// "
            f"URIs, got {store!r}; an object-store deployment plugs "
            "its client into the same three operations — read "
            f"{_POINTER_FILE}, atomically put {_POINTER_FILE}, "
            "list/delete a generation prefix"
        )
    return local


def _read_generation_pointer(root: str) -> str | None:
    """The current generation dir name (``vNNNNN``) from the store's
    ``_CURRENT`` pointer, or None for a flat (never-compacted) store."""
    import re

    path = os.path.join(root, _POINTER_FILE)
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        name = fh.read().strip()
    if not re.fullmatch(_GEN_DIR_RE, name):
        raise ValueError(
            f"corrupt generation pointer {path!r}: {name!r} (expected "
            "vNNNNN); restore it to the newest complete v* directory"
        )
    return name


def _flip_generation_pointer(root: str, name: str) -> None:
    """Atomically point the store at generation ``name`` (temp file +
    rename — the commit point of a compaction; on an object store this
    is one small-object PUT, atomic by the store's semantics).  The
    temp file is fsynced before the rename and the store directory
    after it: os.replace alone is atomic against CRASHED PROCESSES but
    not against power loss — an unsynced rename can be lost or leave
    an empty pointer, and once a later compact has swept the old
    layout a lost ``_CURRENT`` makes the store read as EMPTY rather
    than stale."""
    path = os.path.join(root, _POINTER_FILE)
    tmp = path + f".tmp-{os.getpid()}"
    with open(tmp, "w") as fh:
        fh.write(name)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)
    dirfd = os.open(root, os.O_RDONLY)
    try:
        os.fsync(dirfd)
    finally:
        os.close(dirfd)


def _resolve_store(store: str) -> tuple[str | None, str | None, str]:
    """``(root, pointer, data_dir)`` from ONE pointer read — root None
    for a scheme'd store (always flat: only local compaction creates
    the pointer layout), pointer None for a flat/never-compacted
    store.  Every reader/writer resolves through here so the pointer
    protocol lives in one place, and so callers that need both the raw
    pointer and the data dir get them from a SINGLE read (a compaction
    flipping ``_CURRENT`` between two reads would hand the caller an
    internally inconsistent view)."""
    root = _try_local_store_path(store)
    if root is None:
        return None, None, store
    cur = _read_generation_pointer(root)
    return root, cur, (os.path.join(root, cur) if cur else root)


def _resolve_data_dir(store: str) -> str:
    """Where the store's live parquet data is: ``<store>/<pointer>``
    once compacted, the store root before (flat layout)."""
    return _resolve_store(store)[2]


def _next_gen(spark, data_dir: str) -> int:
    """The next write-sequence number for a store: max(``_gen``) + 1
    over the live data, 0 for a new store.  ``_gen`` is assigned
    per WRITE (single-writer maintenance assumption, the same as any
    index build) and gives conflict resolution a TOTAL numeric order —
    latest write wins — instead of the lexical batch-name order that
    inverted after compaction (``'compacted' > '2026-…'``).  Reading
    max() is a parquet-stats scan over file footers; compaction keeps
    the file count bounded, so this stays cheap at store scale."""
    df = _read_store_data(spark, data_dir)
    if df is None:
        # a new/empty store path — the first generation.  Anything
        # beyond missing/empty (corrupt footer, IO, permissions)
        # PROPAGATES out of the read: silently treating it as gen 0
        # would tie the seed generation and skip the tombstone write,
        # serving stale codes with no error anywhere.
        return 0
    if "_gen" not in df.columns:
        raise ValueError(
            f"store at {data_dir!r} has no _gen column (written by a "
            "pre-generation version of write_ivfpq_index); rebuild it "
            "with mode='overwrite' before appending"
        )
    row = df.agg(F.max(F.col("_gen").cast("long"))).collect()[0]
    return (row[0] if row[0] is not None else -1) + 1


def _read_store_data(spark, data_dir: str):
    """The live rows of one store generation, or None when nothing has
    been written.  On a local store the read addresses the ``_batch=*``
    partition directories EXPLICITLY (with ``basePath`` so partition-
    column parsing matches a whole-directory read): a compaction writes
    its merged ``vNNNNN`` target INSIDE a flat store root before
    flipping the pointer, and a wholesale read that overlaps that
    window dies with CONFLICTING_DIRECTORY_STRUCTURES — so every store
    reader (gen sequencing, probe, conflict scan, compact merge, stats)
    routes through here and stays correct while a compaction is
    mid-flight.  A directory with no batch partitions (a legacy/plain
    parquet store) and a scheme'd object-store path fall back to the
    wholesale read — the flat-only layout of scheme'd stores means no
    nested generation can appear there."""
    local = _try_local_store_path(data_dir)
    if local is None or not os.path.exists(local):
        return _read_optional_parquet(spark, data_dir)
    dirs = [
        os.path.join(data_dir, name)
        for name in sorted(os.listdir(local))
        if name.startswith("_batch=")
    ]
    if not dirs:
        return _read_optional_parquet(spark, data_dir)
    from physicsnemo_curator_spark.core.store import memoized_read

    # plan memo: a probe loop re-reads the same generation per batch;
    # the recursive identity token re-keys on ANY mutation under the
    # generation dir (new batch partition, mid-flight compaction
    # target, tombstone write)
    return memoized_read(
        spark,
        "storedata::" + data_dir,
        local,
        lambda: spark.read.option("basePath", data_dir).parquet(*dirs),
    )


def _read_tombstones(spark, data_dir: str):
    """A generation's conflict tombstones — ``(vec_id, dead_below)``
    rows meaning "every row of vec_id with ``_gen < dead_below`` is
    superseded" — aggregated to one max per vec_id, or None when there
    are none.  Tombstones exist because the probe PRUNES to the probed
    cell partitions: a re-ingested vector whose cell assignment moved
    can leave its stale row in a probed cell while the winning row
    lives in an UNPROBED one, so no amount of among-candidates dedup
    can see the winner.  The set is the write-time conflict list
    (normally tiny — compaction resolves it away), joined into the
    probe as a filter.  It lives INSIDE the data generation directory
    (``<data_dir>/_tombstones`` — Spark's parquet listing ignores
    ``_``-prefixed entries), so its lifetime is exactly its
    generation's: the compaction grace window protects it for
    in-flight readers, and a static overwrite resets it for free."""
    t = _read_optional_parquet(
        spark, os.path.join(data_dir, "_tombstones")
    )
    if t is None:
        return None
    return t.groupBy("vec_id").agg(F.max("dead_below").alias("dead_below"))


def _apply_tombstones(index: DataFrame, tombs: DataFrame | None) -> DataFrame:
    """Filter superseded rows: keep a row unless a tombstone for its
    vec_id says its generation is dead.  The row that CREATED a
    tombstone carries ``_gen == dead_below`` and survives the strict
    ``<`` by construction, so stale (already-applied) tombstones are
    harmless — which is what makes writing them after the data write
    and clearing them after the compaction flip crash-safe.  The join
    strategy is left to Spark/AQE on purpose: the conflict set is
    normally tiny (auto-broadcast), but a full-corpus re-ingest under
    a new batch_id legitimately makes it corpus-sized until the next
    compaction, where a FORCED broadcast would OOM the driver."""
    if tombs is None:
        return index
    return (
        index.join(tombs, "vec_id", "left")
        .filter(
            F.col("dead_below").isNull()
            | (F.col("_gen") >= F.col("dead_below"))
        )
        .drop("dead_below")
    )


def _validate_batch_id(batch_id: str) -> None:
    """Core charset rule (:func:`core.store.validate_batch_id`) plus
    the index's own reserve: ``compacted`` names the compactor's
    output partition."""
    _core_validate_batch_id(batch_id, reserved=("compacted",))


def _norm_perm(perm: list[int] | None) -> list[int] | None:
    """Canonicalize a subspace permutation for storage/comparison:
    identity is byte-equivalent to "no permutation" at encode time
    (asserted in tests), so it normalizes to None — a store stamped by
    an identity-perm writer and probed with ``perm=None`` (or vice
    versa) must not trip the mismatch guard over a distinction that
    cannot change a single code."""
    if perm is None:
        return None
    perm = [int(p) for p in perm]
    return None if perm == list(range(len(perm))) else perm


def _read_index_meta(root: str) -> dict | None:
    """The store's ``_index_meta.json`` — writer-stamped encode config
    (today: the subspace permutation), or None when the store predates
    the stamp / was never written.  Lives at store ROOT next to
    ``_quantizers.json`` (outside every generation's blast radius)."""
    import json

    path = os.path.join(root, "_index_meta.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)


def _write_index_meta(root: str, meta: dict) -> None:
    """Atomically stamp ``_index_meta.json`` (temp file + rename, the
    ``save_quantizers`` convention — a crashed write can't leave a
    truncated stamp that parses as garbage)."""
    import json

    os.makedirs(root, exist_ok=True)
    path = os.path.join(root, "_index_meta.json")
    tmp = path + f".tmp-{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, path)


def _stamped_config(
    root: str | None,
) -> tuple[bool, list[int] | None, list[list[float]] | None]:
    """``(stamped, perm, rot)`` — what the store says its codes were
    encoded with.  The writer's ``_index_meta.json`` stamp is
    authoritative (it records what the encode ACTUALLY used); a
    transform-carrying ``_quantizers.json`` sidecar is the fallback
    for stores stamped only via :func:`save_quantizers`.  ``stamped``
    False means the store predates both stamps and the caller's word
    is all there is."""
    if root is None:
        return False, None, None
    meta = _read_index_meta(root)
    if meta is not None and ("perm" in meta or "rot" in meta):
        return True, _norm_perm(meta.get("perm")), _norm_rot(meta.get("rot"))
    sidecar = os.path.join(root, "_quantizers.json")
    if os.path.exists(sidecar):
        import json

        with open(sidecar) as fh:
            d = json.load(fh)
        # a sidecar with no perm/rot key declares untransformed codes
        # (the keys are only written for real transforms), so it
        # stamps (None, None) — an append that now brings one raises
        return True, _norm_perm(d.get("perm")), _norm_rot(d.get("rot"))
    return False, None, None


def write_ivfpq_index(
    corpus: DataFrame,
    centers: list[list[float]],
    codebooks: list[list[list[float]]],
    store: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "overwrite",
    batch_id: str = "seed",
    perm: list[int] | None = None,
    rot: list[list[float]] | None = None,
    lease: bool = False,
    lease_ttl_s: float = 600.0,
    _fence: tuple[str, str] | None = None,
) -> None:
    """Persist the IVF-PQ index table — ``(vec_id, codes)`` partitioned
    by ``(_batch, cell)`` — the production artifact a 100 TB deployment
    maintains BETWEEN full retrains: the quantizers (centroids +
    codebooks, O(k·dim) driver-side scalars) stay fixed for the store's
    life, and new corpus batches append under their own ``_batch``
    partition.

    The index stores CODES ONLY (m small ints per vector, ~32× smaller
    than float64 embeddings at m=8) — original vectors stay in the
    source corpus table, which only the optional exact re-rank touches.
    ``mode='append'`` is a per-vector UPSERT within the batch: dynamic
    partition overwrite replaces the (batch, cell) partitions the
    incoming rows touch, re-running a batch replaces its own rows
    (idempotent ingestion), and same-batch rows the re-run did NOT
    carry are carried through the rewrite instead of being destroyed
    with their partition.  The ``repartition`` aligns tasks with
    output partitions so each (batch, cell) gets one file, not one
    per upstream task.

    Every write also stamps a ``_gen`` data column — a per-write
    monotonic sequence (``max existing + 1``; 0 for a fresh store).
    A vec_id present in several generations (conflicting re-ingest, or
    a vector whose cell ASSIGNMENT moved under an idempotent re-run so
    dynamic overwrite couldn't clear its old-cell row) is resolved
    with LATEST ``_gen`` WINS — a total numeric order, unlike
    batch-name strings (whose lexical order inverted after
    compaction: ``'compacted' > '2026-08-16'``).  Because the probe
    prunes to probed CELLS, an append additionally records the actual
    conflict set (old rows whose vec_id it supersedes — one thin-
    column semi-join against the store) as ``_tombstones`` rows the
    probe broadcast-filters with; without them a superseded row in a
    probed cell would be served whenever its winner's cell isn't
    probed.  Tombstones are written AFTER the data commit (a crashed
    append never kills live rows; re-running the append rewrites
    them), and compaction applies and clears them.  ``perm`` (a
    :func:`subspace_permutation`) is part of the QUANTIZER CONFIG and
    load-bearing exactly like the codebooks — so the write STAMPS it
    into ``_index_meta.json`` at the store root (local stores;
    scheme'd layouts keep the caller-knows contract): appends with a
    different perm raise before writing a row, probes adopt the stamp
    when called without one and raise on an explicit mismatch, and
    :func:`save_quantizers` refuses a sidecar that disagrees with the
    stamped codes.

    Concurrent maintenance is DETECTED, not assumed away: an append
    that resolved ``_CURRENT`` before a concurrent compaction's flip
    writes into the generation the flip supersedes — the rows land,
    then the next sweep silently deletes them with the grace copy.  So
    after the append's last commit the pointer is re-read and a
    changed value raises (retry the append: it re-resolves to the new
    generation, and the upsert semantics make the retry idempotent —
    the compact that raced either carried the rows or never saw
    them).  The same pointer check guards ``mode='overwrite'`` (a
    rebuild racing a compaction would be superseded by the flip and
    swept), and an append additionally detects a CONCURRENT APPEND
    (which would stamp the same ``_gen``, leaving conflict resolution
    undefined) by counting foreign rows at its own generation — plus,
    for a writer that reused the SAME batch_id (whose rows land in
    our partition and look like ours), by reconciling the partition's
    new-generation rows against the checkpointed incoming snapshot
    (row count + id set; two same-batch writers committing the exact
    same id set stay indistinguishable, which only matters if their
    code values differ — a pipeline bug, not a race).  These
    are optimistic read-validate checks — one tiny metadata read each,
    converting silent data loss into a loud retry; they are not a
    lock (see :func:`_check_no_concurrent_append` for the residual
    window).  Compaction runs the mirror check before its flip
    (see :func:`compact_ivfpq_index`).  Deployments that need the
    absolute pass ``lease=True``: the write then runs under the
    store's maintenance lease (:func:`_acquire_lease` — flock-backed
    mutual exclusion with TTL crash recovery and a fencing re-verify
    at commit), which closes the optimistic checks' residual window
    against every other lease-respecting maintenance pass."""
    if lease:
        with _held_lease(
            _local_store_path(store), ttl_s=lease_ttl_s
        ) as fence:
            return write_ivfpq_index(
                corpus, centers, codebooks, store,
                id_col=id_col, vec_col=vec_col, mode=mode,
                batch_id=batch_id, perm=perm, rot=rot,
                _fence=fence,
            )
    if mode not in ("overwrite", "append"):
        # 'Append'/'upsert'/... falling through to a STATIC overwrite
        # would silently wipe every previously appended batch
        raise ValueError(
            f"unknown write_ivfpq_index mode {mode!r}; expected "
            "'overwrite' or 'append'"
        )
    _validate_batch_id(batch_id)
    # a scheme'd (object-store) location degrades gracefully: data and
    # tombstones go through Spark's Hadoop FS as-is, the layout stays
    # flat (only local compaction creates the pointer layout), and the
    # local-only sidecar stash is skipped exactly as before
    root, pointer_at_resolve, data_dir = _resolve_store(store)
    gen = _next_gen(corpus.sparkSession, data_dir) if mode == "append" else 0
    # perm/rot are encode config: appending codes encoded under a
    # DIFFERENT transform than the store's existing rows garbles every
    # probe over the mixed set, so validate against the store's stamp
    # BEFORE writing a single row (identity normalizes to None — it's
    # byte-equivalent).  Scheme'd stores have no local stamp (root is
    # None) and keep the caller-knows contract.
    _check_one_transform(perm, rot)
    perm = _norm_perm(perm)
    rot = _norm_rot(rot)
    stamped, store_perm, store_rot = _stamped_config(root)
    if mode == "append" and gen > 0 and stamped and (
        store_perm != perm or not _rots_equal(store_rot, rot)
    ):
        raise ValueError(
            f"subspace-transform mismatch: the store at {store!r} was "
            f"written with perm={store_perm!r}, "
            f"rot={'set' if store_rot is not None else None} but this "
            f"append passed perm={perm!r}, "
            f"rot={'set' if rot is not None else None} — mixing "
            "encodings garbles every probe. Pass the store's transform "
            "(load_quantizers(store, with_perm=True, with_rot=True)) "
            "or rebuild with mode='overwrite'."
        )
    cell_meta = _ivf_meta_udf(centers, 1)
    enc = _pq_encode_udf(codebooks, perm, rot)
    out = corpus.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("vec_id"),
        F.element_at(cell_meta(F.col(vec_col))["cells"], 1).alias("cell"),
        enc(F.col(vec_col)).alias("codes"),
        F.lit(gen).cast("long").alias("_gen"),
        F.lit(batch_id).alias("_batch"),
    )
    if mode == "append":
        # ONE materialized snapshot of the batch (batch-sized codes,
        # never store-sized): the surviving-row carry, the data write,
        # and the conflict scan below must all see the SAME id set — a
        # non-deterministic corpus (sample/limit/changing source)
        # re-evaluated per consumer could tombstone an id the write
        # never produced, killing its only live row, or skip one it
        # did, leaving a stale row served from an unprobed cell.
        out = snapshot = out.localCheckpoint()
        incoming_ids = out.select("vec_id").distinct()
        n_incoming = out.count()
    else:
        snapshot = incoming_ids = None
        n_incoming = 0
    carried = None
    try:
        prev_batch = _read_batch_partition(
            corpus.sparkSession, data_dir, batch_id
        ) if mode == "append" and gen > 0 else None
        if prev_batch is not None:
            # PARTIAL re-run of an existing batch name: dynamic overwrite
            # replaces every (_batch, cell) partition the incoming rows
            # touch, which would DELETE same-batch rows of vectors the
            # re-run didn't carry (found by the randomized lifecycle
            # test) — so an append is a true per-vector UPSERT: carry the
            # batch's surviving rows (original _gen, codes untouched)
            # through the rewrite.  The batch partition is read by its
            # DIRECTORY (no _batch value comparison: Spark's partition
            # type inference canonicalizes numeric-looking names, '007'
            # reads back as 7, so a string filter silently matches
            # nothing), and a fresh batch name skips this entirely via
            # the directory existence check.
            carried = _carry_surviving(
                prev_batch.select(
                    "vec_id",
                    F.col("cell").cast("int").alias("cell"),
                    "codes",
                    F.col("_gen").cast("long").alias("_gen"),
                ),
                incoming_ids,
                "vec_id",
            )
            out = out.unionByName(carried.withColumn("_batch", F.lit(batch_id)))
        # a static overwrite deletes the WHOLE output path; on a flat
        # (never-compacted) store that path IS the store root, including
        # the _quantizers.json sidecar save_quantizers may have written
        # and any live _LEASE record (a leased flat-store rebuild would
        # otherwise wipe its own lease mid-pass and fail its fencing
        # verify after the write had already committed — review-found) —
        # stash them to disk FIRST and restore in a finally, so a Spark
        # write that dies mid-job can't destroy the only copy of the
        # quantizers the codes are unreadable without.  (Once compacted,
        # data lives under <store>/vNNNNN and the root files are never
        # in the overwrite's blast radius.)
        stashes: list[tuple[str, str]] = []
        if mode == "overwrite" and root is not None and data_dir == root:
            import shutil
            import tempfile

            for name in ("_quantizers.json", _LEASE_FILE):
                p = os.path.join(root, name)
                if os.path.exists(p):
                    fd, tmp = tempfile.mkstemp(prefix="pcs_stash_")
                    os.close(fd)
                    shutil.copy2(p, tmp)
                    stashes.append((p, tmp))
        if _fence is not None:
            # fencing BEFORE the data commit: a holder whose TTL lapsed
            # (and was stolen from) must not write a row — the thief may
            # already be mid-pass
            _verify_lease(*_fence)
        try:
            _write_batch_partitioned(
                out, data_dir, mode=mode,
                partition_cols=("_batch", "cell"),
                repartition_cols=("_batch", "cell"),
            )
        finally:
            if stashes:
                import shutil

                for p, tmp in stashes:
                    if not os.path.exists(p):
                        shutil.copy2(tmp, p)
                    os.unlink(tmp)
        if root is not None and (mode == "overwrite" or not stamped):
            # stamp the encode config the codes were ACTUALLY written with
            # (after the data commit: a crashed overwrite must not leave a
            # fresh stamp over the old generation's codes).  An overwrite
            # redefines it; an append to an unstamped legacy store records
            # the caller's word so every LATER write and probe is guarded.
            _write_index_meta(root, {"perm": perm, "rot": rot})
        # tombstones live inside the data generation dir, so an overwrite
        # (whose static mode just deleted data_dir wholesale) resets them
        # for free — a stale dead_below from the previous life would kill
        # the fresh _gen=0 rows otherwise
        tomb_dir = os.path.join(data_dir, "_tombstones")
        if _fence is not None and mode == "append" and gen > 0:
            # fencing again before the tombstone commit (the append's
            # second write): the data landed, but a tombstone written
            # after a steal could kill rows of the thief's pass
            _verify_lease(*_fence)
        if mode == "append" and gen > 0:
            conflicts = (
                _read_store_data(corpus.sparkSession, data_dir)
                .filter(F.col("_gen").cast("long") < gen)
                .select("vec_id")
                .join(incoming_ids, "vec_id", "left_semi")
                .distinct()
                .withColumn("dead_below", F.lit(gen).cast("long"))
            )
            conflicts.write.mode("append").parquet(tomb_dir)
        if mode == "append":
            # append-vs-append detection: two concurrent appends both read
            # max+1 and stamp the SAME _gen, so neither tombstones the
            # other and a doubly-written vec_id would serve
            # nondeterministically (row_number ties on equal _gen).  Our
            # own new-gen rows live exactly in our batch partition
            # (path-addressed — no partition-type inference); any OTHER
            # row at this _gen is a foreign writer.
            spark = corpus.sparkSession
            total_new = (
                _read_store_data(spark, data_dir)
                .filter(F.col("_gen").cast("long") == gen)
                .count()
            )
            mine = _read_batch_partition(spark, data_dir, batch_id)
            mine_new = (
                mine.filter(F.col("_gen").cast("long") == gen).count()
                if mine is not None
                else 0
            )
            if total_new != mine_new:
                raise RuntimeError(
                    f"concurrent append detected: {total_new - mine_new} "
                    f"row(s) outside batch {batch_id!r} carry this "
                    f"write's generation {gen} in {data_dir!r} — another "
                    "writer appended concurrently and conflict "
                    "resolution between the two batches is undefined "
                    "(equal _gen). Compact the store, then re-run ONE of "
                    "the two appends."
                )
            # a concurrent append that reused the SAME batch_id lands its
            # rows in OUR partition and counts as "mine" above — so also
            # reconcile the partition's new-gen rows against the
            # checkpointed incoming snapshot: a row count or id-set
            # divergence means a foreign writer's files interleaved with
            # (or replaced) ours under dynamic partition overwrite.  Two
            # same-batch writers committing the EXACT same id set remain
            # indistinguishable (and conflict only if their code values
            # differ — a pipeline bug, not a race this check can see).
            foreign_same_batch = 0
            if mine is not None and mine_new == n_incoming:
                foreign_same_batch = (
                    mine.filter(F.col("_gen").cast("long") == gen)
                    .select("vec_id")
                    .join(incoming_ids, "vec_id", "left_anti")
                    .limit(1)
                    .count()
                )
            if mine_new != n_incoming or foreign_same_batch:
                raise RuntimeError(
                    f"concurrent append detected: batch {batch_id!r} in "
                    f"{data_dir!r} holds rows at this write's generation "
                    f"{gen} that this write did not produce "
                    f"({mine_new} stored vs {n_incoming} written"
                    f"{', foreign ids present' if foreign_same_batch else ''}) "
                    "— another writer appended under the SAME batch_id "
                    "concurrently. Give each writer its own batch_id, "
                    "compact the store, then re-run ONE of the appends."
                )
    finally:
        # the snapshot's last reader has run, or the write failed
        _release(snapshot, carried)
    if root is not None:
        # both write modes validate the pointer: an overwrite racing a
        # compaction would otherwise be silently superseded by the
        # flip (the merge of the PRE-overwrite data) and swept
        _check_pointer_unmoved(root, pointer_at_resolve, data_dir)
    if _fence is not None:
        # final fencing: the TTL lapsed during the LAST write's
        # duration is the one window the pre-commit verifies can't
        # see.  By now the commits HAVE happened — the raise is a
        # quarantine signal, not a rollback (see _verify_lease).
        _verify_lease(*_fence)


def _check_pointer_unmoved(
    root: str, pointer_at_resolve: str | None, data_dir: str
) -> None:
    """The writer's optimistic-concurrency validation (appends AND
    full overwrites): raise loudly if a compaction flipped
    ``_CURRENT`` between the write's resolve and its last commit —
    the rows just written landed in the superseded generation and the
    NEXT compaction's sweep would silently delete them with the grace
    copy.  The raise converts that silent loss into a retry: the rows
    are still probe-visible for one full compaction cycle (the grace
    window), and re-running the write is idempotent (appends are
    per-vector upserts; an overwrite is a rebuild) against the new
    generation."""
    now = _read_generation_pointer(root)
    if now != pointer_at_resolve:
        raise RuntimeError(
            f"concurrent compaction detected: the store pointer moved "
            f"from {pointer_at_resolve!r} to {now!r} while this append "
            f"was writing into {data_dir!r} (now the superseded "
            "generation). Retry the append — it will resolve the new "
            "generation, and per-vector upsert semantics make the "
            "retry idempotent. Without the retry the next compaction "
            "sweep deletes these rows with the grace copy."
        )


def ivfpq_index_topk(
    spark,
    queries: DataFrame,
    centers: list[list[float]],
    store: str,
    k: int = 10,
    *,
    n_probe: int = 3,
    codebooks: list[list[list[float]]],
    rescore: int | str = 0,
    corpus: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_probe_queries: int = 10_000,
    perm: list[int] | None = None,
    rot: list[list[float]] | None = None,
    target_recall: float = 0.8,
) -> DataFrame:
    """Probe a persisted :func:`write_ivfpq_index` store — the serving
    path of the incremental index: queries explode to their ``n_probe``
    nearest cells and BROADCAST into the store join, so the scan prunes
    to the probed cell partitions (dynamic partition pruning on the
    cell-partitioned parquet — plan-asserted in tests) and reads
    ~n_probe/k_cells of the codes, which are themselves ~32× smaller
    than the vectors.  Scoring is the shared ADC tail keyed
    ``(query_id, j, code)``.

    ``centers``/``codebooks`` must be the quantizers the store was
    written with (persist them next to the store; re-clustering means
    rebuilding — the :func:`write_semantic_store` contract).
    ``rescore=m'`` re-ranks the top ``m'·k`` with exact cosine against
    ``corpus`` (required then: the index has no vectors);
    ``rescore='auto'`` sizes the multiplier from the store's measured
    cell occupancy via :func:`recommended_rescore` (``target_recall``
    tunes it) and REFUSES the collapsed huge-cluster regime instead of
    silently serving it.  A vec_id
    appearing in MULTIPLE generations (re-ingested under a new
    batch_id, or left behind in its old cell partition when its
    assignment moved under an idempotent same-batch re-run) is deduped
    per query BEFORE scoring — without that, its (j, code) rows double
    inside the ADC sums and the duplicate silently outranks genuine
    neighbors at ~1.41× its true cosine.  The dedup rule is LATEST
    ``_gen`` WINS — the numeric per-write sequence the writer stamps —
    so conflicts resolve by a TOTAL order that survives compaction
    (batch-name strings don't: ``'compacted'`` sorts above ISO dates),
    never an arbitrary partition-scan order and never mixed subspace
    codes from two versions."""
    if rescore and corpus is None:
        raise ValueError(
            "rescore needs the original vectors: pass corpus= (the "
            "index stores codes only)"
        )
    dim = len(centers[0])
    cb = np.asarray(codebooks, dtype=np.float64)
    # dedup_eval=False: the probe cells feed the cell-PARTITIONED store
    # scan's dynamic partition pruning, which a nondeterministic build
    # side disables (see _ivf_meta_udf)
    probe_meta = _ivf_meta_udf(centers, n_probe, dedup_eval=False)
    probed = queries.filter(F.col(vec_col).isNotNull()).select(
        F.col(query_id_col).alias("query_id"),
        F.explode(probe_meta(F.col(vec_col))["cells"]).alias("cell"),
    )
    root, _, data_dir = _resolve_store(store)
    # the writer stamps the transform its encode actually used
    # (_index_meta.json / the quantizer sidecar): adopt it when the
    # caller passed none — the default call is then correct by
    # construction — and raise on an explicit mismatch, because
    # probing transformed codes with differently-transformed query
    # LUTs returns silently wrong neighbors (no error anywhere).
    _check_one_transform(perm, rot)
    perm = _norm_perm(perm)
    rot = _norm_rot(rot)
    stamped, store_perm, store_rot = _stamped_config(root)
    if stamped:
        if perm is None and rot is None:
            perm, rot = store_perm, store_rot
        elif perm != store_perm or not _rots_equal(rot, store_rot):
            raise ValueError(
                f"subspace-transform mismatch: the store at {store!r} "
                f"was written with perm={store_perm!r}, "
                f"rot={'set' if store_rot is not None else None} but "
                f"this probe passed perm={perm!r}, "
                f"rot={'set' if rot is not None else None} — the "
                "rankings would be silently wrong. Pass the store's "
                "transform or none (the stamp is adopted "
                "automatically)."
            )
    raw = _read_store_data(spark, data_dir)
    if raw is None:
        raise ValueError(
            f"no IVF-PQ index data at {data_dir!r}: write the store "
            "with write_ivfpq_index first"
        )
    if "_gen" not in raw.columns:
        raise ValueError(
            f"store at {data_dir!r} has no _gen column (written by a "
            "pre-generation version of write_ivfpq_index); rebuild it "
            "with mode='overwrite'"
        )
    index = raw.select(
        "vec_id", "cell", "codes",
        F.col("_gen").cast("long").alias("_gen"),
    )
    if rescore == "auto":
        # occupancy-aware sizing (RECALL.md's operating rule as code):
        # one bounded per-cell agg over the column-pruned store, fed to
        # recommended_rescore.  Measured over ALL live rows incl.
        # not-yet-compacted superseded ones — slightly conservative
        # (occupancy can only be overstated, never understated).
        occ = (
            index.groupBy("cell")
            .agg(F.count("*").alias("rows"))
            .agg(
                F.max("rows").alias("max_rows"),
                F.avg("rows").alias("mean_rows"),
            )
            .collect()[0]
        )
        rescore = recommended_rescore(
            {
                "mean_cell_rows": float(occ["mean_rows"]),
                "max_cell_rows": occ["max_rows"],
            },
            k,
            target_recall,
        )
    elif isinstance(rescore, str):
        raise ValueError(
            f"unknown rescore {rescore!r}: expected an int multiplier "
            "or 'auto' (occupancy-sized via recommended_rescore)"
        )
    wdup = Window.partitionBy("query_id", "vec_id").orderBy(
        F.desc("_gen")
    )
    # tombstones filter AFTER the cell join (a per-row predicate on
    # (vec_id, _gen), it commutes with the join) so the store scan's
    # partition pruning to the probed cells never depends on how the
    # optimizer orders a join placed UPSTREAM of it — the plan test
    # asserts PartitionFilters on a store with live tombstones
    cand = (
        _apply_tombstones(
            index.join(F.broadcast(probed), "cell"),
            _read_tombstones(spark, data_dir),
        )
        .withColumn("_rn", F.row_number().over(wdup))
        .filter(F.col("_rn") == 1)
        .select(
            "query_id", "vec_id", F.posexplode("codes").alias("j", "code")
        )
    )
    lut = _pq_lut(
        queries,
        cb,
        query_id_col=query_id_col,
        vec_col=vec_col,
        max_probe_queries=max_probe_queries,
        perm=perm,
        rot=rot,
    )
    approx = _pq_adc_rank(
        cand, lut, ["query_id", "j", "code"], k * rescore if rescore else k
    )
    from physicsnemo_curator_spark.operators.similarity import (
        rerank_or_return,
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


def ivfpq_index_search(
    spark,
    queries: DataFrame,
    store: str,
    k: int = 10,
    *,
    n_probe: int = 3,
    rescore: int | str = 0,
    corpus: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_probe_queries: int = 10_000,
    target_recall: float = 0.8,
) -> DataFrame:
    """One-call serving for a persisted index: load the quantizers AND
    the encode transform from the store's own sidecar
    (:func:`load_quantizers` — the artifact :func:`save_quantizers`
    wrote next to the codes) and probe.  This is the call a consumer
    who didn't build the store writes — no hand-carried centers/
    codebooks/perm/rot, so none of the mismatch failure modes the
    explicit :func:`ivfpq_index_topk` signature guards against can be
    reached from here.  Raises the sidecar's own actionable error when
    the store was written without :func:`save_quantizers`."""
    centers, codebooks, perm, rot = load_quantizers(
        store, with_perm=True, with_rot=True
    )
    return ivfpq_index_topk(
        spark,
        queries,
        centers,
        store,
        k,
        n_probe=n_probe,
        codebooks=codebooks,
        rescore=rescore,
        corpus=corpus,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        max_probe_queries=max_probe_queries,
        perm=perm,
        rot=rot,
        target_recall=target_recall,
    )


def cluster_balanced_sample(
    corpus: DataFrame,
    centers: list[list[float]],
    n_per_cell: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Diversity-aware subselection: assign every vector to its
    nearest cell and keep the first ``n_per_cell`` per cell by
    ``md5(id)`` order — cluster-balanced sampling, the curation move
    that keeps a corpus's coverage while cutting its volume (a
    uniform sample over-represents dense regions; sampling per
    CLUSTER caps each region's contribution).  md5 order is a
    deterministic shuffle, so the pick is reproducible and
    oracle-replayable (the q_d1/minhash convention).  Output:
    ``(id, cell, pick_rank)`` for kept rows only.

    Scale shape: one Arrow projection for assignment, one
    window-per-cell shuffle keyed on cell — no driver state beyond
    the centroid list; cells bound the window partitions, so skew is
    bounded by cell balance (pick k ≈ n/target_cell_size, the family
    sizing rule)."""
    cells = _assign_with_norm(corpus, centers, id_col=id_col, vec_col=vec_col)
    w = Window.partitionBy("cell").orderBy(
        F.md5(F.col("_id").cast("string")), F.col("_id")
    )
    return (
        cells.select("_id", "cell")
        .withColumn("pick_rank", F.row_number().over(w))
        .filter(F.col("pick_rank") <= n_per_cell)
        .select(F.col("_id").alias(id_col), "cell", "pick_rank")
    )


def save_quantizers(
    store: str,
    centers: list[list[float]],
    codebooks: list[list[list[float]]],
    perm: list[int] | None = None,
    rot: list[list[float]] | None = None,
) -> None:
    """Persist the IVF-PQ quantizers (centroids + PQ codebooks) as a
    JSON sidecar inside the store directory — the artifact the index
    docstrings tell callers to keep "next to the store", now a
    function.  Written atomically (temp file + rename) so a crashed
    write can't leave a truncated sidecar that parses as garbage.
    The quantizers are O(k·dim + m·ks·dim/m) floats — kilobytes.
    Accepts plain local paths and ``file://`` URIs like the rest of
    the store API; other schemes need the store's client (raises).

    Raises when the store is already stamped (by a
    :func:`write_ivfpq_index` write or an earlier sidecar) with a
    DIFFERENT permutation than ``perm`` — a sidecar that disagrees
    with the codes would hand every later ``load_quantizers`` caller
    a config that silently garbles rankings.  Changing the perm means
    re-encoding: rebuild with ``write_ivfpq_index(mode='overwrite',
    perm=...)`` first, then re-save."""
    import json

    store = _local_store_path(store)
    _check_one_transform(perm, rot)
    perm = _norm_perm(perm)
    rot = _norm_rot(rot)
    stamped, store_perm, store_rot = _stamped_config(store)
    if stamped and (store_perm != perm or not _rots_equal(store_rot, rot)):
        raise ValueError(
            f"subspace-transform mismatch: the store at {store!r} is "
            f"stamped with perm={store_perm!r}, "
            f"rot={'set' if store_rot is not None else None} but this "
            f"sidecar save passed perm={perm!r}, "
            f"rot={'set' if rot is not None else None}. The sidecar "
            "must match the codes — rebuild the index with "
            "write_ivfpq_index(mode='overwrite', ...) before saving a "
            "different transform."
        )
    os.makedirs(store, exist_ok=True)
    path = os.path.join(store, "_quantizers.json")
    tmp = path + f".tmp-{os.getpid()}"
    payload = {"centers": centers, "codebooks": codebooks}
    if perm is not None:
        payload["perm"] = list(perm)
    if rot is not None:
        payload["rot"] = rot
    with open(tmp, "w") as fh:
        json.dump(payload, fh)
    os.replace(tmp, path)


def load_quantizers(
    store: str,
    *,
    with_perm: bool = False,
    with_rot: bool = False,
) -> tuple:
    """Read back :func:`save_quantizers`' sidecar.  Raises
    FileNotFoundError with the fix spelled out when the store was
    written without one.  ``with_perm=True`` appends the subspace
    permutation as a third element; ``with_rot=True`` appends the
    learned rotation after it (None for whichever the store didn't
    use) — pass them back to :func:`ivfpq_index_topk` and appends.
    A call that would DROP a stored transform raises: probing
    transformed codes without the transform returns silently-garbage
    rankings."""
    import json

    path = os.path.join(_local_store_path(store), "_quantizers.json")
    try:
        with open(path) as fh:
            d = json.load(fh)
    except FileNotFoundError:
        raise FileNotFoundError(
            f"no _quantizers.json in {store!r}; the index was written "
            "without save_quantizers(store, centers, codebooks) — the "
            "codes are unreadable without the exact quantizers they "
            "were encoded with"
        ) from None
    if d.get("rot") is not None and not with_rot:
        raise ValueError(
            f"the quantizer sidecar at {store!r} carries a learned "
            "rotation; call load_quantizers(store, with_perm=True, "
            "with_rot=True) and pass rot= to the probe — probing "
            "without it returns silently wrong neighbors"
        )
    if d.get("perm") is not None and not with_perm:
        raise ValueError(
            f"the quantizer sidecar at {store!r} carries a subspace "
            "permutation; call load_quantizers(store, with_perm=True) "
            "and pass perm= to the probe — probing without it returns "
            "silently wrong neighbors"
        )
    out = [d["centers"], d["codebooks"]]
    if with_perm:
        out.append(d.get("perm"))
    if with_rot:
        out.append(d.get("rot"))
    return tuple(out)


def _check_no_concurrent_append(
    spark, data_dir: str, gen_at_read: int | None, target: str
) -> None:
    """Compaction's pre-flip validation: raise (and drop the merged
    generation, leaving the store exactly as the writer left it) if an
    append advanced the store's ``_gen`` high-water mark after the
    merge read its snapshot — flipping anyway would supersede rows the
    merge never saw and the sweep would eventually delete them.  Every
    append strictly increases max(``_gen``) (it stamps ``max + 1``),
    so one parquet-footer-stats agg detects the race.  The residual
    window is the read-validate-commit gap every optimistic scheme
    has: an append whose ENTIRE data+tombstone commit and pointer
    check fit inside this-check-to-flip is caught by neither side
    (its pointer read still sees the old value).  That gap is
    normally vanishing next to the merge, but a driver GC pause can
    stretch it — deployments that need the absolute pass
    ``lease=True`` on append/compact (:func:`_acquire_lease`:
    flock-backed mutual exclusion, TTL steal for crashed holders,
    fencing re-verify at the commit point); these checks convert the
    overwhelmingly common interleavings from silent loss into loud
    retries, they do not implement full mutual exclusion."""
    snap = _read_store_data(spark, data_dir)
    now = (
        None
        if snap is None
        else snap.agg(F.max(F.col("_gen").cast("long"))).collect()[0][0]
    )
    if now != gen_at_read:
        import shutil

        shutil.rmtree(target, ignore_errors=True)
        raise RuntimeError(
            f"concurrent append detected: the store's max(_gen) moved "
            f"from {gen_at_read!r} to {now!r} under {data_dir!r} while "
            "this compaction merged. The merged generation was "
            "discarded and the pointer NOT flipped — the store is "
            "unchanged and serves every row including the new append. "
            "Retry the compaction."
        )


def compact_ivfpq_index(
    spark,
    store: str,
    *,
    lease: bool = False,
    lease_ttl_s: float = 600.0,
    _fence: tuple[str, str] | None = None,
) -> None:
    """Merge every batch partition of a :func:`write_ivfpq_index`
    store into one ``_batch=compacted`` generation — the maintenance
    pass a long-lived index runs when appended batches accumulate
    (each append adds a ``_batch`` partition; probes stay correct but
    the listing and per-cell file counts grow).

    Semantics first: conflicts are resolved BEFORE generations
    collapse.  A vec_id present in several writes keeps only its
    latest-``_gen`` row (the probe's own serving rule, applied here
    with the same window), and the surviving rows KEEP their original
    ``_gen`` — so probing a compacted store equals probing the
    uncompacted one, and a post-compaction re-ingest (which stamps
    ``max+1``) still wins.  Without the pre-dedup, two generations of
    the same vec_id would collapse into indistinguishable same-batch
    rows and the probe's tie-break would be nondeterministic.

    Physically this is the generation-prefix + pointer-flip protocol
    (object-store-compatible; no directory renames): write the merged
    data to a NEW prefix ``<store>/vNNNNN``, then atomically flip the
    ``_CURRENT`` pointer file — the single commit point.  The flip is
    guarded by a max(``_gen``) re-check (a concurrent append that
    advanced the store after the merge read makes the compaction
    abort loudly and discard its merge, leaving the store untouched —
    see :func:`_check_no_concurrent_append`).  Readers
    (:func:`ivfpq_index_topk`, appends) resolve ``_CURRENT`` first, so
    a crash BEFORE the flip leaves them on the old generation (the new
    prefix is garbage the next compact overwrites) and a crash AFTER
    the flip only leaves stale data that a later compact sweeps.  The
    immediately-superseded generation is KEPT as a grace copy for
    in-flight readers that resolved the pointer pre-flip (deleting it
    at once would yank files out from under a running probe); it is
    swept by the NEXT compact, bounding the store at ≤2 generations —
    the snapshot-retention discipline table formats use.  The
    quantizer sidecar lives at the store ROOT, shared across
    generations — codes are quantizer-independent bytes, compaction
    never touches it.  Works on plain local paths and ``file://``
    URIs; other schemes raise with the three client operations an
    object-store port needs.  ``lease=True`` runs the pass under the
    store's maintenance lease (mutual exclusion vs every other
    lease-respecting pass, with a fencing re-verify immediately
    before the pointer flip) — the opt-in absolute above the
    optimistic max(``_gen``) re-check, which stays on either way."""
    if lease:
        with _held_lease(
            _local_store_path(store), ttl_s=lease_ttl_s
        ) as fence:
            return compact_ivfpq_index(spark, store, _fence=fence)
    import shutil

    root = _local_store_path(store)
    legacy_old = root.rstrip("/") + "._old"
    if os.path.exists(legacy_old):
        if not os.path.exists(root):
            # pre-pointer-protocol crash artifact (the old two-rename
            # swap died between renames): restore, compact normally
            os.rename(legacy_old, root)
        else:
            # the old protocol's OTHER crash window (swap complete,
            # final cleanup never ran): a full stale copy — drop it
            shutil.rmtree(legacy_old, ignore_errors=True)
    cur = _read_generation_pointer(root)
    data_dir = os.path.join(root, cur) if cur else root
    next_name = f"v{(int(cur[1:]) + 1) if cur else 1:05d}"
    target = os.path.join(root, next_name)
    # garbage from a compact that crashed before its pointer flip
    shutil.rmtree(target, ignore_errors=True)
    df = _read_store_data(spark, data_dir)
    if df is None:
        raise ValueError(
            f"no IVF-PQ index data at {data_dir!r}: nothing to compact"
        )
    if "_gen" not in df.columns:
        raise ValueError(
            f"store at {data_dir!r} has no _gen column (written by a "
            "pre-generation version of write_ivfpq_index); rebuild it "
            "with mode='overwrite' before compacting"
        )
    # snapshot the write-sequence high-water mark NOW: the flip below
    # only commits if no append advanced it while we merged (the
    # mirror of the append's pointer re-check — see
    # _check_no_concurrent_append)
    gen_at_read = df.agg(
        F.max(F.col("_gen").cast("long"))
    ).collect()[0][0]
    w = Window.partitionBy("vec_id").orderBy(F.desc("_gen"))
    winners = (
        _apply_tombstones(
            df.select(
                "vec_id", "cell", "codes",
                F.col("_gen").cast("long").alias("_gen"),
            ),
            _read_tombstones(spark, data_dir),
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    _write_batch_partitioned(
        winners.withColumn("_batch", F.lit("compacted")), target,
        mode="overwrite",
        partition_cols=("_batch", "cell"),
        repartition_cols=("_batch", "cell"),
    )
    _check_no_concurrent_append(spark, data_dir, gen_at_read, target)
    if _fence is not None:
        # fencing at the commit point: a compaction whose lease TTL
        # lapsed mid-merge (and was stolen from) must not flip — the
        # thief may already be writing.  Discard the merge like the
        # optimistic check does; the store is untouched.
        try:
            _verify_lease(*_fence)
        except RuntimeError:
            import shutil as _sh

            _sh.rmtree(target, ignore_errors=True)
            raise
    _flip_generation_pointer(root, next_name)  # the commit point
    # post-flip sweep, with a one-generation GRACE WINDOW for in-flight
    # readers: a probe that resolved _CURRENT just before the flip is
    # still scanning the superseded generation, so that one (`cur`, or
    # the flat root partitions) is KEPT until the NEXT compact; only
    # generations at least two compactions old — which no reader that
    # outlived one full compaction cycle can still hold — are deleted.
    # Crash-safe: the pointer already serves the new generation; a
    # crash mid-sweep just leaves garbage for the next compact's sweep.
    import re

    keep = {next_name, cur} if cur else {next_name}
    for name in os.listdir(root):
        p = os.path.join(root, name)
        if re.fullmatch(_GEN_DIR_RE, name) and name not in keep:
            shutil.rmtree(p, ignore_errors=True)
        elif cur and (
            name.startswith("_batch=")
            or name in ("_SUCCESS", "_tombstones")
        ):
            # flat-layout leftovers (data AND its tombstones — applied
            # into v00001 by the first compact, kept as its grace
            # copy) are two generations old once a pointer exists —
            # sweep them now
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            else:
                os.unlink(p)


def ivfpq_index_stats(spark, store: str) -> dict:
    """One-call health/inventory report for a persisted
    :func:`write_ivfpq_index` store — the inspection surface an
    operator checks before/after maintenance: which generation is
    live, which batches exist with how many rows and what ``_gen``
    range, per-cell skew (max/mean rows — the probe's worst-case cell
    read), live tombstone count (one per conflicted vec_id — duplicate
    tombstone rows from idempotent re-runs are aggregated away), and
    how many rows the next compaction will drop (``n_rows −
    n_vectors``: conflict resolution keeps exactly one row per
    vec_id).  Four bounded aggregation jobs over the live generation —
    no window/sort, and nothing collected beyond per-batch/per-cell
    summaries (cells and batches are bounded, not corpus-sized).

    Returns a plain dict (JSON-able for dashboards/CLIs):
    ``generation`` (pointer dir or None for flat), ``batches``
    (name -> {rows, min_gen, max_gen}), ``n_rows``, ``n_vectors``
    (distinct vec_ids), ``pending_superseded`` (rows a compact would
    drop), ``tombstones`` (live tombstone rows), ``n_cells``,
    ``max_cell_rows``, ``mean_cell_rows``."""
    # ONE pointer read decides both the reported generation and the
    # scanned directory — a compaction flipping _CURRENT between two
    # reads would otherwise make the report internally inconsistent
    _root, cur, data_dir = _resolve_store(store)
    raw = _read_store_data(spark, data_dir)
    if raw is None:
        raise ValueError(
            f"no IVF-PQ index data at {data_dir!r}: write the store "
            "with write_ivfpq_index first"
        )
    if "_gen" not in raw.columns or "_batch" not in raw.columns:
        raise ValueError(
            f"store at {data_dir!r} has no _gen/_batch columns (written "
            "by a pre-generation version of write_ivfpq_index); rebuild "
            "it with mode='overwrite'"
        )
    df = raw.select(
        "vec_id", "cell",
        F.col("_gen").cast("long").alias("_gen"),
        F.col("_batch").cast("string").alias("_batch"),
    )
    per_batch = {
        r["_batch"]: {
            "rows": r["rows"],
            "min_gen": r["min_gen"],
            "max_gen": r["max_gen"],
        }
        for r in df.groupBy("_batch").agg(
            F.count("*").alias("rows"),
            F.min("_gen").alias("min_gen"),
            F.max("_gen").alias("max_gen"),
        ).collect()
    }
    # exactly one row per vec_id survives conflict resolution, so the
    # compact-drop set is n_rows − n_vectors — no window/sort needed
    summary = df.agg(
        F.count("*").alias("n_rows"),
        F.count_distinct("vec_id").alias("n_vectors"),
    ).collect()[0]
    cell_row = (
        df.groupBy("cell")
        .agg(F.count("*").alias("rows"))
        .agg(
            F.count("*").alias("n_cells"),
            F.max("rows").alias("max_rows"),
            F.avg("rows").alias("mean_rows"),
        )
        .collect()[0]
    )
    # live = one per vec_id (idempotent re-runs append duplicate
    # tombstone rows; _read_tombstones aggregates them away)
    tombs = _read_tombstones(spark, data_dir)
    # the stamped encode transform (one tiny JSON read): operators
    # check it here before appending/probing; the rotation reports as
    # a bool — dumping a dim x dim matrix into a stats dict helps no
    # dashboard (load_quantizers returns the matrix itself)
    stamped, s_perm, s_rot = _stamped_config(_root)
    return {
        "generation": cur,
        "transform_stamped": stamped,
        "perm": s_perm,
        "rot_set": s_rot is not None,
        "batches": per_batch,
        "n_rows": summary["n_rows"],
        "n_vectors": summary["n_vectors"],
        "pending_superseded": summary["n_rows"] - summary["n_vectors"],
        "tombstones": tombs.count() if tombs is not None else 0,
        "n_cells": cell_row["n_cells"],
        "max_cell_rows": cell_row["max_rows"],
        "mean_cell_rows": float(cell_row["mean_rows"]),
    }


def recommended_rescore(
    stats: dict,
    k: int,
    target_recall: float = 0.8,
    *,
    occupancy: str = "mean",
    max_rescore: int | None = 20,
) -> int:
    """Size the exact-rerank multiplier from the store's measured cell
    occupancy — the clustered-corpus recall ladder's operating rule
    ("size k·rescore against expected cluster occupancy", RECALL.md
    r14/r15) turned from prose into a function of the numbers
    :func:`ivfpq_index_stats` already computes.

    The mechanism (measured, not guessed): inside a tight cluster all
    members share near-identical PQ codes, so the ADC ranking among
    them is arbitrary — a query whose true top-``k`` live in an
    ``occ``-member cell gets expected recall ≈ ``k·rescore / occ``
    (drawing ``k·rescore`` of ``occ`` near-tied candidates).  Hence
    ``rescore = ceil(target_recall · occ / k)``, floored at 2 (a
    multiplier of 1 re-ranks exactly ``k`` rows — it reorders, it
    cannot recover).  Calibration against the r14 ladder: occ=62
    (20k rows × 320 clusters), k=10, target 0.8 → rescore 5, which
    measured 0.855; occ=625 (clusters held at 32) → rescore 50, and
    the measured 0.195 at rescore=5 is exactly the collapse this
    function exists to refuse.

    ``stats`` is an :func:`ivfpq_index_stats` dict (or any dict with
    ``mean_cell_rows`` / ``max_cell_rows``); ``occupancy`` picks the
    estimate ('mean' for the typical cell, 'max' for worst-case skew).
    When the required multiplier exceeds ``max_rescore`` the function
    REFUSES (raises) rather than silently serving the collapsed
    regime: an exact rescore of ``k·rescore`` rows per query is the
    serving path's cost knob, and past ~20× the honest answers are
    either ``max_rescore=None`` (explicit escalation — the rescore
    cost still grows with k·rescore, never the corpus) or serving
    from SQ8(+rescore), whose 8-bit codes rank WITHIN a cluster
    (recall 1.0 in every measured regime)."""
    if occupancy not in ("mean", "max"):
        raise ValueError(
            f"unknown occupancy {occupancy!r}; expected 'mean' or 'max'"
        )
    if not 0.0 < target_recall <= 1.0:
        raise ValueError(
            f"target_recall must be in (0, 1], got {target_recall!r}"
        )
    if k <= 0:
        raise ValueError(f"k must be positive, got {k!r}")
    occ = float(
        stats["mean_cell_rows"] if occupancy == "mean" else stats["max_cell_rows"]
    )
    import math

    needed = max(2, math.ceil(target_recall * occ / k))
    if max_rescore is not None and needed > max_rescore:
        raise ValueError(
            f"occupancy-sized rescore {needed} exceeds max_rescore "
            f"{max_rescore}: the store's {occupancy} cell occupancy "
            f"({occ:.0f} rows) is huge relative to k={k}, the regime "
            "where PQ recall collapses (measured 0.195 at 625 "
            "rows/cluster, rescore=5). Either pass max_rescore=None "
            "to escalate explicitly (cost grows with k*rescore, not "
            "the corpus), probe more cells with a larger n_probe and "
            "smaller target, retrain with more cells, or serve this "
            "store from SQ8(+rescore), which ranks within clusters."
        )
    return needed


def train_ivf_sample(
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    k: int = 16,
    seed: int = 42,
    sample_rows: int = 2048,
    iters: int = 10,
) -> list[list[float]]:
    """Train the coarse quantizer on a driver-side sample with numpy
    Lloyd iterations.

    IVF training is an offline, sample-based step by design: centroid
    quality needs thousands of representative points, not the corpus —
    so at 100 TB the sample is the SAME size as here and the iterative
    refinement runs on one machine in milliseconds instead of k Spark
    jobs.  Returns plain centroids (k, dim) usable by :func:`ivf_topk`
    directly; use :func:`train_ivf` when an MLlib model object is
    wanted (persistence, pipeline integration).
    """
    n = corpus.count()  # parquet-metadata count: sizes the fraction
    frac = min(1.0, sample_rows / max(n, 1) * 1.2)
    rows = (
        corpus.filter(F.col(vec_col).isNotNull())
        .sample(fraction=frac, seed=seed)
        .select(vec_col)
        .limit(sample_rows)
        .collect()
    )
    x = np.asarray([r[0] for r in rows], dtype=np.float64)  # (m, dim)
    rng = np.random.default_rng(seed)
    centers = x[rng.choice(len(x), size=min(k, len(x)), replace=False)]
    for _ in range(iters):
        d2 = ((x[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for j in range(len(centers)):
            members = x[assign == j]
            if len(members):
                centers[j] = members.mean(axis=0)
    return [[float(v) for v in c] for c in centers]


def md5_sample_centroids(
    corpus: DataFrame,
    *,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic sample-init centroids: the embeddings of the k
    corpus ids with the smallest md5(CAST(id AS STRING)).

    This is IVF-flat with sampled-point initialization and no Lloyd
    refinement — a real coarse-quantizer init strategy whose every step
    (md5 order, raw float32 centroid components, argmin assignment) is
    reproducible in the DuckDB correctness oracle, unlike RNG-seeded
    KMeans.  Collect is k rows (driver-side by design, like
    :func:`train_ivf_sample`).  NULL vectors are excluded from the
    sample (the family convention — a NULL row winning an md5 slot
    would crash training, and has nothing to contribute to it).
    """
    rows = (
        corpus.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .orderBy(F.md5(F.col("_id").cast("string")), F.col("_id"))
        .limit(k)
        .collect()
    )
    return [[float(x) for x in r["_v"]] for r in rows]


def md5_sample_centroids_counted(
    corpus: DataFrame,
    k_of_n,
    *,
    k_floor: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[list[float]], int]:
    """:func:`md5_sample_centroids` fused with the corpus count that
    sizes k — ONE driver action instead of two for the common case
    (the BPE ``_round_rows`` marked-union trick): the count row and the
    ``k_floor`` smallest-md5 sample rows come back in a single collect.
    ``k_of_n(n)`` maps the corpus row count to the cell count; only
    when it exceeds ``k_floor`` (large corpora, where one extra job is
    noise against the training scan) does a second top-k collect
    complete the pick.  Returns ``(centers, n)`` — centers identical to
    ``md5_sample_centroids(corpus, k=k_of_n(n))``, n counted over the
    UNFILTERED corpus (NULL-vector rows count toward sizing but never
    win a sample slot, both exactly as the unfused path)."""
    sample = (
        corpus.filter(F.col(vec_col).isNotNull())
        .select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_v"),
            F.md5(F.col(id_col).cast("string")).alias("_m"),
        )
        .orderBy(F.col("_m"), F.col("_id"))
        .limit(k_floor)
        .select(
            F.lit(0).alias("_k"),
            F.struct(F.col("_id"), F.col("_v"), F.col("_m")).alias("_row"),
            F.lit(None).cast("long").alias("_n"),
        )
    )
    cnt = corpus.agg(F.count(F.lit(1)).alias("_n")).select(
        F.lit(1).alias("_k"),
        F.lit(None).cast(sample.schema["_row"].dataType).alias("_row"),
        "_n",
    )
    rows = sample.unionByName(cnt).collect()
    n = 0
    picked = []
    for r in rows:
        if r["_k"] == 1:
            n = int(r["_n"])
        else:
            picked.append(r["_row"])
    k = k_of_n(n)
    if k > k_floor:
        return md5_sample_centroids(
            corpus, k=k, id_col=id_col, vec_col=vec_col
        ), n
    # the union may interleave the sample rows; re-establish the md5
    # order from the collected sort key (engine-computed, so the
    # ordering is exactly the distributed one)
    picked.sort(key=lambda r: (r["_m"], r["_id"]))
    return [[float(x) for x in r["_v"]] for r in picked[:k]], n


def sample_and_query_rows(
    corpus: DataFrame,
    queries: DataFrame,
    ks: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_probe_queries: int = 10_000,
) -> tuple[list[list[float]], list]:
    """ONE driver action for the two collects every trainer-plus-probe
    ANN gate pays: the ``ks`` md5-ordered trainer sample vectors of
    ``corpus`` (identical to ``md5_sample_centroids(corpus, k=ks)``)
    and the bounded probe-side query rows ``(query_id, vector)`` that
    :func:`_pq_lut` would otherwise collect itself — a marked union,
    the BPE ``_round_rows`` trick.  Returns ``(sample_vectors,
    query_rows)``; pass them via ``pq_train(sample_vectors=)`` and the
    topk functions' ``query_rows=``."""
    sample = (
        corpus.filter(F.col(vec_col).isNotNull())
        .select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_v"),
            F.md5(F.col(id_col).cast("string")).alias("_m"),
        )
        .orderBy(F.col("_m"), F.col("_id"))
        .limit(ks)
        .select(
            F.lit(0).alias("_k"),
            "_id",
            "_m",
            F.lit(None)
            .cast(queries.select(F.col(query_id_col)).schema[0].dataType)
            .alias("_qid"),
            "_v",
        )
    )
    probe = (
        queries.select(
            F.col(query_id_col).alias("_qid"), F.col(vec_col).alias("_v")
        )
        .filter(F.col("_v").isNotNull())
        .limit(max_probe_queries + 1)
        .select(
            F.lit(1).alias("_k"),
            F.lit(None).cast(sample.schema["_id"].dataType).alias("_id"),
            F.lit(None).cast("string").alias("_m"),
            "_qid",
            "_v",
        )
    )
    rows = sample.unionByName(probe).collect()
    picked = sorted(
        (r for r in rows if r["_k"] == 0), key=lambda r: (r["_m"], r["_id"])
    )
    sample_vectors = [[float(x) for x in r["_v"]] for r in picked]
    query_rows = [(r["_qid"], r["_v"]) for r in rows if r["_k"] == 1]
    return sample_vectors, query_rows


def _ivf_meta_udf(centers, n_probe: int, *, dedup_eval: bool = True):
    """(cells, norm) per vector in one numpy pass: the ``n_probe``
    nearest cells by euclidean distance (stable argsort — ties resolve
    to the lowest cell id, matching argmin) and the L2 norm.  Fusing
    both into one Arrow projection keeps the big dim-term expressions
    out of three separate codegen stages.

    ``dedup_eval`` picks the evaluation trade-off per SIDE of the cell
    join.  True (corpus sides): nondeterministic-marked so a pushed
    isnotnull constraint cannot duplicate the UDF into two
    ArrowEvalPython nodes (guide §4.4) — every corpus vector would be
    assigned twice.  False (probe/batch sides): keep the UDF
    deterministic, because dynamic partition pruning DUPLICATES the
    build side into the partitioned scan's filter and refuses to do so
    for nondeterministic expressions — on a cell-partitioned store the
    probe-proportional scan is worth re-evaluating a handful of query
    rows (measured: marking the probe side killed the store scan's
    ``cell IN dynamicpruning#N`` filter)."""
    from pyspark.sql.functions import pandas_udf

    c = np.asarray(centers, dtype=np.float64)  # (k, dim)
    c_sq = (c * c).sum(axis=1)  # (k,)

    @pandas_udf("struct<cells: array<int>, norm: double>")
    def meta(vecs: pd.Series) -> pd.DataFrame:
        if len(vecs) == 0:
            return pd.DataFrame({"cells": [], "norm": []})
        x = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        d = c_sq[None, :] - 2.0 * (x @ c.T)
        order = np.argsort(d, axis=1, kind="stable")[:, :n_probe].astype("int32")
        norm = np.sqrt((x * x).sum(axis=1))
        return pd.DataFrame({"cells": list(order), "norm": norm})

    # meta is pure, but the cell-join's pushed isnotnull constraint
    # duplicated it into Filter-below + Project-above ArrowEvalPython
    # pairs (guide §4.4) — every vector assigned twice.  The marker
    # pins one evaluation; see dedup_eval above for when it must NOT
    # be applied.
    return meta.asNondeterministic() if dedup_eval else meta


def _assign_with_norm(
    corpus: DataFrame,
    centers: list[list[float]],
    *,
    id_col: str,
    vec_col: str,
    dedup_eval: bool = True,
) -> DataFrame:
    """(id, vec, cell, norm) — nearest-centroid assignment + L2 norm
    from ONE Arrow-batched numpy projection over the corpus.  NULL
    vectors are dropped (np.asarray(None) would crash the batch; a
    NULL embedding has no cell).  ``dedup_eval=False`` for probe/batch
    sides whose cell feeds a partitioned-store join — see
    :func:`_ivf_meta_udf`."""
    meta = _ivf_meta_udf(centers, 1, dedup_eval=dedup_eval)
    corpus = corpus.filter(F.col(vec_col).isNotNull())
    return corpus.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_vec"),
        meta(F.col(vec_col)).alias("_m"),
    ).select(
        "_id",
        "_vec",
        F.element_at(F.col("_m.cells"), 1).alias("cell"),
        F.col("_m.norm").alias("_norm"),
    )


def _pair_dot_udf():
    """Arrow-batched pair dot product (einsum per batch)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def pair_dot(va: pd.Series, vb: pd.Series) -> pd.Series:
        if len(va) == 0:
            return pd.Series([], dtype="float64")
        xa = np.asarray([np.asarray(v, dtype=np.float64) for v in va])
        xb = np.asarray([np.asarray(v, dtype=np.float64) for v in vb])
        return pd.Series(np.einsum("ij,ij->i", xa, xb))

    # pure, but the cosine threshold filter referencing the withColumn
    # alias re-evaluated the dot for every row (guide §4.4); the marker
    # keeps one ArrowEvalPython with the filter above it.
    return pair_dot.asNondeterministic()


def _cell_pairs(
    cells: DataFrame, dim: int, threshold: float, dot: str = "unrolled"
) -> DataFrame:
    """Within-cell a<b cosine pairs over a :func:`_assign_with_norm`
    frame; the cell id is the only join key.

    ``dot`` picks the scoring kernel.  ``'unrolled'`` (default) is the
    single codegen expression — 12x faster per-row once compiled, the
    right choice for long cluster jobs where the one-time janino
    compile (~70 s: the optimizer inlines the 64-term tree into both
    the projection and the threshold filter) amortizes to zero.
    ``'arrow'`` computes the dot in an Arrow-batched numpy einsum —
    no giant codegen stage, ~5 s end-to-end at any plan shape; pick it
    for interactive/one-shot runs.  Float summation order differs
    between the two (left-fold vs pairwise), so pairs with a cosine
    within float error of *threshold* can flip — equivalence is pinned
    in tests away from the boundary."""
    left = cells.select(
        "cell",
        F.col("_id").alias("a"),
        F.col("_vec").alias("_va"),
        F.col("_norm").alias("_na"),
    )
    right = cells.select(
        "cell",
        F.col("_id").alias("b"),
        F.col("_vec").alias("_vb"),
        F.col("_norm").alias("_nb"),
    )
    joined = left.join(right, "cell").filter(F.col("a") < F.col("b"))
    if dot == "arrow":
        cos = _pair_dot_udf()("_va", "_vb") / (F.col("_na") * F.col("_nb"))
    else:
        cos = cosine_prenormed("_va", "_vb", F.col("_na"), F.col("_nb"), dim)
    return (
        joined.withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("cell", "a", "b", "cosine")
    )


def semantic_pairs(
    corpus: DataFrame,
    model: "KMeansModel | list[list[float]]",
    *,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dot: str = "unrolled",
) -> DataFrame:
    """Within-cluster near-duplicate pairs — the candidate stage of
    SemDeDup (Abbas et al., 2023, arXiv:2303.09540): assign every
    vector to its nearest centroid, then compare pairs ONLY inside a
    cluster and keep those with cosine >= *threshold*.  Output:
    ``(cell, a, b, cosine)`` with ``a < b``.

    Scale shape: the cluster id is the self-join key, so comparisons
    are quadratic only WITHIN a cell and linear across the corpus when
    k scales with corpus size (pick k ≈ n / target_cell_size — the
    same sizing lesson the banded-LSH path learned in the sf1 soak).
    Assignment + L2 norm come from one Arrow-batched numpy projection
    per side; the pair cosine is a single codegen expression over the
    pre-computed norms.
    """
    centers = (
        model.clusterCenters() if isinstance(model, KMeansModel) else model
    )
    cells = _assign_with_norm(corpus, centers, id_col=id_col, vec_col=vec_col)
    return _cell_pairs(cells, len(centers[0]), threshold, dot)


def semantic_dedup(
    corpus: DataFrame,
    model: "KMeansModel | list[list[float]]",
    *,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dot: str = "unrolled",
) -> DataFrame:
    """SemDeDup keep/drop assignment: a vector is a duplicate when a
    LOWER-id vector in its cluster sits at cosine >= *threshold*
    (deterministic keep-lowest-id greedy; the paper's
    keep-farthest-from-centroid policy composes by piping
    :func:`semantic_pairs` into ``components.dedup_groups(scores=...)``
    for transitive groups with a best-scoring representative).
    Output: ``(id, cell, dup_of, keep)`` — ``dup_of`` is the smallest
    qualifying lower id, NULL for kept rows.

    The corpus is assigned ONCE (shared between the per-id output and
    the pair stage); at scale that is one Arrow projection + one
    cell-keyed self-join, no second pass over the vectors.
    """
    centers = (
        model.clusterCenters() if isinstance(model, KMeansModel) else model
    )
    cells = _assign_with_norm(corpus, centers, id_col=id_col, vec_col=vec_col)
    pairs = _cell_pairs(cells, len(centers[0]), threshold, dot)
    dup = pairs.groupBy("b").agg(F.min("a").alias("dup_of"))
    return (
        cells.select(F.col("_id").alias(id_col), "cell")
        .join(dup, F.col(id_col) == dup["b"], "left")
        .select(
            id_col,
            "cell",
            "dup_of",
            F.col("dup_of").isNull().alias("keep"),
        )
    )


def write_semantic_store(
    corpus: DataFrame,
    centers: list[list[float]],
    store: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "overwrite",
    batch_id: str = "seed",
    lease: bool = False,
    lease_ttl_s: float = 600.0,
    _fence: tuple[str, str] | None = None,
) -> None:
    """Persist (id, vec, cell, norm) for incremental semantic dedup.

    Mirrors ``dedup.write_minhash_store``: partitioned by
    ``(_batch, cell)`` with dynamic-partition overwrite, so re-running
    a batch replaces its own rows (idempotent ingestion) and a probe
    joining on cell reads ONLY the matching cell partitions —
    partition pruning makes each batch's corpus scan proportional to
    the cells the batch actually touches, not the store.  The centroid
    list must stay fixed across the store's life (persist it next to
    the store; re-clustering means rebuilding).

    Conflict contract (narrower than the IVF-PQ index's): re-ingest a
    vector under its OWN batch_id (idempotent replace) only.  A
    re-ingest under a NEW batch_id leaves both versions live — fine
    for an append-only corpus, wrong for mutable ids; a store that
    needs latest-write-wins serving under conflicting re-ingests is
    exactly what :func:`write_ivfpq_index`'s ``_gen``/tombstone
    discipline provides.  ``lease=True`` runs the write under the
    store's maintenance lease (sibling ``<store>.maint`` directory,
    fencing verifies around the write) — the shared opt-in
    single-maintainer absolute."""
    if lease:
        from physicsnemo_curator_spark.core.store import (
            held_lease,
            maintenance_root,
        )

        with held_lease(maintenance_root(store), ttl_s=lease_ttl_s) as f:
            return write_semantic_store(
                corpus, centers, store, id_col=id_col, vec_col=vec_col,
                mode=mode, batch_id=batch_id, _fence=f,
            )
    _core_validate_batch_id(batch_id)
    cells = _assign_with_norm(corpus, centers, id_col=id_col, vec_col=vec_col)
    out = cells.select(
        F.col("_id").alias(id_col),
        F.col("_vec").alias(vec_col),
        "cell",
        F.col("_norm").alias("norm"),
        F.lit(batch_id).alias("_batch"),
    )
    # Always write in overwrite mode; ``mode='append'`` switches to
    # DYNAMIC partition overwrite, which replaces only this batch's
    # own ``_batch=<id>`` partitions — a re-run is idempotent instead
    # of double-appending (same contract as dedup.write_minhash_store).
    # Align tasks with output partitions before partitionBy (same
    # move as the MinHash store's band/bucket repartition): without
    # it every upstream task fans out a file into EVERY cell dir it
    # touches — at k=1000 cells × 32 tasks that is ~32k small files
    # per batch; with it, one file per (batch, cell).
    if _fence is not None:
        _verify_lease(*_fence)
    _write_batch_partitioned(
        out, store, mode=mode,
        partition_cols=("_batch", "cell"),
        repartition_cols=("_batch", "cell"),
    )
    if _fence is not None:
        _verify_lease(*_fence)


def incremental_semantic_dedup(
    spark,
    new_vectors: DataFrame,
    centers: list[list[float]],
    store: str,
    *,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    update_store: bool = False,
    batch_id: str | None = None,
    dot: str = "unrolled",
    lease: bool = False,
    lease_ttl_s: float = 600.0,
    _fence: tuple[str, str] | None = None,
) -> DataFrame:
    """Near-duplicate pairs for a NEW batch of embeddings against a
    persisted :func:`write_semantic_store` corpus, plus within the
    batch itself — incremental SemDeDup.

    Returns ``(cell, a, b, cosine, scope)``: scope='corpus' rows pair
    a corpus id (a) with a batch id (b); scope='batch' rows are
    batch-internal with a < b.  The batch side is assigned once and
    BROADCAST into the corpus join (a batch is small; the corpus is
    not), and the corpus scan prunes to the batch's cell partitions.
    ``update_store=True`` appends the batch under its own partition
    afterwards (same idempotency as the MinHash store) and returns the
    pairs as a local checkpoint the caller owns.
    ``lease=True`` holds the store's maintenance lease for the whole
    probe+write pass (the shared read-to-write double-ingest
    reasoning)."""
    if lease:
        from physicsnemo_curator_spark.core.store import (
            held_lease,
            maintenance_root,
        )

        with held_lease(maintenance_root(store), ttl_s=lease_ttl_s) as f:
            return incremental_semantic_dedup(
                spark, new_vectors, centers, store,
                threshold=threshold, id_col=id_col, vec_col=vec_col,
                update_store=update_store, batch_id=batch_id, dot=dot,
                _fence=f,
            )
    dim = len(centers[0])
    # dedup_eval=False: the batch cells feed the cell-partitioned
    # semantic store's partition pruning (see _ivf_meta_udf)
    batch = _assign_with_norm(
        new_vectors, centers, id_col=id_col, vec_col=vec_col,
        dedup_eval=False,
    )
    bl = batch.select(
        "cell",
        F.col("_id").alias("b"),
        F.col("_vec").alias("_vb"),
        F.col("_norm").alias("_nb"),
    )
    # plan memo: skips the per-probe footer-inference job; a store
    # mutation (update_store append) changes the token and re-reads
    corpus = _memoized_parquet(spark, store).select(
        "cell",
        F.col(id_col).alias("a"),
        F.col(vec_col).alias("_va"),
        F.col("norm").alias("_na"),
    )
    if dot == "arrow":
        cos = _pair_dot_udf()("_va", "_vb") / (F.col("_na") * F.col("_nb"))
    else:
        cos = cosine_prenormed("_va", "_vb", F.col("_na"), F.col("_nb"), dim)
    corpus_pairs = (
        corpus.join(F.broadcast(bl), "cell")
        # a re-run after update_store finds the batch's own stored rows
        # in the corpus — a vector must not pair with itself
        .filter(F.col("a") != F.col("b"))
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("cell", "a", "b", "cosine", F.lit("corpus").alias("scope"))
    )
    batch_pairs = _cell_pairs(batch, dim, threshold, dot).select(
        "cell", "a", "b", "cosine", F.lit("batch").alias("scope")
    )
    out = corpus_pairs.unionByName(batch_pairs)
    if update_store:
        if batch_id is None:
            raise ValueError("update_store=True needs a batch_id")
        out = out.localCheckpoint()  # cut lineage before store mutation
        write_semantic_store(
            new_vectors,
            centers,
            store,
            id_col=id_col,
            vec_col=vec_col,
            mode="append",
            batch_id=batch_id,
            _fence=_fence,
        )
    return out
