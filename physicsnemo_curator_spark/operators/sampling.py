"""Deterministic sampling and dataset-split operators.

A 100 TB curation pipeline needs reproducible subsetting: train/val/test
splits that are stable across reruns and cluster sizes, per-stratum
downsampling (e.g. cap each language or source at a byte budget), and
plain rate sampling for pilot runs.  Spark's ``DataFrame.sample`` is
seed-stable only for a fixed partitioning — repartition the input and
membership changes — so none of these use it.  Instead every operator
here derives membership from a HASH OF THE ROW KEY alone:

    bucket(key) = H(key, seed) mod DENOM        # DENOM = 1_000_000

which is partition-invariant, join-free, shuffle-free (a pure projection
+ filter that Catalyst pushes into the scan), and reproducible on any
cluster shape — the same property the engine's RandomPermutation
operator relies on (``operators/mesh.py``: xxhash64 ordering keys).

Two hash backends, same twin pattern as ``operators/dedup.py``:

- ``hash_fn="xxhash64"`` (default): Spark's 64-bit xxHash, JVM codegen,
  the production path.
- ``hash_fn="arith"``: a Knuth multiplicative hash in plain int64
  arithmetic (``(key mod P) * 2654435761 mod 2^31``), expressible in
  ANSI SQL — the DuckDB-oracle twin.  All intermediates stay below
  2^63 so Spark (silent wrap) and DuckDB (overflow error) agree.
"""

from __future__ import annotations


from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from physicsnemo_curator_spark.core.jobs import job_label
from physicsnemo_curator_spark.core.store import (
    carry_surviving,
    held_lease,
    maintenance_root,
    memoized_parquet,
    read_batch,
    release,
    validate_batch_id,
    verify_lease,
    write_batch_partitioned,
)

__all__ = [
    "hash_bucket",
    "hash_sample",
    "stratified_sample",
    "assign_splits",
    "leakage_free_splits",
    "write_split_store",
    "assign_splits_incremental",
    "split_store_stats",
    "split_store_conflicts",
    "mixing_weights",
    "temperature_mixing_weights",
]

DENOM = 1_000_000
_P = 1_000_003  # prime > any per-table key cardinality at sf<=100
_KNUTH = 2_654_435_761  # 2^32 * golden ratio conjugate


def hash_bucket(
    key: Column, *, seed: int = 0, hash_fn: str = "xxhash64"
) -> Column:
    """Uniform pseudo-random bucket in ``[0, DENOM)`` from a key column.

    ``arith``: ((key + seed) mod P) * KNUTH mod 2^31 mod DENOM — every
    step is non-negative int64 arithmetic both Spark and DuckDB compute
    identically (max intermediate P * KNUTH ~= 2.66e15 << 2^63).
    """
    if hash_fn == "xxhash64":
        # xxhash64 may return negative int64; pmod normalizes
        return F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(DENOM))
    if hash_fn == "arith":
        k = key.cast("bigint") + F.lit(seed).cast("bigint")
        return (F.pmod(k, F.lit(_P)) * _KNUTH % F.lit(2**31)) % F.lit(DENOM)
    raise ValueError(f"unknown hash_fn: {hash_fn!r}")


def arith_bucket_sql(key_expr: str, *, seed: int = 0) -> str:
    """The ``hash_fn='arith'`` bucket as an ANSI-SQL string (DuckDB
    oracle twin of :func:`hash_bucket`)."""
    # pmod emulation on the first step — SQL % keeps the sign of the
    # dividend, so a negative key would diverge from Spark's pmod
    return (
        f"((((({key_expr} + {seed}) % {_P}) + {_P}) % {_P})"
        f" * {_KNUTH} % {2**31}) % {DENOM}"
    )


def hash_sample(
    df: DataFrame,
    key_col: str,
    rate: float,
    *,
    seed: int = 0,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Deterministic Bernoulli sample: keep rows whose key-bucket falls
    below ``rate``.  Membership depends only on (key, seed) — stable
    across reruns, partitionings, and cluster sizes, and the filter is
    a scan-level projection (no shuffle, no join)."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    cut = int(rate * DENOM)
    return df.filter(
        hash_bucket(F.col(key_col), seed=seed, hash_fn=hash_fn) < cut
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key_col: str,
    *,
    default_rate: float = 0.0,
    seed: int = 0,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Per-stratum deterministic sampling — e.g. cap over-represented
    languages/sources in a text corpus.  ``fractions`` maps stratum
    value -> keep rate; unlisted strata get ``default_rate``.

    Unlike ``DataFrame.sampleBy`` this is exactly reproducible under
    any partitioning, and the rate lookup compiles to a CASE expression
    (broadcast-free, shuffle-free)."""
    cut = F.lit(int(default_rate * DENOM))
    for value, rate in sorted(fractions.items()):
        if not 0.0 <= rate <= 1.0:
            raise ValueError(f"rate for {value!r} must be in [0,1]")
        cut = F.when(
            F.col(strata_col) == value, F.lit(int(rate * DENOM))
        ).otherwise(cut)
    return df.filter(
        hash_bucket(F.col(key_col), seed=seed, hash_fn=hash_fn) < cut
    )


def assign_splits(
    df: DataFrame,
    key_col: str,
    weights: dict[str, float],
    *,
    seed: int = 0,
    hash_fn: str = "xxhash64",
    split_col: str = "split",
) -> DataFrame:
    """Reproducible train/val/test assignment: one ``split_col`` label
    per row by cumulative hash-bucket ranges.  ``weights`` maps label ->
    weight (normalized internally; insertion order fixes the ranges).

    The assignment is a pure projection — an output writer can
    ``partitionBy(split_col)`` to materialize the splits in one pass,
    and a given key keeps its split under appends (new data never moves
    old rows between splits — the property replays/incremental training
    pipelines need)."""
    if not weights:
        raise ValueError("weights must be non-empty")
    if any(w < 0 for w in weights.values()):
        raise ValueError("weights must be non-negative")
    total = float(sum(weights.values()))
    if total <= 0:
        raise ValueError("weights must sum to > 0")
    b = hash_bucket(F.col(key_col), seed=seed, hash_fn=hash_fn)
    acc = 0.0
    expr = None
    labels = list(weights.items())
    for label, w in labels[:-1]:
        acc += w / total
        cond = b < int(acc * DENOM)
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    last = labels[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn(split_col, expr)


def leakage_free_splits(
    df: DataFrame,
    groups: DataFrame,
    weights: dict[str, float],
    *,
    id_col: str = "doc_id",
    seed: int = 0,
    hash_fn: str = "xxhash64",
    split_col: str = "split",
) -> DataFrame:
    """:func:`assign_splits` with the near-dup-leakage guarantee: every
    document of a near-duplicate GROUP lands in the SAME split.  Plain
    per-doc splitting puts two near-copies of the same document in
    train and test with probability ~2·p_train·p_test — the classic
    contamination path that inflates eval numbers; splitting by the
    group's canonical label closes it (Lee et al. 2022's
    dedup-then-split finding, applied at the split instead).

    ``groups`` is ``(id, component)`` from
    ``components.dedup_groups``/``connected_components`` — only docs
    that appear in some near-dup pair need rows; singletons fall back
    to their own id as the split key (``coalesce``), so the two frames
    join once on id (broadcastable when the dup set is small — the
    common case) and the assignment remains a projection after it.

    Stability contract, precisely: the one-split-per-group guarantee
    holds at every snapshot, and a split label is stable under appends
    EXACTLY as far as the group LABELS are — a new member joining an
    existing group lands with it, but a new member whose id sorts
    below the group's current min-id component re-labels the group and
    can migrate it wholesale (and any merge of two groups must move
    one side's docs by definition).  An incremental pipeline that has
    already trained on a split therefore PERSISTS this function's
    output and unions new assignments against it (the store pattern),
    rather than recomputing groups over the grown corpus and trusting
    label stability.  Output keeps a ``component`` column (NULL for
    singletons) so a pipeline can count/audit which rows the guarantee
    actually moved."""
    if "component" in df.columns:
        raise ValueError(
            "leakage_free_splits: df already has a 'component' column "
            "— the output reuses that name for the audit column; "
            "rename or drop it first"
        )
    g = _guarded_groups(groups, id_col, "leakage_free_splits")
    keyed = df.join(g, df[id_col] == g["_gid"], "left").drop("_gid")
    out = assign_splits(
        keyed.withColumn(
            "_split_key", F.coalesce(F.col("component"), F.col(id_col))
        ),
        "_split_key",
        weights,
        seed=seed,
        hash_fn=hash_fn,
        split_col=split_col,
    )
    return out.drop("_split_key")


def _guarded_groups(groups: DataFrame, id_col: str, who: str) -> DataFrame:
    """The (``_gid``, component) frame with audit-grade input
    validation shared by the split family: exact duplicate (id,
    component) rows collapse for free in the aggregate (unioned batch
    re-runs), while an id claimed by TWO components — a genuine
    upstream bug that would silently fan the doc out into two output
    rows — raises at execution, the snapshot_diff convention.  The
    groups frame is pair-ids only, so the extra aggregate is small;
    ``max != min`` is the two-components test in that one aggregate
    (a ``count_distinct`` would plan a second shuffle)."""
    g = groups.groupBy(F.col(id_col).alias("_gid")).agg(
        F.max(F.col("component")).alias("_cmax"),
        F.min(F.col("component")).alias("component"),
    )
    guard = F.when(
        F.col("_cmax") != F.col("component"),
        F.raise_error(
            F.concat(
                F.lit(
                    f"{who}: id claimed by multiple components in "
                    "groups (id="
                ),
                F.col("_gid").cast("string"),
                F.lit(
                    "); components must partition the ids — rebuild "
                    "groups with connected_components/dedup_groups"
                ),
            )
        ),
    ).otherwise(F.col("component"))
    return g.select("_gid", guard.alias("component"))


def write_split_store(
    assignments: DataFrame,
    store: str,
    *,
    mode: str = "overwrite",
    batch_id: str = "seed",
    lease: bool = False,
    lease_ttl_s: float = 600.0,
    _fence: tuple[str, str] | None = None,
) -> None:
    """Persist split assignments — the store
    :func:`leakage_free_splits`' stability contract prescribes: an
    incremental pipeline that has TRAINED on a split must never let a
    later group relabeling migrate documents across the train/test
    fence, so assignments are persisted once and later batches join
    against them (:func:`assign_splits_incremental`) instead of
    recomputing splits over the grown corpus.

    Schema: ``(doc_id, split, component, reason, _batch)`` — component
    NULL for singletons, ``reason`` the assignment provenance
    (``'seed'`` stamped here when absent; the incremental pass writes
    ``'fresh' | 'inherited' | 'quarantined'``).  The store is
    partitioned by ``_batch`` with dynamic-partition overwrite on
    append.  An append is a per-doc UPSERT within its batch, not a
    partition replace: rows already stored under the SAME batch_id
    whose docs this write does not carry are carried through the
    rewrite (the write_ivfpq_index convention) — without the carry, a
    batch re-run with a changed doc set (a late-arriving doc, the
    steady-state ingest shape) would silently DELETE the batch's
    earlier assignments and let a later pass re-assign those docs on
    their current (possibly merged) components, breaking the
    labels-never-move guarantee.  The incremental pass only ever
    writes docs NOT already stored, so the store stays unique per
    doc_id across batches by construction.

    That uniqueness is a SINGLE-MAINTAINER invariant: two concurrent
    passes can both see a doc as unstored and write it under
    different batches (``split_store_stats`` reports the damage as
    ``duplicate_docs`` but nothing prevents it).  ``lease=True`` runs
    the write under the store's maintenance lease
    (:func:`core.store.acquire_lease`, kept in the sibling
    ``<store>.maint`` directory so a static overwrite can't wipe it)
    with fencing verifies before and after the write — the same
    opt-in absolute the IVF-PQ index offers."""
    if lease:
        with held_lease(maintenance_root(store), ttl_s=lease_ttl_s) as f:
            return write_split_store(
                assignments, store, mode=mode, batch_id=batch_id,
                _fence=f,
            )
    if mode not in ("overwrite", "append"):
        raise ValueError(
            f"unknown write_split_store mode {mode!r}; expected "
            "'overwrite' or 'append'"
        )
    validate_batch_id(batch_id)
    cols = [
        F.col("doc_id"),
        F.col("split"),
        F.col("component"),
        (
            F.col("reason")
            if "reason" in assignments.columns
            else F.lit("seed").alias("reason")
        ),
    ]
    out = assignments.select(*cols)
    snapshot = surviving = None
    with job_label(assignments.sparkSession, "sampling.write_split_store/write"):
        prev = (
            read_batch(assignments.sparkSession, store, batch_id)
            if mode == "append"
            else None
        )
        if prev is not None:
            # materialize the incoming rows so the carry's anti-join and
            # the write below see the same id set even for a
            # non-deterministic input plan, then carry the batch's
            # surviving stored rows through the partition rewrite
            out = snapshot = out.localCheckpoint()
            surviving = carry_surviving(
                prev.select("doc_id", "split", "component", "reason"),
                out.select("doc_id"),
                "doc_id",
            )
            out = out.unionByName(surviving)
        try:
            if _fence is not None:
                # fencing before the commit: a holder whose TTL lapsed
                # (and was stolen from) must not write a row
                verify_lease(*_fence)
            write_batch_partitioned(
                out.withColumn("_batch", F.lit(batch_id)), store, mode=mode
            )
        finally:
            release(snapshot, surviving)
    if _fence is not None:
        verify_lease(*_fence)


def assign_splits_incremental(
    spark,
    new_docs: DataFrame,
    groups: DataFrame,
    weights: dict[str, float],
    store: str,
    *,
    id_col: str = "doc_id",
    seed: int = 0,
    hash_fn: str = "xxhash64",
    split_col: str = "split",
    merge_policy: str = "quarantine",
    quarantine_split: str | None = None,
    update_store: bool = False,
    batch_id: str | None = None,
    lease: bool = False,
    lease_ttl_s: float = 600.0,
    _fence: tuple[str, str] | None = None,
) -> DataFrame:
    """Assign splits to a NEW batch against a persisted
    :func:`write_split_store` — the incremental counterpart of
    :func:`leakage_free_splits` whose guarantee is absolute: **a
    stored document's split NEVER moves**, no matter how group labels
    shift as the corpus grows.

    Per distinct new id (one output row each):

    - already stored → its stored split, ``reason='stored'`` (an
      idempotent re-submission; never rewritten).
    - member of a group with stored co-members all in ONE split →
      inherits it, ``reason='inherited'`` (a new near-copy of trained
      data lands on the trained side of the fence).
    - member of a group whose stored co-members SPAN splits (two
      previously-separate groups merged by new evidence) → resolved by
      ``merge_policy``: ``'quarantine'`` (default) assigns
      ``quarantine_split`` (default: the FIRST label in ``weights`` —
      train by the train/val/test convention, so merged-group docs can
      never leak INTO an eval split), ``reason='quarantined'``;
      ``'error'`` raises at execution.  The stored members themselves
      stay where they are — the merge is auditable via the reason.
    - no stored co-member → hash-assigned on
      ``coalesce(component, id)`` exactly like
      :func:`leakage_free_splits`, ``reason='fresh'``.

    ``groups`` is the CURRENT (id, component) map over the grown
    corpus — only ids appearing in some near-dup pair need rows; the
    lookup is by shared member ids, so component RELABELING between
    epochs is harmless.

    Scale shape: the group map is semi-join-pruned to the components
    that contain a new doc (only those can influence any decision)
    BEFORE anything fans out, the store is scanned ONCE — column-pruned
    to (doc_id, split), semi-joined against the probe ids (new ∪
    touched-component member ids), materialized — and every later join
    runs over those pruned frames with the strategy left to Spark/AQE
    (batch-bounded in the common case and auto-broadcast; a
    mega-component is legitimately large, so nothing forces a
    broadcast).  The new ids and the pruned group map are each
    computed once (persisted for the store probe and the decision);
    the guards are single aggregates (``max != min``, not a second
    ``count_distinct`` shuffle).  The per-split decision is a
    projection, materialized as a local checkpoint the caller owns;
    every other frame the pass materializes is released before
    returning.  ``update_store=True``
    (requires ``batch_id``) upserts the non-stored rows under
    ``_batch=<id>`` (idempotent re-runs; a partial re-run carries the
    batch's earlier rows — see :func:`write_split_store`).

    ``lease=True`` holds the store's maintenance lease for the WHOLE
    pass — store read, decisions, and the ``update_store`` write —
    not just the write: two concurrent incremental passes can both
    read a doc as unstored between each other's read and write and
    assign it twice (possibly different splits), the duplicate-doc
    damage ``split_store_stats`` reports but nothing else prevents.
    Single decision pass = single maintainer, the same opt-in
    absolute the IVF-PQ index offers."""
    if lease:
        with held_lease(maintenance_root(store), ttl_s=lease_ttl_s) as f:
            return assign_splits_incremental(
                spark, new_docs, groups, weights, store,
                id_col=id_col, seed=seed, hash_fn=hash_fn,
                split_col=split_col, merge_policy=merge_policy,
                quarantine_split=quarantine_split,
                update_store=update_store, batch_id=batch_id,
                _fence=f,
            )
    if merge_policy not in ("quarantine", "error"):
        raise ValueError(
            f"unknown merge_policy {merge_policy!r}; expected "
            "'quarantine' or 'error'"
        )
    if update_store and batch_id is None:
        raise ValueError("update_store=True needs a batch_id")
    if quarantine_split is None:
        quarantine_split = next(iter(weights))
    if quarantine_split not in weights:
        raise ValueError(
            f"quarantine_split {quarantine_split!r} is not a label in "
            f"weights {sorted(weights)}"
        )
    if merge_policy == "quarantine":
        merged = F.lit(quarantine_split)
    else:
        merged = F.raise_error(
            F.concat(
                F.lit(
                    "assign_splits_incremental: group merge spans "
                    "stored splits (component="
                ),
                F.col("component").cast("string"),
                F.lit(
                    "); merge_policy='error' — resolve upstream or "
                    "use merge_policy='quarantine'"
                ),
            )
        )
    g = _guarded_groups(groups, id_col, "assign_splits_incremental")
    # the new ids and the pruned group map each feed both actions
    # below (the store probe and the decision): materialize each once,
    # release both once the decision is materialized
    new_ids = new_docs.select(F.col(id_col).alias("doc_id")).distinct().persist()
    # prune the group map FIRST: `groups` covers every id in any
    # near-dup pair — corpus-scale on a dup-heavy corpus — but only
    # components containing a NEW doc can influence any decision
    # below, so two semi-joins cut it to the touched components and
    # their members before anything fans out.  Join strategies are
    # left to Spark/AQE on purpose (the _apply_tombstones reasoning):
    # the pruned frames are batch-bounded in the common case, but a
    # mega-component makes them legitimately large and a FORCED
    # broadcast would OOM the driver.
    new_comps = (
        g.join(new_ids.withColumnRenamed("doc_id", "_gid"), "_gid", "left_semi")
        .select("component")
        .distinct()
    )
    g_rel = g.join(new_comps, "component", "left_semi").persist()
    relevant = None
    try:
        with job_label(spark, "sampling.assign_splits_incremental/probe"):
            stored = memoized_parquet(spark, store).select("doc_id", "split")
            # ONE pass over the corpus-sized store: semi-join down to
            # the rows any decision below can touch (the new ids and
            # the touched components' member ids), materialized so the
            # two lookups don't rescan the store
            probe_ids = new_ids.unionByName(
                g_rel.select(F.col("_gid").alias("doc_id"))
            ).distinct()
            relevant = stored.join(probe_ids, "doc_id", "left_semi").localCheckpoint()
        hit = relevant.select("doc_id", F.col("split").alias("_stored_split"))
        # one split among a component's stored members is max == min
        # (a count_distinct would plan a second shuffle)
        comp_splits = (
            g_rel.join(
                relevant.select(F.col("doc_id").alias("_gid"), "split"), "_gid"
            )
            .groupBy("component")
            .agg(
                F.max("split").alias("_smax"),
                F.min("split").alias("_inherit"),
            )
        )
        keyed = (
            new_ids.join(g_rel, new_ids["doc_id"] == g_rel["_gid"], "left")
            .drop("_gid")
            .join(hit, "doc_id", "left")
            .join(comp_splits, "component", "left")
        )
        fresh = assign_splits(
            keyed.withColumn(
                "_split_key", F.coalesce(F.col("component"), F.col("doc_id"))
            ),
            "_split_key",
            weights,
            seed=seed,
            hash_fn=hash_fn,
            split_col="_fresh",
        )
        split = (
            F.when(F.col("_stored_split").isNotNull(), F.col("_stored_split"))
            .when(F.col("_smax") != F.col("_inherit"), merged)
            .when(F.col("_inherit").isNotNull(), F.col("_inherit"))
            .otherwise(F.col("_fresh"))
        )
        reason = (
            F.when(F.col("_stored_split").isNotNull(), F.lit("stored"))
            .when(F.col("_smax") != F.col("_inherit"), F.lit("quarantined"))
            .when(F.col("_inherit").isNotNull(), F.lit("inherited"))
            .otherwise(F.lit("fresh"))
        )
        out = fresh.select(
            "doc_id",
            "component",
            split.alias(split_col),
            reason.alias("reason"),
        )
        # materialized, so the frames above can be released, and BEFORE
        # an update_store write mutates the store the plan reads
        with job_label(spark, "sampling.assign_splits_incremental/decide"):
            out = out.localCheckpoint()
        if update_store:
            # write only the genuinely-new rows — stored docs are never
            # rewritten, so the store stays unique per doc_id
            write_split_store(
                out.filter(F.col("reason") != "stored").withColumnRenamed(
                    split_col, "split"
                ),
                store,
                mode="append",
                batch_id=batch_id,
                _fence=_fence,
            )
    finally:
        release(new_ids, g_rel, relevant)
    return out


def _rates_from_shares(per: DataFrame, budget: float | None) -> DataFrame:
    """Shared rate arithmetic for the mixing-weight family: given the
    per-domain frame with ``mass``/``natural_share``/``target_share``,
    derive the feasibility budget (largest single-epoch budget when not
    given: ``min_d mass_d / share_d`` — the scarcest targeted domain
    taken in full) and per-domain sampling rates."""
    w = Window.partitionBy()
    if budget is None:
        feasible = F.when(
            F.col("target_share") > 0, F.col("mass") / F.col("target_share")
        )
        per = per.withColumn("_budget", F.min(feasible).over(w))
    else:
        per = per.withColumn("_budget", F.lit(float(budget)))
    # F.least SKIPS nulls, so a NULL budget (no targeted domain present
    # in the corpus) would silently become rate 1.0 for every domain —
    # coalesce the product to 0 so an unmatched target keeps nothing.
    # mass can be 0 when weight_col sums to zero for a domain; under
    # ANSI that division throws — such a domain contributes nothing
    rate = F.least(
        F.lit(1.0),
        F.coalesce(
            F.when(
                F.col("mass") > 0,
                F.col("target_share") * F.col("_budget") / F.col("mass"),
            ),
            F.lit(0.0),
        ),
    )
    return per.select(
        "domain",
        "mass",
        "natural_share",
        "target_share",
        rate.alias("sample_rate"),
        (rate * F.col("mass")).alias("expected_mass"),
    )


def mixing_weights(
    df: DataFrame,
    *,
    domain_col: str,
    targets: dict[str, float],
    weight_col: str | None = None,
    budget: float | None = None,
) -> DataFrame:
    """Static data-mixing weights: per-domain sampling rates that
    reshape the corpus toward a target token/mass distribution — the
    domain-reweighting step pre-training pipelines run after curation
    (the fixed-weight counterpart of learned schemes like DoReMi).

    Per-domain mass is ``SUM(weight_col)`` (or row count).  *targets*
    maps domain -> share; shares are used as given (normalize upstream
    if they don't sum to 1), domains absent from the map get rate 0.
    With no explicit *budget*, the largest single-epoch-feasible budget
    is used: ``min_d mass_d / share_d`` over targeted domains, the
    point where the scarcest domain is taken in full and nothing needs
    upsampling.  ``rate_d = min(1, share_d * budget / mass_d)``.

    Output (one row per domain):
    ``(domain, mass, natural_share, target_share, sample_rate,
    expected_mass)``.  The whole thing is ONE partial+final aggregate
    over the corpus plus arithmetic on the tiny per-domain frame (a
    single-partition window over O(domains) rows — never the corpus);
    feed the rates into :func:`stratified_sample` for the
    hash-deterministic downsampling pass.
    """
    if not targets:
        raise ValueError("targets must be non-empty")
    mass = F.sum(weight_col) if weight_col else F.count("*")
    per = df.groupBy(F.col(domain_col).alias("domain")).agg(
        mass.cast("double").alias("mass")
    )
    expr = None
    for d, s in targets.items():
        cond = F.col("domain") == d
        expr = F.when(cond, float(s)) if expr is None else expr.when(cond, float(s))
    tgt = expr.otherwise(0.0)
    per = per.withColumn("target_share", tgt)
    per = per.withColumn(
        "natural_share", F.col("mass") / F.sum("mass").over(Window.partitionBy())
    )
    return _rates_from_shares(per, budget)


def temperature_mixing_weights(
    df: DataFrame,
    *,
    domain_col: str,
    temperature: float,
    weight_col: str | None = None,
    budget: float | None = None,
) -> DataFrame:
    """Temperature-based domain reweighting: target shares derived
    FROM the corpus as ``share_d ∝ mass_d^(1/T)`` — the multilingual
    sampling scheme (mBERT/XLM-R style) that upweights low-resource
    domains without hand-written targets.  ``T=1`` keeps natural
    proportions; larger ``T`` flattens toward uniform.

    Where :func:`mixing_weights` takes explicit target shares, this
    computes them; the rate arithmetic is identical: with no explicit
    *budget* the largest single-epoch-feasible budget is used
    (``min_d mass_d / share_d`` — the scarcest domain taken in full,
    nothing upsampled), then ``rate_d = min(1, share_d·budget/mass_d)``.
    Output matches :func:`mixing_weights` (one row per domain).

    Plan: one partial+final aggregate over the corpus, then pure
    arithmetic + a single-partition window over the O(domains) frame
    (domains are small by construction — never the corpus)."""
    if temperature <= 0:
        raise ValueError("temperature must be > 0")
    mass = F.sum(weight_col) if weight_col else F.count("*")
    per = df.groupBy(F.col(domain_col).alias("domain")).agg(
        mass.cast("double").alias("mass")
    )
    w = Window.partitionBy()
    e = 1.0 / float(temperature)
    # exponent 0.5 routes through sqrt: IEEE requires sqrt correctly
    # rounded (and every engine honors it), while pow is only
    # 1-ulp-accurate on the JVM — T=2, the most common setting, stays
    # bit-reproducible across engines
    powed = F.when(
        F.col("mass") > 0,
        F.sqrt(F.col("mass")) if e == 0.5 else F.pow(F.col("mass"), F.lit(e)),
    )
    per = (
        per.withColumn("_p", F.coalesce(powed, F.lit(0.0)))
        .withColumn("natural_share", F.col("mass") / F.sum("mass").over(w))
        .withColumn("target_share", F.col("_p") / F.sum("_p").over(w))
    )
    return _rates_from_shares(per.drop("_p"), budget)


def split_store_stats(spark, store: str) -> dict:
    """One-call inventory for a persisted :func:`write_split_store` —
    the inspection surface an operator checks around maintenance
    (mirroring ``mllib_ann.ivfpq_index_stats``): per-batch row counts,
    per-split and per-reason document counts, and the store's
    uniqueness health (``duplicate_docs`` must be 0 — the incremental
    pass never rewrites stored docs, so a nonzero value means an
    out-of-band write broke the invariant and joins against the store
    now fan out).  Three bounded aggregation jobs over the
    column-pruned store; nothing collected beyond per-batch/per-split
    summaries."""
    from pyspark.sql import types as T

    # pin _batch to string via an explicit schema: partition-value
    # TYPE INFERENCE canonicalizes numeric-looking batch names
    # ('007' reads back as integer 7), and a post-hoc cast reports
    # '7' — inconsistent with the literal '_batch=007' directory the
    # path-addressed carry (core.store.read_batch) uses.  With a
    # user-supplied schema Spark parses the raw directory value as
    # the declared type, preserving the name verbatim.
    inferred = spark.read.parquet(store).schema
    pinned = T.StructType(
        [
            T.StructField("_batch", T.StringType()) if f.name == "_batch" else f
            for f in inferred
        ]
    )
    df = spark.read.schema(pinned).parquet(store).select(
        "doc_id", "split", "reason", "_batch"
    )
    batches = {
        r["_batch"]: r["rows"]
        for r in df.groupBy("_batch").agg(F.count("*").alias("rows")).collect()
    }
    per = df.groupBy("split", "reason").agg(F.count("*").alias("n")).collect()
    splits: dict[str, int] = {}
    reasons: dict[str, int] = {}
    for r in per:
        splits[r["split"]] = splits.get(r["split"], 0) + r["n"]
        reasons[r["reason"]] = reasons.get(r["reason"], 0) + r["n"]
    tot = df.agg(
        F.count("*").alias("rows"),
        F.count_distinct("doc_id").alias("docs"),
    ).collect()[0]
    return {
        "batches": batches,
        "splits": splits,
        "reasons": reasons,
        "n_rows": tot["rows"],
        "n_docs": tot["docs"],
        "duplicate_docs": tot["rows"] - tot["docs"],
    }


def split_store_conflicts(
    spark,
    store: str,
    groups: DataFrame,
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """Audit the leakage ALREADY present in a stored assignment under
    the CURRENT group map: components whose stored members span more
    than one split.  Stored labels never move, so when later evidence
    merges two groups that were split apart, the merged group straddles
    the train/test fence — :func:`assign_splits_incremental`
    quarantines NEW members, and this surface quantifies the existing
    stragglers so a pipeline can decide to retire them from eval sets.

    Output (one row per conflicted component):
    ``(component, n_docs_stored, n_splits, splits)`` with ``splits``
    the sorted comma-joined label list.  Plan: the group map joins the
    column-pruned store on id (strategy left to AQE), then one
    component-keyed aggregate — no corpus-sized shuffle beyond the
    group-member rows themselves."""
    stored = spark.read.parquet(store).select("doc_id", "split")
    g = _guarded_groups(groups, id_col, "split_store_conflicts").select(
        F.col("_gid").alias("doc_id"), "component"
    )
    return (
        g.join(stored, "doc_id")
        .groupBy("component")
        .agg(
            F.count("*").alias("n_docs_stored"),
            F.count_distinct("split").alias("n_splits"),
            F.array_join(F.array_sort(F.collect_set("split")), ",").alias(
                "splits"
            ),
        )
        .filter(F.col("n_splits") > 1)
    )
