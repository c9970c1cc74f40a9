"""Distributed connected components + dedup-group assignment.

The last stage of a fuzzy-dedup pipeline: near-duplicate PAIRS (from
MinHash-LSH / SimHash / embedding-LSH, `operators/dedup.py` and
`operators/similarity.py`) are edges of a similarity graph; the
deduplication GROUPS users act on (keep one doc per group) are that
graph's connected components.  The reference curator stops at
per-pair/bucket grouping (it has no graph stage); this closes the gap a
100 TB text pipeline actually needs — transitive closure of the
near-dup relation.

Algorithm: iterative min-label propagation with POINTER JUMPING
(path-halving), the classic PRAM technique (Shiloach-Vishkin style)
re-expressed relationally:

  round:  label(n) <- min(label(n), min over neighbors' labels)   # hop
          label(n) <- label(label(n))                             # jump

The hop step alone converges in O(diameter) rounds; the jump step
(label-of-label join) compresses chains geometrically, giving
O(log diameter) rounds — a 2^10-node path converges in ~10 rounds, not
1024.  Each round is a constant number of key-partitioned shuffles
(neighbor join + min-aggregate + label self-join), all Catalyst-planned
hash joins/aggregates; `localCheckpoint` truncates lineage each round so
the plan doesn't grow (the standard iterative-Spark requirement), and
each round releases the labels it supersedes.  The symmetric edge table
is hashed on the hop join's key once per round, from edges checkpointed
lazily by the first round and released on return.

Convergence detection rides along: labels only ever decrease, so a
round that lowers no node's label has reached the fixed point.  Each
round's materialization counts the nodes it lowered
(``pyspark.sql.Observation``), so the check costs no job of its own and
compares ids only for equality, which works for any orderable id type.

Scale posture: state per round is one (node, label) row per vertex of
the PAIR graph (near-dup docs only — a sliver of the corpus), shuffled
on node id.  The only state kept in Python is one observed count per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from physicsnemo_curator_spark.core.jobs import job_label
from physicsnemo_curator_spark.core.store import release

__all__ = ["connected_components", "dedup_groups"]


def connected_components(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    *,
    max_iter: int = 50,
    checkpoint: bool = True,
) -> DataFrame:
    """Connected components of the undirected graph given by ``edges``.

    Returns (node, component) — one row per distinct node appearing in
    any edge, ``component`` = the minimum node id reachable from it.
    Node ids must be a numeric/orderable type.  Self-loops are ignored;
    duplicate and reversed edges are welcome (deduplicated internally).

    ``max_iter`` is a safety bound; with pointer jumping the rounds
    needed are ~log2(diameter), so 50 covers any graph that fits on
    earth.  Raises RuntimeError if the bound is hit without a fixed
    point (indicates non-orderable ids or NaN keys, not scale).

    With ``checkpoint`` (the default) the result is a local checkpoint
    the caller owns; every other frame the rounds materialize is
    released before returning.
    """
    e = (
        edges.select(F.col(src).alias("n"), F.col(dst).alias("m"))
        .filter(F.col("n") != F.col("m"))
        .filter(F.col("n").isNotNull() & F.col("m").isNotNull())
    )
    edges_cp = None
    if checkpoint:
        # lazily: the first round computes the edges, later rounds read
        # them (checkpointing after the shuffle below would cost a job
        # of its own under AQE, and the checkpoint would forget the
        # partitioning that shuffle gives)
        with job_label(e.sparkSession, "components.connected_components/edges"):
            e = edges_cp = e.localCheckpoint(eager=False)
    # symmetrize; dedup to bound the per-round join width.  Hashed on
    # m, the hop join's key, so one shuffle both dedups the edges and
    # serves the join.
    und = (
        e.union(e.select(F.col("m").alias("n"), F.col("n").alias("m")))
        .repartition("m")
        .distinct()
    )

    # hop-0 initialization: label(n) = min(n, min neighbor) — the same
    # shuffle the old identity init paid for its distinct(), but the
    # result already incorporates the first hop, so typical near-dup
    # graphs (tiny components) converge one full round earlier
    labels = (
        und.groupBy("n")
        .agg(F.min("m").alias("_mn"))
        .select(
            F.col("n").alias("node"),
            F.least(F.col("n"), F.col("_mn")).alias("comp"),
        )
    )

    def _materialize(lab: DataFrame) -> tuple[DataFrame, int]:
        # Count the nodes whose label the round lowered, observed by the
        # action that materializes the round: under AQE even a lazy
        # localCheckpoint runs the round's shuffle stages when it is
        # called, so a probe action after it costs jobs of its own.
        obs = Observation()
        observed = lab.observe(
            obs,
            F.count(F.when(F.col("comp") != F.col("old"), 1)).alias("changed"),
        ).select("node", "comp")
        with job_label(lab.sparkSession, "components.connected_components/round"):
            if checkpoint:
                lab = observed.localCheckpoint(eager=True)
            else:
                observed.count()
                lab = lab.select("node", "comp")
        return lab, obs.get["changed"]

    prev = None  # the last round's checkpointed labels
    for _ in range(max_iter):
        # hop: min over own label and neighbors' labels; ``old`` carries
        # each node's label into the round's output
        nbr = und.join(
            labels.select(F.col("node").alias("m"), F.col("comp").alias("mc")),
            "m",
        ).select(F.col("n").alias("node"), F.col("mc").alias("comp"))
        hopped = (
            labels.withColumn("old", F.col("comp"))
            .unionByName(nbr, allowMissingColumns=True)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"), F.min("old").alias("old"))
        )
        # jump: label <- label(label).  Every comp value is itself a node
        # id present in the label table, so the self-join is total; min()
        # keeps the smaller of the one-hop and two-hop labels.
        # ``po`` only keeps both sides of the self-join the same
        # aggregate, so AQE reuses its shuffle (pc is never null)
        parent = hopped.select(
            F.col("node").alias("comp"),
            F.col("comp").alias("pc"),
            F.col("old").alias("po"),
        )
        labels, changed = _materialize(
            hopped.join(parent, "comp").select(
                "node", F.least("comp", F.coalesce("pc", "po")).alias("comp"), "old"
            )
        )
        if checkpoint:
            # the new labels are materialized: nothing reads the old
            release(prev)
            prev = labels
        # labels only ever decrease, so a round that lowers none has
        # reached the fixed point
        if not changed:
            release(edges_cp)
            return labels
    release(edges_cp, prev)
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )


def dedup_groups(
    pairs: DataFrame,
    src: str = "a",
    dst: str = "b",
    *,
    id_out: str = "doc_id",
    max_iter: int = 50,
    scores: DataFrame | None = None,
    score_col: str = "score",
) -> DataFrame:
    """Near-dup pairs -> dedup groups.

    Returns (``id_out``, component, group_size, keep) for every doc
    that appears in some pair: ``component`` = min doc id of its group
    (the canonical label), ``keep`` = true for exactly one doc per
    group.  Docs in no pair are trivially their own group and are left
    to the caller (an anti-join against this output).

    Default policy keeps the component representative (min id).  Pass
    ``scores`` — a (``id_out``, ``score_col``) frame, e.g. the quality
    score from ``textops.quality_score`` — to keep each group's
    highest-scoring doc instead (ties fall to the lower id), the
    policy real curation runs want: dedup should discard the *worse*
    copies.  Cost is one extra id-keyed join and a per-component
    max-struct aggregate — same shuffle class as the size count.

    ``group_size`` is a count over a ``comp`` window, so a caller that
    does not read it pays nothing for it: column pruning drops the
    window from the plan.
    """
    comp = connected_components(pairs, src, dst, max_iter=max_iter)
    out = comp.withColumn(
        "group_size", F.count(F.lit(1)).over(Window.partitionBy("comp"))
    )
    if scores is None:
        return out.select(
            F.col("node").alias(id_out),
            F.col("comp").alias("component"),
            "group_size",
            (F.col("node") == F.col("comp")).alias("keep"),
        )
    scored = out.join(
        scores.select(
            F.col(id_out).alias("node"),
            F.col(score_col).cast("double").alias("_s"),
        ),
        "node",
        "left",
    ).withColumn(
        "_s",
        F.when(
            F.col("_s").isNull() | F.isnan(F.col("_s")),
            F.lit(float("-inf")),  # NaN sorts above every double in
            # Spark and would win the argmax — an unscorable doc must
            # never beat a scored one
        ).otherwise(F.col("_s")),
    )
    # argmax via per-component rank (score desc, id asc): unlike the
    # max-struct trick with an arithmetic id negation, this keeps
    # string ids working and ties deterministic
    w = Window.partitionBy("comp").orderBy(F.desc("_s"), F.asc("node"))
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .select(
            F.col("node").alias(id_out),
            F.col("comp").alias("component"),
            "group_size",
            (F.col("_rk") == 1).alias("keep"),
        )
    )
