"""Deduplication operators for training-data curation (north star).

Exact, fingerprint, MinHash+LSH, SimHash, and n-gram-Jaccard dedup over
a ``documents(doc_id, text)`` table.  Design for 100 TB:

- Exact / fingerprint dedup is one hash-aggregate shuffle keyed on the
  (hashed) content — shuffled bytes ~ O(distinct groups).
- MinHash+LSH never compares all pairs: shingles -> K minhashes ->
  B bands -> groupBy(band, band-signature) buckets -> candidate pairs
  only within buckets -> exact-Jaccard verify.  Bucket join keys are
  (band, signature) so the pair-generation shuffle is bounded by
  bucket sizes, not n².
- SimHash packs a 64-bit signature per doc; near-dup = identical
  signature on any of several rotated band keys.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from physicsnemo_curator_spark.core.jobs import job_label
from physicsnemo_curator_spark.core.store import (
    held_lease,
    maintenance_root,
    memoized_parquet,
    release,
    validate_batch_id,
    verify_lease,
    write_batch_partitioned,
)


def normalize_text(text: Column) -> Column:
    # collapse ALL whitespace runs first, then trim — F.trim strips
    # spaces only, so trim-then-collapse left edge newlines/tabs as a
    # residual space and 'x' vs 'x\n' never matched
    return F.trim(F.regexp_replace(F.lower(text), "\\s+", " "))


def rebalance_narrow(df: DataFrame, key: str | None = None) -> DataFrame:
    """Repartition a narrow input up to the cluster's parallelism.

    Shingling/hashing explodes each doc into tens-to-hundreds of rows,
    and the *partial* aggregation of those rows runs inside the scan
    task — a table that arrives in fewer partitions than cores (one
    small parquet file locally; a handful of splits on a cluster)
    serializes that CPU-heavy stretch onto a few cores.  One cheap
    shuffle of the raw docs (pre-explode, so bytes are small) buys
    full-width parallelism for everything downstream.

    Decided from the physical plan, never by running the input:
    counting the partitions of a plan with an exchange makes AQE run
    its query stages.  A shuffled input is already shuffle-wide (AQE
    narrows it only to what its bytes need) and is returned as is; an
    exchange-free plan (scans and narrow transforms) knows its
    partition count from planning alone and is repartitioned when that
    count is below the parallelism.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    if _exchanges(df._jdf.queryExecution().executedPlan()):
        return df
    if df.rdd.getNumPartitions() >= par:
        return df
    return df.repartition(par, key) if key is not None else df.repartition(par)


def _exchanges(plan) -> bool:
    """True when a physical plan shuffles, broadcasts or runs a
    subquery — anything whose partitions (or preparation) only
    execution settles.  AQE wraps exactly those plans."""
    name = plan.nodeName()
    if name == "AdaptiveSparkPlan" or "Exchange" in name or not plan.subqueries().isEmpty():
        return True
    kids = plan.children()
    return any(_exchanges(kids.apply(i)) for i in range(kids.size()))


def exact_duplicates(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group exact duplicates by normalized content hash.

    Returns (doc_id, canonical_id, group_size): canonical = min id per
    content group.  Keeping rows where doc_id == canonical_id performs
    the dedup; the rest is the duplicate report.
    """
    # md5(NULL) is NULL and groupBy groups NULL keys together — 1000
    # NULL-text docs would silently collapse into one "duplicate"
    # group; a NULL text is unknown content, never a duplicate
    keyed = docs.select(
        F.col(id_col).alias("doc_id"),
        F.coalesce(
            F.md5(normalize_text(F.col(text_col))),
            F.concat(F.lit("__null__"), F.col(id_col).cast("string")),
        ).alias("_k"),
    )
    groups = keyed.groupBy("_k").agg(
        F.min("doc_id").alias("canonical_id"),
        F.count(F.lit(1)).alias("group_size"),
    )
    return keyed.join(groups, "_k").select("doc_id", "canonical_id", "group_size")


def dedup_exact(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per exact content group."""
    dups = exact_duplicates(docs, text_col, id_col)
    keep = dups.filter(F.col("doc_id") == F.col("canonical_id")).select("doc_id")
    return docs.join(keep, docs[id_col] == keep["doc_id"], "left_semi")


def char_shingles(text: Column, k: int = 5, *, normalized: bool = False) -> Column:
    """Distinct k-character shingles of the normalized text.

    Pass ``normalized=True`` with a pre-materialized normalized-text
    ATTRIBUTE (a real column, not an expression): the substr lambda
    references its base per element, and a non-attribute base (the
    normalize regex) would re-evaluate per shingle — O(len²) per doc.
    """
    norm = text if normalized else normalize_text(text)
    n = F.length(norm)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: norm.substr(i, F.lit(k))))


def word_ngrams(toks: Column, n: int = 3, *, distinct: bool = True) -> Column:
    """Word n-grams from a token array (n=1 → token set).

    Builds each n-gram with n O(1) ``element_at`` lookups rather than
    ``slice`` (which copies a sub-array per shingle — quadratic per doc).
    Docs shorter than n tokens yield an empty array — guarded
    explicitly because ``sequence(1, 0)`` is *descending* in Spark and
    ``element_at`` is strict under ANSI mode.
    """
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)]),
    )
    if distinct:
        grams = F.array_distinct(grams)
    empty = F.array().cast("array<string>")
    return F.when(F.size(toks) >= n, grams).otherwise(empty)


def shingle_table(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    *,
    unit: str = "char",
) -> DataFrame:
    """Long (doc_id, shingle) table — the input to MinHash and Jaccard.

    unit='char' → k-character shingles; unit='word' → k-word n-grams.
    Tokens materialize once per row (a projection step) so the n-gram
    transform doesn't re-split the text per element.
    """
    docs = rebalance_narrow(docs, id_col)
    if unit == "char":
        staged = docs.select(
            F.col(id_col).alias("doc_id"),
            normalize_text(F.col(text_col)).alias("_norm"),
        )
        # no .distinct(): char_shingles is already array_distinct per
        # doc, so it would shuffle the whole shingle stream to dedup
        # nothing
        return staged.select(
            "doc_id",
            F.explode(
                char_shingles(F.col("_norm"), k, normalized=True)
            ).alias("shingle"),
        )
    toked = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(normalize_text(F.col(text_col)), " ").alias("_toks"),
    )
    return toked.select(
        "doc_id", F.explode(word_ngrams(F.col("_toks"), k)).alias("shingle")
    )


def minhash_signatures(
    shingles: DataFrame,
    num_hashes: int = 32,
    seed: int = 42,
    *,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """K minhashes per doc: h_i = min over shingles of hash_i(shingle).

    One groupBy(doc_id) with K min-aggregates — partial aggregation
    makes the shuffle O(docs × K), independent of shingle count.

    hash_fn='xxhash64' (default, fastest) salts with seed+i;
    hash_fn='md5' takes the lexicographic min of md5(shingle || ':' || i)
    hex strings — slower, but bit-for-bit reproducible in any engine
    with an md5() (the DuckDB correctness oracle replays it).
    """
    return shingles.groupBy("doc_id").agg(*_minhash_aggs(num_hashes, seed, hash_fn))


def _minhash_aggs(num_hashes: int, seed: int, hash_fn: str) -> list[Column]:
    # single expr() parses instead of ~4 py4j round trips per hash
    if hash_fn == "md5":
        return [
            F.expr(f"min(md5(concat(shingle, ':{i}')))").alias(f"h{i}")
            for i in range(num_hashes)
        ]
    return [
        F.expr(f"min(xxhash64(shingle, {seed + i}))").alias(f"h{i}")
        for i in range(num_hashes)
    ]


def band_table(
    signatures: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    *,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(doc_id, band, bucket) rows — one per (doc, band), bucket keyed
    on the hash of the band's signature rows.  The shared banding step
    of batch LSH (``lsh_candidate_pairs``) and the incremental store
    (``write_minhash_store`` / ``incremental_near_duplicates``).
    hash_fn='md5' keys buckets on md5(concat_ws('|', band rows)) so the
    DuckDB oracle can derive identical buckets; the bucket column is a
    string in that mode and a bigint otherwise."""
    rows_per_band = num_hashes // bands

    def bucket(b: int) -> str:
        cols = ", ".join(
            f"h{b * rows_per_band + r}" for r in range(rows_per_band)
        )
        if hash_fn == "md5":
            return f"md5(concat_ws('|', {cols}))"
        return f"xxhash64({cols})"

    band_structs = ", ".join(
        f"struct({b} AS band, {bucket(b)} AS bucket)" for b in range(bands)
    )
    return signatures.select(
        "doc_id",
        F.expr(f"explode(array({band_structs}))").alias("bb"),
    ).select(
        "doc_id",
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    *,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Band the signature; docs sharing any full band become candidates.

    Bucket key = (band_index, hash of the band's rows) so the
    self-join runs bucket-local.  Returns distinct (a, b) with a < b.
    """
    banded = band_table(signatures, num_hashes, bands, hash_fn=hash_fn)
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = left.join(
        right,
        (F.col("l.band") == F.col("r.band"))
        & (F.col("l.bucket") == F.col("r.bucket"))
        & (F.col("l.doc_id") < F.col("r.doc_id")),
    ).select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
    return pairs.distinct()


def jaccard_pairs(
    shingles: DataFrame,
    candidates: DataFrame | None = None,
    *,
    max_df: int | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs (or all co-shingled
    pairs when candidates is None — only sane at test scale).
    ``shingles`` holds each doc's shingles once (as ``shingle_table``
    emits them).  Output: distinct (a, b, jaccard) with a < b for pairs
    sharing at least one shingle.

    Without candidates, |A∩B| comes from a shingle-keyed self-join and
    |A|, |B| from per-doc counts: J = inter / (|A| + |B| - inter).
    With candidates given, each doc's shingle set is built once (one
    ``collect_set`` aggregate), attached to both sides of every
    candidate pair by two id joins, and intersected per pair
    (``size(array_intersect)``) — no shingle-keyed join, so a
    boilerplate shingle costs no df² rows, and the plan shuffles the
    shingles once, into per-doc sets, instead of into a sizes
    aggregate, a candidate-doc filter, a self-join and a pair count.

    ``max_df`` drops shingles appearing in more than that many docs
    first (mirroring winnow_candidate_pairs): each boilerplate/stopword
    shingle otherwise contributes df² self-join rows — the quadratic
    hot-key blowup at corpus scale.  Jaccard is then computed over the
    pruned shingle space (sizes and intersections both exclude pruned
    shingles — the standard stopword-pruned near-dup semantics); a pair
    sharing only pruned shingles yields no output row.
    """
    if max_df is not None:
        rare = (
            shingles.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("shingle")
        )
        # shuffle keys on shingle — co-partitioned with the self-join
        shingles = shingles.join(rare, "shingle", "left_semi")
    if candidates is not None:
        return _set_jaccard(
            candidates,
            shingles.groupBy("doc_id").agg(F.collect_set("shingle").alias("s")),
        )
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    s1 = shingles.alias("s1")
    s2 = shingles.alias("s2")
    inter = (
        s1.join(s2, (F.col("s1.shingle") == F.col("s2.shingle")) & (F.col("s1.doc_id") < F.col("s2.doc_id")))
        .groupBy(F.col("s1.doc_id").alias("a"), F.col("s2.doc_id").alias("b"))
        .agg(F.count(F.lit(1)).alias("inter"))
        .join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("sz", "sz_a"), "a")
        .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("sz", "sz_b"), "b")
    )
    return inter.select("a", "b", _jaccard())


def _set_jaccard(candidates: DataFrame, sets: DataFrame) -> DataFrame:
    """(a, b, jaccard) for the distinct candidate pairs with a < b whose
    shingle sets (``sets``: doc_id, s) share at least one shingle."""
    # no broadcast hint: the candidate set is data-dependent and
    # unbounded (AQE broadcasts a side when it is actually small)
    return (
        candidates.select("a", "b")
        .filter(F.col("a") < F.col("b"))
        .distinct()
        .join(sets.select(F.col("doc_id").alias("a"), F.col("s").alias("sa")), "a")
        .join(sets.select(F.col("doc_id").alias("b"), F.col("s").alias("sb")), "b")
        .select(
            "a",
            "b",
            F.size(F.array_intersect("sa", "sb")).alias("inter"),
            F.size("sa").alias("sz_a"),
            F.size("sb").alias("sz_b"),
        )
        .filter(F.col("inter") > 0)
        .select("a", "b", _jaccard())
    )


def _jaccard() -> Column:
    return (
        F.col("inter").cast("double")
        / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double")
    ).alias("jaccard")


def minhash_near_duplicates(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    shingle_unit: str = "word",
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    seed: int = 42,
    shingles: DataFrame | None = None,
    hash_fn: str = "xxhash64",
    max_df: int | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle → sign → band →
    candidates → exact-Jaccard verify ≥ threshold.  Returns (a, b,
    jaccard) pairs.  LSH bounds the verify join; the verify step makes
    the output hash-independent (deterministic given the data).
    Pass a prebuilt (ideally persisted) ``shingles`` table to share the
    shingling across operators (jaccard/minhash/simhash all consume the
    same stream); the caller owns it.  hash_fn='md5' makes the candidate set itself
    engine-reproducible (see minhash_signatures).  ``max_df`` prunes
    boilerplate shingles in the verify join (see jaccard_pairs) —
    recommended at corpus scale, where a stopword shingle's df² rows
    dominate the verify shuffle even after the candidate prefilter."""
    sh = shingles
    if sh is None:
        # read by both signing and verification, unpersisted: the
        # returned plan is lazy, so nothing could release a persist
        sh = shingle_table(docs, text_col, id_col, shingle_k, unit=shingle_unit)
    sigs = minhash_signatures(sh, num_hashes, seed, hash_fn=hash_fn)
    cand = lsh_candidate_pairs(sigs, num_hashes, bands, hash_fn=hash_fn)
    return jaccard_pairs(sh, cand, max_df=max_df).filter(
        F.col("jaccard") >= F.lit(threshold)
    )


def _feature_hash(col: Column, hash_fn: str) -> Column:
    """64-bit (xxhash64) or 60-bit (md5) integer feature hash.

    'md5_60' parses the first 15 hex chars of md5 — 60 bits, positive,
    and reproducible in any engine with md5(): the DuckDB oracle
    rebuilds the identical value via CAST('0x' || substr(md5(x),1,15)
    AS BIGINT)."""
    if hash_fn == "md5_60":
        return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
    return F.xxhash64(col)


def simhash(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    ngram: int = 2,
    *,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash per doc: sign of the per-bit sum of feature-hash bits.

    Features are word n-grams of the normalized text (``ngram=1`` →
    unigrams weighted by occurrence count; ``ngram>=2`` → the distinct
    shingle set, which keeps word *order* — unigram token distributions
    are indistinguishable on small vocabularies).  Each feature
    contributes ±weight per bit from the feature hash; the whole
    signature is one explode + one packed-counter groupBy, all JVM-side.
    hash_fn='md5_60' (use with bits<=60) makes the signature
    engine-reproducible for the correctness oracle.
    """
    if hash_fn == "md5_60" and bits > 60:
        raise ValueError("md5_60 feature hashes carry 60 bits; pass bits<=60")
    docs = rebalance_narrow(docs, id_col)
    if ngram <= 1:
        toks = (
            docs.select(
                F.col(id_col).alias("doc_id"),
                F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("tok"),
            )
            .groupBy("doc_id", "tok")
            .agg(F.count(F.lit(1)).alias("w"))
            .withColumn("th", _feature_hash(F.col("tok"), hash_fn))
        )
    else:
        # weighted by occurrence: explode n-grams WITHOUT the distinct
        # shuffle — duplicates simply accumulate into the bit sums,
        # which is classic weighted SimHash and saves a full shuffle of
        # the shingle stream
        toked = docs.select(
            F.col(id_col).alias("doc_id"),
            F.split(normalize_text(F.col(text_col)), " ").alias("_toks"),
        )
        toks = toked.select(
            "doc_id",
            F.explode(word_ngrams(F.col("_toks"), ngram, distinct=False)).alias(
                "_shingle"
            ),
        ).select(
            "doc_id",
            F.lit(1).alias("w"),
            _feature_hash(F.col("_shingle"), hash_fn).alias("th"),
        )
    # Packed-counter aggregation: instead of one signed SUM per bit (64
    # aggregate buffers -> huge generated update loop, slow codegen AND
    # slow per-row update), pack 3 non-negative 21-bit "ones" counters
    # per long, so 64 bits need only ceil(64/3)=22 SUMs plus the total
    # weight n.  The signed bit-sum is recovered algebraically:
    #   sum(w * (2*bit - 1)) = 2*sum(w*bit) - sum(w) = 2*ones - n,
    # so bit set <=> 2*ones > n.  Ones counters never go negative, so
    # lanes cannot borrow into each other; each lane holds up to 2^21-1
    # (~2M weighted features per doc — a full book is ~1e5).  Measured
    # ~2x faster than the 64-sum formulation on the documents table.
    lane_bits, lanes = 21, 3
    n_longs = (bits + lanes - 1) // lanes

    # The packed/unpack expressions are built as single SQL strings:
    # constructing them Column-op-by-Column-op costs one py4j round
    # trip per node (~hundreds per signature -> seconds of driver-side
    # build time); one expr() parse is JVM-side and effectively free.
    def packed(g: int) -> str:
        terms = []
        for j in range(lanes):
            i = g * lanes + j
            if i >= bits:
                break
            terms.append(
                f"((shiftright(th, {i}) & CAST(1 AS BIGINT))"
                f" * CAST(w AS BIGINT)"
                f" * CAST({1 << (j * lane_bits)} AS BIGINT))"
            )
        return f"sum({' + '.join(terms)})"

    bit_sums = toks.groupBy("doc_id").agg(
        F.expr("sum(CAST(w AS BIGINT))").alias("n"),
        *[F.expr(packed(g)).alias(f"p{g}") for g in range(n_longs)],
    )

    def ones(i: int) -> str:
        g, j = divmod(i, lanes)
        return (
            f"(shiftright(p{g}, {j * lane_bits})"
            f" & CAST({(1 << lane_bits) - 1} AS BIGINT))"
        )

    # top bit left 0 to stay in signed range
    sig_sql = " + ".join(
        f"IF({ones(i)} * 2 > n, CAST({1 << i} AS BIGINT), CAST(0 AS BIGINT))"
        for i in range(bits - 1)
    )
    sig = bit_sums.select("doc_id", F.expr(sig_sql).alias("simhash"))
    return sig


def simhash_duplicates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    bits: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Docs whose full SimHash collides (hamming distance 0) — grouped
    like exact_duplicates.  Banded hamming<k variants build on the same
    signature table."""
    # one window over the signature groups: the signatures are read
    # once, so nothing needs persisting
    g = Window.partitionBy("simhash")
    return simhash(docs, text_col, id_col, bits=bits, hash_fn=hash_fn).select(
        "doc_id",
        F.min("doc_id").over(g).alias("canonical_id"),
        F.count(F.lit(1)).over(g).alias("group_size"),
    )


def simhash_near_duplicates(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_bands: int = 4,
    bits: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup pairs with hamming distance ≤ max_hamming.

    Pigeonhole banding: split the ``bits``-bit signature into
    ``n_bands`` blocks; any pair within hamming ≤ n_bands-1 must agree
    on at least one whole block, so candidates come from block-equality
    equi-joins (shuffle keyed on (band, block)), then exact hamming
    verifies.  Never enumerates all pairs.  Returns a local checkpoint
    the caller owns: the signatures both join sides read are persisted
    and released once the pairs are materialized.
    """
    from physicsnemo_curator_spark.operators.imagehash import (
        banded_hamming_pairs,
    )

    sig = simhash(docs, text_col, id_col, bits=bits, hash_fn=hash_fn).persist()
    # shared banding/verify plan (imagehash.banded_hamming_pairs):
    # block-equality equi-join then bit_count — one implementation
    # for the text, image and audio hamming families
    pairs = banded_hamming_pairs(
        sig,
        hash_col="simhash",
        id_col="doc_id",
        max_hamming=max_hamming,
        n_bands=n_bands,
        bits=bits,
        # SimHash callers historically run max_hamming 8 over 4 bands
        # as a recall heuristic (precision-pinned in tests)
        require_complete=False,
    )
    with job_label(docs.sparkSession, "dedup.simhash_near_duplicates/pairs"):
        pairs = pairs.localCheckpoint()
    release(sig)
    return pairs


def winnow_candidate_pairs(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
    max_df: int = 50,
) -> DataFrame:
    """Candidate pairs from shared winnowing fingerprints.

    The MOSS pairing rule: two documents sharing any selected k-gram
    fingerprint (textops.winnow_fingerprint_table) share a ≥k-char
    substring and become a candidate pair.  Long table → self-join on
    fingerprint → distinct, so shuffle volume is rows ×
    fingerprints-per-doc — the substring-overlap analog of MinHash
    banding (set overlap) and SimHash banding (bit-vector proximity).

    ``max_df`` drops fingerprints shared by more than that many
    documents before pairing (MOSS does the same): boilerplate
    substrings otherwise contribute df² pairs each — the winnowing
    analog of stopword pruning, and what keeps the pair count bounded
    at corpus scale."""
    from physicsnemo_curator_spark.operators.textops import (
        winnow_fingerprint_table,
    )

    fps = winnow_fingerprint_table(
        docs, text_col=text_col, id_col=id_col, k=k, window=window
    ).select(F.col(id_col).alias("_id"), "fp")
    fps = (
        fps.withColumn("_df", F.count(F.lit(1)).over(Window.partitionBy("fp")))
        .filter(F.col("_df") <= max_df)
        .drop("_df")
    )
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a._id") < F.col("b._id")))
        .select(F.col("a._id").alias("a"), F.col("b._id").alias("b"))
        .distinct()
    )


def winnow_near_duplicates(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
    shingle_k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Winnowing-candidates + exact-Jaccard verify ≥ threshold.

    Same verify stage as minhash_near_duplicates, different candidate
    generator: fingerprints catch shared literal substrings (plagiarism/
    boilerplate style overlap), MinHash catches shingle-set similarity —
    complementary recall profiles over the same pair-verify machinery."""
    cand = winnow_candidate_pairs(
        docs, text_col=text_col, id_col=id_col, k=k, window=window
    )
    sh = shingle_table(docs, text_col, id_col, shingle_k, unit="word")
    return jaccard_pairs(sh, cand).filter(F.col("jaccard") >= F.lit(threshold))


# --- Incremental near-dup: persisted MinHash store ------------------------
#
# The production shape for continuously-ingested corpora: signing the
# full corpus on every batch is O(corpus) per batch; persisting the
# (signatures, bands) tables makes each batch O(batch + matched
# buckets).  The store holds two parquet tables:
#
#   signatures/  (doc_id, h0..h{K-1})          — K longs per doc
#   bands/       (doc_id, band, bucket)        — K/bands rows per doc
#
# New-vs-corpus verification uses the SIGNATURE-ESTIMATED Jaccard
# (fraction of agreeing minhashes — the standard unbiased estimator)
# because the corpus shingle stream is not retained; new-vs-new pairs
# within the batch use the exact shingle verify like the batch path.


def write_minhash_store(
    docs: DataFrame,
    store: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
    hash_fn: str = "xxhash64",
    mode: str = "overwrite",
    batch_id: str = "seed",
    lease: bool = False,
    lease_ttl_s: float = 600.0,
    _fence: tuple[str, str] | None = None,
) -> None:
    """Sign ``docs`` and persist the (signatures, bands) store.

    The store is uniformly partitioned by ``_batch``: every write —
    the seed build and each ``mode='append'`` batch update — lands in
    its own ``_batch=<id>`` partition with dynamic-partition overwrite,
    so RE-RUNNING a batch replaces its own rows instead of
    double-appending (idempotent ingestion).  Band rows are
    repartitioned on (band, bucket) so each bucket's rows co-locate —
    the probe join touches only matching buckets' row groups.

    Conflict contract: re-ingest a doc under its OWN batch_id only
    (idempotent replace).  A changed doc re-ingested under a NEW
    batch_id leaves both signature versions live; a store that must
    serve latest-write-wins under conflicting re-ingests needs the
    ``_gen``/tombstone discipline of
    ``mllib_ann.write_ivfpq_index``.

    ``lease=True`` runs the write under the store's maintenance lease
    (``core.store.held_lease`` on the sibling ``<store>.maint``
    directory, with fencing verifies around the two data writes) —
    the same opt-in single-maintainer absolute the other stores
    offer."""
    if lease:
        with held_lease(maintenance_root(store), ttl_s=lease_ttl_s) as f:
            return write_minhash_store(
                docs, store, text_col=text_col, id_col=id_col,
                shingle_k=shingle_k, num_hashes=num_hashes, bands=bands,
                seed=seed, hash_fn=hash_fn, mode=mode, batch_id=batch_id,
                _fence=f,
            )
    validate_batch_id(batch_id)
    sh = shingle_table(docs, text_col, id_col, shingle_k, unit="word")
    # both tables derive from the signatures: sign once, release after
    # the bands write
    sigs = minhash_signatures(sh, num_hashes, seed, hash_fn=hash_fn).persist()
    try:
        if _fence is not None:
            verify_lease(*_fence)
        _write_store_tables(
            sigs, store, num_hashes=num_hashes, bands=bands, hash_fn=hash_fn,
            mode=mode, batch_id=batch_id, op="write_minhash_store",
        )
    finally:
        release(sigs)
    if _fence is not None:
        verify_lease(*_fence)


def _write_store_tables(
    sigs: DataFrame,
    store: str,
    *,
    num_hashes: int,
    bands: int,
    hash_fn: str,
    mode: str,
    batch_id: str,
    op: str,
) -> None:
    """Write one batch's signatures and its band rows (bucket-clustered)
    into the store's ``_batch=<id>`` partitions."""
    tag = F.lit(batch_id)
    spark = sigs.sparkSession
    with job_label(spark, f"dedup.{op}/signatures"):
        write_batch_partitioned(
            sigs.withColumn("_batch", tag),
            os.path.join(store, "signatures"),
            mode=mode,
        )
    with job_label(spark, f"dedup.{op}/bands"):
        write_batch_partitioned(
            band_table(sigs, num_hashes, bands, hash_fn=hash_fn).withColumn("_batch", tag),
            os.path.join(store, "bands"),
            mode=mode,
            repartition_cols=("band", "bucket"),
        )


def sig_agreement(
    left_sigs: DataFrame,
    pairs: DataFrame,
    right_sigs: DataFrame,
    num_hashes: int,
    *,
    broadcast_pairs: bool = False,
) -> DataFrame:
    """Attach the minhash-agreement Jaccard estimate to (a, b) pairs:
    est = (1/K) Σ [h_i(a) = h_i(b)].  Two id-keyed joins + one codegen
    sum expression — no shingle data touched.  ``broadcast_pairs``
    turns both joins into broadcast probes of the big signature tables
    (right when pairs come from one ingest batch)."""
    # string-built projections/sum: the Column-operator form costs
    # ~3 py4j round-trips per hash column (~300 for K=32, both sides) —
    # the sq8_train/dot_unrolled lesson; selectExpr/expr parse JVM-side
    la = left_sigs.selectExpr(
        "doc_id as a", *[f"h{i} as la{i}" for i in range(num_hashes)]
    )
    rb = right_sigs.selectExpr(
        "doc_id as b", *[f"h{i} as rb{i}" for i in range(num_hashes)]
    )
    p = F.broadcast(pairs) if broadcast_pairs else pairs
    matched = p.join(la, "a").join(rb, "b")
    agree = " + ".join(
        f"CAST(la{i} = rb{i} AS INT)" for i in range(num_hashes)
    )
    return matched.select(
        "a",
        "b",
        (F.expr(f"({agree})") / F.lit(float(num_hashes))).alias(
            "jaccard_est"
        ),
    )


def incremental_near_duplicates(
    spark,
    new_docs: DataFrame,
    store: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    seed: int = 42,
    hash_fn: str = "xxhash64",
    update_store: bool = False,
    batch_id: str | None = None,
    materialize: bool = True,
    lease: bool = False,
    lease_ttl_s: float = 600.0,
    _fence: tuple[str, str] | None = None,
) -> DataFrame:
    """Near-dup pairs for a NEW batch against a persisted corpus store
    plus within the batch itself.

    Returns (a, b, jaccard, scope): scope='corpus' rows pair a corpus
    doc (a) with a new doc (b), jaccard = signature-agreement estimate;
    scope='batch' rows are new-new pairs with the exact shingle-verified
    Jaccard.  All parameters must match the store's build parameters
    (same K, bands, seed, hash_fn — the store does not self-describe;
    a mismatch silently yields zero corpus matches).

    Plan shape: one aggregate over the batch's shingles gives each new
    doc its signature and its shingle set, materialized once (one
    checkpoint, released when the call returns its materialized
    result).  The corpus probe joins the batch's K/bands band rows
    against the bucket-partitioned store (touching only matching
    buckets), then one signature join per matched pair; the in-batch
    pairs are banded candidates verified on the shingle sets
    (:func:`jaccard_pairs`' candidate path).  The store's schema comes
    from its parquet footers, so reading it runs no inference job.
    Nothing scans the corpus text.

    With ``materialize`` (the default) the result is a local
    checkpoint the caller owns; ``materialize=False`` returns the lazy
    plan, which keeps reading the batch's signature checkpoint.

    ``update_store=True`` (requires ``batch_id``) writes the batch's
    signatures/bands after computing pairs, into the batch's own
    ``_batch=<id>`` partition with dynamic-partition overwrite — a
    driver retry replaces its own rows instead of double-appending
    (duplicated signatures would emit duplicated corpus-pair rows on
    every later probe), so per-batch ingestion is idempotent.
    """
    if lease:
        # hold the lease for the WHOLE probe+write pass (the split
        # store's reasoning: the double-ingest window is read-to-write,
        # not just the write)
        with held_lease(maintenance_root(store), ttl_s=lease_ttl_s) as f:
            return incremental_near_duplicates(
                spark, new_docs, store, text_col=text_col, id_col=id_col,
                shingle_k=shingle_k, num_hashes=num_hashes, bands=bands,
                threshold=threshold, seed=seed, hash_fn=hash_fn,
                update_store=update_store, batch_id=batch_id,
                materialize=materialize, _fence=f,
            )
    if update_store and not materialize:
        raise ValueError(
            "update_store=True requires materialize=True — pairs must "
            "compute before the store they read from is mutated"
        )
    if update_store and batch_id is None:
        raise ValueError("update_store=True needs a batch_id")
    if update_store:
        validate_batch_id(batch_id)
    sh = shingle_table(new_docs, text_col, id_col, shingle_k, unit="word")
    with job_label(spark, "dedup.incremental_near_duplicates/probe"):
        # each new doc's signature and shingle set come from ONE
        # aggregate over its shingles, materialized once: every probe
        # join below reads this frame.  A checkpoint, not a persist:
        # under AQE every reference to a persisted frame runs a job of
        # its own to read the cache.
        signed = sh.groupBy("doc_id").agg(
            *_minhash_aggs(num_hashes, seed, hash_fn),
            F.collect_set("shingle").alias("_set"),
        ).localCheckpoint()
        sigs = signed.drop("_set")
        try:
            # memoized_parquet: the plan memo skips the file listing
            # when the store is unchanged, and a changed store is read
            # with the schema from its footers — no inference job
            corpus_sigs = memoized_parquet(
                spark, os.path.join(store, "signatures")
            ).drop("_batch")
            corpus_bands = memoized_parquet(
                spark, os.path.join(store, "bands")
            ).drop("_batch")

            # new vs corpus: bucket-equality probe → distinct id pairs
            # → estimate.  The batch's band rows are K/bands × batch
            # docs — tiny next to the corpus store — so both the probe
            # and the pair joins broadcast the batch side: the corpus
            # tables are only ever scanned, never shuffled.
            new_bands = band_table(sigs, num_hashes, bands, hash_fn=hash_fn)
            probe = (
                corpus_bands.alias("c")
                .join(
                    F.broadcast(new_bands.alias("n")),
                    (F.col("c.band") == F.col("n.band"))
                    & (F.col("c.bucket") == F.col("n.bucket")),
                )
                .select(
                    F.col("c.doc_id").alias("a"), F.col("n.doc_id").alias("b")
                )
                .filter(F.col("a") != F.col("b"))
                .distinct()
            )
            vs_corpus = (
                sig_agreement(
                    corpus_sigs, probe, sigs, num_hashes, broadcast_pairs=True
                )
                .filter(F.col("jaccard_est") >= F.lit(threshold))
                .select(
                    "a",
                    "b",
                    F.col("jaccard_est").alias("jaccard"),
                    F.lit("corpus").alias("scope"),
                )
            )
            # new vs new: exact verify of the banded candidates
            cand = lsh_candidate_pairs(sigs, num_hashes, bands, hash_fn=hash_fn)
            sets = signed.select("doc_id", F.col("_set").alias("s"))
            vs_batch = (
                _set_jaccard(cand, sets)
                .filter(F.col("jaccard") >= F.lit(threshold))
                .select("a", "b", "jaccard", F.lit("batch").alias("scope"))
            )
            out = vs_corpus.unionByName(vs_batch)
            if not materialize:
                # caller wants the lazy plan (e.g. to inspect or extend
                # it); the batch's signatures stay alive for it
                return out
            out = out.localCheckpoint(eager=True)
            if update_store:
                if _fence is not None:
                    verify_lease(*_fence)
                _write_store_tables(
                    sigs, store, num_hashes=num_hashes, bands=bands,
                    hash_fn=hash_fn, mode="append", batch_id=batch_id,
                    op="incremental_near_duplicates",
                )
                if _fence is not None:
                    verify_lease(*_fence)
        finally:
            if materialize:
                # a steady-state ingest loop would otherwise pin the
                # batch's signatures for the session's lifetime
                release(signed)
    return out
