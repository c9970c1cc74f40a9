"""Distributed BPE tokenizer training — byte-pair-encoding merges
learned over the corpus with Spark doing the counting.

BPE training is inherently iterative (each merge changes the pair
distribution), so the structure is: keep the corpus TOKENIZED as an
``array<string>`` column, and per round (1) count adjacent token
pairs with pure Catalyst expressions (``transform`` + ``explode`` +
hash aggregation — map-side partial agg, one shuffle of O(distinct
pairs)), (2) pick the argmax on the driver (a one-row collect with
deterministic count-desc / pair-asc tie-breaking), (3) apply the
single new merge with an Arrow-batched kernel (greedy left-to-right
non-overlapping, the standard BPE scan — sequence rewriting is the
justified-UDF class).  ``n_merges`` distributed passes total, each
over cached tokens — the same shape real tokenizer training runs at
corpus scale (usually over a sample; pass a sampled frame for
that).

``bpe_tokenize`` applies a learned merge list to new text in ONE
Arrow pass (ranked-merge loop per doc, the classic encoder), and
``vocabulary`` derives the id table (256-ish base charset + one id
per merge, ids by merge rank).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from physicsnemo_curator_spark.core.jobs import job_label
from physicsnemo_curator_spark.core.store import release

_PAIRS_EXPR = """
filter(
    transform(tokens, (x, i) ->
        IF(i < size(tokens) - 1,
           struct(x AS a, tokens[i + 1] AS b),
           NULL)),
    p -> p IS NOT NULL)
"""


def _chars_df(docs: DataFrame, text_col: str) -> DataFrame:
    """Seed tokenization: one single-character token per position
    (split keeps the empty leading/trailing artifacts out)."""
    return docs.withColumn(
        "tokens",
        F.expr(
            f"filter(split(coalesce({text_col}, ''), ''), t -> t != '')"
        ),
    )


def pair_counts(tokenized: DataFrame) -> DataFrame:
    """Adjacent-pair counts over the ``tokens`` array column —
    entirely JVM-side (transform/filter/explode + hash agg)."""
    return (
        tokenized.select(
            F.explode(F.expr(_PAIRS_EXPR)).alias("p")
        )
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _merge_pair(toks: list, a: str, b: str) -> list:
    """ONE greedy left-to-right non-overlapping (a, b) merge scan —
    the single definition the trainer, the encoder, and the oracle's
    replace() simulation all share semantics with."""
    merged = a + b
    res: list = []
    i = 0
    n = len(toks)
    while i < n:
        if i + 1 < n and toks[i] == a and toks[i + 1] == b:
            res.append(merged)
            i += 2
        else:
            res.append(toks[i])
            i += 1
    return res


def _merge_and_count(
    tokenized: DataFrame, a: str, b: str, *, weight_col: str | None = None
) -> DataFrame:
    """ONE Arrow pass per training round: apply the (a, b) merge AND
    emit the MERGED frame's per-batch partial pair counts + token
    total alongside it (guide §1.2 — the tokens are already in Python
    for the merge scan; counting them there removes the separate
    explode + hash-aggregate pass that re-read, and raced to
    recompute, the whole merged frame).

    Output rows are marked by ``_kind``:

    - 0: the merged frame's own columns (the next round's input)
    - 1: per-batch partial pair counts ``(_pa, _pb, _pn)`` — summing
      them per pair equals :func:`pair_counts`(merged) exactly
    - 2: per-batch token totals ``(_pn)`` — summing them equals
      ``sum(size(tokens) [* weight])`` over the merged frame exactly
      (integer arithmetic, no float reorder)

    ``weight_col`` weights each row's pairs and tokens by that column
    (the word-histogram trainer's ``count``)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            weights = (
                pdf[weight_col] if weight_col is not None else None
            )
            merged_col = []
            pair_n: dict[tuple[str, str], int] = {}
            total = 0
            for i, toks in enumerate(pdf["tokens"]):
                m = _merge_pair([] if toks is None else list(toks), a, b)
                merged_col.append(m)
                w = int(weights.iloc[i]) if weights is not None else 1
                total += len(m) * w
                for j in range(len(m) - 1):
                    key = (m[j], m[j + 1])
                    pair_n[key] = pair_n.get(key, 0) + w
            out = pdf.copy()
            out["tokens"] = merged_col
            out["_kind"] = 0
            out["_pa"] = None
            out["_pb"] = None
            out["_pn"] = None
            stats = pd.DataFrame(
                {
                    c: [None] * (len(pair_n) + 1)
                    for c in pdf.columns
                }
            )
            stats["_kind"] = [1] * len(pair_n) + [2]
            stats["_pa"] = [k[0] for k in pair_n] + [None]
            stats["_pb"] = [k[1] for k in pair_n] + [None]
            stats["_pn"] = list(pair_n.values()) + [total]
            yield pd.concat([out, stats], ignore_index=True)

    schema = ", ".join(
        [
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in tokenized.schema
        ]
        + ["_kind int", "_pa string", "_pb string", "_pn long"]
    )
    return tokenized.mapInPandas(batches, schema)


def _round_rows_fused(
    fused: DataFrame, *, with_argmax: bool
) -> tuple[tuple | None, int]:
    """ONE driver action per training round over a
    :func:`_merge_and_count` frame: the next merge's argmax row and
    the merged frame's token total come back in a single marked-union
    collect (``_k`` 0 = argmax, 1 = total), and both aggregates read
    the tiny pre-counted partial rows instead of re-scanning (and
    re-merging) the token frame.  Returns ``((a, b, count) | None,
    n_tokens)``."""
    nt = (
        fused.filter(F.col("_kind") == 2)
        .agg(F.sum("_pn").cast("long").alias("n"))
        .select(
            F.lit(1).alias("_k"),
            F.lit(None).cast("string").alias("a"),
            F.lit(None).cast("string").alias("b"),
            "n",
        )
    )
    if with_argmax:
        top = (
            fused.filter(F.col("_kind") == 1)
            .groupBy(
                F.col("_pa").alias("a"), F.col("_pb").alias("b")
            )
            .agg(F.sum("_pn").alias("n"))
            .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
            .limit(1)
            .select(
                F.lit(0).alias("_k"), "a", "b", F.col("n").cast("long")
            )
        )
        rows = top.unionByName(nt).collect()
    else:
        rows = nt.collect()
    best = None
    n_tokens = 0
    for r in rows:
        if r["_k"] == 0:
            best = (r["a"], r["b"], int(r["n"]))
        else:
            n_tokens = int(r["n"])
    return best, n_tokens


def train_bpe(
    docs: DataFrame, *, text_col: str = "text", n_merges: int = 10
) -> list[dict]:
    """Learn ``n_merges`` BPE merges over the corpus.  Returns the
    merge table: one dict per round with ``rank / a / b / count /
    n_tokens`` (corpus token total AFTER applying the merge).
    Deterministic: ties break on (count desc, a asc, b asc).

    Driver actions are n_merges+1, not 2·n_merges: round r's token
    total and round r+1's argmax are read in one union collect
    (:func:`_round_rows_fused`) — and the merge pass itself COUNTS the
    merged frame's pairs and tokens in the same Arrow scan
    (:func:`_merge_and_count`), so each round is one pass over the
    tokens instead of a merge pass plus an explode/aggregate re-read."""
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    return _train_rounds(
        _chars_df(docs, text_col), pair_counts, n_merges, "bpe.train_bpe"
    )


def _train_rounds(
    tokens: DataFrame,
    counts,
    n_merges: int,
    label: str,
    weight_col: str | None = None,
) -> list[dict]:
    """The merge loop both trainers share: ``counts(tokens)`` gives the
    first argmax, then each round merges it and reads the next argmax
    and the token total in one pass.  Each round's tokens are persisted
    and the previous round's released once the next round has read
    them."""
    spark = tokens.sparkSession
    tokens = cached = tokens.persist()
    merges: list[dict] = []
    try:
        with job_label(spark, f"{label}/argmax"):
            top = (
                counts(tokens)
                .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
                .limit(1)
                .collect()
            )
        for rank in range(n_merges):
            if not top:
                break  # every doc is a single token already
            a, b, n = top[0]["a"], top[0]["b"], int(top[0]["n"])
            fused = _merge_and_count(
                tokens, a, b, weight_col=weight_col
            ).persist()
            with job_label(spark, f"{label}/round"):
                best, n_tokens = _round_rows_fused(
                    fused, with_argmax=rank + 1 < n_merges
                )
            top = [{"a": best[0], "b": best[1], "n": best[2]}] if best else []
            release(cached)
            cached = fused
            tokens = fused.filter(F.col("_kind") == 0).drop(
                "_kind", "_pa", "_pb", "_pn"
            )
            merges.append(
                {
                    "rank": rank, "a": a, "b": b, "count": n,
                    "n_tokens": n_tokens,
                }
            )
    finally:
        release(cached)
    return merges


def word_frequency_table(
    docs: DataFrame,
    *,
    text_col: str = "text",
    pattern: str = r"\s+",
) -> DataFrame:
    """ONE distributed pass: corpus → distinct ``(word, count)``.

    The scale fix for iterative BPE training (reference trainers do
    exactly this — SentencePiece/GPT-2 pre-tokenize and train over the
    word histogram): unique words are ~10³× fewer rows than corpus
    tokens, so every subsequent merge round scans the histogram, not
    the corpus.  Split on *pattern* (Java regex), empties dropped —
    merges therefore never cross a whitespace boundary, the standard
    word-scope BPE semantics."""
    return (
        docs.select(
            F.explode(
                F.split(F.coalesce(F.col(text_col), F.lit("")), pattern)
            ).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def _word_tokens(words: DataFrame) -> DataFrame:
    return words.withColumn(
        "tokens", F.expr("filter(split(word, ''), t -> t != '')")
    )


def pair_counts_weighted(tokenized_words: DataFrame) -> DataFrame:
    """Adjacent-pair counts over the word histogram: each word's
    within-word pairs weighted by its corpus count — pure Catalyst
    (explode + hash agg over O(unique words) rows)."""
    return (
        tokenized_words.select(
            F.explode(F.expr(_PAIRS_EXPR)).alias("p"), "count"
        )
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("count").alias("n"))
    )


def train_bpe_hist(
    docs: DataFrame | None = None,
    *,
    text_col: str = "text",
    n_merges: int = 10,
    pattern: str = r"\s+",
    word_freq: DataFrame | None = None,
) -> list[dict]:
    """Word-histogram BPE training: ONE corpus scan builds the
    distinct-word frequency table, then every merge round runs over
    that table — per-round cost scales with UNIQUE WORDS, not corpus
    rows, which is what makes 30-50 k production merges affordable
    (``train_bpe`` re-scans the corpus per round; fine for a handful
    of merges or a sample, a scale-killer for a real vocab).

    Semantics: identical greedy argmax / tie-break / merge kernel
    (:func:`_merge_pair` is shared verbatim), with merges scoped
    WITHIN words (the SentencePiece/GPT-2 pre-tokenization contract);
    whitespace is consumed by the splitter, so ``n_tokens`` counts
    non-whitespace tokens.  On single-word documents the two trainers
    are exactly equal (pinned in tests/test_bpe.py).

    Pass a precomputed *word_freq* ``(word, count)`` frame to reuse a
    persisted histogram across experiments."""
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    if word_freq is None:
        if docs is None:
            raise ValueError("need docs or word_freq")
        word_freq = word_frequency_table(
            docs, text_col=text_col, pattern=pattern
        )
    return _train_rounds(
        _word_tokens(word_freq).select("tokens", "count"),
        pair_counts_weighted,
        n_merges,
        "bpe.train_bpe_hist",
        weight_col="count",
    )


def bpe_tokenize(
    docs: DataFrame,
    merges: list[dict],
    *,
    text_col: str = "text",
    output_col: str = "tokens",
) -> DataFrame:
    """Apply a learned merge list to text in ONE Arrow pass — the
    classic ranked-merge encoder (repeatedly merge the lowest-rank
    pair present until none applies)."""
    ranks = {(m["a"], m["b"]): m["rank"] for m in merges}
    by_rank = {m["rank"]: m for m in merges}  # NOT positional — a
    # reloaded/filtered merge table need not be dense rank order

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for text in pdf[text_col]:
                toks = list(text or "")
                while len(toks) > 1:
                    best_rank = None
                    for i in range(len(toks) - 1):
                        r = ranks.get((toks[i], toks[i + 1]))
                        if r is not None and (
                            best_rank is None or r < best_rank
                        ):
                            best_rank = r
                    if best_rank is None:
                        break
                    m = by_rank[best_rank]
                    toks = _merge_pair(toks, m["a"], m["b"])
                out.append(toks)
            pdf = pdf.copy()
            pdf[output_col] = out
            yield pdf

    schema = ", ".join(
        [
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in docs.schema
        ]
        + [f"{output_col} array<string>"]
    )
    return docs.mapInPandas(batches, schema)


def vocabulary(docs: DataFrame, merges: list[dict],
               *, text_col: str = "text") -> DataFrame:
    """The id table: distinct corpus characters (ids by codepoint
    order) followed by one id per merge in rank order."""
    chars = (
        _chars_df(docs, text_col)
        .select(F.explode("tokens").alias("token"))
        .distinct()
        .orderBy("token")
    )
    base = [r["token"] for r in chars.collect()]
    rows = [(i, t, -1) for i, t in enumerate(base)]
    # two merges can concatenate to the same string (('ab','c') and
    # ('a','bc')) — keep the FIRST occurrence so the string->id
    # lookup stays unambiguous; ids remain dense
    seen = set(base)
    next_id = len(base)
    for m in sorted(merges, key=lambda m: m["rank"]):
        token = m["a"] + m["b"]
        if token in seen:
            continue
        seen.add(token)
        rows.append((next_id, token, m["rank"]))
        next_id += 1
    return docs.sparkSession.createDataFrame(
        rows, "token_id long, token string, merge_rank int"
    )
