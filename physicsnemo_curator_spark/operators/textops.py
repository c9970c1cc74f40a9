"""Text-analysis operators for training-data curation.

Beyond the reference's own surface (per the north star): language ID,
quality scoring, token counting, document fingerprinting — all as
JVM-side column expressions over a ``documents(doc_id, text, ...)``
table, so they run inside the scan stage at 100 TB with no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword anchors for the n-gram/stopword heuristic.
# (A real deployment swaps in fastText; the heuristic keeps this
# JVM-side and dependency-free.)
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "for", "with", "it"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "mit", "für", "auf"),
    "fr": ("le", "la", "les", "et", "de", "un", "une", "est", "pour", "que"),
    "es": ("el", "la", "los", "las", "es", "un", "una", "por", "para", "que"),
}

# BPE-ish token pattern: letter runs, digit runs, or single non-space
# symbols — deliberately simple so Java regex (Spark) and RE2 (DuckDB)
# agree for the differential oracle.
TOKEN_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def _ngram_rows(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    *,
    chars: bool = False,
) -> DataFrame:
    """``(id, pos, gram)`` rows: n-unit grams (whitespace tokens, or
    single characters with ``chars=True``) assembled with ``lead()``
    over (doc, position) — the shared kernel behind winnowing,
    repetition, and substring-dup.

    Why lead() and not a transform()-lambda over the unit array: the
    plan-shape bake-off at sf0.1 (2M windows) measured explode-starts
    + per-row array slice at 7.5 s (each gram row carries a copy of
    the doc's unit array), transform-then-posexplode at 15.1 s
    (higher-order lambdas evaluate INTERPRETED), and this form at
    ~0.4-1.5 s — one doc-keyed sort shuffle, every expression inside
    whole-stage codegen.  Only COMPLETE grams are emitted (positions
    0..len-n); empty text contributes no rows (its split yields one
    '' unit, filtered)."""
    from pyspark.sql import Window

    unit = (
        F.posexplode(F.split(F.col(text_col), ""))
        if chars
        else F.posexplode(ws_tokens(F.col(text_col)))
    )
    rows = docs.select(F.col(id_col), unit.alias("pos", "_u")).filter(
        F.col("_u") != ""
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    gram = F.concat_ws(
        "" if chars else " ",
        F.col("_u"),
        *[F.lead("_u", i).over(w) for i in range(1, n)],
    )
    complete = F.lead("_u", n - 1).over(w).isNotNull()
    return (
        rows.select(
            F.col(id_col), "pos", gram.alias("gram"), complete.alias("_c")
        )
        .filter("_c")
        .drop("_c")
    )


def _norm_ws(text: Column) -> Column:
    """Collapse every whitespace run to one space, then trim — F.trim
    strips spaces only, so trim-first left edge newlines/tabs behind."""
    return F.trim(F.regexp_replace(text, "\\s+", " "))


def ws_tokens(text: Column) -> Column:
    """Whitespace tokenization; normalizes so edge newlines/tabs never
    yield phantom ''/'\\n' tokens."""
    return F.split(_norm_ws(text), " ")


def ws_token_count(text: Column) -> Column:
    """Count of whitespace-separated tokens.

    ``regexp_count(text, '\\S+')`` — the number of maximal
    non-whitespace runs — is exactly ``size(ws_tokens(text))`` for
    non-empty normalized text and 0 for empty/all-whitespace text
    (where the split path needs its explicit 0 guard), and NULL for
    NULL text in both forms.  Unlike the split+size form it is a
    single whole-stage-codegen regex pass with no array
    materialization (equivalence pinned in
    tests/test_textops.py::test_ws_token_count_regexp_equivalence)."""
    return F.regexp_count(text, F.lit("\\S+"))


def bpe_ish_token_count(text: Column) -> Column:
    """Count of BPE-ish tokens (letter runs / digit runs / symbols)."""
    return F.regexp_count(text, F.lit(TOKEN_PATTERN))


def punct_ratio(text: Column) -> Column:
    """Punctuation chars / total chars (0 for empty text)."""
    total = F.length(text)
    punct = F.regexp_count(text, F.lit("[^A-Za-z0-9\\s]"))
    return F.when(total == 0, F.lit(0.0)).otherwise(
        punct.cast("double") / total.cast("double")
    )


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    """Fraction of whitespace tokens that are stopwords of ``lang``.

    Counted with ONE codegen regex pass instead of
    ``size(filter(ws_tokens(...), isin))``: higher-order functions are
    CodegenFallback (interpreted per element, re-evaluating the
    tokenize subtree per call), which made this the hot loop of every
    quality/lang query.  Padding the normalized text with one space on
    each side makes ``(?<= )word(?= )`` match exactly the tokens that
    EQUAL a stopword — the lookarounds pin the match to a full
    space-delimited token, so no substring/prefix can match
    (equivalence vs the filter() form pinned in
    tests/test_textops.py::test_stopword_ratio_regexp_equivalence)."""
    pat = "(?<= )(" + "|".join(STOPWORDS[lang]) + ")(?= )"
    hits = F.regexp_count(
        F.concat(F.lit(" "), _norm_ws(F.lower(text)), F.lit(" ")),
        F.lit(pat),
    )
    n = ws_token_count(text)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        hits.cast("double") / n.cast("double")
    )


def quality_score(text: Column) -> Column:
    """Heuristic quality in [0,1]: rewards mid-length docs with prose-like
    punctuation and English stopword density.  Shape follows common
    LLM-curation filters (length / symbol-ratio / stopword gates)."""
    n_tok = ws_token_count(text).cast("double")
    length_term = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(punct_ratio(text) * 4.0, F.lit(1.0))
    stop_term = F.least(stopword_ratio(text) * 5.0, F.lit(1.0))
    return (length_term + punct_term + stop_term) / F.lit(3.0)


def lang_id(text: Column) -> Column:
    """Pick the language whose stopword ratio is highest; 'unknown' when
    every ratio is 0.  Deterministic tie-break by language code order.

    Built as ``array_max`` over (score, preference, code) structs —
    struct comparison is lexicographic, so max score wins and ties fall
    to the LOWEST code in sort order (preference = -index), exactly the
    strict ``>`` chain semantics.  Each ratio subtree appears ONCE; the
    equivalent when-chain duplicates every ratio in both condition and
    branch, doubling the codegen expression per language."""
    entries = [
        F.struct(
            stopword_ratio(text, code).alias("s"),
            F.lit(-i).alias("p"),
            F.lit(code).alias("c"),
        )
        for i, code in enumerate(sorted(STOPWORDS))
    ]
    best = F.array_max(F.array(*entries))
    return F.when(best["s"] > 0.0, best["c"]).otherwise(F.lit("unknown"))


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the whitespace- and
    case-normalized text.  Stable across engines (the oracle computes
    the identical digest in DuckDB)."""
    normalized = F.trim(F.regexp_replace(F.lower(text), "\\s+", " "))
    return F.md5(normalized)


def token_frequencies(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-wide token frequency table: (token, n_docs, n_occurrences).

    One explode + one hash-aggregate; shuffled bytes ~ O(vocab).  The
    input to vocabulary building and IDF-style weighting.
    """
    doc_key = (
        F.col("doc_id") if "doc_id" in docs.columns else F.monotonically_increasing_id()
    )
    toks = docs.select(
        doc_key.alias("_d"),
        F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("token"),
    ).filter(F.col("token") != "")
    return toks.groupBy("token").agg(
        F.countDistinct("_d").alias("n_docs"),
        F.count(F.lit(1)).alias("n_occurrences"),
    )


def vocabulary(
    docs: DataFrame,
    *,
    text_col: str = "text",
    min_count: int = 1,
    top_n: int | None = None,
) -> DataFrame:
    """Frequency-pruned vocabulary with stable ids.

    Tokens below ``min_count`` occurrences drop; optional ``top_n`` cap;
    ids assigned by (count desc, token) — deterministic under
    partitioning.  The tokenizer-training precursor (BPE-ish pipelines
    start exactly here).

    Ranking is the two-phase distributed form (ranking.distributed_rank):
    a web-scale vocabulary is 10^8 rows, so a global
    ``Window.orderBy`` — one task holding the whole vocab — is the
    operator's scale ceiling; range-partitioned local ranks + broadcast
    offsets produce identical ids with every stage partition-parallel.
    """
    from physicsnemo_curator_spark.operators.ranking import distributed_rank

    freq = token_frequencies(docs, text_col).filter(
        F.col("n_occurrences") >= min_count
    )
    vocab = distributed_rank(
        freq, [F.desc("n_occurrences"), F.asc("token")], name="token_id"
    ).select("token", "n_occurrences", F.col("token_id").cast("int").alias("token_id"))
    if top_n is not None:
        vocab = vocab.filter(F.col("token_id") < top_n)
    return vocab


def tfidf(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_docs: int | None = None,
) -> DataFrame:
    """L2-normalized TF-IDF doc-term weights as a sparse long table
    (doc_id, token, weight).

    Smooth idf = ln((N+1)/(df+1)) + 1.  Three hash-aggregates (tf, df,
    per-doc norm) + one broadcast join of the (vocab-sized) idf table —
    no dense vectors ever materialize, which is what makes the
    downstream similarity join scale.  Pass ``n_docs`` when known to
    skip the count job (at 100 TB a ``.count()`` is a full extra scan
    per call; the catalog usually has the row count already).
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("token"),
    ).filter(F.col("token") != "")
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    if n_docs is None:
        n_docs = docs.count()
    df_tbl = tf.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    idf = df_tbl.select(
        "token",
        (F.log((F.lit(float(n_docs + 1))) / (F.col("df") + 1)) + 1.0).alias("idf"),
    )
    w = tf.join(F.broadcast(idf), "token").select(
        "doc_id", "token", (F.col("tf") * F.col("idf")).alias("w")
    )
    norms = w.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("norm"))
    return w.join(norms, "doc_id").select(
        "doc_id", "token", (F.col("w") / F.col("norm")).alias("weight")
    )


def sparse_cosine_pairs(
    weights: DataFrame,
    threshold: float = 0.8,
    *,
    max_df: int | None = None,
) -> DataFrame:
    """Pairwise document cosine from sparse L2-normalized weights.

    Token-keyed self-join + sum of weight products — the sparse dot
    product.  Work is Σ_token df(token)², so ``max_df`` drops tokens
    with document frequency above the cap BEFORE the self-join — each
    hot token otherwise contributes df² join rows, the scale ceiling on
    web corpora.  Pruned tokens' weight products are simply absent from
    the dot product (their idf weight is near-zero anyway — this is the
    standard stopword-pruned sparse cosine); never forms dense pairs.
    """
    if max_df is not None:
        rare = (
            weights.groupBy("token")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("token")
        )
        # shuffle keys on token — co-partitioned with the self-join
        weights = weights.join(rare, "token", "left_semi")
    a = weights.alias("a")
    b = weights.alias("b")
    return (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b"))
        .agg(F.sum(F.col("a.weight") * F.col("b.weight")).alias("cosine"))
        .filter(F.col("cosine") >= F.lit(threshold))
    )


def with_text_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the full feature set as columns — one projection, no shuffle."""
    t = F.col(text_col)
    return docs.select(
        "*",
        ws_token_count(t).alias("n_tokens_ws"),
        bpe_ish_token_count(t).alias("n_tokens_bpe"),
        punct_ratio(t).alias("punct_ratio"),
        stopword_ratio(t).alias("stopword_ratio_en"),
        quality_score(t).alias("quality"),
        lang_id(t).alias("lang_pred"),
        fingerprint(t).alias("fingerprint"),
    )


def winnow_fingerprints(
    text: Column, *, k: int = 8, window: int = 4
) -> Column:
    """Winnowing document fingerprints: md5 over every k-gram, then the
    minimum hash of each sliding window of ``window`` consecutive
    k-grams, deduplicated.

    The classic rolling-hash fingerprint selection (MOSS-style
    winnowing): any two documents sharing a sufficiently long substring
    share a selected fingerprint.  The textbook Rabin rolling hash is
    an O(1)-per-position trick for sequential scanners; a vectorized
    engine hashes each k-gram independently (md5 here, so the DuckDB
    oracle can replay it byte-for-byte) — selection semantics are
    identical.  Short-doc edges are explicit: fewer than ``window``
    k-grams → one window over all of them; empty/sub-k text → no
    fingerprints (Spark's ``sequence`` is inclusive and DESCENDS on
    empty ranges, so every range is guarded).
    """
    n_grams = F.length(text) - k + 1
    grams = F.when(
        n_grams >= 1,
        F.transform(
            F.sequence(F.lit(1), n_grams),
            lambda i: F.md5(text.substr(i, F.lit(k))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    n_h = F.size(grams)
    mins = (
        F.when(
            n_h >= window,
            F.transform(
                F.sequence(F.lit(1), n_h - window + 1),
                lambda i: F.array_min(F.slice(grams, i, window)),
            ),
        )
        .when(n_h >= 1, F.array(F.array_min(grams)))
        .otherwise(F.array().cast("array<string>"))
    )
    return F.array_distinct(mins)


def winnow_fingerprint_table(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
    hash_fn: str = "md5",
) -> DataFrame:
    """Distinct selected fingerprints as a long table ``(id, fp)``.

    Same selection as :func:`winnow_fingerprints`, but linear and
    corpus-scale: k-gram hashes explode to rows and the window minimum
    is a JVM window function over positions.  The Column form is
    quadratic on long texts TWICE over — any non-lambda-variable
    subexpression inside a higher-order-function lambda re-evaluates
    per element, and even when staged through a projection,
    InferFiltersFromGenerate pushes a ``size(...) > 0`` filter down
    that re-inlines the whole nested expression.  Here the k-grams are
    rebuilt from a character posexplode with ``lead()`` over (doc,
    position) — one extra doc-keyed sort, but everything stays in
    whole-stage codegen, where the transform-lambda gram builder
    evaluates interpreted (measured 2.7 s vs 1.4 s steady at sf0.1);
    the only shuffles key on ``id`` (documents with no k-grams simply
    have no rows).

    hash_fn='md5' (default) is engine-reproducible so the DuckDB
    oracle replays the selection byte-for-byte; hash_fn='xxhash64' is
    the production path — a 64-bit integer hash that skips the 32-char
    hex string materialization per k-gram (fingerprints become BIGINT).
    """
    from pyspark.sql import Window

    gram_rows = _ngram_rows(docs, id_col, text_col, k, chars=True)
    h = (
        F.xxhash64("gram") if hash_fn == "xxhash64" else F.md5(F.col("gram"))
    )
    g = gram_rows.select(F.col(id_col), "pos", h.alias("h"))

    by_doc = Window.partitionBy(id_col)
    sliding = (
        Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, window - 1)
    )
    enriched = g.select(
        F.col(id_col),
        "pos",
        F.min("h").over(sliding).alias("fp"),
        F.count(F.lit(1)).over(by_doc).alias("_n"),
    )
    # posexplode positions are 0-based: full windows start at
    # pos ∈ [0, n-window]; short docs keep only the window at pos 0
    kept = enriched.filter(
        ((F.col("_n") >= window) & (F.col("pos") <= F.col("_n") - window))
        | ((F.col("_n") < window) & (F.col("pos") == 0))
    )
    return kept.select(F.col(id_col), "fp").distinct()


# --- PII redaction -------------------------------------------------------
#
# Regex surface chosen to be dialect-portable: no lookaround, no
# backreferences, ASCII \b word boundaries — identical semantics under
# Java regex (Spark, JVM codegen) and RE2 (the DuckDB oracle).  Order
# matters and is fixed: EMAIL before PHONE (an email's digit runs must
# not be half-eaten as a phone), SSN before PHONE (the phone class
# includes '-' and would swallow 123-45-6789), IP before PHONE.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b", "<SSN>"),
    ("ip", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>"),
    ("phone", "\\+[0-9][0-9 ()-]{6,}[0-9]", "<PHONE>"),
)


def redact_pii(text: Column) -> Column:
    """Replace emails / SSN-style ids / IPv4s / international-format
    phone numbers with typed placeholder tokens — the standard
    pre-training scrub pass.  A chain of 4 ``regexp_replace`` calls,
    all JVM-side inside the scan stage; at 100 TB this adds zero
    shuffle and no Python."""
    out = text
    for _, pat, rep in PII_PATTERNS:
        out = F.regexp_replace(out, pat, rep)
    return out


def pii_hit_counts(text: Column) -> Column:
    """Struct of per-category match counts (pre-redaction) — the audit
    metric curation runs report alongside the scrub."""
    return F.struct(
        *[
            F.regexp_count(text, F.lit(pat)).alias(name)
            for name, pat, _ in PII_PATTERNS
        ]
    )


def redact_pii_sql(text_expr: str) -> str:
    """The identical redaction chain as an ANSI/DuckDB SQL expression
    (RE2 'g' flag = replace-all, matching Spark's default)."""
    out = text_expr
    for _, pat, rep in PII_PATTERNS:
        out = f"regexp_replace({out}, '{pat}', '{rep}', 'g')"
    return out


# --- Chunking + repetition signals --------------------------------------


def chunk_documents(
    docs: DataFrame,
    *,
    max_tokens: int = 64,
    overlap: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split each document into overlapping token-budgeted chunks — the
    context-window packing step every pre-training pipeline runs before
    tokenization.  Output: (id, chunk_index, n_tokens, chunk_text).

    Chunk starts advance by ``max_tokens - overlap``; the last start is
    clamped to ``n - overlap - 1`` so a trailing chunk always carries at
    least one new token (no chunk is pure overlap of its predecessor),
    and every token is covered.  The whole operator is one
    ``posexplode`` over a JVM-computed start sequence + array slices —
    no shuffle, no Python; output volume is input volume ×
    (1 + overlap/stride)."""
    if not 0 <= overlap < max_tokens:
        raise ValueError("need 0 <= overlap < max_tokens")
    stride = max_tokens - overlap
    toks = ws_tokens(F.col(text_col))
    n = ws_token_count(F.col(text_col))
    starts = F.when(n <= 0, F.array().cast("array<int>")).otherwise(
        F.sequence(
            F.lit(0),
            F.greatest(n - overlap - 1, F.lit(0)),
            F.lit(stride),
        ).cast("array<int>")
    )
    exploded = docs.select(
        F.col(id_col),
        toks.alias("_toks"),
        F.posexplode(starts).alias("chunk_index", "_start"),
    )
    chunk = F.slice(F.col("_toks"), F.col("_start") + 1, max_tokens)
    return exploded.select(
        F.col(id_col),
        "chunk_index",
        F.size(chunk).alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def remove_duplicate_spans(
    docs: DataFrame,
    *,
    span_words: int = 8,
    min_df: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Span-level exact dedup — the C4 "repeated three-sentence span" /
    RefinedWeb "duplicated line" curation step, generalized to corpora
    without newline structure: re-chunk each document's token stream
    into consecutive ``span_words``-word spans and delete EVERY
    occurrence of any span appearing in >= ``min_df`` distinct
    documents (boilerplate: headers, footers, license blocks, nav
    text).  Remaining spans are re-joined in document order.

    Output: ``(id, kept_spans, removed_spans, text)`` with the cleaned
    text (empty string when every span was boilerplate).

    Scale shape: spans explode linearly (no overlap); document
    frequency is a partial+final hash aggregate on the span key; the
    boilerplate set (df >= min_df) is tiny relative to the corpus by
    construction, so the removal join BROADCASTS it — the corpus-side
    span table never shuffles.  The aggregate and join key on 64-bit
    span hashes instead of span strings (fixed-width shuffle keys; the
    output depends only on boilerplate membership, so it matches the
    string-keyed DuckDB oracle).
    """
    if span_words < 1:
        raise ValueError("span_words must be >= 1")
    if min_df < 2:
        raise ValueError("min_df must be >= 2")
    # tiles assembled with lead() over (doc, position), filtered to
    # tile starts AFTER the window evaluates (filter-then-window would
    # make the leads jump whole tiles); concat_ws skips the NULL leads
    # past end-of-doc, which yields exactly the partial final tile the
    # slice form produced.  Same interpreted-HOF/array-carry bake-off
    # as _ngram_rows — measured ~1.8x on the span build.
    from pyspark.sql import Window

    tok = docs.select(
        F.col(id_col),
        F.posexplode(ws_tokens(F.col(text_col))).alias("_pos", "_tok"),
    ).filter(F.col("_tok") != "")
    w = Window.partitionBy(id_col).orderBy("_pos")
    span_expr = F.concat_ws(
        " ",
        F.col("_tok"),
        *[F.lead("_tok", i).over(w) for i in range(1, span_words)],
    )
    spans = (
        tok.select(F.col(id_col), "_pos", span_expr.alias("span"))
        .filter(F.col("_pos") % span_words == 0)
        .select(
            F.col(id_col),
            (F.col("_pos") / span_words).cast("int").alias("span_idx"),
            "span",
        )
    )
    spans = spans.select(
        id_col, "span_idx", "span", F.xxhash64("span").alias("_key")
    )
    boiler = (
        spans.groupBy("_key")
        .agg(F.countDistinct(id_col).alias("df"))
        .filter(F.col("df") >= min_df)
        .select("_key", F.lit(True).alias("_boiler"))
    )
    marked = spans.join(F.broadcast(boiler), "_key", "left").withColumn(
        "_boiler", F.coalesce("_boiler", F.lit(False))
    )
    kept_struct = F.when(
        ~F.col("_boiler"), F.struct("span_idx", "span")
    )
    return (
        marked.groupBy(id_col)
        .agg(
            F.count_if(~F.col("_boiler")).alias("kept_spans"),
            F.count_if(F.col("_boiler")).alias("removed_spans"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s.span,
                ),
                " ",
            ).alias(text_col),
        )
    )


def repetition_ratio(
    docs: DataFrame,
    *,
    n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher-style repetition signal: the fraction of a document's
    token n-grams taken by its single most frequent n-gram — high
    values flag boilerplate/spam for quality filtering.  Output:
    (id, n_grams, top_frac).

    One explode (linear in corpus tokens) + one hash aggregate keyed on
    (doc, gram) + one max-aggregate keyed on doc; all shuffle keys
    include the doc id, so parallelism is per-document at any scale.
    Grams are assembled with the shared ``_ngram_rows`` lead()-window
    kernel (see its docstring for the interpreted-HOF bake-off —
    measured 4.3 s vs 0.6 s steady at sf0.1 on this operator)."""
    # the aggregate only consumes counts, so shuffling 8-byte gram
    # hashes instead of gram strings cuts the (doc, gram) shuffle
    # width; collisions would need 2^32-scale per-doc gram counts to
    # matter
    g = _ngram_rows(docs, id_col, text_col, n).select(
        F.col(id_col), F.xxhash64("gram").alias("gram")
    )
    per_gram = g.groupBy(id_col, "gram").agg(F.count(F.lit(1)).alias("c"))
    return per_gram.groupBy(id_col).agg(
        F.sum("c").alias("n_grams"),
        (F.max("c") / F.sum("c")).alias("top_frac"),
    )


def unigram_logprob(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    total_tokens: int | None = None,
) -> DataFrame:
    """Corpus-self unigram log-probability per document — the
    perplexity-proxy quality signal (the KenLM-filter shape without the
    external LM): documents whose tokens are improbable under the
    corpus's own unigram distribution are outliers/noise; documents of
    pure boilerplate score suspiciously high.  Output:
    (id, n_tokens, avg_logprob).

    Plan: one explode + token count aggregate (vocab-sized), one
    token-keyed join back to the token stream, one doc-keyed average —
    the same shuffle classes as TF-IDF, all JVM."""
    toks = docs.select(
        F.col(id_col),
        F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("token"),
    ).filter(F.col("token") != "")
    freq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    # like tfidf(n_docs=...): pass the known total to skip the extra
    # count scan at corpus scale
    total = toks.count() if total_tokens is None else total_tokens
    scored = toks.join(freq, "token").select(
        F.col(id_col),
        F.log(F.col("c").cast("double") / F.lit(float(total))).alias("lp"),
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.avg("lp").alias("avg_logprob"),
    )


def bigram_logprob(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: float = 0.5,
    vocab_size: int | None = None,
) -> DataFrame:
    """Corpus-self BIGRAM log-probability per document with add-k
    smoothing — the CCNet/KenLM-style perplexity filter one order up
    from :func:`unigram_logprob`: a document whose word TRANSITIONS
    are improbable under the corpus's own bigram statistics (shuffled
    text, keyword stuffing, OCR noise) scores low even when its
    individual words are common, which the unigram signal cannot see.

    ``P(w_i | w_{i-1}) = (c(w_{i-1} w_i) + k) / (h(w_{i-1}) + k*V)``
    where ``h`` counts the token as a bigram history and ``V`` is the
    corpus unigram vocabulary.  Output per document with >= 1 bigram:
    ``(id, n_bigrams, avg_logprob, ppl)`` with ``ppl =
    exp(-avg_logprob)``; single-token and empty documents have no
    transitions and emit no row.

    Plan: one posexplode + doc-keyed lead() window (the
    :func:`_ngram_rows` codegen shape — no per-row array copies), two
    partial+final count aggregates (bigram and history tables, both
    vocabulary-sized), two hash joins back to the pair stream, one
    doc-keyed average.  Same shuffle classes as TF-IDF; pass
    ``vocab_size`` when known to skip the distinct-count scan at
    corpus scale."""
    from pyspark.sql import Window

    toks = docs.select(
        F.col(id_col),
        F.posexplode(ws_tokens(F.lower(F.col(text_col)))).alias("pos", "w"),
    ).filter(F.col("w") != "")
    win = Window.partitionBy(id_col).orderBy("pos")
    pairs = toks.select(
        F.col(id_col),
        F.col("w").alias("prev"),
        F.lead("w").over(win).alias("cur"),
    ).filter(F.col("cur").isNotNull())
    v = (
        toks.select("w").distinct().count()
        if vocab_size is None
        else vocab_size
    )
    bc = pairs.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("bc"))
    hc = pairs.groupBy("prev").agg(F.count(F.lit(1)).alias("hc"))
    lp = F.log(
        (F.col("bc") + F.lit(float(k)))
        / (F.col("hc") + F.lit(float(k) * float(v)))
    )
    scored = (
        pairs.join(bc, ["prev", "cur"])
        .join(hc, ["prev"])
        .select(F.col(id_col), lp.alias("lp"))
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.avg("lp").alias("avg_logprob"),
        F.exp(-F.avg("lp")).alias("ppl"),
    )


def tokenize_to_ids(
    docs: DataFrame,
    vocab: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    unk_id: int = -1,
) -> DataFrame:
    """Documents → token-id arrays: the tensorization step training
    loaders consume.  Tokens are looked up in ``vocab`` (token,
    token_id — the :func:`vocabulary` output); unknown tokens map to
    ``unk_id``.  Output: (id, n_ids, ids array<int>), ids in document
    order.

    Plan: posexplode (position carried through), one token-keyed join
    against the broadcast vocab (vocab tables fit executors by
    construction — they're frequency-pruned), and one doc-keyed
    sort-struct aggregate to restore order.  Shuffle ~ O(corpus
    tokens) on the doc key, same class as TF-IDF."""
    toks = docs.select(
        F.col(id_col),
        F.posexplode(ws_tokens(F.lower(F.col(text_col)))).alias("pos", "token"),
    )
    mapped = toks.join(F.broadcast(vocab.select("token", "token_id")), "token", "left")
    with_ids = mapped.select(
        F.col(id_col),
        "pos",
        F.coalesce(F.col("token_id"), F.lit(unk_id)).cast("int").alias("tid"),
    )
    return with_ids.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_ids"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "tid"))),
            lambda s: s["tid"],
        ).alias("ids"),
    )


def contamination_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any
    word n-gram with an evaluation set — the standard leakage check
    before pre-training (13-gram overlap is the common convention).
    Output: (id, n_hits, n_grams, hit_frac) for CONTAMINATED docs only
    (n_hits ≥ 1); clean docs are absent (an anti-join keeps them).

    Plan: both sides shingle (distinct n-grams), join on the shingle
    key — the benchmark side is tiny next to the corpus and is
    broadcast, so the corpus stream is scanned once with no shuffle of
    corpus shingles; per-doc totals come from one doc-keyed aggregate.
    """
    from physicsnemo_curator_spark.operators.dedup import shingle_table

    # shingle_table normalizes the id column name to "doc_id"
    c_sh = shingle_table(corpus, text_col, id_col, n, unit="word")
    b_sh = (
        shingle_table(benchmark, text_col, id_col, n, unit="word")
        .select("shingle")
        .distinct()
    )
    sizes = c_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (
        c_sh.join(F.broadcast(b_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return hits.join(sizes, "doc_id").select(
        F.col("doc_id").alias(id_col),
        "n_hits",
        "n_grams",
        (F.col("n_hits") / F.col("n_grams")).alias("hit_frac"),
    )


def duplicated_substring_stats(
    docs: DataFrame,
    *,
    min_tokens: int = 8,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_occurrences: bool = True,
) -> DataFrame:
    """Exact-substring duplication measure (the Lee et al. 2022
    "Deduplicating Training Data" signal): a token position is
    DUPLICATED if it lies inside any ``min_tokens``-token window whose
    content occurs >= ``min_count`` times across the corpus — windows
    slide at STRIDE 1, so unlike :func:`remove_duplicate_spans`'
    fixed tiling this catches duplicated substrings at ANY alignment,
    and occurrence count (not distinct-doc count) means a passage
    repeated within one document is duplication too.

    Output: ``(id, n_tokens, n_dup_tokens, dup_fraction)`` — the
    per-document fraction of tokens inside duplicated substrings, the
    ranking signal for drop/trim policies.

    Scale shape: tokens posexplode to O(total tokens) rows and the
    window content is assembled with ``lead()`` over (doc, position)
    — a doc-keyed sort shuffle, but every expression stays in
    whole-stage codegen.  The plan-shape bake-off at sf0.1 (2M
    windows): explode-starts + per-row array slice = 7.5 s (each
    window row carries a copy of the doc's token array),
    transform()-then-posexplode = 15.1 s (higher-order lambdas
    evaluate interpreted), lead-window = 0.4 s warm.
    The count/join keys on an 8-byte hash of the window string.  The
    duplicated-window set is a small fraction of the corpus for natural
    text and broadcasts for the marking join
    (``broadcast_occurrences=False`` falls back to a shuffle join for
    pathological highly-duplicated corpora).
    Coverage expands each duplicated start to its ``min_tokens``
    positions (constant factor) and distinct-counts per document.
    """
    covered = _duplicated_positions(
        docs,
        min_tokens=min_tokens,
        min_count=min_count,
        id_col=id_col,
        text_col=text_col,
        broadcast_occurrences=broadcast_occurrences,
    )
    per_doc = covered.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_dup_tokens")
    )
    n = ws_token_count(F.col(text_col))
    base = docs.select(F.col(id_col), n.cast("int").alias("n_tokens"))
    return base.join(per_doc, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce("n_dup_tokens", F.lit(0)).alias("n_dup_tokens"),
        F.when(
            F.col("n_tokens") > 0,
            F.round(
                F.coalesce("n_dup_tokens", F.lit(0))
                / F.col("n_tokens").cast("double"),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_fraction"),
    )


def _duplicated_positions(
    docs: DataFrame,
    *,
    min_tokens: int,
    min_count: int,
    id_col: str,
    text_col: str,
    broadcast_occurrences: bool,
) -> DataFrame:
    """``(id, _p)`` rows: token positions covered by any duplicated
    ``min_tokens``-window — the shared core of
    :func:`duplicated_substring_stats` (metric) and
    :func:`remove_duplicated_substrings` (removal)."""
    if min_tokens < 1:
        raise ValueError("min_tokens must be >= 1")
    if min_count < 2:
        raise ValueError("min_count must be >= 2")
    keyed = _ngram_rows(docs, id_col, text_col, min_tokens).select(
        F.col(id_col), F.col("pos").alias("_s"), F.xxhash64("gram").alias("_key")
    )
    occ = (
        keyed.groupBy("_key")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .filter(F.col("_cnt") >= min_count)
        .select("_key")
    )
    if broadcast_occurrences:
        occ = F.broadcast(occ)
    dup_starts = keyed.join(occ, "_key")
    return dup_starts.select(
        F.col(id_col),
        F.explode(
            F.sequence(F.col("_s"), F.col("_s") + (min_tokens - 1))
        ).alias("_p"),
    ).distinct()


def remove_duplicated_substrings(
    docs: DataFrame,
    *,
    min_tokens: int = 8,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_occurrences: bool = True,
    output_docs: DataFrame | None = None,
) -> DataFrame:
    """The removal form of the Lee et al. 2022 exact-substring dedup:
    delete every token lying inside any ``min_tokens``-window that
    occurs >= ``min_count`` times corpus-wide, and re-join the
    surviving tokens in document order.  Where
    :func:`remove_duplicate_spans` deletes fixed-aligned tiles, this
    removes duplicated passages at ANY alignment — the formulation
    the paper found most effective for training-data curation.

    Output: ``(id, kept_tokens, removed_tokens, text)`` — cleaned
    text is ``''`` when every token was duplicated; documents with no
    duplication pass through with their normalized token stream
    re-joined (single-space separators, same normalization as
    tokenization, so downstream token counts agree).

    Scale shape: the covered-position set comes from the shared
    stride-1 kernel (see :func:`duplicated_substring_stats`); removal
    is one (id, pos)-keyed LEFT ANTI join from the token rows and one
    doc-keyed ordered re-aggregation — all hash joins/aggregates, no
    corpus-wide window.

    ``output_docs`` (optional) restricts which documents are REBUILT —
    duplication marking always runs over the FULL ``docs`` corpus (the
    covered-position set is a corpus-global property), but a caller
    that only consumes a known doc subset (e.g. a keyed top-k) can
    skip exploding and re-aggregating every other document (guide
    §1.2: don't compute things you throw away).  Rows for each
    returned doc are identical to the unrestricted output."""
    covered = _duplicated_positions(
        docs,
        min_tokens=min_tokens,
        min_count=min_count,
        id_col=id_col,
        text_col=text_col,
        broadcast_occurrences=broadcast_occurrences,
    )
    src = output_docs if output_docs is not None else docs
    tok_rows = src.select(
        F.col(id_col),
        F.posexplode(ws_tokens(F.col(text_col))).alias("_p", "_tok"),
    ).filter(F.col("_tok") != "")
    kept = tok_rows.join(covered, [id_col, "_p"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("int").alias("kept_tokens"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_p", "_tok"))),
                lambda s: s["_tok"],
            ),
            " ",
        ).alias("text"),
    )
    n = ws_token_count(F.col(text_col))
    base = src.select(F.col(id_col), n.cast("int").alias("_n"))
    return base.join(rebuilt, id_col, "left").select(
        id_col,
        F.coalesce("kept_tokens", F.lit(0)).alias("kept_tokens"),
        (F.col("_n") - F.coalesce("kept_tokens", F.lit(0)))
        .cast("int")
        .alias("removed_tokens"),
        F.coalesce("text", F.lit("")).alias("text"),
    )


# ---------------------------------------------------------------------------
# Unicode normalization (the pre-dedup canonicalization pass)


def normalize_text(
    df: DataFrame,
    *,
    text_col: str = "text",
    output_col: str = "text_norm",
    form: str = "NFC",
    strip_invisible: bool = True,
) -> DataFrame:
    """Canonical Unicode form for dedup keys and tokenizer input:
    the same visible string must hash identically whether a source
    emitted it composed or decomposed (crawls mix both, so exact
    dedup silently misses pairs without this pass).

    ``form`` is any of NFC/NFD/NFKC/NFKD — applied in an
    Arrow-batched kernel (``unicodedata`` is the justified-UDF
    class: no Catalyst expression normalizes Unicode).
    ``strip_invisible`` additionally removes control characters
    (C0/C1 except tab/newline), zero-width characters (ZWSP/ZWNJ/
    ZWJ/BOM), and the bidi embedding controls, then collapses
    Unicode spaces onto ASCII space — those are JVM-side regexes and
    run before normalization."""
    import pandas as pd
    from collections.abc import Iterator as _Iter

    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")
    col = F.col(text_col)
    if strip_invisible:
        col = F.regexp_replace(
            col,
            "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F-\\x9F"
            "\\u200B-\\u200F\\u202A-\\u202E\\u2060\\uFEFF]",
            "",
        )
        col = F.regexp_replace(
            col, "[\\u00A0\\u2000-\\u200A\\u202F\\u205F\\u3000]", " "
        )
    staged = df.withColumn(output_col, col)

    def batches(it: _Iter[pd.DataFrame]) -> _Iter[pd.DataFrame]:
        import unicodedata

        for pdf in it:
            pdf = pdf.copy()
            pdf[output_col] = [
                None if t is None else unicodedata.normalize(form, t)
                for t in pdf[output_col]
            ]
            yield pdf

    schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in staged.schema
    )
    return staged.mapInPandas(batches, schema)


def split_sentences(
    df: DataFrame,
    *,
    text_col: str = "text",
    output_col: str = "sentences",
) -> DataFrame:
    """Sentence segmentation for sentence-level dedup/chunking:
    terminal punctuation runs followed by whitespace end a sentence.
    Lookaround-free (an ASCII 0x1F sentinel is injected after each
    boundary, then split) so the exact chain replays in RE2/DuckDB;
    degrades gracefully on abbreviation-heavy prose — the honest
    regex trade at corpus scale.  NULL text yields an empty array;
    pre-existing 0x1E/0x1F control bytes are stripped first so crawl
    debris can never forge a boundary."""
    col = F.coalesce(F.col(text_col), F.lit(""))
    col = F.regexp_replace(col, "[\x1e\x1f]", "")
    marked = F.regexp_replace(col, r"([.!?]+)\s+", "$1\x1f")
    return df.withColumn(
        output_col,
        F.filter(
            F.split(marked, "\x1f"),
            lambda s: F.trim(s) != "",
        ),
    )
