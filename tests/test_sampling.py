"""Deterministic sampling / split operators (operators/sampling.py) and
PII redaction (operators/textops.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from physicsnemo_curator_spark.operators import sampling, textops


def _docs(spark, n=2000):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 5).cast("string").alias("lang"),
    )


@pytest.mark.parametrize("hash_fn", ["xxhash64", "arith"])
def test_hash_sample_partition_invariant(spark, hash_fn):
    df = _docs(spark)
    a = sampling.hash_sample(df, "doc_id", 0.3, seed=1, hash_fn=hash_fn)
    b = sampling.hash_sample(
        df.repartition(13, "lang"), "doc_id", 0.3, seed=1, hash_fn=hash_fn
    )
    ids_a = sorted(r.doc_id for r in a.collect())
    ids_b = sorted(r.doc_id for r in b.collect())
    assert ids_a == ids_b
    # rate lands near 0.3 (hash uniformity, 2000 keys)
    assert 0.25 <= len(ids_a) / 2000 <= 0.35


@pytest.mark.parametrize("hash_fn", ["xxhash64", "arith"])
def test_hash_sample_monotone_in_rate(spark, hash_fn):
    """Raising the rate only ADDS rows (nested samples) — the property
    that lets a pipeline grow a pilot subset without resampling."""
    df = _docs(spark)
    small = {
        r.doc_id
        for r in sampling.hash_sample(
            df, "doc_id", 0.1, seed=3, hash_fn=hash_fn
        ).collect()
    }
    big = {
        r.doc_id
        for r in sampling.hash_sample(
            df, "doc_id", 0.4, seed=3, hash_fn=hash_fn
        ).collect()
    }
    assert small <= big


def test_hash_sample_rate_bounds(spark):
    df = _docs(spark, 10)
    with pytest.raises(ValueError):
        sampling.hash_sample(df, "doc_id", 1.5)
    assert sampling.hash_sample(df, "doc_id", 0.0).count() == 0
    assert sampling.hash_sample(df, "doc_id", 1.0).count() == 10


@pytest.mark.parametrize("hash_fn", ["xxhash64", "arith"])
def test_assign_splits_stable_under_append(spark, hash_fn):
    """A key's split never changes when new data arrives — replays and
    incremental training depend on this."""
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    first = sampling.assign_splits(
        _docs(spark, 500), "doc_id", w, seed=9, hash_fn=hash_fn
    )
    later = sampling.assign_splits(
        _docs(spark, 2000), "doc_id", w, seed=9, hash_fn=hash_fn
    )
    m_first = {r.doc_id: r.split for r in first.collect()}
    m_later = {r.doc_id: r.split for r in later.collect()}
    assert all(m_later[k] == v for k, v in m_first.items())
    # every row labeled, all three splits populated, ratios sane
    from collections import Counter

    c = Counter(m_later.values())
    assert sum(c.values()) == 2000
    assert 0.7 <= c["train"] / 2000 <= 0.9
    assert c["val"] > 0 and c["test"] > 0


def test_assign_splits_is_projection(spark):
    """The split label must not introduce a shuffle — scan-stage only."""
    df = sampling.assign_splits(
        _docs(spark), "doc_id", {"train": 0.9, "val": 0.1}
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_leakage_free_splits_groups_stay_together(spark):
    """The contamination guarantee: every member of a near-dup group
    gets the SAME split label; singletons fall back to their own id
    (identical to plain assign_splits for them); the group column is
    exposed for auditing; the whole assignment stays shuffle-free
    after the one id join."""
    docs = _docs(spark, 1000)
    # 100 groups of ~4 consecutive ids each
    groups = (
        spark.range(400)
        .selectExpr("id AS doc_id", "CAST(id - id % 4 AS BIGINT) AS component")
    )
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    out = sampling.leakage_free_splits(docs, groups, w, seed=3)
    rows = out.select("doc_id", "component", "split").collect()
    by_comp: dict = {}
    for r in rows:
        if r.component is not None:
            by_comp.setdefault(r.component, set()).add(r.split)
    assert by_comp and all(len(s) == 1 for s in by_comp.values())
    # singleton fallback == plain per-doc assignment
    plain = {
        r.doc_id: r.split
        for r in sampling.assign_splits(
            docs, "doc_id", w, seed=3
        ).collect()
    }
    for r in rows:
        if r.component is None:
            assert r.split == plain[r.doc_id]
    # stable under appends of new group members: a new doc joining an
    # existing component lands with its group
    more = spark.createDataFrame([(5000, "0")], "doc_id long, lang string")
    g2 = groups.unionByName(
        spark.createDataFrame([(5000, 0)], "doc_id long, component long")
    )
    out2 = sampling.leakage_free_splits(
        docs.unionByName(more), g2, w, seed=3
    )
    split_of = {r.doc_id: r.split for r in out2.collect()}
    assert split_of[5000] == split_of[0] == split_of[3]
    # shuffle-free on the CORPUS side: the group side goes through its
    # uniqueness-guard aggregate (ONE hash exchange, bounded by the
    # dup-pair id count — never corpus-sized) and then over a
    # BroadcastExchange, so the corpus stream itself never
    # repartitions (a corpus shuffle would surface as SortMergeJoin
    # and/or additional hashpartitioning exchanges) and the split
    # label stays a pure projection
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_leakage_free_splits_input_guards(spark):
    """Audit-grade input validation: a pre-existing `component` column
    on df raises up front (the output reuses that name), and an id
    claimed by TWO components in groups raises at execution instead of
    silently fanning the doc into two output rows — while exact
    duplicate (id, component) rows (unioned batch re-runs) collapse
    harmlessly."""
    import pytest as _pytest

    docs = _docs(spark, 50)
    w = {"train": 0.8, "test": 0.2}
    with _pytest.raises(ValueError, match="component"):
        sampling.leakage_free_splits(
            docs.withColumn("component", F.lit(1)),
            spark.createDataFrame([(1, 1)], "doc_id long, component long"),
            w,
        )
    # exact duplicates: same (id, component) twice -> one row per doc
    dup = spark.createDataFrame(
        [(1, 100), (1, 100), (2, 100)], "doc_id long, component long"
    )
    out = sampling.leakage_free_splits(docs, dup, w)
    assert out.count() == 50
    assert out.filter(F.col("doc_id") == 1).count() == 1
    # ambiguous: one id in two components -> loud execution error
    amb = spark.createDataFrame(
        [(1, 100), (1, 200)], "doc_id long, component long"
    )
    with _pytest.raises(Exception, match="multiple components"):
        sampling.leakage_free_splits(docs, amb, w).collect()


def test_stratified_sample_caps_strata(spark):
    df = _docs(spark, 5000)  # 1000 per lang
    kept = sampling.stratified_sample(
        df, "lang", {"0": 0.2, "1": 0.5}, "doc_id", default_rate=1.0, seed=2
    )
    counts = {r.lang: r.n for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert 120 <= counts["0"] <= 280
    assert 400 <= counts["1"] <= 600
    assert counts["2"] == counts["3"] == counts["4"] == 1000


def test_stratified_default_rate_zero_drops_unlisted(spark):
    df = _docs(spark, 100)
    kept = sampling.stratified_sample(
        df, "lang", {"0": 1.0}, "doc_id", default_rate=0.0
    )
    assert {r.lang for r in kept.select("lang").distinct().collect()} == {"0"}


def test_arith_bucket_sql_matches_column(spark):
    """The SQL twin and the Column twin compute identical buckets."""
    df = _docs(spark, 300).withColumn(
        "b_col", sampling.hash_bucket(F.col("doc_id"), seed=5, hash_fn="arith")
    ).withColumn(
        "b_sql", F.expr(sampling.arith_bucket_sql("doc_id", seed=5))
    )
    assert df.filter(F.col("b_col") != F.col("b_sql")).count() == 0


def test_redact_pii_known_strings(spark):
    cases = [
        ("mail me at jane.doe+x@sub.example.co.uk now",
         "mail me at <EMAIL> now"),
        ("ssn 123-45-6789 ok", "ssn <SSN> ok"),
        ("host 192.168.0.1 up", "host <IP> up"),
        ("call +1 (555) 000-1234 today", "call <PHONE> today"),
        # untouched: bare words, version numbers with letters
        ("nothing here v1.2.3a", "nothing here v1.2.3a"),
    ]
    df = spark.createDataFrame(cases, "t string, want string").withColumn(
        "got", textops.redact_pii(F.col("t"))
    )
    bad = df.filter(F.col("got") != F.col("want")).collect()
    assert bad == [], bad


def test_pii_hit_counts(spark):
    df = spark.createDataFrame(
        [("a@b.io and c@d.net, ssn 111-22-3333, ip 10.0.0.1",)], "t string"
    ).select(textops.pii_hit_counts(F.col("t")).alias("h"))
    row = df.select("h.email", "h.ssn", "h.ip", "h.phone").first()
    assert (row.email, row.ssn, row.ip, row.phone) == (2, 1, 1, 0)


# --- chunking + repetition (textops) -------------------------------------


def test_chunk_documents_coverage_and_overlap(spark):
    text = " ".join(f"t{i}" for i in range(100))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    ch = textops.chunk_documents(df, max_tokens=64, overlap=8).collect()
    ch.sort(key=lambda r: r.chunk_index)
    assert [r.chunk_index for r in ch] == [0, 1]
    a, b = (r.chunk_text.split(" ") for r in ch)
    assert len(a) == 64 and a[0] == "t0"
    assert b[0] == "t56" and b[-1] == "t99"  # stride 56, covers the tail
    assert set(a) | set(b) == {f"t{i}" for i in range(100)}  # full coverage
    assert set(a) & set(b) == {f"t{i}" for i in range(56, 64)}  # 8 overlap


def test_chunk_documents_short_and_exact(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, " ".join(f"x{i}" for i in range(64)))],
        "doc_id long, text string",
    )
    ch = textops.chunk_documents(df, max_tokens=64, overlap=8)
    rows = {(r.doc_id, r.chunk_index): r.n_tokens for r in ch.collect()}
    # short doc -> one chunk; exactly-max doc -> one chunk, never a
    # trailing pure-overlap chunk
    assert rows == {(1, 0): 3, (2, 0): 64}


def test_chunk_documents_validates(spark):
    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError):
        textops.chunk_documents(df, max_tokens=8, overlap=8)


def test_repetition_ratio(spark):
    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "u v w x y z")],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.n_grams, r.top_frac) for r in
           textops.repetition_ratio(df, n=2).collect()}
    # doc 1: bigrams [ab, ba, ab, ba, ab] -> top 'a b' 3/5
    assert out[1] == (5, 3 / 5)
    # doc 2: all distinct -> 1/5
    assert out[2] == (5, 1 / 5)


def test_repetition_ratio_per_doc_counts(spark):
    """Gram counts are per document: 50 docs share no grams, and each
    doc's top gram is its own repeated word pair."""
    df = spark.createDataFrame(
        [(i, f"w{i} " * 5 + " ".join(f"t{i}x{j}" for j in range(20)))
         for i in range(50)],
        "doc_id long, text string",
    )
    a = {(r.doc_id): (r.n_grams, round(r.top_frac, 9))
         for r in textops.repetition_ratio(df).collect()}
    # 25 tokens -> 24 bigrams, 'w{i} w{i}' 4 of them
    assert a == {i: (24, round(4 / 24, 9)) for i in range(50)}


# --- remove_duplicate_spans ------------------------------------------------


def _span_docs(spark):
    boiler = "one two three four"  # shared 4-word span in docs a, b
    rows = [
        ("a", f"{boiler} alpha beta gamma delta"),
        ("b", f"{boiler} epsilon zeta eta theta"),
        ("c", "iota kappa lambda mu nu xi"),  # unique spans only
        ("d", boiler),  # every span boilerplate -> empty text
    ]
    return spark.createDataFrame(rows, "doc_id string, text string")


def test_remove_duplicate_spans_semantics(spark):
    out = textops.remove_duplicate_spans(
        _span_docs(spark), span_words=4, min_df=2
    ).orderBy("doc_id")
    rows = {r["doc_id"]: r for r in out.collect()}
    # shared leading span removed everywhere, tails survive in order
    assert rows["a"]["text"] == "alpha beta gamma delta"
    assert (rows["a"]["kept_spans"], rows["a"]["removed_spans"]) == (1, 1)
    assert rows["b"]["text"] == "epsilon zeta eta theta"
    # untouched doc keeps its text (spans re-joined in order)
    assert rows["c"]["text"] == "iota kappa lambda mu nu xi"
    assert rows["c"]["removed_spans"] == 0
    # fully-boilerplate doc survives as an empty string, not a dropped row
    assert rows["d"]["text"] == ""
    assert (rows["d"]["kept_spans"], rows["d"]["removed_spans"]) == (0, 1)


def test_remove_duplicate_spans_min_df_threshold(spark):
    out = textops.remove_duplicate_spans(
        _span_docs(spark), span_words=4, min_df=3
    )
    # the shared span has df=3 (a, b, d) -> still removed at min_df=3;
    # raise to 4 and nothing qualifies
    assert out.agg(F.sum("removed_spans")).first()[0] == 3
    out4 = textops.remove_duplicate_spans(
        _span_docs(spark), span_words=4, min_df=4
    )
    assert out4.agg(F.sum("removed_spans")).first()[0] == 0


def test_remove_duplicate_spans_output_and_validation(spark):
    docs = _span_docs(spark)
    base = {
        (r["doc_id"], r["text"], r["kept_spans"])
        for r in textops.remove_duplicate_spans(
            docs, span_words=4, min_df=2
        ).collect()
    }
    assert base == {
        ("a", "alpha beta gamma delta", 1),
        ("b", "epsilon zeta eta theta", 1),
        ("c", "iota kappa lambda mu nu xi", 2),
        ("d", "", 0),
    }
    with pytest.raises(ValueError, match="span_words"):
        textops.remove_duplicate_spans(docs, span_words=0)
    with pytest.raises(ValueError, match="min_df"):
        textops.remove_duplicate_spans(docs, min_df=1)


def test_remove_duplicate_spans_broadcasts_boilerplate(spark):
    plan = (
        textops.remove_duplicate_spans(_span_docs(spark), span_words=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan  # removal join never shuffles corpus


# --- mixing_weights --------------------------------------------------------


def _mix_docs(spark):
    rows = [(i, "en" if i < 6 else ("de" if i < 9 else "fr"), 100) for i in range(10)]
    return spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")


def test_mixing_weights_feasible_budget(spark):
    """Default budget takes the scarcest targeted domain in full."""
    out = {
        r["domain"]: r
        for r in sampling.mixing_weights(
            _mix_docs(spark),
            domain_col="lang",
            weight_col="n_chars",
            targets={"en": 0.5, "de": 0.5},
        ).collect()
    }
    # masses: en 600, de 300, fr 100.  budget = min(600/.5, 300/.5)=600
    assert out["de"]["sample_rate"] == pytest.approx(1.0)
    assert out["en"]["sample_rate"] == pytest.approx(0.5)
    assert out["en"]["expected_mass"] == pytest.approx(300.0)
    # untargeted domain dropped entirely
    assert out["fr"]["target_share"] == 0.0
    assert out["fr"]["sample_rate"] == 0.0
    assert out["en"]["natural_share"] == pytest.approx(0.6)


def test_mixing_weights_explicit_budget_and_count_mass(spark):
    out = {
        r["domain"]: r
        for r in sampling.mixing_weights(
            _mix_docs(spark),
            domain_col="lang",
            targets={"en": 0.5, "de": 0.25, "fr": 0.25},
            budget=4.0,
        ).collect()
    }
    # count mass: en 6, de 3, fr 1; budget 4 -> en rate 2/6, fr capped at 1
    assert out["en"]["mass"] == 6.0
    assert out["en"]["sample_rate"] == pytest.approx(4.0 * 0.5 / 6.0)
    assert out["fr"]["sample_rate"] == pytest.approx(1.0)
    with pytest.raises(ValueError, match="targets"):
        sampling.mixing_weights(
            _mix_docs(spark), domain_col="lang", targets={}
        )


def test_mixing_weights_feeds_stratified_sample(spark):
    """Rates collected from the tiny frame drive the deterministic
    downsampling pass."""
    docs = _mix_docs(spark)
    w = sampling.mixing_weights(
        docs, domain_col="lang", targets={"en": 0.5, "de": 0.5}
    )
    fractions = {r["domain"]: r["sample_rate"] for r in w.collect()}
    sampled = sampling.stratified_sample(docs, "lang", fractions, "doc_id")
    by_lang = {
        r["lang"]: r["count"]
        for r in sampled.groupBy("lang").count().collect()
    }
    assert by_lang.get("de", 0) == 3  # rate 1.0 keeps all
    assert "fr" not in by_lang  # rate 0 drops the domain
    assert 0 < by_lang.get("en", 0) <= 6


def test_duplicated_substring_stats_any_alignment(spark):
    """Stride-1 windows catch a duplicated passage at ANY offset — the
    case fixed tiling (remove_duplicate_spans) misses; within-document
    repetition counts as duplication (occurrences, not distinct docs);
    unique text scores 0."""
    from pyspark.sql import functions as F

    from physicsnemo_curator_spark.operators.textops import (
        duplicated_substring_stats,
    )

    passage = " ".join(f"p{i}" for i in range(8))  # 8-token passage
    docs = spark.createDataFrame(
        [
            # passage at offset 0 of doc 0, offset 3 of doc 1 (unaligned)
            (0, passage + " " + " ".join(f"a{i}" for i in range(5))),
            (1, "x0 x1 x2 " + passage + " y0 y1"),
            # doc 2: passage repeated WITHIN one doc
            (2, passage + " z0 " + passage),
            # doc 3: entirely unique text
            (3, " ".join(f"u{i}" for i in range(12))),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in duplicated_substring_stats(
            docs, min_tokens=8, min_count=2
        ).collect()
    }
    # docs 0/1: exactly the 8 passage tokens are duplicated
    assert out[0].n_dup_tokens == 8 and out[0].n_tokens == 13
    assert out[1].n_dup_tokens == 8 and out[1].n_tokens == 13
    # doc 2: both passage copies covered (17 tokens, z0 NOT covered —
    # no 8-window containing z0 occurs twice)
    assert out[2].n_tokens == 17 and out[2].n_dup_tokens == 16
    # doc 3: clean
    assert out[3].n_dup_tokens == 0 and out[3].dup_fraction == 0.0
    assert abs(out[0].dup_fraction - round(8 / 13, 6)) < 1e-9

    # empty text is well-defined (no ANSI division crash)
    empty = spark.createDataFrame([(9, "")], "doc_id long, text string")
    r = duplicated_substring_stats(empty, min_tokens=8).collect()[0]
    assert r.n_tokens == 0 and r.dup_fraction == 0.0


def test_remove_duplicated_substrings(spark):
    """Removal form: the duplicated passage vanishes from every doc at
    any alignment, survivors re-join in order, fully-duplicated docs
    become empty, clean docs pass through normalized."""
    from physicsnemo_curator_spark.operators.textops import (
        remove_duplicated_substrings,
    )

    passage = " ".join(f"p{i}" for i in range(8))
    docs = spark.createDataFrame(
        [
            (0, passage + " a0 a1"),
            (1, "x0  x1\n" + passage),  # unaligned + messy whitespace
            (2, passage),  # fully duplicated -> empty
            (3, "u0 u1 u2 u3 u4 u5 u6 u7 u8"),  # clean
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in remove_duplicated_substrings(
            docs, min_tokens=8, min_count=2
        ).collect()
    }
    assert out[0].text == "a0 a1" and out[0].removed_tokens == 8
    assert out[1].text == "x0 x1" and out[1].kept_tokens == 2
    assert out[2].text == "" and out[2].kept_tokens == 0
    assert out[3].text == "u0 u1 u2 u3 u4 u5 u6 u7 u8"
    assert out[3].removed_tokens == 0


def test_remove_duplicated_substrings_output_docs(spark):
    """output_docs restricts which docs are REBUILT, never which docs
    feed the duplication marking: doc 1's passage copy still marks
    doc 0's passage as duplicated even when only doc 0 is rebuilt, and
    each returned row is identical to the unrestricted output."""
    from pyspark.sql import functions as F

    from physicsnemo_curator_spark.operators.textops import (
        remove_duplicated_substrings,
    )

    passage = " ".join(f"p{i}" for i in range(8))
    docs = spark.createDataFrame(
        [
            (0, passage + " a0 a1"),
            (1, "x0 x1 " + passage),  # the only OTHER copy of passage
            (2, "u0 u1 u2 u3 u4 u5 u6 u7 u8"),  # clean
        ],
        "doc_id long, text string",
    )
    full = {
        r.doc_id: r
        for r in remove_duplicated_substrings(
            docs, min_tokens=8, min_count=2
        ).collect()
    }
    sub = remove_duplicated_substrings(
        docs,
        min_tokens=8,
        min_count=2,
        output_docs=docs.filter(F.col("doc_id") < 1),
    ).collect()
    # only the restricted doc is returned...
    assert [r.doc_id for r in sub] == [0]
    # ...with marking still corpus-global (doc 1 made the passage
    # duplicated) and the row identical to the unrestricted output
    assert sub[0].text == "a0 a1" and sub[0].removed_tokens == 8
    assert tuple(sub[0]) == tuple(full[0])


def test_temperature_mixing_weights(spark):
    """T=1 reproduces natural shares; larger T flattens toward
    uniform (low-resource domains upweighted); rates respect the
    feasibility budget (scarcest targeted domain taken in full,
    nothing above rate 1)."""
    from physicsnemo_curator_spark.operators.sampling import (
        temperature_mixing_weights,
    )

    rows = [("en", 900.0)] * 1 + [("fr", 90.0)] + [("sw", 10.0)]
    df = spark.createDataFrame(rows, "lang string, w double")

    t1 = {
        r.domain: r
        for r in temperature_mixing_weights(
            df, domain_col="lang", weight_col="w", temperature=1.0
        ).collect()
    }
    for d in t1:
        assert abs(t1[d].target_share - t1[d].natural_share) < 1e-12

    t5 = {
        r.domain: r
        for r in temperature_mixing_weights(
            df, domain_col="lang", weight_col="w", temperature=5.0
        ).collect()
    }
    # flattening: low-resource share rises, high-resource share falls
    assert t5["sw"].target_share > t1["sw"].target_share
    assert t5["en"].target_share < t1["en"].target_share
    # rates: max rate is 1.0 (the scarcest domain taken in full) and
    # expected masses realize the target ratio
    assert max(r.sample_rate for r in t5.values()) <= 1.0 + 1e-12
    assert abs(max(r.sample_rate for r in t5.values()) - 1.0) < 1e-12
    exp = {d: r.expected_mass for d, r in t5.items()}
    tgt = {d: r.target_share for d, r in t5.items()}
    total = sum(exp.values())
    for d in exp:
        assert abs(exp[d] / total - tgt[d]) < 1e-9

    import pytest

    with pytest.raises(ValueError, match="temperature"):
        temperature_mixing_weights(
            df, domain_col="lang", temperature=0.0
        )


# ---------------------------------------------------------------------------
# Unicode normalization (textops.normalize_text)


def test_normalize_text_composes_decomposed_forms(spark):
    from physicsnemo_curator_spark.operators.textops import normalize_text

    decomposed = "Café du Monde"  # e + combining acute
    composed = "Café du Monde"
    df = spark.createDataFrame(
        [(0, decomposed), (1, composed)], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r["text_norm"]
            for r in normalize_text(df).collect()}
    assert rows[0] == rows[1] == composed  # exact-dedup keys now agree


def test_normalize_text_strips_invisible_and_spaces(spark):
    from physicsnemo_curator_spark.operators.textops import normalize_text

    dirty = "a​b c‪d\x07e"
    df = spark.createDataFrame([(0, dirty)], "doc_id long, text string")
    (row,) = normalize_text(df).collect()
    assert row["text_norm"] == "ab c de".replace(" c de", " cde") or \
        row["text_norm"] == "ab cde"


def test_normalize_text_nfkc_compatibility_folds(spark):
    from physicsnemo_curator_spark.operators.textops import normalize_text

    df = spark.createDataFrame(
        [(0, "ﬁle ①")], "doc_id long, text string"
    )  # fi-ligature + circled one
    (row,) = normalize_text(df, form="NFKC").collect()
    assert row["text_norm"] == "file 1"
    import pytest as _pytest

    with _pytest.raises(ValueError, match="form"):
        normalize_text(df, form="NFX").collect()


def test_normalize_text_null_passthrough(spark):
    from physicsnemo_curator_spark.operators.textops import normalize_text

    df = spark.createDataFrame([(0, None)], "doc_id long, text string")
    (row,) = normalize_text(df).collect()
    assert row["text_norm"] is None


def test_split_sentences(spark):
    from physicsnemo_curator_spark.operators.textops import split_sentences

    df = spark.createDataFrame(
        [
            (0, "One here. Two there! Three?? Four"),
            (1, "No terminal punctuation at all"),
            (2, ""),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: list(r["sentences"])
            for r in split_sentences(df).collect()}
    assert rows[0] == ["One here.", "Two there!", "Three??", "Four"]
    assert rows[1] == ["No terminal punctuation at all"]
    assert rows[2] == []
    plan = split_sentences(df)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_split_sentences_null_and_control_bytes(spark):
    from physicsnemo_curator_spark.operators.textops import split_sentences

    df = spark.createDataFrame(
        [(0, None), (1, "foo\x1fbar baz")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: list(r["sentences"])
            for r in split_sentences(df).collect()}
    assert rows[0] == []
    assert rows[1] == ["foobar baz"]  # debris can't forge a boundary


def _store_rows(spark, store):
    return {
        r.doc_id: (r.split, r.component, r.reason, r._batch)
        for r in spark.read.parquet(store).collect()
    }


def test_split_store_labels_never_move(spark, tmp_path):
    """The absolute guarantee of the persisted split store (VERDICT
    r13 task #2): once a doc's split is stored, NO later append —
    however the group labels shifted — may move it; new members of a
    known group inherit its split; fresh groups hash-assign; and
    re-running a batch is idempotent."""
    docs = _docs(spark, 300)
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    seed_docs = docs.filter(F.col("doc_id") < 200)
    # seed groups: pairs (0,1), (10,11), (20,21)
    g1 = spark.createDataFrame(
        [(0, 0), (1, 0), (10, 10), (11, 10), (20, 20), (21, 20)],
        "doc_id long, component long",
    )
    store = str(tmp_path / "splits")
    seed = sampling.leakage_free_splits(seed_docs, g1, w, seed=7)
    sampling.write_split_store(
        seed.select("doc_id", "split", "component"), store
    )
    before = _store_rows(spark, store)
    assert len(before) == 200 and all(
        v[2] == "seed" and v[3] == "seed" for v in before.values()
    )

    # append: docs 200-299; groups RE-LABELED over the grown corpus —
    # component 0 now labeled differently and extended by doc 250;
    # doc 251/252 form a brand-new group; 253 is a singleton
    g2 = spark.createDataFrame(
        [(0, 999), (1, 999), (250, 999),
         (251, 300), (252, 300)],
        "doc_id long, component long",
    )
    out = sampling.assign_splits_incremental(
        spark,
        docs.filter(F.col("doc_id") >= 200),
        g2,
        w,
        store,
        seed=7,
        update_store=True,
        batch_id="b1",
    )
    got = {r.doc_id: (r.split, r.reason) for r in out.collect()}
    assert len(got) == 100
    # inheritance: 250 joins the group of 0/1 and lands on THEIR side
    assert got[250] == (before[0][0], "inherited")
    # fresh group: 251 and 252 share one hash-assigned split
    assert got[251][1] == got[252][1] == "fresh"
    assert got[251][0] == got[252][0]
    # singleton fresh == plain assign_splits on its own id
    plain = {
        r.doc_id: r.split
        for r in sampling.assign_splits(
            docs.filter(F.col("doc_id") == 253), "doc_id", w, seed=7
        ).collect()
    }
    assert got[253] == (plain[253], "fresh")
    # THE guarantee: not one stored row changed
    after = _store_rows(spark, store)
    assert all(after[k] == before[k] for k in before)
    assert len(after) == 300
    assert after[250] == (before[0][0], 999, "inherited", "b1")

    # idempotent re-run: every doc now reads 'stored', nothing rewrites
    out2 = sampling.assign_splits_incremental(
        spark,
        docs.filter(F.col("doc_id") >= 200),
        g2,
        w,
        store,
        seed=7,
        update_store=True,
        batch_id="b1",
    )
    assert all(r.reason == "stored" for r in out2.collect())
    assert {
        r.doc_id: (r.split,) for r in out2.collect()
    } == {k: (v[0],) for k, v in after.items() if k >= 200}
    assert _store_rows(spark, store) == after


def test_split_store_merge_policy(spark, tmp_path):
    """A group merge that would span stored splits resolves by the
    LOUD policy: default quarantine-to-the-first-weight-label (train —
    merged docs can never leak INTO an eval split), or
    merge_policy='error' raising at execution."""
    docs = _docs(spark, 400)
    w = {"train": 0.5, "val": 0.25, "test": 0.25}
    store = str(tmp_path / "merge")
    # hand-build a seed store where groups 100 and 200 sit in
    # DIFFERENT splits
    seed = spark.createDataFrame(
        [(100, "train", 100), (101, "train", 100),
         (200, "test", 200), (201, "test", 200)],
        "doc_id long, split string, component long",
    )
    sampling.write_split_store(seed, store)
    # new doc 300 bridges both groups -> one merged component
    g = spark.createDataFrame(
        [(100, 100), (101, 100), (200, 100), (201, 100), (300, 100)],
        "doc_id long, component long",
    )
    new = docs.filter(F.col("doc_id") == 300)
    out = sampling.assign_splits_incremental(
        spark, new, g, w, store, update_store=True, batch_id="m1"
    )
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0].split == "train" and rows[0].reason == "quarantined"
    # stored members did NOT move
    after = _store_rows(spark, store)
    assert after[200][0] == "test" and after[100][0] == "train"
    # policy='error' raises loudly instead
    store2 = str(tmp_path / "merge2")
    sampling.write_split_store(seed, store2)
    with pytest.raises(Exception, match="spans stored splits"):
        sampling.assign_splits_incremental(
            spark, new, g, w, store2, merge_policy="error"
        ).collect()
    # quarantine_split must be a weights label
    with pytest.raises(ValueError, match="quarantine_split"):
        sampling.assign_splits_incremental(
            spark, new, g, w, store2, quarantine_split="nope"
        )
    with pytest.raises(ValueError, match="merge_policy"):
        sampling.assign_splits_incremental(
            spark, new, g, w, store2, merge_policy="bogus"
        )


def test_split_store_append_chain_scan_once(spark, tmp_path):
    """A 3-batch chain keeps every earlier label frozen, and the
    incremental plan scans the store exactly once (the semi-join
    probe) with every later join a broadcast — no corpus-sized
    shuffle."""
    docs = _docs(spark, 600)
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    store = str(tmp_path / "chain")
    seed = sampling.leakage_free_splits(
        docs.filter(F.col("doc_id") < 200),
        spark.createDataFrame([(0, 0), (1, 0)], "doc_id long, component long"),
        w,
        seed=3,
    )
    sampling.write_split_store(
        seed.select("doc_id", "split", "component"), store
    )
    snapshots = [_store_rows(spark, store)]
    for lo, hi, bid in ((200, 400, "b1"), (400, 600, "b2")):
        g = spark.createDataFrame(
            [(0, 0), (1, 0), (lo, 0), (lo + 1, lo + 1), (lo + 2, lo + 1)],
            "doc_id long, component long",
        )
        out = sampling.assign_splits_incremental(
            spark,
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
            g,
            w,
            store,
            seed=3,
            update_store=True,
            batch_id=bid,
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan, plan
        prev = snapshots[-1]
        now = _store_rows(spark, store)
        assert all(now[k] == prev[k] for k in prev)
        snapshots.append(now)
    assert len(snapshots[-1]) == 600


def test_split_store_partial_batch_rerun_carries(spark, tmp_path):
    """The review-found data-loss hole: re-running a batch_id with a
    CHANGED doc set (a late-arriving doc — the steady-state ingest
    shape) must not delete the batch's earlier assignments with its
    partition.  write_split_store appends are per-doc upserts: rows
    the re-run doesn't carry survive the partition rewrite."""
    docs = _docs(spark, 400)
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    store = str(tmp_path / "carry")
    seed = sampling.leakage_free_splits(
        docs.filter(F.col("doc_id") < 200),
        spark.createDataFrame([(0, 0), (1, 0)], "doc_id long, component long"),
        w,
        seed=5,
    )
    sampling.write_split_store(
        seed.select("doc_id", "split", "component"), store
    )
    g = spark.createDataFrame([(0, 0), (1, 0)], "doc_id long, component long")
    # first run of b1: docs 200-299
    sampling.assign_splits_incremental(
        spark,
        docs.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 300)),
        g, w, store, seed=5, update_store=True, batch_id="b1",
    )
    before = _store_rows(spark, store)
    assert len(before) == 300
    # re-run b1 with ONE late doc added: 200-300
    out = sampling.assign_splits_incremental(
        spark,
        docs.filter((F.col("doc_id") >= 200) & (F.col("doc_id") <= 300)),
        g, w, store, seed=5, update_store=True, batch_id="b1",
    )
    reasons = {r.doc_id: r.reason for r in out.collect()}
    assert reasons[300] == "fresh"
    assert all(v == "stored" for k, v in reasons.items() if k < 300)
    after = _store_rows(spark, store)
    # every earlier row survived the partition rewrite, verbatim
    assert len(after) == 301
    assert all(after[k] == before[k] for k in before)
    # and a disjoint partial re-run (simulating a retry that carried
    # only half the docs) still loses nothing
    sampling.assign_splits_incremental(
        spark,
        docs.filter((F.col("doc_id") >= 250) & (F.col("doc_id") <= 300)),
        g, w, store, seed=5, update_store=True, batch_id="b1",
    )
    final = _store_rows(spark, store)
    assert len(final) == 301
    assert all(final[k] == after[k] for k in after)
    # direct writer-level partial re-run: new assignment rows for docs
    # the batch never held upsert in; existing rows survive
    sampling.write_split_store(
        spark.createDataFrame(
            [(9000, "train", None, "fresh")],
            "doc_id long, split string, component long, reason string",
        ),
        store,
        mode="append",
        batch_id="b1",
    )
    final2 = _store_rows(spark, store)
    assert len(final2) == 302 and final2[9000][0] == "train"
    assert all(final2[k] == final[k] for k in final)
    with pytest.raises(ValueError, match="batch_id"):
        sampling.write_split_store(seed, store, mode="append", batch_id="/bad")


def test_split_store_stats_and_conflicts(spark, tmp_path):
    """The inspection surfaces: split_store_stats tracks the store
    through the append chain (per-batch rows, per-split/reason counts,
    uniqueness health), and split_store_conflicts quantifies the
    leakage a group merge already created among STORED docs."""
    docs = _docs(spark, 400)
    w = {"train": 0.5, "val": 0.25, "test": 0.25}
    store = str(tmp_path / "stats")
    seed = spark.createDataFrame(
        [(100, "train", 100), (101, "train", 100),
         (200, "test", 200), (201, "test", 200)],
        "doc_id long, split string, component long",
    )
    sampling.write_split_store(seed, store)
    s0 = sampling.split_store_stats(spark, store)
    assert s0["batches"] == {"seed": 4}
    assert s0["splits"] == {"train": 2, "test": 2}
    assert s0["reasons"] == {"seed": 4}
    assert s0["n_docs"] == 4 and s0["duplicate_docs"] == 0

    # merged group map: 100-group and 200-group now one component
    g = spark.createDataFrame(
        [(100, 100), (101, 100), (200, 100), (201, 100), (300, 100),
         (250, 250), (251, 250)],
        "doc_id long, component long",
    )
    sampling.assign_splits_incremental(
        spark, docs.filter(F.col("doc_id").isin(300, 250, 251)),
        g, w, store, update_store=True, batch_id="b1",
    )
    s1 = sampling.split_store_stats(spark, store)
    assert s1["batches"] == {"seed": 4, "b1": 3}
    assert s1["reasons"]["quarantined"] == 1  # doc 300
    assert s1["reasons"]["fresh"] == 2  # 250, 251 (new group, no store)
    assert s1["duplicate_docs"] == 0

    conflicts = sampling.split_store_conflicts(spark, store, g).collect()
    assert len(conflicts) == 1
    row = conflicts[0]
    assert row.component == 100 and row.n_splits >= 2
    assert set(row.splits.split(",")) >= {"test", "train"}
    # n_docs_stored counts stored members of the merged component:
    # 100/101/200/201 plus the quarantined 300 now stored under b1
    assert row.n_docs_stored == 5


@pytest.mark.soak
@pytest.mark.parametrize("rng_seed", [0, 1, 2])
def test_split_store_randomized_invariants(spark, tmp_path, rng_seed):
    """Randomized lifecycle invariants for the split store (the
    discipline that caught the r13 IVF-PQ upsert hole): any seeded
    sequence of appends — overlapping doc sets, batch-id reuse with
    changed membership, group maps that grow and MERGE between steps —
    must (a) never change a stored row, (b) keep the store unique per
    doc, (c) treat re-submission of stored docs as 'stored', and
    (d) never assign a non-quarantine split that contradicts a group
    co-member stored earlier.  The store is order-dependent BY DESIGN
    (labels depend on arrival), so the invariants are monotonic-
    history properties, not equals-rebuild."""
    import random

    rng = random.Random(rng_seed)
    docs = _docs(spark, 500)
    w = {"train": 0.6, "val": 0.2, "test": 0.2}
    store = str(tmp_path / f"rand{rng_seed}")
    # evolving group map: start with 40 pairs, merge/extend randomly
    comp_of: dict = {}
    for i in range(40):
        a, b = 2 * i, 2 * i + 1
        comp_of[a] = comp_of[b] = 2 * i

    def groups_df():
        rows = sorted(comp_of.items())
        return spark.createDataFrame(
            [(d, c) for d, c in rows], "doc_id long, component long"
        )

    seed_docs = docs.filter(F.col("doc_id") < 150)
    assigned = sampling.leakage_free_splits(seed_docs, groups_df(), w, seed=rng_seed)
    sampling.write_split_store(
        assigned.select("doc_id", "split", "component"), store
    )
    history = _store_rows(spark, store)
    ingested_hi = 150
    for step in range(5):
        # evolve groups: merge two random components and add members
        comps = sorted(set(comp_of.values()))
        if len(comps) >= 2 and rng.random() < 0.7:
            a, b = rng.sample(comps, 2)
            for d, c in list(comp_of.items()):
                if c == b:
                    comp_of[d] = a
        for _ in range(rng.randint(1, 4)):
            target = rng.choice(sorted(set(comp_of.values())))
            comp_of[rng.randrange(500)] = target
        # batch: random range, sometimes overlapping already-ingested
        lo = rng.randrange(0, 450) if rng.random() < 0.4 else ingested_hi
        hi = min(500, lo + rng.randint(20, 80))
        ingested_hi = max(ingested_hi, hi)
        batch = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        bid = f"b{rng.randint(0, 2)}"  # reuse batch ids across steps
        out = sampling.assign_splits_incremental(
            spark, batch, groups_df(), w, store,
            seed=rng_seed, update_store=True, batch_id=bid,
        ).collect()
        now = _store_rows(spark, store)
        # (a) history is frozen
        for k, v in history.items():
            assert now[k] == v, (step, k, now[k], v)
        # (b) unique per doc
        stats = sampling.split_store_stats(spark, store)
        assert stats["duplicate_docs"] == 0, step
        # (c) stored docs read back as stored with their stored split
        for r in out:
            if r.doc_id in history:
                assert r.reason == "stored" and r.split == history[r.doc_id][0]
        # (d) inherit/quarantine discipline against the CURRENT map
        stored_splits_by_comp: dict = {}
        for d, c in comp_of.items():
            if d in history:
                stored_splits_by_comp.setdefault(c, set()).add(history[d][0])
        for r in out:
            if r.doc_id in history or r.component is None:
                continue
            stored = stored_splits_by_comp.get(r.component, set())
            if len(stored) == 1:
                assert r.reason == "inherited" and r.split in stored, r
            elif len(stored) > 1:
                assert r.reason == "quarantined" and r.split == "train", r
            else:
                assert r.reason == "fresh", r
        history = now


def test_split_store_file_uri(spark, tmp_path):
    """file:// URIs address the same store as the plain path for every
    surface (write/carry/incremental/stats) — the ivfpq-store parity
    convention."""
    docs = _docs(spark, 100)
    w = {"train": 0.8, "test": 0.2}
    store = str(tmp_path / "uri")
    seed = sampling.assign_splits(
        docs.filter(F.col("doc_id") < 50), "doc_id", w, seed=1
    ).select("doc_id", "split", F.lit(None).cast("long").alias("component"))
    sampling.write_split_store(seed, "file://" + store)
    assert sampling.split_store_stats(spark, store)["n_docs"] == 50
    g = spark.createDataFrame([(0, 0), (60, 0)], "doc_id long, component long")
    out = sampling.assign_splits_incremental(
        spark, docs.filter(F.col("doc_id") >= 50), g, w,
        "file://" + store, seed=1, update_store=True, batch_id="b1",
    )
    assert {r.reason for r in out.collect()} == {"fresh", "inherited"}
    stats = sampling.split_store_stats(spark, "file://" + store)
    assert stats["n_docs"] == 100 and stats["duplicate_docs"] == 0
    # partial re-run through the URI exercises the carry's path logic
    sampling.assign_splits_incremental(
        spark, docs.filter(F.col("doc_id") >= 90), g, w,
        "file://" + store, seed=1, update_store=True, batch_id="b1",
    )
    assert sampling.split_store_stats(spark, store)["n_docs"] == 100


def test_split_store_stats_numeric_batch_id(spark, tmp_path):
    """Partition-value type inference canonicalizes numeric-looking
    batch names ('007' -> 7); split_store_stats pins _batch to string
    via an explicit schema so the reported key matches the literal
    '_batch=007' directory the path-addressed carry uses."""
    store = str(tmp_path / "numeric_batch")
    seed = spark.createDataFrame(
        [(1, "train", None), (2, "test", None)],
        "doc_id long, split string, component long",
    )
    sampling.write_split_store(seed, store, batch_id="007")
    more = spark.createDataFrame(
        [(3, "train", None)], "doc_id long, split string, component long"
    )
    sampling.write_split_store(more, store, mode="append", batch_id="012")
    s = sampling.split_store_stats(spark, store)
    assert s["batches"] == {"007": 2, "012": 1}
    # and the path-addressed carry agrees: a re-run of batch '007'
    # with a changed doc set carries the earlier rows
    rerun = spark.createDataFrame(
        [(4, "val", None)], "doc_id long, split string, component long"
    )
    sampling.write_split_store(rerun, store, mode="append", batch_id="007")
    s2 = sampling.split_store_stats(spark, store)
    assert s2["batches"] == {"007": 3, "012": 1}
    assert s2["duplicate_docs"] == 0


def test_split_store_lease(spark, tmp_path):
    """The split store's opt-in single-maintainer lease: a leased pass
    excludes a second leased pass (the double-assign window), the
    lease lives in the sibling .maint directory so a static overwrite
    cannot wipe it mid-pass, and both writers release on exit."""
    import pytest as _pytest

    from physicsnemo_curator_spark.core import store as core_store

    store = str(tmp_path / "leased_split")
    seed = spark.createDataFrame(
        [(1, "train", None), (2, "test", None)],
        "doc_id long, split string, component long",
    )
    # leased static overwrite: the lease must survive its own write —
    # it lives in the SIBLING .maint directory, never inside the data
    # path the static overwrite deletes
    import os as _os

    sampling.write_split_store(seed, store, lease=True)
    mr = core_store.maintenance_root(store)
    assert _os.path.isdir(mr)
    assert not (mr + _os.sep).startswith(
        core_store.try_local_path(store) + _os.sep
    )
    assert not _os.path.exists(
        _os.path.join(store, core_store.LEASE_FILE)
    )
    s = sampling.split_store_stats(spark, store)
    assert s["n_docs"] == 2

    # exclusion: while one pass holds the lease, another raises
    mr = core_store.maintenance_root(store)
    rec = core_store.acquire_lease(mr)
    with _pytest.raises(RuntimeError, match="leased by"):
        sampling.write_split_store(
            seed, store, mode="append", batch_id="b1", lease=True
        )
    g = spark.createDataFrame([(3, 300)], "doc_id long, component long")
    docs = spark.createDataFrame([(3,)], "doc_id long")
    with _pytest.raises(RuntimeError, match="leased by"):
        sampling.assign_splits_incremental(
            spark, docs, g, {"train": 0.5, "test": 0.5}, store,
            update_store=True, batch_id="b1", lease=True,
        )
    core_store.release_lease(mr, rec["token"])

    # released: the leased incremental pass runs end to end
    out = sampling.assign_splits_incremental(
        spark, docs, g, {"train": 0.5, "test": 0.5}, store,
        update_store=True, batch_id="b1", lease=True,
    )
    assert out.count() == 1
    s2 = sampling.split_store_stats(spark, store)
    assert s2["n_docs"] == 3 and s2["duplicate_docs"] == 0
    # lease released again
    rec2 = core_store.acquire_lease(mr)
    core_store.release_lease(mr, rec2["token"])
