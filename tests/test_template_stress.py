"""Template-hot stress for the dedup family (VERDICT r4 next-round #3).

One shared fixture corpus with a pathological boilerplate sentence whose
every shingle has document frequency = N (the 100 TB chrome-heavy web
crawl failure mode the sf-scale benches can't see), driven through each
pair-generating dedup operator, asserting the bounded-candidates /
tripped-cap signal each one ships:

- `containment_pairs` / `ngram_jaccard_pairs`: the df cap removes hot
  shingles from BOTH inverted-index sides, so every surviving index key
  has df ≤ max_df and per-key join fan-out is ≤ max_df² — audited by
  `containment_df_stats`.
- `minhash_candidate_pairs`: over-`max_bucket` LSH buckets degrade to
  linear star pairs — audited by `lsh_bucket_stats`.
- `duplicate_ngram_spans`: structurally linear (one df-groupBy + semi
  join; no pair join exists), so the template makes SPANS, not pairs.
- `text_reuse_spans`: pair-restricted by construction — only documents
  named in the candidate-pair input are shingled at all.
"""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

# 18 boilerplate words -> 14 pure-template 5-shingles / 16 3-shingles,
# each with df = n_docs.
TPL = (
    "this site uses cookies to improve your browsing experience "
    "accept all cookies to continue reading our content today"
)
N_DOCS = 400


@pytest.fixture(scope="module")
def template_corpus(spark):
    rows = [
        (i, TPL + " " + " ".join(f"u{i}w{j}" for j in range(4)))
        for i in range(N_DOCS)
    ]
    # planted true near-dup pair with unique (cold) content
    rows.append((9000, TPL + " planted unique alpha bravo charlie delta"))
    rows.append((9001, TPL + " planted unique alpha bravo charlie delta echo"))
    df = spark.createDataFrame(rows, ["doc_id", "text"]).cache()
    df.count()
    yield df
    df.unpersist()


def test_audit_detects_template_pressure(template_corpus):
    """`containment_df_stats` is the alert: every pure-template shingle
    must show df = corpus size and be counted over any reasonable cap."""
    from pdf_to_epub_spark.operators import containment_df_stats

    r = containment_df_stats(template_corpus, k=5, max_df=50).collect()[0]
    assert r.max_df_observed == N_DOCS + 2
    # 14 pure-template 5-shingles (18 - 5 + 1)
    assert r.n_over_cap >= 14
    assert r.hot_occurrences >= 14 * (N_DOCS + 2)


def test_containment_capped_index_is_bounded(template_corpus):
    """After the df cap, every inverted-index key has df ≤ max_df, so the
    candidate join's per-key fan-out is ≤ max_df² — the bounded-candidates
    property itself, asserted on the operator's own cold-set builder.
    The planted pair must still surface through its cold shingles."""
    from pdf_to_epub_spark.operators import containment_pairs
    from pdf_to_epub_spark.operators.dedup import (
        _cold_shingle_sets,
        _shingle_hash_array,
        _word_tokens,
    )

    cap = 50
    toks = template_corpus.select(
        F.col("doc_id").alias("id"),
        _word_tokens(F.coalesce(F.col("text"), F.lit(""))).alias("__t"),
    )
    hashed = toks.select(
        "id",
        F.array_sort(
            F.array_distinct(
                _shingle_hash_array(
                    F.transform("__t", lambda t: F.xxhash64(t)).alias("__th"),
                    5,
                )
            )
        ).alias("hs"),
    )
    cold = _cold_shingle_sets(hashed, cap)
    worst = (
        cold.select(F.explode("hs_f").alias("h"))
        .groupBy("h")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert worst <= cap

    got = {
        (r.id_a, r.id_b)
        for r in containment_pairs(
            template_corpus, k=5, threshold=0.9, max_df=cap
        ).collect()
    }
    assert got == {(9000, 9001)}


def test_jaccard_capped_output_on_template_corpus(template_corpus):
    """Capped PPJoin on the template corpus: only the planted pair
    qualifies (template-only overlap gives J ≈ 16/24 = 0.67 < 0.8), and
    it must survive the cap through its cold shingles.  The shared
    `_cold_shingle_sets` bound is asserted in the containment test; here
    the end-to-end operator must stay correct under it."""
    from pdf_to_epub_spark.operators import ngram_jaccard_pairs

    got = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            template_corpus, k=3, threshold=0.8, max_df=50
        ).collect()
    }
    assert got == {(9000, 9001)}


def test_minhash_lsh_cap_trips_and_pairs_stay_linear(template_corpus):
    """Template-dominated docs produce heavily correlated MinHash
    signatures → degenerate band buckets.  The `lsh_bucket_stats` audit
    must report buckets over the cap, and with the cap the pair listing
    must collapse to star pairs (≲ bands·N, not C(N,2)) while exact-
    Jaccard verification still recovers exactly the planted pair."""
    from pdf_to_epub_spark.operators import (
        lsh_bucket_stats,
        minhash_candidate_pairs,
        minhash_signatures,
    )

    cap = 8
    sigs = minhash_signatures(template_corpus, k=5, num_hashes=64)
    st = lsh_bucket_stats(sigs, num_hashes=64, bands=16, max_bucket=cap).collect()[0]
    assert st.n_over_cap >= 1
    assert st.max_bucket_size > cap

    got = {
        (r.id_a, r.id_b)
        for r in minhash_candidate_pairs(
            template_corpus, k=5, jaccard_threshold=0.9, max_bucket=cap
        ).collect()
    }
    assert got == {(9000, 9001)}


def test_default_cap_probe_falls_back_to_single_pass_plan(spark):
    """Plan-shape contract of the DEFAULT cap's no-op probe: on a corpus
    the cap provably cannot trip (≤ max_df docs), the DEFAULT builds the
    OLD single-pass plan (no cold-set rebuild — no array_except, no hot
    df aggregate), while an explicit tripping cap builds the capped plan.
    This is what makes the scale-safe default free below 10⁴ docs.
    (Both operators' returned plans are truncated behind verify-stage
    localCheckpoints, so the contract is observed at the cold-set
    builder itself: `_cold_shingle_sets` must be entered only when the
    capped machinery is actually in the plan.)"""
    import pdf_to_epub_spark.operators.dedup as dd
    from pdf_to_epub_spark.operators import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    rows = [(i, f"alpha beta gamma delta epsilon u{i} v{i} w{i}")
            for i in range(12)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    calls: list[int] = []
    orig = dd._cold_shingle_sets

    def recording(hashed, max_df):
        calls.append(max_df)
        return orig(hashed, max_df)

    dd._cold_shingle_sets = recording
    try:
        ngram_jaccard_pairs(df, k=3, threshold=0.8)  # default → probe
        assert calls == [], "12-doc default must fall back to uncapped"
        containment_pairs(df, k=5, threshold=0.8)
        assert calls == [], "12-doc default must fall back to uncapped"
        ngram_jaccard_pairs(df, k=3, threshold=0.8, max_df=3)
        containment_pairs(df, k=5, threshold=0.8, max_df=3)
        assert calls == [3, 3], "explicit cap must build the capped plan"
    finally:
        dd._cold_shingle_sets = orig


def test_simhash_band_cap_trips_and_verification_survives(spark):
    """Near-identical docs collapse simhash fingerprints into giant band
    buckets — the degenerate-band quadratic path.  The
    `simhash_band_stats` audit must report buckets over the cap, and the
    capped operator must still emit verified Hamming-near pairs
    (star-bounded listing: ≲ bands·N rows, not C(N,2))."""
    from pdf_to_epub_spark.operators import (
        simhash_band_stats,
        simhash_near_pairs,
    )

    base = " ".join(f"w{i}" for i in range(60))
    rows = [(i, base + f" u{i}") for i in range(120)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    cap = 16
    st = simhash_band_stats(df, max_hamming=3, max_bucket=cap).collect()[0]
    assert st.n_over_cap >= 1
    assert st.max_bucket_size > cap

    got = simhash_near_pairs(df, max_hamming=3, max_bucket=cap).collect()
    assert got, "near-identical docs must still pair under the cap"
    n = len(rows)
    # Well below quadratic: the bound tolerates the fixture's
    # fingerprints splitting into several under-cap buckets (each emits
    # C(d≤cap, 2) combinations) while still failing if the cap ever
    # stopped engaging (uncapped would emit ~C(n,2) ≈ n²/2 here).
    assert len(got) < n * (n - 1) / 4
    assert all(r.hamming <= 3 for r in got)
    assert all(r.id_a < r.id_b for r in got)


def test_duplicate_ngram_spans_linear_on_template(template_corpus):
    """The Lee-et-al span detector has NO pair join — template pressure
    produces one duplicated-span row per doc (the boilerplate region),
    never a quadratic pair structure.  Output must stay linear in docs
    and every doc's span must start at token 0 (the template prefix)."""
    from pdf_to_epub_spark.operators import duplicate_ngram_spans

    spans = duplicate_ngram_spans(
        template_corpus, k=8, min_df=2
    ).collect()
    # linear: at most a couple of spans per doc
    assert len(spans) <= 2 * (N_DOCS + 2)
    by_doc = {}
    for r in spans:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc) == N_DOCS + 2
    assert all(min(s.span_start for s in v) == 0 for v in by_doc.values())


def test_text_reuse_spans_restricted_to_candidate_pairs(
    spark, template_corpus
):
    """Passim-stage boundedness: it aligns only the pairs it is GIVEN —
    the template corpus at large never enters the shingle join.  Feeding
    just the planted pair must yield spans only for that pair, covering
    the shared template+planted prefix on diagonal 0."""
    from pdf_to_epub_spark.operators import text_reuse_spans

    pairs = spark.createDataFrame([(9000, 9001)], ["id_a", "id_b"])
    rows = text_reuse_spans(
        template_corpus, pairs, k=5, min_run=3
    ).collect()
    assert rows
    assert {(r.id_a, r.id_b) for r in rows} == {(9000, 9001)}
    assert any(r.diag == 0 and r.a_start == 1 for r in rows)


def test_explicit_cap_construction_runs_no_probe(spark, monkeypatch):
    """An explicitly passed ``max_df`` keeps operator construction fully
    lazy — no bounded limit().count() probe job fires, and the capped
    plan is built as-is even when the cap equals the default value."""
    import pdf_to_epub_spark.operators.dedup as dd
    from pdf_to_epub_spark.operators import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    rows = [(i, f"alpha beta gamma delta epsilon u{i} v{i} w{i}")
            for i in range(12)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    cap = int(dd.DEFAULT_SHINGLE_MAX_DF)

    calls: list[int] = []
    orig = dd._cold_shingle_sets

    def recording(hashed, max_df):
        calls.append(max_df)
        return orig(hashed, max_df)

    # NB a construction-time job count of zero is NOT achievable here:
    # under AQE, the builders' lazy localCheckpoints materialize their
    # upstream shuffle stages when the plan is converted to an RDD (the
    # work is reused at consumption, not repeated).  The probe contract
    # is therefore asserted directly: the probe's bounded limit() must
    # never be built.
    limits: list[int] = []
    orig_limit = type(df).limit

    def spying_limit(self, n):
        limits.append(n)
        return orig_limit(self, n)

    monkeypatch.setattr(dd, "_cold_shingle_sets", recording)
    monkeypatch.setattr(type(df), "limit", spying_limit)
    ngram_jaccard_pairs(df, k=3, threshold=0.8, max_df=cap)
    containment_pairs(df, k=5, threshold=0.8, max_df=cap)
    assert limits == [], "an explicit cap must skip the count probe"
    # probe skipped -> capped machinery built with the explicit cap
    assert calls == [cap, cap]
    ngram_jaccard_pairs(df, k=3, threshold=0.8)
    assert limits == [cap + 1], "default must still probe"
    monkeypatch.undo()

    # results identical to the probing default on a tiny corpus
    got = {
        (r.id_a, r.id_b)
        for r in containment_pairs(df, k=5, threshold=0.8, max_df=cap).collect()
    }
    want = {
        (r.id_a, r.id_b)
        for r in containment_pairs(df, k=5, threshold=0.8).collect()
    }
    assert got == want
