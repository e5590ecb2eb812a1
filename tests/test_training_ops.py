"""Dedup / similarity / textstats operators on small controlled corpora."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from pdf_to_epub_spark.operators import (
    brute_force_topk,
    document_fingerprint,
    drop_exact_duplicates,
    embedding_near_duplicates,
    exact_duplicate_groups,
    guess_language,
    lsh_topk,
    minhash_candidate_pairs,
    ngram_jaccard_pairs,
    quality_features,
    simhash_near_pairs,
    with_token_stats,
)

BASE = "the quick brown fox jumps over the lazy dog near the river bank every morning"


@pytest.fixture(scope="module")
def dup_corpus(spark):
    rng = random.Random(3)
    rows = []
    for i in range(30):
        words = (BASE + f" unique tail {i} " + " ".join(rng.choices(BASE.split(), k=20))).split()
        rows.append((i, " ".join(words)))
    # exact dup pair, near-dup pair (one word changed), unrelated doc
    rows.append((100, rows[0][1]))
    near = rows[1][1].split()
    near[5] = "otter"
    rows.append((101, " ".join(near)))
    rows.append((102, "完全 不同 的 文本 没有 共享 词"))
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_dedup(dup_corpus):
    groups = exact_duplicate_groups(dup_corpus).collect()
    assert len(groups) == 1
    assert groups[0]["n_docs"] == 2 and groups[0]["keeper_id"] == 0
    kept = drop_exact_duplicates(dup_corpus)
    assert kept.count() == dup_corpus.count() - 1
    assert kept.where("doc_id = 100").count() == 0


def test_minhash_finds_near_dup(dup_corpus):
    pairs = minhash_candidate_pairs(
        dup_corpus, k=3, num_hashes=32, bands=8, jaccard_threshold=0.5
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 100) in found  # exact dup: jaccard 1.0
    assert (1, 101) in found  # near dup
    for r in pairs:
        assert r["jaccard"] >= 0.5


def test_shingle_plan_single_tokenization(dup_corpus):
    """Tokenization must appear exactly once in the optimized plan: if
    CollapseProject ever inlines the token column back into the shingle
    lambda, split() re-executes per element and shingling regresses
    O(len × n_shingles) — measured 60× on 6 KB docs.  Same guard for the
    fingerprint path."""
    from pdf_to_epub_spark.operators import document_fingerprint, minhash_signatures

    plan = (
        minhash_signatures(dup_corpus, k=3, num_hashes=8)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("split(trim(lower") == 1, plan[:3000]

    fplan = (
        document_fingerprint(dup_corpus)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert fplan.count("regexp_replace(lower(trim") == 1, fplan[:3000]


def test_verify_join_broadcast_gating(dup_corpus):
    """The exact-verify join must degrade to a shuffle join when the
    optimizer can't prove the candidate side small (forced here by turning
    the auto-broadcast thresholds off — what AQE does at runtime for a
    too-big candidate set), while the slim id-pair table keeps its one
    unconditional broadcast.  Pins ADVICE's OOM scenario as a plan test."""
    from pdf_to_epub_spark.operators.dedup import (
        _lsh_band_pairs,
        _score_pairs_exact_jaccard,
        minhash_signatures,
    )

    spark = dup_corpus.sparkSession
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        sigs = minhash_signatures(dup_corpus, k=3, num_hashes=32)
        pairs = _lsh_band_pairs(sigs, "doc_id", 32, 8)
        scored = _score_pairs_exact_jaccard(dup_corpus, pairs, "text", "doc_id", 3)
        plan = scored._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    assert "SortMergeJoin" in plan, plan[:2000]
    assert plan.count("BroadcastExchange") == 1, plan[:2000]


def test_connected_components(spark):
    """CC must find transitive clusters the greedy pairwise policy cannot:
    edges (1,3),(2,3) — greedy keeps both 1 and 2 (neither has a smaller
    neighbor), CC labels all three with component 1.  Chains, singletons
    and a star check convergence beyond one round."""
    from pdf_to_epub_spark.operators import connected_components

    edges = spark.createDataFrame(
        [(1, 3), (2, 3), (10, 11), (11, 12), (12, 13), (30, 31)],
        "id_a long, id_b long",
    )
    ids = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 12, 13, 20, 30, 31)], "doc_id long"
    )
    got = {
        r["doc_id"]: r["component"]
        for r in connected_components(edges, ids).collect()
    }
    assert got == {
        1: 1, 2: 1, 3: 1,          # non-adjacent minimum: CC ≠ greedy
        10: 10, 11: 10, 12: 10, 13: 10,  # 3-hop chain needs >1 round
        20: 20,                     # singleton keeps its own id
        30: 30, 31: 30,
    }


def test_connected_components_deep_chain_log_rounds(spark):
    """The r4-verdict pathological case: a 300-edge path graph (diameter
    300) must converge — and in O(log diameter) rounds, not O(diameter):
    max_iterations=12 covers diameter ~2¹² via the pointer-doubling
    shortcut, while plain min-propagation would need 300 rounds."""
    from pdf_to_epub_spark.operators import connected_components

    n = 301
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    got = {
        r["doc_id"]: r["component"]
        for r in connected_components(
            edges, ids, max_iterations=12
        ).collect()
    }
    assert got == {i: 0 for i in range(n)}


def test_connected_components_nonconvergence_raises(spark):
    """Exhausting max_iterations must be a loud error naming the number
    of still-moving labels — never a silently wrong clustering."""
    import pytest as _pytest
    from pdf_to_epub_spark.operators import connected_components

    n = 64
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, ids, max_iterations=2)
    with _pytest.raises(ValueError):
        connected_components(edges, ids, max_iterations=0)


def test_scrub_pii(spark):
    from pdf_to_epub_spark.operators import scrub_pii

    rows = [
        (0, "mail me at jo.doe+x@sub.example.org or visit 192.168.0.1 now"),
        (1, "call +1 (415) 555-0123 today"),
        (2, "no pii here at all"),
        (3, "two mails a@b.io c@d.co and 10.0.0.7"),
    ]
    out = {
        r["doc_id"]: r
        for r in scrub_pii(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    assert out[0]["n_email"] == 1 and out[0]["n_ip"] == 1 and out[0]["n_phone"] == 0
    assert "<EMAIL>" in out[0]["clean_text"] and "<IP>" in out[0]["clean_text"]
    assert "jo.doe" not in out[0]["clean_text"]
    assert out[1]["n_phone"] == 1 and "<PHONE>" in out[1]["clean_text"]
    assert "555" not in out[1]["clean_text"]
    assert out[2]["clean_text"] == "no pii here at all"
    assert out[3]["n_email"] == 2 and out[3]["n_ip"] == 1


def test_gopher_quality(spark):
    from pdf_to_epub_spark.operators import gopher_quality

    good = (
        "the quick brown fox jumps over the lazy dog and that dog have "
        "seen many foxes with great interest every single morning before "
        "breakfast while the sun rises slowly over quiet hills and birds "
        "begin to sing their songs of the new day in bright warm light "
        "that covers all of it"
    )
    bullets = "\n".join(f"- item {i}" for i in range(20))
    symbols = "## " * 40 + "the of and that"
    rows = [(0, good), (1, "too short"), (2, bullets), (3, symbols)]
    out = {
        r["doc_id"]: r
        for r in gopher_quality(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    assert out[0]["keep"] is True
    assert out[1]["keep"] is False  # word count below minimum
    assert out[2]["keep"] is False and out[2]["bullet_line_ratio"] == 1.0
    assert out[3]["keep"] is False and out[3]["symbol_ratio"] >= 0.1


def test_scrub_and_canonical_idempotent(spark):
    """Both rewrites must be idempotent: scrubbing already-scrubbed text
    and canonicalizing an already-canonical URL are no-ops — the property
    that makes replays/retries of either stage safe."""
    from pyspark.sql import functions as FF

    from pdf_to_epub_spark.operators import canonicalize_urls, scrub_pii
    from pdf_to_epub_spark.sources.synth import make_documents

    rows = [
        {"doc_id": i, "text": r["text"] + f" x{i}@ex.com 10.1.2.{i % 250} +1 415 555 00{i % 10:02d}"}
        for i, r in enumerate(make_documents(40, seed=17))
    ]
    df = spark.createDataFrame(rows)
    once = scrub_pii(df).select("doc_id", FF.col("clean_text").alias("text"))
    twice = scrub_pii(once)
    assert twice.where("n_email + n_ip + n_phone > 0").count() == 0
    assert twice.where("clean_text <> text").count() == 0

    urls = spark.createDataFrame(
        [(i, f"HTTP://Ex{i % 5}.COM:80/P{i}?utm_x=1&b={i}&a=2#f") for i in range(40)],
        "doc_id long, url string",
    )
    c1 = canonicalize_urls(urls).select("doc_id", FF.col("canon_url").alias("url"))
    c2 = canonicalize_urls(c1)
    assert c2.where("canon_url <> url").count() == 0


def test_benchmark_contamination(spark):
    """A doc containing a benchmark passage verbatim must be flagged
    against exactly that benchmark row; clean docs must not appear."""
    from pdf_to_epub_spark.operators import benchmark_contamination

    passage = "the quick brown fox jumps over the lazy dog today"  # 10 words
    corpus = spark.createDataFrame(
        [
            (0, "intro words here " + passage + " trailing content follows"),
            (1, "completely unrelated text about something else entirely ok"),
            (2, passage),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, passage), (101, "no overlap with anything in the corpus set")],
        "bench_id long, text string",
    )
    got = {
        (r["doc_id"], r["bench_id"]): r["shared_shingles"]
        for r in benchmark_contamination(corpus, bench, k=8).collect()
    }
    # 10-word passage -> 3 distinct 8-grams, all shared by docs 0 and 2
    assert got == {(0, 100): 3, (2, 100): 3}


def test_hash_split_and_sample(spark):
    """Split membership must be a pure function of (id, salt): identical
    across repartitionings, weight-proportional in aggregate, and disjoint
    across splits; hash_sample must keep ~fraction and be stable too."""
    from pdf_to_epub_spark.operators import hash_sample, hash_split

    ids = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
    w = {"train": 0.5, "val": 0.25, "test": 0.25}
    a = {r["doc_id"]: r["split"] for r in hash_split(ids, w).collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in hash_split(ids.repartition(13), w).collect()
    }
    assert a == b
    from collections import Counter

    counts = Counter(a.values())
    assert abs(counts["train"] / 2000 - 0.5) < 0.05
    assert abs(counts["val"] / 2000 - 0.25) < 0.05
    assert abs(counts["test"] / 2000 - 0.25) < 0.05

    s1 = {r["doc_id"] for r in hash_sample(ids, 0.1).collect()}
    s2 = {r["doc_id"] for r in hash_sample(ids.repartition(7), 0.1).collect()}
    assert s1 == s2
    assert abs(len(s1) / 2000 - 0.1) < 0.03
    # a different salt draws a different (still deterministic) subset
    s3 = {r["doc_id"] for r in hash_sample(ids, 0.1, salt="other").collect()}
    assert s3 != s1


def test_domain_stats(spark):
    from pdf_to_epub_spark.operators import domain_stats, registrable_domain
    from pyspark.sql import functions as FF

    rows = [
        (0, "http://a.news.example.com/x", "aaaa"),
        (1, "https://b.example.com/y", "bb"),
        (2, "http://example.com/z", "c"),
        (3, "http://other.org/w", "dd"),
        (4, "http://localhost/q", "e"),  # single-label host falls back whole
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, text string")
    doms = {
        r["doc_id"]: r["d"]
        for r in df.select("doc_id", registrable_domain(FF.col("url")).alias("d")).collect()
    }
    assert doms == {
        0: "example.com", 1: "example.com", 2: "example.com",
        3: "other.org", 4: "localhost",
    }
    stats = {r["domain"]: (r["n_docs"], r["total_chars"]) for r in domain_stats(df).collect()}
    assert stats["example.com"] == (3, 7)
    assert stats["other.org"] == (1, 2)


def test_canonicalize_urls(spark):
    from pdf_to_epub_spark.operators import canonicalize_urls

    rows = [
        (0, "HTTP://Example.COM:80/Path/One?utm_source=x&b=2&a=1#frag"),
        (1, "https://A.B.c:443/"),
        (2, "http://x.io"),                       # empty path -> /
        (3, "http://x.io/p?fbclid=Z&z=9&a=1"),    # tracking dropped, sorted
        (4, "http://x.io/Case/Sensitive"),        # path case preserved
        (5, "http://x.io:8080/p"),                # non-default port kept
        (6, "http://x.io/p?utm_a=1&utm_b=2"),     # all params tracking
    ]
    got = {
        r["doc_id"]: r["canon_url"]
        for r in canonicalize_urls(
            spark.createDataFrame(rows, "doc_id long, url string")
        ).collect()
    }
    assert got == {
        0: "http://example.com/Path/One?a=1&b=2",
        1: "https://a.b.c/",
        2: "http://x.io/",
        3: "http://x.io/p?a=1&z=9",
        4: "http://x.io/Case/Sensitive",
        5: "http://x.io:8080/p",
        6: "http://x.io/p",
    }


def test_repetition_signals(spark):
    from pdf_to_epub_spark.operators import repetition_signals

    rows = [
        (0, "alpha beta\nalpha beta\ngamma delta"),        # 1 dup line of 3
        (1, "spam spam spam spam spam"),                   # one bigram everywhere
        (2, "all lines differ\ncompletely here\nreally"),  # no repetition
        (3, "single"),                                     # no bigrams at all
    ]
    out = {
        r["doc_id"]: r
        for r in repetition_signals(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    assert out[0]["dup_line_ratio"] == round(1 / 3, 4)
    assert out[0]["dup_line_char_ratio"] == round(10 / 31, 4)
    # "spam spam" bigram occurs 4×, covers 4*9/24 of the chars
    assert out[1]["top_bigram_char_ratio"] == round(4 * 9 / 24, 4)
    assert out[2]["dup_line_ratio"] == 0.0
    assert out[3]["top_bigram_char_ratio"] == 0.0


def test_incremental_near_dups(dup_corpus, tmp_path):
    """Signature-store reuse: the incremental path must (a) NOT rewrite or
    recompute the old corpus's signatures — the store's original parquet
    parts stay byte-identical and the append adds exactly one row per
    pending doc — and (b) produce the same pairs as the batch run
    restricted to pairs touching a new id."""
    import os

    from pdf_to_epub_spark.operators import (
        incremental_near_dup_pairs,
        minhash_signatures,
    )

    old = dup_corpus.where("doc_id < 100")
    new = dup_corpus.where("doc_id >= 100")
    store = str(tmp_path / "signatures")
    minhash_signatures(old, k=3, num_hashes=32).write.parquet(store)
    before = {
        f: os.stat(os.path.join(store, f)).st_mtime_ns
        for f in os.listdir(store)
        if f.endswith(".parquet")
    }

    got = incremental_near_dup_pairs(
        dup_corpus, new.select("doc_id"), store,
        k=3, num_hashes=32, bands=8, jaccard_threshold=0.5,
    )
    found = {(r["id_a"], r["id_b"]) for r in got.collect()}
    assert (0, 100) in found and (1, 101) in found

    # old parquet parts untouched; appended rows == pending count
    after = {
        f: os.stat(os.path.join(store, f)).st_mtime_ns
        for f in os.listdir(store)
        if f.endswith(".parquet")
    }
    assert set(before) <= set(after)
    for f, mtime in before.items():
        assert after[f] == mtime, f"old signature part rewritten: {f}"
    spark = dup_corpus.sparkSession
    assert spark.read.parquet(store).count() == dup_corpus.count()
    assert len(after) > len(before)

    # parity with the batch run restricted to new-touching pairs
    batch = minhash_candidate_pairs(
        dup_corpus, k=3, num_hashes=32, bands=8, jaccard_threshold=0.5
    )
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    expected = {
        (r["id_a"], r["id_b"])
        for r in batch.collect()
        if r["id_a"] in new_ids or r["id_b"] in new_ids
    }
    assert found == expected


def test_ngram_jaccard(dup_corpus):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             ngram_jaccard_pairs(dup_corpus, k=3, threshold=0.5).collect()}
    assert pairs.get((0, 100)) == 1.0
    assert (1, 101) in pairs


def test_simhash_near_pairs(dup_corpus):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
             simhash_near_pairs(dup_corpus, max_hamming=6).collect()}
    assert pairs.get((0, 100)) == 0  # identical text → identical simhash
    assert (1, 101) in pairs  # one token changed → tiny hamming distance


@pytest.fixture(scope="module")
def vectors(spark):
    rng = random.Random(11)
    rows = []
    for i in range(200):
        v = [rng.gauss(0, 1) for _ in range(16)]
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()


def _cos(a, b):
    dot = sum(x * y for x, y in zip(a, b))
    return dot / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))


def test_brute_force_topk_exact(vectors):
    queries = vectors.where("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = brute_force_topk(vectors, queries, k=5).collect()
    data = {r["vec_id"]: r["embedding"] for r in vectors.collect()}
    for qid in range(3):
        expected = sorted(
            ((round(_cos(data[qid], v), 6), i) for i, v in data.items()),
            key=lambda t: (-t[0], t[1]),
        )[:5]
        mine = sorted(
            [(r["score"], r["vec_id"]) for r in got if r["query_id"] == qid],
            key=lambda t: (-t[0], t[1]),
        )
        assert [i for _, i in mine] == [i for _, i in expected]
        assert mine[0][1] == qid and abs(mine[0][0] - 1.0) < 1e-5


def test_lsh_topk_recall(vectors):
    queries = vectors.where("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = lsh_topk(vectors, queries, dim=16, k=3, bits=6)
    rows = got.collect()
    # self-match must be in its own bucket → rank 1 score ~1.0
    top1 = {r["query_id"]: r for r in rows if r["rank"] == 1}
    assert set(top1) == set(range(5))
    for qid, r in top1.items():
        assert r["vec_id"] == qid


def test_embedding_near_duplicates(spark, vectors):
    # plant a near-duplicate of vec 0
    base = vectors.where("vec_id = 0").collect()[0]["embedding"]
    dup = [x * 1.001 for x in base]
    extra = spark.createDataFrame([(999, dup)], "vec_id long, embedding array<float>")
    pairs = embedding_near_duplicates(vectors.union(extra), dim=16, threshold=0.99)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 999) in found


def test_textstats(spark):
    rows = [
        (1, "The cat and the dog walked to the house and it was warm.", "en"),
        (2, "Le chat et le chien est dans la maison et il est content.", "fr"),
        (3, "der hund und die katze ist nicht da und das ist gut", "de"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    guessed = {r["doc_id"]: r["lang_guess"] for r in guess_language(df).collect()}
    assert guessed == {1: "en", 2: "fr", 3: "de"}

    stats = with_token_stats(df).collect()
    for r in stats:
        assert r["n_tokens"] >= r["n_words"] > 5

    q = quality_features(df).collect()
    for r in q:
        assert 0.5 < r["alpha_ratio"] < 1.0
        assert 0 <= r["punct_ratio"] < 0.2
        assert r["stopword_ratio"] >= 0.0

    fp = document_fingerprint(df).collect()
    assert len({r["fingerprint"] for r in fp}) == 3
    # normalization invariance: whitespace/case changes don't move the print
    df2 = spark.createDataFrame(
        [(1, "  THE cat and the dog walked to the house and it was warm. ")],
        "doc_id long, text string",
    )
    fp2 = document_fingerprint(df2).collect()[0]["fingerprint"]
    assert fp2 == {r["doc_id"]: r["fingerprint"] for r in fp}[1]


def test_ivf_topk(vectors):
    from pdf_to_epub_spark.operators.similarity import ivf_topk

    queries = vectors.where("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = ivf_topk(vectors, queries, k=3, n_centroids=8, nprobe=2, sample_size=200)
    rows = got.collect()
    top1 = {r["query_id"]: r for r in rows if r["rank"] == 1}
    # self-match lives in its own cell -> must be found with rank 1, score ~1
    assert set(top1) == set(range(5))
    for qid, r in top1.items():
        assert r["vec_id"] == qid and abs(r["score"] - 1.0) < 1e-5
    # probing ALL cells degrades to brute force exactly
    from pdf_to_epub_spark.operators import brute_force_topk

    full = ivf_topk(vectors, queries, k=3, n_centroids=8, nprobe=8, sample_size=200)
    brute = brute_force_topk(vectors, queries, k=3)
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, brute.collect()))


def test_ann_recall_floors(vectors):
    """Recall@k of the two approximate ANN paths vs the brute-force oracle
    at fixed seeds — the auditability check VERDICT r1 asked for.  Floors
    are intentionally below the measured values (lsh ≈ 0.9, ivf ≈ 0.75 on
    this 200×16 corpus) to absorb seed-stable-but-config-sensitive drift;
    determinism itself is asserted exactly."""
    from pdf_to_epub_spark.operators.similarity import ivf_topk, topk_recall

    queries = vectors.where("vec_id < 10").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(vectors, queries, k=5)
    lsh = lsh_topk(vectors, queries, dim=16, k=5, bits=4, n_tables=8)
    ivf = ivf_topk(vectors, queries, k=5, n_centroids=8, nprobe=4, sample_size=200)
    r_lsh = topk_recall(exact, lsh, k=5)
    r_ivf = topk_recall(exact, ivf, k=5)
    assert r_lsh >= 0.6, f"lsh recall@5 {r_lsh}"
    assert r_ivf >= 0.6, f"ivf recall@5 {r_ivf}"
    # determinism: identical re-runs produce identical result sets
    again = lsh_topk(vectors, queries, dim=16, k=5, bits=4, n_tables=8)
    assert sorted(map(tuple, lsh.collect())) == sorted(map(tuple, again.collect()))
    ivf_again = ivf_topk(vectors, queries, k=5, n_centroids=8, nprobe=4, sample_size=200)
    assert sorted(map(tuple, ivf.collect())) == sorted(map(tuple, ivf_again.collect()))


def test_drop_near_duplicates(dup_corpus):
    """Greedy near-dup removal keeps the lowest id of each pair chain."""
    from pdf_to_epub_spark.operators import drop_near_duplicates

    kept = drop_near_duplicates(
        dup_corpus, k=3, num_hashes=32, bands=8, jaccard_threshold=0.6
    )
    ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    all_ids = {r["doc_id"] for r in dup_corpus.select("doc_id").collect()}
    # the mutated twins (higher ids) vanish, originals survive
    assert ids < all_ids
    dropped = all_ids - ids
    assert dropped and all(i > min(all_ids) for i in dropped)
    # idempotent: a second pass drops nothing
    again = drop_near_duplicates(
        kept, k=3, num_hashes=32, bands=8, jaccard_threshold=0.6
    )
    assert again.count() == len(ids)


def test_ann_recall_on_clustered_data(spark):
    """Uniform-random vectors are ANN's worst case (recall ≈ fraction
    examined); on clustered data — the realistic embedding shape — the
    same LSH/IVF configs must recover most true neighbors, because true
    neighbors share a cluster and clusters map to few buckets/cells."""
    from pdf_to_epub_spark.operators.similarity import ivf_topk, topk_recall

    rng = random.Random(5)
    centers = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(8)]
    rows = []
    for i in range(400):
        c = centers[i % 8]
        rows.append((i, [float(x + rng.gauss(0, 0.15)) for x in c]))
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()
    queries = vecs.where("vec_id < 10").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(vecs, queries, k=10)
    lsh = lsh_topk(vecs, queries, dim=16, k=10, bits=4, n_tables=8)
    ivf = ivf_topk(vecs, queries, k=10, n_centroids=8, nprobe=2, sample_size=400)
    r_lsh = topk_recall(exact, lsh, k=10)
    r_ivf = topk_recall(exact, ivf, k=10)
    assert r_lsh >= 0.9, f"clustered lsh recall {r_lsh}"
    assert r_ivf >= 0.9, f"clustered ivf recall {r_ivf}"


# ---------------------------------------------------------------------------
# Sequence packing (operators/packing.py)
# ---------------------------------------------------------------------------

def _word_doc(n_words: int, tag: str) -> str:
    return " ".join(f"{tag}{i}" for i in range(n_words))


class TestPackSequences:
    def _assignments(self, spark, rows, max_tokens=10, n_shards=1):
        from pdf_to_epub_spark.operators import pack_sequences

        df = spark.createDataFrame(rows, "doc_id long, text string")
        return {
            r["doc_id"]: (r["shard"], r["seq_id"], r["tok"])
            for r in pack_sequences(
                df, max_tokens=max_tokens, n_shards=n_shards
            ).collect()
        }

    def test_greedy_fill_and_reset(self, spark):
        # single shard: docs of 4,4,4 words at cap 10 -> [0,0,1]
        rows = [(i, _word_doc(4, "w")) for i in range(3)]
        got = self._assignments(spark, rows, max_tokens=10, n_shards=1)
        assert [got[i][1] for i in range(3)] == [0, 0, 1]
        assert all(got[i][2] == 4 for i in range(3))

    def test_overflow_doc_sits_alone(self, spark):
        # 3-word, 15-word (over cap), 3-word -> sequences 0, 1, 2
        rows = [(0, _word_doc(3, "a")), (1, _word_doc(15, "b")),
                (2, _word_doc(3, "c"))]
        got = self._assignments(spark, rows, max_tokens=10, n_shards=1)
        assert [got[i][1] for i in range(3)] == [0, 1, 2]

    def test_zero_token_docs_join_current_sequence(self, spark):
        rows = [(0, _word_doc(9, "a")), (1, "???"), (2, _word_doc(9, "c"))]
        got = self._assignments(spark, rows, max_tokens=10, n_shards=1)
        assert got[1][2] == 0          # punctuation-only doc has 0 word tokens
        assert got[1][1] == got[0][1]  # absorbed into the open sequence
        assert got[2][1] == got[0][1] + 1

    def test_repartition_stable(self, spark):
        from pdf_to_epub_spark.operators import pack_sequences

        rows = [(i, _word_doc(3 + i % 7, "w")) for i in range(40)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        a = sorted(map(tuple, pack_sequences(df, 16, n_shards=4).collect()))
        b = sorted(map(tuple,
                       pack_sequences(df.repartition(13), 16, n_shards=4).collect()))
        assert a == b

    def test_stats_fill_never_exceeds_cap_except_overflow(self, spark):
        from pdf_to_epub_spark.operators import pack_sequences, packed_sequence_stats

        rows = [(i, _word_doc(2 + (i * 5) % 13, "w")) for i in range(60)]
        rows.append((200, _word_doc(40, "big")))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        stats = packed_sequence_stats(pack_sequences(df, 16, n_shards=4), 16)
        for r in stats.collect():
            assert r["fill_tokens"] <= 16 or r["is_overflow"] == 1
            if r["is_overflow"]:
                assert r["n_docs"] == 1  # overflow docs are never co-packed


# ---------------------------------------------------------------------------
# Char-bigram LM quality scoring (operators/lm.py)
# ---------------------------------------------------------------------------

class TestBigramLM:
    def test_natural_text_scores_lower_than_gibberish(self, spark):
        from pdf_to_epub_spark.operators import bigram_lm_scores

        train = spark.createDataFrame(
            [(i, BASE + " " + BASE) for i in range(5)], "doc_id long, text string"
        )
        score_rows = [(0, BASE), (1, "zq xv jk qz wx vj kq zx " * 4)]
        df = spark.createDataFrame(score_rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in bigram_lm_scores(df, train_df=train).collect()}
        nat = got[0]["cost_micro_total"] / got[0]["n_bigrams"]
        gib = got[1]["cost_micro_total"] / got[1]["n_bigrams"]
        assert nat < gib  # in-domain text is cheaper under the model

    def test_short_and_empty_docs_present_with_zero(self, spark):
        from pdf_to_epub_spark.operators import bigram_lm_scores

        df = spark.createDataFrame(
            [(0, "hello world"), (1, "x"), (2, "")], "doc_id long, text string"
        )
        got = {r["doc_id"]: r for r in bigram_lm_scores(df).collect()}
        assert len(got) == 3
        assert (got[1]["n_bigrams"], got[1]["cost_micro_total"]) == (0, 0)
        assert (got[2]["n_bigrams"], got[2]["cost_micro_total"]) == (0, 0)

    def test_unseen_bigram_floor_and_unseen_context_uniform(self, spark):
        import math

        from pyspark.sql import functions as F

        from pdf_to_epub_spark.operators import bigram_lm_scores

        train = spark.createDataFrame([(0, "abab")], "doc_id long, text string")
        # "ac": 'a' seen as context (n_a=2) but bigram unseen -> floor
        # "zz": 'z' never seen as context -> uniform -ln(1/28)
        df = spark.createDataFrame([(0, "ac"), (1, "zz")], "doc_id long, text string")
        got = {r["doc_id"]: r for r in bigram_lm_scores(df, train_df=train).collect()}
        floor = round(-math.log(1.0 / (2 + 28.0)) * 1e6)
        uniform = round(math.log(28.0) * 1e6)
        assert got[0]["cost_micro_total"] == floor
        assert got[1]["cost_micro_total"] == uniform

    def test_exact_hand_model(self, spark):
        import math

        from pdf_to_epub_spark.operators import bigram_lm_scores

        # corpus "aab": bigrams aa, ab; contexts: a->2
        df = spark.createDataFrame([(0, "aab")], "doc_id long, text string")
        r = bigram_lm_scores(df).collect()[0]
        exp = round(-math.log(2.0 / 30.0) * 1e6) * 2  # both bigrams cost equal
        assert (r["n_bigrams"], r["cost_micro_total"]) == (2, exp)

    def test_repartition_stable(self, spark):
        from pdf_to_epub_spark.operators import bigram_lm_scores

        rows = [(i, (BASE + f" tail{i}") * 2) for i in range(20)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        a = sorted(map(tuple, bigram_lm_scores(df).collect()))
        b = sorted(map(tuple, bigram_lm_scores(df.repartition(7)).collect()))
        assert a == b

    def test_packed_texts_order_and_separator(self, spark):
        from pdf_to_epub_spark.operators import packed_texts

        rows = [(2, "beta doc"), (0, "alpha doc"), (1, "middle doc")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = packed_texts(df, max_tokens=100, n_shards=1, sep=" <EOS> ").collect()
        assert len(out) == 1
        assert out[0]["text"] == "alpha doc <EOS> middle doc <EOS> beta doc"
        assert out[0]["n_docs"] == 3

    def test_arrow_and_sql_engines_agree(self, spark):
        """The Arrow scorer matches the entry contract's DuckDB oracle SQL
        row-for-row on the edge rows (non-ASCII, one-char, empty,
        symbol-only)."""
        import duckdb
        import pandas as pd

        import __spark_entry__ as entrymod
        from pdf_to_epub_spark.operators import bigram_lm_scores

        rows = [(i, (BASE + f" Zörk-{i}! ") * 3) for i in range(15)]
        rows += [(100, "x"), (101, ""), (102, "???! 42")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        a = sorted(map(tuple, bigram_lm_scores(df).collect()))
        con = duckdb.connect()
        try:
            con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
            s = sorted(con.execute(entrymod.oracle_sql()["bigram_lm_scores"]).fetchall())
        finally:
            con.close()
        assert a == s


# ---------------------------------------------------------------------------
# Domain quotas and vocab/OOV
# ---------------------------------------------------------------------------

class TestDomainQuota:
    @pytest.fixture(scope="class")
    def domain_df(self, spark):
        rows = [(i, "hot.com" if i < 80 else f"cold{i % 5}.com") for i in range(100)]
        return spark.createDataFrame(rows, "doc_id long, domain string")

    def test_exact_cap_exactly_min_cap_n(self, spark, domain_df):
        from pdf_to_epub_spark.operators import domain_caps_exact

        out = domain_caps_exact(domain_df, cap=10).groupBy("domain").count()
        got = {r["domain"]: r["count"] for r in out.collect()}
        assert got["hot.com"] == 10
        assert all(v == 4 for d, v in got.items() if d != "hot.com")

    def test_quota_bounds_and_determinism(self, spark, domain_df):
        from pdf_to_epub_spark.operators import domain_quota_sample

        a = sorted(r["doc_id"] for r in domain_quota_sample(domain_df, cap=10).collect())
        b = sorted(
            r["doc_id"]
            for r in domain_quota_sample(domain_df.repartition(9), cap=10).collect()
        )
        assert a == b  # membership is partitioning-independent
        # small domains (4 docs < cap 10) are kept whole (rate clamps to 1)
        kept = domain_quota_sample(domain_df, cap=10)
        cold = kept.where(kept["domain"] != "hot.com").count()
        assert cold == 20

    def test_exact_caps_subset_is_hash_minimal(self, spark, domain_df):
        from pdf_to_epub_spark.operators import domain_caps_exact
        from pdf_to_epub_spark.operators.dedup import md5_hash60
        from pyspark.sql import functions as F

        kept = {
            r["doc_id"]
            for r in domain_caps_exact(domain_df, cap=10)
            .where("domain = 'hot.com'")
            .collect()
        }
        hashes = {
            r["doc_id"]: r["h"]
            for r in domain_df.where("domain = 'hot.com'")
            .select(
                "doc_id",
                md5_hash60(
                    F.concat_ws(":", F.lit("quota"), F.col("doc_id").cast("string"))
                ).alias("h"),
            )
            .collect()
        }
        expected = set(sorted(hashes, key=lambda i: (hashes[i], i))[:10])
        assert kept == expected

    def test_exact_cap_hot_domain_spreads_over_salt_buckets(self, spark):
        """Skew safety of the two-phase exact cap: a domain that dwarfs all
        others must (a) keep the same rows as a single global-rank window
        and (b) have its rank work partitioned on (domain, bucket), with
        the hot domain's rows actually spanning several hash-prefix
        buckets — i.e. more than one task carries the hot key."""
        from pyspark.sql.window import Window

        from pdf_to_epub_spark.operators import domain_caps_exact
        from pdf_to_epub_spark.operators.dedup import md5_hash60

        rows = [(i, "hot.com" if i < 5000 else f"cold{i % 7}.com")
                for i in range(5100)]
        df = spark.createDataFrame(rows, "doc_id long, domain string")
        capped = domain_caps_exact(df, cap=100, salt_bits=3)

        # (b) the rank exchange partitions on (domain, __s), not domain alone
        plan = capped._jdf.queryExecution().executedPlan().toString()
        assert "hashpartitioning" in plan and "__s" in plan, plan[:3000]

        got = {r["doc_id"] for r in capped.where("domain = 'hot.com'").collect()}
        # (a) identical to the reference single-window rank
        h = md5_hash60(
            F.concat_ws(":", F.lit("quota"), F.col("doc_id").cast("string"))
        )
        w = Window.partitionBy("domain").orderBy(h.asc(), F.col("doc_id").asc())
        ref = {
            r["doc_id"]
            for r in df.withColumn("rn", F.row_number().over(w))
            .where("rn <= 100 and domain = 'hot.com'")
            .collect()
        }
        assert got == ref
        # the hot domain's RANK WORK (all its rows, not just the kept ones —
        # the kept minimum-hash rows naturally concentrate in the lowest
        # prefix bucket) spans every hash-prefix bucket, i.e. 2^salt_bits
        # tasks carry the hot key's sort instead of one
        buckets = {
            r["s"]
            for r in df.where("domain = 'hot.com'")
            .select(F.shiftright(h, 57).alias("s"))
            .collect()
        }
        assert len(buckets) == 8, buckets
        # cold domains are kept whole (< cap), null-safety of the offset join
        assert capped.count() == 100 + 100


class TestVocabOov:
    def test_vocab_topk_and_tiebreak(self, spark):
        from pdf_to_epub_spark.operators import build_vocab

        df = spark.createDataFrame(
            [(0, "aa bb aa cc bb aa zz")], "doc_id long, text string"
        )
        v = [r["word"] for r in build_vocab(df, k=2).collect()]
        assert v == ["aa", "bb"]  # count desc, then word asc

    def test_oov_counts(self, spark):
        from pdf_to_epub_spark.operators import oov_rates

        df = spark.createDataFrame(
            [(0, "aa aa bb rarex"), (1, "bb rarey rarey"), (2, "")],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: (r["n_words"], r["n_oov"])
               for r in oov_rates(df, k=2).collect()}
        # counts: aa=2, bb=2, rarey=2, rarex=1 -> vocab (k=2, count desc
        # then word asc) = {aa, bb}
        assert got[0] == (4, 1)
        assert got[1] == (3, 2)
        assert got[2] == (0, 0)


class TestNormalizeUnicode:
    def test_nfc_composes_and_flags(self, spark):
        from pdf_to_epub_spark.operators import normalize_unicode

        rows = [(0, "café"), (1, "plain ascii"), (2, None)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in normalize_unicode(df).collect()}
        assert got[0]["text_norm"] == "café" and got[0]["changed"]
        assert got[1]["text_norm"] == "plain ascii" and not got[1]["changed"]
        assert got[2]["text_norm"] is None and got[2]["changed"] is None

    def test_nfkc_folds_compatibility_chars(self, spark):
        from pdf_to_epub_spark.operators import normalize_unicode

        df = spark.createDataFrame(
            [(0, "ﬁn 2¹")], "doc_id long, text string"
        )
        r = normalize_unicode(df, form="NFKC").collect()[0]
        assert r["text_norm"] == "fin 21" and r["changed"]


class TestNewOpPlans:
    """Plan shapes pinned: these are the scale claims PLANS.md makes."""

    def test_lm_arrow_scoring_plan_has_no_exchange(self, spark):
        from pdf_to_epub_spark.operators import bigram_lm_scores

        df = spark.createDataFrame(
            [(i, BASE) for i in range(10)], "doc_id long, text string"
        )
        scores = bigram_lm_scores(df, train_df=df.limit(5))
        plan = scores._jdf.queryExecution().executedPlan().toString()
        # the model ships in the closure; scoring is scan -> mapInArrow
        assert "Exchange" not in plan, plan[:2000]

    def test_oov_join_is_broadcast(self, spark):
        from pdf_to_epub_spark.operators import oov_rates

        df = spark.createDataFrame(
            [(i, BASE) for i in range(10)], "doc_id long, text string"
        )
        plan = oov_rates(df, k=5)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, plan[:2000]
        assert "SortMergeJoin" not in plan, plan[:2000]

    def test_quota_plan_has_no_window(self, spark):
        from pdf_to_epub_spark.operators import domain_quota_sample

        df = spark.createDataFrame(
            [(i, f"d{i % 3}.com") for i in range(30)], "doc_id long, domain string"
        )
        plan = (
            domain_quota_sample(df, cap=5)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Window" not in plan, plan[:2000]
        assert "BroadcastHashJoin" in plan, plan[:2000]


def test_quality_gate_arrow_matches_sql_and_is_shuffle_free(spark):
    """The fused gate (per-row Arrow bigram histogram, zero shuffles) must
    be value-identical to the audited gopher ⋈ repetition composition on
    the whitespace/tokenization edge corpus, and its physical plan must
    contain no Exchange."""
    from pdf_to_epub_spark.operators import (
        gopher_quality,
        quality_gate,
        repetition_signals,
    )

    docs = [
        "",
        "   ",
        "\t\t",
        "\tleading tab words here",
        "trailing tab\t",
        "a\r\nb\r\n- bullet\r\n",
        "the quick brown fox of and that have with be to it",
        "Tökens wïth ünïcode and the of be",
        "dup dup dup dup dup the of be and",           # heavy bigram repeat
        "x y x y x y x y the of be and",
        "same line\nsame line\nsame line\nother the of be",
        "a\rb the of be and words",
        "one\n\n\n\ntwo the of be and\n",
        "ab " * 500 + "the of be and",                  # long repeat, ratio ~1
        "w%d " % 7 + " ".join(f"w{i}" for i in range(60)) + " the of be and",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    a = quality_gate(df, id_col="doc_id", min_words=2, max_words=50)
    s = gopher_quality(df, min_words=2, max_words=50).join(
        repetition_signals(df, id_col="doc_id"), "doc_id"
    ).select(
        "doc_id", "text", "keep", "dup_line_ratio", "dup_line_char_ratio",
        "top_bigram_char_ratio",
        (
            F.col("keep")
            & (F.col("dup_line_char_ratio") < 0.2)
            & (F.col("top_bigram_char_ratio") < 0.2)
        ).alias("keep_all"),
    )
    a_rows = sorted(map(tuple, a.collect()))
    s_rows = sorted(map(tuple, s.collect()))
    assert a_rows == s_rows
    # at least one row must actually trip each repetition threshold, or
    # the equality above proves nothing about the fused signals
    trip = [r for r in a.collect() if r["keep"] and not r["keep_all"]]
    assert trip, "edge corpus must exercise the repetition gates"
    plan = a._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:3000]


def test_gopher_regexp_rewrite_matches_original_algebra(spark):
    """The regexp_count-based gopher_quality must be value-identical to the
    original split/filter/aggregate algebra on every edge the rewrite
    reasons about: blank/whitespace-only docs, leading tabs (split's
    empty-token quirk), CRLF, \\x0B/\\f lines, bullet/ellipsis lines,
    control chars, unicode words."""
    from pyspark.sql import functions as FF

    from pdf_to_epub_spark.operators import gopher_quality

    docs = [
        "",
        "   ",
        "\t\t",
        "\tleading tab words here",
        "trailing tab\t",
        "a\r\nb\r\n- bullet\r\n",
        "line one\n\x0b\n\f\n...\n",
        "- a\n- b\n- c\n",
        "ends with dots...   \nnext...\t\n",
        "the quick brown fox of and that have with be to it",
        "Tökens wïth ünïcode and the of be",
        "### ## #\nthe of\n",
        "one\n\n\n\ntwo\n",
        "\x01control\x02 chars the of be and",
        "juxtaposed...words the of be and",
        "• unicode bullet\n* star\n- dash\nplain\n",
        # lone \r / NEL / LS / PS are NOT line breaks for split('\n') —
        # (?d) in the rewrite must keep Java MULTILINE from treating them
        # as terminators (a real divergence caught in review)
        "a\rb the of be and words",
        "x...\rdef the of and be",
        "one two the of be and",
        "nelline the of be and",
        "dots... tail the of be and",
        "nel\u0085line the of be and",
        "ls\u2028sep... the of be and",
        "- b\u2029- c the of be and",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    got = gopher_quality(df, min_words=2, max_words=50)

    # original algebra, verbatim
    text_col = "text"
    words = FF.split(FF.trim(FF.col(text_col)), r"\s+")
    n_words = FF.size(words)
    mean_wlen = FF.aggregate(
        words, FF.lit(0).cast("long"), lambda acc, w: acc + FF.length(w)
    ) / FF.greatest(n_words, FF.lit(1)).cast("double")
    n_hash = FF.length(FF.col(text_col)) - FF.length(
        FF.regexp_replace(FF.col(text_col), "#", "")
    )
    n_ellipsis = FF.regexp_count(FF.col(text_col), FF.lit(r"\.\.\."))
    symbol_ratio = (n_hash + n_ellipsis) / FF.greatest(n_words, FF.lit(1)).cast("double")
    lines = FF.filter(FF.split(FF.col(text_col), "\n"), lambda l: l.rlike(r"[^ \t\r]"))
    n_lines = FF.greatest(FF.size(lines), FF.lit(1)).cast("double")
    bullet_ratio = FF.size(FF.filter(lines, lambda l: l.rlike(r"^\s*[•\-\*]"))) / n_lines
    ellipsis_ratio = FF.size(FF.filter(lines, lambda l: l.rlike(r"\.\.\.\s*$"))) / n_lines
    alpha_ratio = FF.size(
        FF.filter(words, lambda w: w.rlike("[A-Za-zÀ-ÖØ-öø-ÿ]"))
    ) / FF.greatest(n_words, FF.lit(1)).cast("double")
    from pdf_to_epub_spark.operators.textstats import GOPHER_STOPWORDS, _tokens

    stops = FF.array(*[FF.lit(s) for s in GOPHER_STOPWORDS])
    stop_hits = FF.size(FF.array_intersect(FF.array_distinct(_tokens(text_col)), stops))
    ref = df.select(
        "doc_id",
        n_words.alias("n_words_g"),
        FF.round(mean_wlen, 4).alias("mean_word_len_g"),
        FF.round(symbol_ratio, 4).alias("symbol_ratio"),
        FF.round(bullet_ratio, 4).alias("bullet_line_ratio"),
        FF.round(ellipsis_ratio, 4).alias("ellipsis_line_ratio"),
        FF.round(alpha_ratio, 4).alias("alpha_word_ratio"),
        stop_hits.alias("stopword_hits"),
    )
    cols = ref.columns
    a = {r["doc_id"]: tuple(r[c] for c in cols[1:]) for r in got.select(*cols).collect()}
    b = {r["doc_id"]: tuple(r[c] for c in cols[1:]) for r in ref.collect()}
    for i in sorted(b):
        assert a[i] == b[i], (i, docs[i][:40], a[i], b[i])


class TestDedupLinesGlobal:
    def test_keep_first_blank_passthrough_and_rebuild(self, spark):
        from pdf_to_epub_spark.operators import dedup_lines_global

        docs = [
            (1, "alpha\nshared line\n\nbeta"),
            (2, "shared line\ngamma\n   \nshared line"),
            (3, "delta"),
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {r["doc_id"]: r for r in dedup_lines_global(df).collect()}
        # doc 1 owns the first occurrence of "shared line" (doc_id order)
        assert got[1]["text"] == "alpha\nshared line\n\nbeta"
        # doc 2 loses both copies; blanks survive
        assert got[2]["text"] == "gamma\n   "
        assert (got[2]["n_lines"], got[2]["n_kept"]) == (4, 2)
        assert got[3]["text"] == "delta"

    def test_within_doc_repeats_collapse_to_first(self, spark):
        from pdf_to_epub_spark.operators import dedup_lines_global

        df = spark.createDataFrame(
            [(7, "x\nx\nx\ny")], "doc_id long, text string"
        )
        r = dedup_lines_global(df).collect()[0]
        assert r["text"] == "x\ny" and r["n_kept"] == 2

    def test_partitioning_invariance(self, spark):
        from pdf_to_epub_spark.operators import dedup_lines_global

        docs = [(i, f"common header\nbody {i}\ncommon footer") for i in range(20)]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        a = sorted(map(tuple, dedup_lines_global(df).collect()))
        b = sorted(map(tuple, dedup_lines_global(df.repartition(11)).collect()))
        assert a == b
        got = dict((t[0], t[1]) for t in a)
        assert got[0] == "common header\nbody 0\ncommon footer"
        assert got[5] == "body 5"  # header/footer deduped away


def test_filter_blocked_urls(spark):
    from pdf_to_epub_spark.operators import filter_blocked_urls

    rows = [
        (0, "http://www.bad.com/x"),
        (1, "https://sub.deep.bad.com/y"),   # registrable domain bad.com
        (2, "http://good.org/z"),
        (3, "http://badcom.org/w"),          # not bad.com — must survive
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    blocked = spark.createDataFrame([("bad.com",)], "domain string")
    kept = {r["doc_id"] for r in filter_blocked_urls(df, blocked).collect()}
    assert kept == {2, 3}


def test_quota_keeps_unknown_and_null_domains(spark):
    from pdf_to_epub_spark.operators import domain_quota_sample

    rows = [(i, "known.com") for i in range(10)]
    rows += [(100, "newtoday.com"), (101, None)]
    df = spark.createDataFrame(rows, "doc_id long, domain string")
    caps = spark.createDataFrame(
        [("known.com", 1000)], "domain string, n_domain long"
    )
    kept = {
        r["doc_id"] for r in domain_quota_sample(df, caps=caps, cap=5).collect()
    }
    # domains absent from caps (and null domains) are never dropped
    assert 100 in kept and 101 in kept


def test_connected_components_string_ids(spark):
    """url-keyed clustering (the pipelines' id type): a 3-hop chain must
    fully converge — the old sum-of-labels convergence check could not
    even evaluate on strings."""
    from pdf_to_epub_spark.operators import connected_components

    edges = spark.createDataFrame(
        [("u://a", "u://b"), ("u://b", "u://c"), ("u://c", "u://d")],
        "id_a string, id_b string",
    )
    ids = spark.createDataFrame(
        [(u,) for u in ("u://a", "u://b", "u://c", "u://d", "u://solo")],
        "doc_id string",
    )
    got = {r["doc_id"]: r["component"]
           for r in connected_components(edges, ids).collect()}
    assert got == {"u://a": "u://a", "u://b": "u://a", "u://c": "u://a",
                   "u://d": "u://a", "u://solo": "u://solo"}


def test_incremental_recrawl_changed_text_is_deterministic(spark, tmp_path):
    """A url re-appearing with changed text must not make candidate or
    output pairs vary run to run: the store and corpus each resolve to one
    version by content-hash arg-max (operators/dedup.incremental_pair_batch)."""
    from pdf_to_epub_spark.operators.dedup import incremental_pair_batch

    base = (BASE + " tail one two three four five six seven eight nine ten")
    day1 = spark.createDataFrame(
        [("u://a", base), ("u://b", base + " extra")], "url string, text string"
    )
    store = str(tmp_path / "sigs")
    incremental_pair_batch(
        spark, day1, day1, store, id_col="url", k=3, num_hashes=32, bands=8,
        jaccard_threshold=0.5,
    ).collect()

    # day 2: u://a re-crawled with CHANGED text; corpus holds both versions
    day2_new = spark.createDataFrame(
        [("u://a", base + " changed revision")], "url string, text string"
    )
    corpus_both = day1.union(day2_new)
    outs = []
    for _ in range(2):
        rows = incremental_pair_batch(
            spark, day2_new, corpus_both, str(tmp_path / "sigs2"),
            id_col="url", k=3, num_hashes=32, bands=8, jaccard_threshold=0.5,
        ).collect()
        outs.append(sorted(map(tuple, rows)))
    assert outs[0] == outs[1]
    # exactly one jaccard row per pair (no dual-version duplicates)
    pairs = [r[:2] for r in outs[0]]
    assert len(pairs) == len(set(pairs))


def test_lsh_bucket_stats_reports_over_cap(spark):
    from pdf_to_epub_spark.operators.dedup import lsh_bucket_stats, minhash_signatures

    # 12 identical docs share every band -> every band has a 12-bucket
    df = spark.createDataFrame(
        [(i, BASE) for i in range(12)] + [(100, "completely different words here")],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(df, k=3, num_hashes=32)
    r = lsh_bucket_stats(sigs, num_hashes=32, bands=8, max_bucket=10).collect()[0]
    assert r["max_bucket_size"] == 12
    assert r["n_over_cap"] == 8      # one over-cap bucket per band
    r2 = lsh_bucket_stats(sigs, num_hashes=32, bands=8, max_bucket=4096).collect()[0]
    assert r2["n_over_cap"] == 0


def test_ceil_mul_exact_rational(spark):
    """⌈n·t⌉ must use t's decimal-literal value: float products that round
    up past an exact integer (100 × 0.07 → 7.000000000000001) would ceil
    to 8 and over-tighten the PPJoin prefix/size-ratio bounds by one."""
    import math

    from pdf_to_epub_spark.operators.dedup import _ceil_mul
    from fractions import Fraction

    cases = [(n, t) for n in (1, 7, 99, 100, 1000, 10**6)
             for t in (0.07, 0.1, 0.3, 0.5, 0.7, 0.8, 0.95)]
    df = spark.createDataFrame(cases, "n long, t double")
    for t in {t for _, t in cases}:
        got = {
            r["n"]: r["c"]
            for r in df.where(F.col("t") == t)
            .select("n", _ceil_mul(F.col("n"), t).alias("c"))
            .collect()
        }
        frac = Fraction(str(t))
        for n, c in got.items():
            assert c == math.ceil(Fraction(n) * frac), (n, t, c)
    # the motivating case: naive float ceil gives 8
    assert math.ceil(100 * 0.07) == 8  # the trap exists
    one = spark.range(1).select(_ceil_mul(F.lit(100), 0.07).alias("c")).first()
    assert one["c"] == 7


def test_lsh_bucket_stats_single_scan(spark, tmp_path):
    """The audit must cost one banding pass: ONE scan of the signature
    table and one shuffled groupBy on (band_id, band_hash), not a
    per-band groupBy loop that rescans the signatures ``bands`` times."""
    from pdf_to_epub_spark.operators.dedup import lsh_bucket_stats, minhash_signatures

    df = spark.createDataFrame(
        [(i, BASE + f" tail{i % 3}") for i in range(20)], "doc_id long, text string"
    )
    sigs = minhash_signatures(df, k=3, num_hashes=32)
    sig_path = str(tmp_path / "bucket_stats_sigs")
    sigs.write.mode("overwrite").parquet(sig_path)
    stats = lsh_bucket_stats(
        spark.read.parquet(sig_path), num_hashes=32, bands=8
    )
    plan = stats._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan[:3000]
    # bucket-size groupBy + final single-row agg: two exchanges total
    assert plan.count("Exchange") <= 2, plan[:3000]


def test_lm_partition_thirds_and_edge_docs(spark):
    """CCNet head/middle/tail: thirds by mean cost, no-bigram docs land in
    tail explicitly, and the plan has no global-sort Window (cutoffs come
    from one percentile aggregation broadcast back)."""
    from pdf_to_epub_spark.operators import bigram_lm_scores, lm_partition

    rows = [(i, "the quick brown fox " * (2 + i % 5)) for i in range(30)]
    rows += [(100 + i, "zzq xqz qzx jjw " * 3) for i in range(6)]  # costly
    rows.append((200, ""))   # no bigrams
    rows.append((201, "a"))  # single char: no bigrams
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = lm_partition(bigram_lm_scores(df))
    got = {r["doc_id"]: r["lm_bucket"] for r in out.collect()}
    assert got[200] == "tail" and got[201] == "tail"
    from collections import Counter

    sizes = Counter(got.values())
    assert set(sizes) == {"head", "middle", "tail"}
    # the gibberish docs are the costliest -> all in tail
    assert all(got[100 + i] == "tail" for i in range(6))
    # buckets are thirds up to cutoff ties (+2 explicit no-bigram tails)
    n_scored = len(rows) - 2
    assert sizes["head"] >= n_scored // 6
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan[:3000]
    # deterministic across repartitionings
    again = {
        r["doc_id"]: r["lm_bucket"]
        for r in lm_partition(bigram_lm_scores(df.repartition(7))).collect()
    }
    assert again == got


def test_duplicate_ngram_spans_hand_case(spark):
    """Maximal duplicated spans: two docs share a 10-token run (k=4 →
    7 overlapping duplicated grams merging into ONE [start, end) span per
    doc); a doc repeating a 4-token phrase twice within itself also
    surfaces; unique text yields nothing."""
    from pdf_to_epub_spark.operators import duplicate_ngram_spans

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, "unique lead words " + shared),          # span at tokens 3..13
        (1, shared + " unique tail words"),          # span at tokens 0..10
        (2, "self dup one two three four mid one two three four end"),
        (3, "totally different content with no repeats whatsoever here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["n_tokens"])
        for r in duplicate_ngram_spans(df, k=4).collect()
    }
    assert (0, 3, 13, 10) in got
    assert (1, 0, 10, 10) in got
    # within-doc repeat: "one two three four" at positions 2 and 7 -> two
    # islands (7 > 2 + 4)... adjacent? 7 > 6, so separate spans
    assert (2, 2, 6, 4) in got and (2, 7, 11, 4) in got
    assert not any(d == 3 for d, *_ in got)
    assert len(got) == 4


def test_mask_duplicate_spans(spark):
    """Masking drops exactly the duplicated spans' tokens, preserves case
    and pass-through docs, and is idempotent on its own output."""
    from pdf_to_epub_spark.operators import mask_duplicate_spans

    shared = "Alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, "Unique lead words " + shared),
        (1, shared + " unique tail words"),
        (3, "Totally different content with no repeats whatsoever here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in mask_duplicate_spans(df, k=4).collect()}
    assert out[0]["text"] == "Unique lead words"
    assert out[0]["n_masked_tokens"] == 10
    assert out[1]["text"] == "unique tail words"
    assert out[3]["text"] == rows[2][1] and out[3]["n_masked_tokens"] == 0
    # idempotent: the survivors share no 4-gram anymore
    again = {
        r["doc_id"]: r["text"]
        for r in mask_duplicate_spans(
            spark.createDataFrame(
                [(k, v["text"]) for k, v in out.items()], "doc_id long, text string"
            ),
            k=4,
        ).collect()
    }
    assert again == {k: v["text"] for k, v in out.items()}


def test_extract_outlinks_resolution_and_graph(spark):
    """Crawler-style href resolution: absolute kept, scheme-relative
    inherits the scheme, path-absolute joins the origin, bare-relative
    joins the source directory; fragment/js/mailto/data dropped; the
    domain graph aggregates registrable-domain edges with self-loops."""
    from pdf_to_epub_spark.operators import domain_graph, extract_outlinks

    html = (
        '<html><body>'
        '<a href="https://other.example.com/x">abs</a>'
        "<a href='//cdn.example.net/y'>scheme-rel</a>"
        '<a href="/local/page">path-abs</a>'
        '<a href="sibling.html">rel</a>'
        '<a href="#frag">frag</a>'
        '<a href="javascript:void(0)">js</a>'
        '<a href="mailto:a@b.c">mail</a>'
        '<A HREF="HTTPS://CAPS.example.org/Z">caps</A>'
        "<a href=unquoted.html>legacy unquoted</a>"
        "</body></html>"
    ).encode()
    df = spark.createDataFrame(
        [("https://src.example.com/dir/page.html", bytearray(html))],
        "url string, html binary",
    )
    out = extract_outlinks(df)
    targets = sorted(r["target"] for r in out.collect())
    assert targets == [
        "HTTPS://CAPS.example.org/Z",
        "https://cdn.example.net/y",
        "https://other.example.com/x",
        "https://src.example.com/dir/sibling.html",
        "https://src.example.com/dir/unquoted.html",
        "https://src.example.com/local/page",
    ]
    g = {(r["src_domain"], r["dst_domain"]): r["n_links"]
         for r in domain_graph(out).collect()}
    assert g == {
        ("example.com", "example.com"): 4,
        ("example.com", "example.net"): 1,
        ("example.com", "example.org"): 1,
    }
    # no shuffle before the caller aggregates
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:2000]


def test_page_meta_and_noindex_gate(spark):
    from pdf_to_epub_spark.operators import drop_noindex, page_meta

    rows = [
        (0, b"<html><head><title> My Page </title>"
            b'<meta name="robots" content="noindex, nofollow">'
            b'<link rel="canonical" href="https://c.example/p"></head></html>'),
        (1, b"<html><head><TITLE>Caps</TITLE>"
            b"<meta name='ROBOTS' content='NOFOLLOW'></head></html>"),
        (2, b"<html><head></head><body>no meta at all</body></html>"),
        (3, b"<html><head><meta name=robots content=noindex></head></html>"),
        # reversed attribute order + the 'none' directive (= both flags)
        (4, b'<html><head><meta content="none" name="robots"></head></html>'),
        # multiple robots metas: directives union
        (5, b"<html><head><meta name=robots content=noindex>"
            b'<meta name="robots" content="nofollow"></head></html>'),
        # fetch-failed row: NULL html must carry no directive, not vanish
        (6, None),
    ]
    df = spark.createDataFrame(
        [(i, bytearray(h) if h is not None else None) for i, h in rows],
        "doc_id long, html binary",
    )
    got = {r["doc_id"]: r for r in page_meta(df).collect()}
    assert got[0]["page_title"] == "My Page"
    assert got[0]["page_noindex"] and got[0]["page_nofollow"]
    assert got[0]["page_canonical"] == "https://c.example/p"
    assert got[1]["page_title"] == "Caps"
    assert not got[1]["page_noindex"] and got[1]["page_nofollow"]
    assert got[2]["page_title"] is None and not got[2]["page_noindex"]
    assert got[3]["page_noindex"]  # unquoted attribute form
    assert got[4]["page_noindex"] and got[4]["page_nofollow"]
    assert got[5]["page_noindex"] and got[5]["page_nofollow"]
    assert got[6]["page_noindex"] is False and got[6]["page_nofollow"] is False
    kept = {r["doc_id"] for r in drop_noindex(df).collect()}
    assert kept == {1, 2, 6}
    plan = page_meta(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_domain_rank_hand_graph(spark):
    """PageRank sanity on a hand graph: a sink pointed to by everyone
    outranks the pointers; values match a NumPy-free reference iteration
    to 1e-9; deterministic across repartitioning."""
    from pdf_to_epub_spark.operators import domain_rank

    edges = [("a", "c"), ("b", "c"), ("c", "d"), ("d", "a"), ("b", "d")]
    df = spark.createDataFrame(edges, "src_domain string, dst_domain string")
    got = {r["domain"]: r["rank"] for r in domain_rank(df).collect()}

    # reference: same simple-variant iteration in plain Python
    nodes = sorted({x for e in edges for x in e})
    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    n, d = len(nodes), 0.85
    r = {v: 1.0 / n for v in nodes}
    for _ in range(10):
        nxt = {v: (1 - d) / n for v in nodes}
        for s, t in edges:
            nxt[t] += d * r[s] / out[s]
        r = nxt
    for v in nodes:
        assert abs(got[v] - r[v]) < 1e-9, (v, got[v], r[v])
    assert got["c"] > got["a"] and got["d"] > got["b"]
    again = {
        r2["domain"]: r2["rank"]
        for r2 in domain_rank(df.repartition(5)).collect()
    }
    assert again == got


def test_domain_rank_empty_graph(spark):
    """An emptied-out edge table (filters can empty the graph) returns an
    empty (domain, rank) frame, not a driver-side ZeroDivisionError."""
    from pdf_to_epub_spark.operators import domain_rank

    empty = spark.createDataFrame([], "src_domain string, dst_domain string")
    got = domain_rank(empty)
    assert got.count() == 0
    assert [(f.name, f.dataType.simpleString()) for f in got.schema.fields] == [
        ("domain", "string"), ("rank", "double"),
    ]


def test_robots_rules_and_filter(spark):
    """robots.txt star-group parsing (comments, named groups ignored,
    stacked user-agent lines, empty Disallow, wildcard rules) and the
    conservative per-domain disallow gate."""
    from pdf_to_epub_spark.operators import filter_disallowed, robots_rules

    a_body = (
        "# politeness\n"
        "User-agent: Googlebot\n"
        "Disallow: /gbot-only/\n"
        "\n"
        "User-agent: FooBot\n"
        "User-agent: *\n"
        "Disallow: /private/\n"
        "Disallow: /tmp*junk\n"
        "Disallow:\n"
        "Crawl-delay: 1.5\n"
        "Allow: /private/ok\n"
        "User-agent: Other\n"
        "Disallow: /other/\n"
    )
    robots = spark.createDataFrame(
        [
            ("a.example", a_body),
            ("b.example", "User-agent: Googlebot\nDisallow: /x/\nCrawl-delay: 9\n"),
            ("c.example", "User-agent: *\r\nDisallow: *\r\n"),
            # delay-only star group still yields a (rule-less) row
            ("d.example", "User-agent: *\nCrawl-delay: 4\n"),
        ],
        "domain string, body string",
    )
    rules = {
        r["domain"]: (r["disallow"], r["crawl_delay"])
        for r in robots_rules(robots).collect()
    }
    assert rules == {
        "a.example": (["/private/", "/tmp*junk"], 1.5),
        "c.example": (["*"], None),
        "d.example": ([], 4.0),
    }
    pages = spark.createDataFrame(
        [
            (0, "https://www.a.example/private/doc.html"),   # blocked
            (1, "https://a.example/public/ok.html"),          # kept
            (2, "https://a.example/tmp-X-junk"),              # blocked (prefix /tmp)
            (3, "https://c.example/anything"),                # blocked (*)
            (4, "https://b.example/x/"),                      # kept (no star group)
            (5, "https://unknown.example/whatever"),          # kept (no rules)
            (6, "https://a.example"),                         # kept (path /)
        ],
        "doc_id long, url string",
    )
    kept = {
        r["doc_id"]
        for r in filter_disallowed(pages, robots_rules(robots)).collect()
    }
    assert kept == {1, 4, 5, 6}


def test_anchor_texts_and_top_anchors(spark):
    """Anchor-text pairs: inner tags stripped, whitespace collapsed,
    empty/image anchors and non-fetchable schemes dropped, relative
    targets resolved; the per-domain top-k ranks by count then lexically."""
    from pdf_to_epub_spark.operators import (
        extract_anchor_texts,
        top_anchors_per_domain,
    )

    html = (
        '<html><body>'
        '<a href="https://t.example/a"><b>Click  here</b></a>'
        '<a href="/img"><img src="x.png"></a>'
        '<a href="rel.html">Rel</a>'
        '<a href="mailto:x@y.z">mail</a>'
        '<a href="https://t.example/b">Click here</a>'
        '<a href="https://t.example/c">Also this</a>'
        "</body></html>"
    ).encode()
    df = spark.createDataFrame(
        [("https://src.example/dir/page.html", bytearray(html))],
        "url string, html binary",
    )
    got = sorted(
        (r["target"], r["anchor"]) for r in extract_anchor_texts(df).collect()
    )
    assert got == [
        ("https://src.example/dir/rel.html", "Rel"),
        ("https://t.example/a", "Click here"),
        ("https://t.example/b", "Click here"),
        ("https://t.example/c", "Also this"),
    ]
    top = [
        (r["domain"], r["anchor"], r["n_refs"], r["rank"])
        for r in top_anchors_per_domain(extract_anchor_texts(df), k=1)
        .orderBy("domain")
        .collect()
    ]
    assert top == [
        ("src.example", "Rel", 1, 1),
        ("t.example", "Click here", 2, 1),
    ]


def test_canonical_dedup(spark):
    """Publisher-declared dedup: variants sharing a rel=canonical target
    collapse to the canonical member when present, else to the lexically
    smallest member; pages without a declaration survive untouched."""
    from pdf_to_epub_spark.operators import canonical_dedup

    def page(canonical=None):
        c = (
            f'<link rel="canonical" href="{canonical}">' if canonical else ""
        )
        return bytearray(f"<html><head>{c}</head><body>x</body></html>".encode())

    rows = [
        ("https://d.example/a", page()),
        ("https://d.example/a?utm=1", page("https://d.example/a")),
        ("https://d.example/a-amp", page("https://d.example/a")),
        ("https://d.example/solo", page()),
        ("https://d.example/m1", page("https://x.example/shared")),
        ("https://d.example/m2", page("https://x.example/shared")),
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    kept = sorted(r["url"] for r in canonical_dedup(df).collect())
    assert kept == [
        "https://d.example/a",
        "https://d.example/m1",
        "https://d.example/solo",
    ]
    assert canonical_dedup(df).columns == ["url", "html"]


def test_extract_sitemap_urls(spark):
    """Sitemap scan: urlset locs extracted (CDATA unwrapped, whitespace
    trimmed, non-http dropped), sitemapindex flagged so its locs are
    treated as child sitemaps."""
    from pdf_to_epub_spark.operators import extract_sitemap_urls

    urlset = (
        '<?xml version="1.0"?><urlset xmlns="http://www.sitemaps.org/'
        'schemas/sitemap/0.9"><url><loc> https://a.example/p1 </loc>'
        "<lastmod>2024-01-01</lastmod></url>"
        "<url><loc><![CDATA[ https://a.example/p2 ]]></loc></url>"
        "<url><loc>ftp://a.example/skip</loc></url></urlset>"
    ).encode()
    index = (
        '<?xml version="1.0"?><sitemapindex><sitemap>'
        "<loc>https://a.example/sitemap-1.xml</loc></sitemap></sitemapindex>"
    ).encode()
    df = spark.createDataFrame(
        [
            ("https://a.example/sitemap.xml", bytearray(urlset)),
            ("https://a.example/sitemap_index.xml", bytearray(index)),
        ],
        "url string, xml binary",
    )
    got = sorted(
        (r["url"], r["loc"], r["is_index"])
        for r in extract_sitemap_urls(df).collect()
    )
    assert got == [
        ("https://a.example/sitemap.xml", "https://a.example/p1", False),
        ("https://a.example/sitemap.xml", "https://a.example/p2", False),
        ("https://a.example/sitemap_index.xml",
         "https://a.example/sitemap-1.xml", True),
    ]


def test_crawl_frontier(spark):
    """Frontier = canonicalized distinct outlink targets minus the
    crawled set, capped per registrable domain in lexical order."""
    from pdf_to_epub_spark.operators import crawl_frontier

    html = (
        '<a href="https://t.example/B">1</a>'
        '<a href="https://t.example/A">2</a>'
        '<a href="https://t.example/A#frag-dup">3</a>'
        '<a href="https://t.example/C">4</a>'
        '<a href="https://u.example/only">5</a>'
        '<a href="https://crawled.example/x">6</a>'
    ).encode()
    pages = spark.createDataFrame(
        [("https://src.example/p", bytearray(html))],
        "url string, html binary",
    )
    crawled = spark.createDataFrame(
        [("https://crawled.example/x",), ("https://t.example/C",)],
        "url string",
    )
    got = sorted(
        (r["domain"], r["target"], r["rank"])
        for r in crawl_frontier(pages, crawled, per_domain_limit=2).collect()
    )
    # t.example/C is crawled; A (fragment-dup collapses) and B survive,
    # capped at 2; u.example has its single target
    assert got == [
        ("t.example", "https://t.example/A", 1),
        ("t.example", "https://t.example/B", 2),
        ("u.example", "https://u.example/only", 1),
    ]


def test_web_scans_tolerate_malformed_bytes(spark):
    """A CC-scale scan meets mojibake and mid-codepoint prefix cuts; the
    bounded page scans must treat bad bytes as noise, not raise
    MALFORMED_CHARACTER_CODING (strict decode did)."""
    from pdf_to_epub_spark.operators import extract_outlinks, page_meta

    html = (
        b"<html><head><title>ok\xff\xfe</title></head><body>"
        b'<a href="https://t.example/x">\xc3</a>'  # truncated codepoint
        b"\x80\x81 stray continuation bytes</body></html>"
    )
    df = spark.createDataFrame(
        [("https://src.example/p", bytearray(html))],
        "url string, html binary",
    )
    assert [r["target"] for r in extract_outlinks(df).collect()] == [
        "https://t.example/x"
    ]
    row = page_meta(df).collect()[0]
    assert row["page_title"] is not None and not row["page_noindex"]


def test_review_fix_regressions(spark):
    """Pins for the round-4 review findings: directive tokens (not
    substrings), data-href single-emit, unclosed-anchor containment,
    multi-row robots domains."""
    from pdf_to_epub_spark.operators import (
        extract_anchor_texts,
        extract_outlinks,
        page_meta,
        robots_rules,
    )

    # 'max-image-preview:none' is NOT noindex/nofollow/none
    df = spark.createDataFrame(
        [(0, bytearray(
            b'<html><head><meta name="robots" '
            b'content="max-image-preview:none"></head></html>'))],
        "doc_id long, html binary",
    )
    row = page_meta(df).collect()[0]
    assert row["page_noindex"] is False and row["page_nofollow"] is False

    # data-href must not double-emit; unquoted still extracted
    pages = spark.createDataFrame(
        [("https://s.example/d/p", bytearray(
            b'<a href=page.html data-href="lazy.js">x</a>'))],
        "url string, html binary",
    )
    assert [r["target"] for r in extract_outlinks(pages).collect()] == [
        "https://s.example/d/page.html"
    ]

    # an unclosed <a> drops its own pair, not the next anchor's
    pages2 = spark.createDataFrame(
        [("https://s.example/p", bytearray(
            b'<a href="https://u1.example/">no close '
            b'<a href="https://u2.example/">t2</a>'))],
        "url string, html binary",
    )
    assert [
        (r["target"], r["anchor"])
        for r in extract_anchor_texts(pages2).collect()
    ] == [("https://u2.example/", "t2")]

    # several robots.txt rows for one domain: star groups union, named
    # groups stay excluded, regardless of row interleaving
    robots = spark.createDataFrame(
        [
            ("a.example", "User-agent: *\nDisallow: /a\n"),
            ("a.example", "User-agent: Googlebot\nDisallow: /g\n"),
            ("a.example", "User-agent: *\nDisallow: /b\n"),
        ],
        "domain string, body string",
    ).repartition(3)
    (r,) = robots_rules(robots).collect()
    assert r["domain"] == "a.example" and r["disallow"] == ["/a", "/b"]


def test_recrawl_diff_and_schedule(spark):
    """Snapshot diff statuses over canonicalized URLs, and the
    politeness-aware fetch plan (declared Crawl-delay paces a host,
    default elsewhere)."""
    from pdf_to_epub_spark.operators import crawl_schedule, recrawl_diff

    old = spark.createDataFrame(
        [
            ("https://a.example/p1#frag", "same"),
            ("https://a.example/p2", "will change"),
            ("https://a.example/p3", "will vanish"),
            # variants collapsing to one canonical url: ONE output row
            ("https://a.example/p5", "v"),
            ("https://a.example/p5?utm_source=x", "v"),
            # NULL text is still a PRESENT row (must diff as removed,
            # not resurrect as added)
            ("https://a.example/p6", None),
        ],
        "url string, text string",
    )
    new = spark.createDataFrame(
        [
            ("https://a.example/p1", "same"),
            ("https://a.example/p2", "CHANGED"),
            ("https://a.example/p4", "brand new"),
            ("https://a.example/p5", "v"),
        ],
        "url string, text string",
    )
    rows = recrawl_diff(old, new).collect()
    assert len(rows) == 6  # one row per canonical url
    got = {r["url"]: r["status"] for r in rows}
    assert got == {
        "https://a.example/p1": "unchanged",
        "https://a.example/p2": "changed",
        "https://a.example/p3": "removed",
        "https://a.example/p4": "added",
        "https://a.example/p5": "unchanged",
        "https://a.example/p6": "removed",
    }

    frontier = spark.createDataFrame(
        [("slow.example", "https://slow.example/a", 1),
         ("slow.example", "https://slow.example/b", 2),
         ("fast.example", "https://fast.example/a", 3),
         ("half.example", "https://half.example/a", 2)],
        "domain string, target string, rank int",
    )
    rules = spark.createDataFrame(
        [("slow.example", ["/x"], 2.5),
         ("half.example", [], 0.25)],
        "domain string, disallow array<string>, crawl_delay double",
    )
    sched = {
        r["target"]: r["eta_s"]
        for r in crawl_schedule(frontier, rules).collect()
    }
    assert sched == {
        "https://slow.example/a": 0.0,
        "https://slow.example/b": 2.5,
        "https://fast.example/a": 2.0,  # (3-1) * default 1.0
        "https://half.example/a": 1.0,  # declared 0.25 < default → default
    }


def test_url_quality_features(spark):
    from pdf_to_epub_spark.operators import url_quality_features

    df = spark.createDataFrame(
        [
            ("https://my-spam-site99.example/a/b/c123.html?x=1&y=2&utm_a=z",),
            ("https://clean.example/",),
        ],
        "url string",
    )
    got = {r["url"]: r for r in url_quality_features(df).collect()}
    r1 = got["https://my-spam-site99.example/a/b/c123.html?x=1&y=2&utm_a=z"]
    assert r1["host_len"] == len("my-spam-site99.example")
    assert r1["host_hyphens"] == 2
    assert r1["path_depth"] == 3
    assert r1["n_digits"] == 7 and r1["n_params"] == 3
    assert abs(r1["digit_ratio"] - round(7 / r1["url_len"], 6)) < 1e-9
    r2 = got["https://clean.example/"]
    assert (r2["path_depth"], r2["n_digits"], r2["n_params"]) == (1, 0, 0)
    plan = url_quality_features(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_kmeans_step_converged_sample_is_fixed_point(spark):
    """When the training sample IS the whole corpus and Lloyd's has
    converged on it, the full-pass update moves nothing: every cluster's
    shift is 0 and counts cover the corpus."""
    from pdf_to_epub_spark.operators import kmeans_step

    # two tight, well-separated pairs in 2-D
    rows = [
        (0, [0.0, 0.1]), (1, [0.0, -0.1]),
        (2, [10.0, 0.1]), (3, [10.0, -0.1]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = kmeans_step(df, n_centroids=2, sample_size=4).collect()
    assert sorted(r.n_points for r in out) == [2, 2]
    assert all(r.shift == 0.0 for r in out)
    # inertia = distance from pair mean (0, 0) to each member = 0.1
    assert all(abs(r.mean_dist - 0.1) < 1e-6 for r in out)


def test_kmeans_step_shift_measures_update(spark):
    """A corpus that extends the sample pulls the centroid: sample sees
    only one point of a cluster, full pass averages in the second."""
    from pdf_to_epub_spark.operators import kmeans_step
    from pdf_to_epub_spark.operators.similarity import _kmeans_centroids

    rows = [(i, [float(i % 2) * 10.0, 0.0]) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.cluster_id: r for r in kmeans_step(df, n_centroids=2, sample_size=8).collect()}
    assert sum(r.n_points for r in out.values()) == 8
    # both cells converged on their own members: zero shift again
    assert all(r.shift == 0.0 for r in out.values())


def test_minimizer_guarantee_shared_run(spark):
    """Winnowing guarantee: documents sharing a token run of >= w+k-1
    tokens share at least one minimizer fingerprint."""
    from pdf_to_epub_spark.operators import minimizer_fingerprints

    shared = "alpha beta gamma delta epsilon zeta"  # 6 = w+k-1 tokens
    df = spark.createDataFrame(
        [
            (1, f"unrelated prefix one {shared} tail words here"),
            (2, f"different opening {shared} and a different ending"),
        ],
        ["doc_id", "text"],
    )
    sk = minimizer_fingerprints(df, k=3, w=4).collect()
    a = {r.minimizer for r in sk if r.doc_id == 1}
    b = {r.minimizer for r in sk if r.doc_id == 2}
    assert a & b


def test_minimizer_degenerate_lengths(spark):
    from pdf_to_epub_spark.operators import minimizer_fingerprints

    df = spark.createDataFrame(
        [
            (1, "two words"),              # < k tokens: no grams, no rows
            (2, "exactly three tokens"),   # one gram -> one minimizer
            (3, None),                     # null text: no rows
            (4, "a b c d e f"),            # 4 grams == w: single window
        ],
        "doc_id long, text string",
    )
    rows = minimizer_fingerprints(df, k=3, w=4).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r.minimizer)
    assert 1 not in by_doc and 3 not in by_doc
    assert len(by_doc[2]) == 1
    assert len(by_doc[4]) == 1  # whole gram array is one window


def test_minimizer_pairs_finds_twins(spark):
    from pdf_to_epub_spark.operators import minimizer_overlap_pairs

    base = ("the quick brown fox jumps over the lazy dog again and again "
            "while the storm gathers over the quiet harbor town tonight")
    df = spark.createDataFrame(
        [(1, base), (2, base + " extra"), (3, "totally different short text")],
        ["doc_id", "text"],
    )
    pairs = {(r.id_a, r.id_b) for r in
             minimizer_overlap_pairs(df, min_shared=3).collect()}
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


# ------------------------------------------------------------------- DSIR
def test_dsir_weights_prefer_target_like_docs(spark):
    from pdf_to_epub_spark.operators import dsir_log_weights

    raw = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "le chat est sur le tapis"),
            (3, "the dog sat on the rug"),
            (4, None),
        ],
        ["doc_id", "text"],
    )
    target = raw.where("doc_id in (1, 3)")
    got = {r.doc_id: r for r in dsir_log_weights(raw, target).collect()}
    assert set(got) == {1, 2, 3, 4}
    # "the cat sat": 6 unigrams + 5 bigrams
    assert got[1].n_feats == 11
    assert got[4].n_feats == 0 and got[4].log_weight_micro == 0
    # English docs carry higher importance than the French one
    assert got[1].log_weight_micro > got[2].log_weight_micro
    assert got[3].log_weight_micro > got[2].log_weight_micro


def test_dsir_ratio_table_is_complete_and_broadcast(spark):
    from pdf_to_epub_spark.operators import dsir_log_ratios, dsir_log_weights

    raw = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma")], ["doc_id", "text"]
    )
    ratios = dsir_log_ratios(raw, raw.where("doc_id = 1"), n_buckets=64)
    rows = ratios.collect()
    assert len(rows) == 64  # every bucket present, unseen ones included
    assert all(r.lr_micro is not None for r in rows)
    plan = (
        dsir_log_weights(raw, raw.where("doc_id = 1"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the ratio table reaches the corpus feature stream via broadcast
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# ------------------------------------------------------------- containment
def test_containment_catches_excerpt_jaccard_misses(spark):
    from pdf_to_epub_spark.operators import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    big = " ".join(f"w{i} token{i % 7} filler{i}" for i in range(40))
    excerpt = " ".join(big.split()[:24])  # first fifth of the big doc
    other = "completely unrelated text about different things entirely ok"
    df = spark.createDataFrame(
        [(1, big), (2, excerpt), (3, other)], ["doc_id", "text"]
    )
    got = {
        (r.id_a, r.id_b): r
    for r in containment_pairs(df, k=5, threshold=0.9).collect()}
    assert set(got) == {(1, 2)}
    r = got[(1, 2)]
    assert r.c_b == 1.0  # the excerpt is fully contained in the source
    assert r.c_a < 0.9  # the source is NOT contained in the excerpt
    # Jaccard at the same bar misses the pair entirely
    assert ngram_jaccard_pairs(df, k=5, threshold=0.9).collect() == []


def test_containment_short_doc_fallback_and_rounding(spark):
    from pdf_to_epub_spark.operators import containment_pairs

    # <k tokens: the whole text is the single shingle; identical shorts
    # are mutually contained
    df = spark.createDataFrame(
        [(1, "tiny doc"), (2, "tiny doc"), (3, "tiny other")],
        ["doc_id", "text"],
    )
    got = [
        (r.id_a, r.id_b, r.shared, r.c_a, r.c_b)
        for r in containment_pairs(df, k=5, threshold=0.8).collect()
    ]
    assert got == [(1, 2, 1, 1.0, 1.0)]


# ---------------------------------------------------------------- soft-404
def test_soft404_flags_error_pages_not_articles(spark):
    from pdf_to_epub_spark.operators import soft404_signals

    long_body = " ".join(["word"] * 120)
    df = spark.createDataFrame(
        [
            (1, "Error 404 - Page Not Found", "https://x.example/a"),
            (2, long_body, "https://x.example/b"),
            # long page that MENTIONS an error phrase: not soft-404 unless
            # the URL also looks like an error path
            (3, long_body + " page not found", "https://x.example/c"),
            (4, long_body + " page not found", "https://x.example/404"),
            (5, None, "https://x.example/e"),
        ],
        ["doc_id", "text", "url"],
    )
    got = {r.doc_id: r for r in soft404_signals(df, url_col="url").collect()}
    assert got[1].is_soft404 and got[1].n_error_phrases == 2
    assert not got[2].is_soft404
    assert not got[3].is_soft404  # phrase but long and clean URL
    assert got[4].is_soft404  # phrase + error URL, length irrelevant
    assert not got[5].is_soft404 and got[5].n_word_tokens == 0


# ----------------------------------------------------------------- mixture
def test_mixture_plan_no_upsampling_and_missing_source(spark):
    from pdf_to_epub_spark.operators import mixture_plan

    df = spark.createDataFrame(
        [(i, "a" if i < 80 else "b", 10) for i in range(100)],
        ["doc_id", "source", "n_tok"],
    )
    # a: 800 weight avail, b: 200.  b is the binding source:
    # T* = min(800/0.5, 200/0.5) = 400 -> rate_a = 0.25, rate_b = 1.0
    plan = {r.source: r for r in
            mixture_plan(df, {"a": 0.5, "b": 0.5}, weight_col="n_tok").collect()}
    assert plan["a"].rate == 0.25
    assert plan["b"].rate == 1.0
    # a targeted source absent from the corpus -> every rate collapses to 0
    plan2 = {r.source: r.rate for r in
             mixture_plan(df, {"a": 0.5, "zz": 0.5}).collect()}
    assert plan2 == {"a": 0.0, "zz": 0.0}


def test_apply_mixture_deterministic_and_drops_untargeted(spark):
    from pdf_to_epub_spark.operators import apply_mixture

    df = spark.createDataFrame(
        [(i, ["a", "b", "c"][i % 3]) for i in range(300)],
        ["doc_id", "source"],
    )
    kept1 = sorted(r.doc_id for r in apply_mixture(df, {"a": 0.5, "b": 0.5}).collect())
    kept2 = sorted(
        r.doc_id
        for r in apply_mixture(df.repartition(7), {"a": 0.5, "b": 0.5}).collect()
    )
    assert kept1 == kept2  # partitioning-stable membership
    assert all(i % 3 != 2 for i in kept1)  # source c dropped entirely


def test_dsir_resample_is_weight_biased_and_stable(spark):
    from pdf_to_epub_spark.operators import dsir_resample

    rows = [(i, "the cat sat on the mat again and again") for i in range(30)]
    rows += [(100 + i, "le chat est sur le tapis encore et encore") for i in range(30)]
    raw = spark.createDataFrame(rows, ["doc_id", "text"])
    target = raw.where("doc_id < 100")  # English-side target
    got = dsir_resample(raw, target, k=20).collect()
    assert len(got) == 20
    # selection is biased toward target-like docs
    n_en = sum(1 for r in got if r.doc_id < 100)
    assert n_en >= 15
    # deterministic under repartitioning
    got2 = dsir_resample(raw.repartition(9), target, k=20).collect()
    assert [r.doc_id for r in got] == [r.doc_id for r in got2]


def test_collapse_repeated_lines_keeps_first_and_blanks(spark):
    from pdf_to_epub_spark.operators import collapse_repeated_lines

    df = spark.createDataFrame(
        [(1, "NAV\nbody one\nNAV\n\nbody two\nNAV\n"), (2, None)],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in collapse_repeated_lines(df).collect()}
    assert got[1].text_clean == "NAV\nbody one\n\nbody two\n"
    assert (got[1].n_lines, got[1].n_dropped) == (7, 2)
    assert got[2].text_clean == "" and got[2].n_dropped == 0


def test_term_blocklist_token_sequence_semantics(spark):
    from pdf_to_epub_spark.operators import term_blocklist_signals

    df = spark.createDataFrame(
        [
            # separators between phrase words still count (token adjacency)
            (1, "Click, here! Then click\nhere and CLICK HERE now."),
            # substring inside a longer word must NOT count
            (2, "casinos are not casino halls"),
            (3, "clean page about nothing"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: r
        for r in term_blocklist_signals(df, ("click here", "casino")).collect()
    }
    assert got[1].n_blocklist_hits == 3 and got[1].is_blocked
    assert got[2].n_blocklist_hits == 1  # only the bare 'casino' token
    assert got[3].n_blocklist_hits == 0 and not got[3].is_blocked
    import pytest as _pytest

    with _pytest.raises(ValueError):
        term_blocklist_signals(df, ("Bad-Term!",)).collect()


# --------------------------------------------------------------------- CMS
def test_cms_never_undercounts_and_is_mergeable(spark):
    from pyspark.sql import functions as F
    from pdf_to_epub_spark.operators import cms_estimate, cms_sketch

    df = spark.createDataFrame(
        [(i, "alpha beta " * (i + 1) + "gamma") for i in range(10)],
        ["doc_id", "text"],
    )
    sketch = cms_sketch(df, depth=4, width=64)
    q = spark.createDataFrame(
        [("alpha",), ("gamma",), ("missing",)], ["tok"]
    )
    got = {r.tok: r.cms_est for r in cms_estimate(sketch, q, depth=4, width=64).collect()}
    assert got["alpha"] >= 55  # true count = sum(1..10) = 55
    assert got["gamma"] >= 10
    assert got["missing"] >= 0
    # merging two half-corpus sketches by counter addition == whole sketch
    s1 = cms_sketch(df.where("doc_id < 5"), depth=4, width=64)
    s2 = cms_sketch(df.where("doc_id >= 5"), depth=4, width=64)
    merged = (
        s1.unionByName(s2)
        .groupBy("row", "bucket")
        .agg(F.sum("c").cast("long").alias("c"))
    )
    whole = {(r.row, r.bucket): r.c for r in sketch.collect()}
    assert {(r.row, r.bucket): r.c for r in merged.collect()} == whole


def test_wilson_bound_penalizes_small_samples(spark):
    from pdf_to_epub_spark.operators import domain_quality_rank

    rows = [("tiny.com", True)] * 2  # 2/2 = 100% but tiny
    rows += [("big.com", True)] * 950 + [("big.com", False)] * 50  # 95%
    df = spark.createDataFrame(rows, ["domain", "keep"])
    got = {r.domain: r for r in domain_quality_rank(df).collect()}
    assert got["tiny.com"].quality_rate == 1.0
    assert got["big.com"].quality_rate == 0.95
    # the confident floor reverses the raw-rate ranking
    assert got["big.com"].wilson_lb > got["tiny.com"].wilson_lb
    # sanity: bounds are proper lower bounds in [0, rate]
    for r in got.values():
        assert 0.0 <= r.wilson_lb <= r.quality_rate


def test_bloom_no_false_negatives_and_merge(spark):
    from pdf_to_epub_spark.operators import bloom_build, bloom_probe

    df = spark.createDataFrame(
        [(i, f"u{i}") for i in range(200)], ["doc_id", "url"]
    )
    seen = df.where("doc_id < 100")
    bloom = bloom_build(seen, n_bits=4096, k=5)
    got = {r.doc_id: r.might_contain
           for r in bloom_probe(df, bloom, n_bits=4096, k=5).collect()}
    # every inserted key MUST report present
    assert all(got[i] for i in range(100))
    # at 100 keys / 4096 bits the FP rate is tiny; most absent keys clear
    assert sum(1 for i in range(100, 200) if got[i]) <= 5
    # union of two half-filters == filter of the union
    b1 = bloom_build(df.where("doc_id < 50"), n_bits=4096, k=5)
    b2 = bloom_build(df.where("doc_id >= 50 and doc_id < 100"), n_bits=4096, k=5)
    merged = b1.union(b2).distinct()
    assert (
        sorted(r.bit for r in merged.collect())
        == sorted(r.bit for r in bloom.collect())
    )


def test_containment_max_df_cap_keeps_true_pairs(spark):
    from pdf_to_epub_spark.operators import containment_pairs

    # 'TPL' shingle words appear in EVERY doc (template); each doc keeps
    # a unique tail, and doc 1/2 share their unique content
    tpl = "alpha beta gamma delta epsilon"
    rows = [
        (1, tpl + " unique one two three four five six"),
        (2, tpl + " unique one two three four five six"),
        (3, tpl + " other content entirely different here now"),
        (4, tpl + " fourth body with its own words too ok"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # cap below the template df (4): template shingles leave candidate
    # generation, but 1-2 still pair through their unique shingles
    got = {(r.id_a, r.id_b) for r in
           containment_pairs(df, k=5, threshold=0.9, max_df=3).collect()}
    assert (1, 2) in got
    # pairs related ONLY through the template are gone under the cap
    assert got == {(1, 2)}


def test_containment_default_max_df_is_scale_safe():
    """The DEFAULT must be the capped path (VERDICT r4 weak-mark): an
    uncapped default is a quadratic candidate blow-up on template-heavy
    web corpora — for BOTH shingle-inverted-index pairers (the PPJoin
    prefix does not bound template shingles: same hash → same sorted
    rank region in every doc).  10⁴ is a no-op below 10⁴ docs (df ≤ doc
    count), so small-scale results stay bit-identical to exact."""
    import inspect
    from pdf_to_epub_spark.operators import (
        DEFAULT_SHINGLE_MAX_DF,
        containment_pairs,
        ngram_jaccard_pairs,
    )

    for fn in (containment_pairs, ngram_jaccard_pairs):
        sig = inspect.signature(fn)
        assert sig.parameters["max_df"].default == DEFAULT_SHINGLE_MAX_DF
    assert DEFAULT_SHINGLE_MAX_DF == 10_000


def test_jaccard_cap_semantics_exact(spark):
    """Capped ngram_jaccard_pairs == exact pairs that share at least one
    COLD (df ≤ max_df) shingle — the same property test as containment's
    (the capped path is shared machinery), over a template-heavy corpus
    with varying per-doc hot counts."""
    from pdf_to_epub_spark.operators import ngram_jaccard_pairs
    import random

    rng = random.Random(11)
    tpl = "lorem ipsum dolor sit amet consectetur"
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(14):
        body = " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 12)))
        mid = "shared middle run here" if i % 2 == 0 else ""
        rows.append((i, " ".join(x for x in (tpl, mid, body) if x)))
    rows.append((100, tpl + " planted unique alpha bravo charlie delta"))
    rows.append((101, tpl + " planted unique alpha bravo charlie delta"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    k, t, cap = 3, 0.6, 5

    exact = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            df, k=k, threshold=t, max_df=None
        ).collect()
    }
    capped = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(df, k=k, threshold=t, max_df=cap).collect()
    }

    def shingles(text):
        toks = text.strip().lower().split()
        if len(toks) <= k:
            return {tuple(toks[:k])}
        return {tuple(toks[i : i + k]) for i in range(len(toks) - k + 1)}

    sets = {i: shingles(tx) for i, tx in rows}
    dfreq = {}
    for s in sets.values():
        for sh in s:
            dfreq[sh] = dfreq.get(sh, 0) + 1
    expected = {
        (a, b)
        for (a, b) in exact
        if any(dfreq[sh] <= cap for sh in sets[a] & sets[b])
    }
    assert capped == expected
    assert (100, 101) in capped


def test_containment_df_stats_counts(spark):
    """Audit numbers vs a Python shingle-df reference: n_over_cap and
    hot_occurrences price exactly what the capped operator drops."""
    from pdf_to_epub_spark.operators import containment_df_stats

    tpl = "alpha beta gamma delta epsilon zeta"
    rows = [(i, tpl + f" unique{i} only{i} words{i} here{i}") for i in range(6)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    k = 5

    def shingles(text):
        toks = text.strip().lower().split()
        if len(toks) <= k:
            return {tuple(toks[:k])}
        return {tuple(toks[i : i + k]) for i in range(len(toks) - k + 1)}

    dfreq = {}
    for _, tx in rows:
        for sh in shingles(tx):
            dfreq[sh] = dfreq.get(sh, 0) + 1
    cap = 3
    r = containment_df_stats(df, k=k, max_df=cap).collect()[0]
    assert r.n_shingles == len(dfreq)
    assert r.max_df_observed == max(dfreq.values())
    assert r.n_over_cap == sum(1 for v in dfreq.values() if v > cap)
    assert r.hot_occurrences == sum(v for v in dfreq.values() if v > cap)
    # uncapped audit: nothing is hot
    r0 = containment_df_stats(df, k=k, max_df=None).collect()[0]
    assert (r0.n_over_cap, r0.hot_occurrences) == (0, 0)
    assert r0.n_shingles == len(dfreq)


def test_containment_capped_beats_uncapped_on_template_corpus(spark):
    """The 100 TB failure mode sf-scale benches can't see: every doc
    shares a boilerplate phrase, so uncapped candidate generation is
    ~d²/2 pairs while the capped path stays linear.  VERDICT r5 done-
    criterion: capped ≥5× faster than uncapped on this corpus (the
    planted true pair must survive the cap)."""
    import time
    from pdf_to_epub_spark.operators import containment_pairs

    # Template DOMINATES each doc (11 boilerplate words, 8 unique): with
    # t=0.8 the sorted-hash probe prefix is 4 of 15 shingles and 7 are
    # template-hot, so ~95% of docs probe a hot key → uncapped candidate
    # set ≈ d²/2 pairs.  4,000 docs → ~7.6M verify-side pairs.
    tpl = "this site uses cookies to improve your browsing experience ok"
    n_docs = 4000
    rows = [
        (i, tpl + " " + " ".join(f"u{i}w{j}" for j in range(8)))
        for i in range(n_docs)
    ]
    rows.append((9000, tpl + " planted unique alpha bravo charlie delta"))
    rows.append((9001, tpl + " planted unique alpha bravo charlie delta"))
    df = spark.createDataFrame(rows, ["doc_id", "text"]).cache()
    df.count()
    # Warm both plan shapes on a tiny slice first so neither timed run
    # pays first-use codegen/broadcast setup.
    tiny = df.limit(8)
    containment_pairs(tiny, k=5, threshold=0.8, max_df=100).count()
    containment_pairs(tiny, k=5, threshold=0.8, max_df=None).count()
    try:
        t0 = time.monotonic()
        capped = {
            (r.id_a, r.id_b)
            for r in containment_pairs(
                df, k=5, threshold=0.8, max_df=100
            ).collect()
        }
        t_capped = time.monotonic() - t0
        t0 = time.monotonic()
        uncapped_n = containment_pairs(
            df, k=5, threshold=0.8, max_df=None
        ).count()
        t_uncapped = time.monotonic() - t0
    finally:
        df.unpersist()
    assert (9000, 9001) in capped
    # Only the planted pair clears 0.8 either way (template-only overlap
    # is 7/15 ≈ 0.47) — but uncapped must VERIFY every template-joined
    # candidate pair (~d²/2); the cost gap is candidate-side.
    assert uncapped_n >= len(capped)
    assert t_uncapped / max(t_capped, 1e-9) >= 5.0, (
        f"capped {t_capped:.2f}s vs uncapped {t_uncapped:.2f}s"
    )


def test_containment_cap_semantics_exact(spark):
    """Hash-scheme-independent property of the capped path: capped pairs
    == exact pairs that share at least one COLD (df ≤ max_df) shingle.
    Guards the probe-side prefix bug where hot shingles were removed from
    the index only — a doc whose smallest sorted hashes were all hot
    probed with dead keys and silently lost true pairs (whether the bug
    fires depends on how the shingle hashes happen to sort, so this
    asserts the semantics over a template-heavy corpus rather than one
    lucky layout)."""
    from pdf_to_epub_spark.operators import containment_pairs
    import itertools
    import random

    rng = random.Random(7)
    tpl = "lorem ipsum dolor sit amet consectetur"
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(14):
        body = " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 12)))
        # half the docs share a second template to vary per-doc hot counts
        mid = "shared middle run here" if i % 2 == 0 else ""
        rows.append((i, " ".join(x for x in (tpl, mid, body) if x)))
    # two planted near-containment pairs with unique content
    rows.append((100, tpl + " planted unique alpha bravo charlie delta"))
    rows.append((101, tpl + " planted unique alpha bravo charlie delta echo"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    k, t, cap = 3, 0.6, 5

    exact = {
        (r.id_a, r.id_b)
        for r in containment_pairs(df, k=k, threshold=t).collect()
    }
    capped = {
        (r.id_a, r.id_b)
        for r in containment_pairs(df, k=k, threshold=t, max_df=cap).collect()
    }

    # Python reference: which exact pairs share a cold shingle?
    def shingles(text):
        toks = text.strip().lower().split()
        if len(toks) <= k:
            return {tuple(toks[:k])}
        return {tuple(toks[i : i + k]) for i in range(len(toks) - k + 1)}

    sets = {i: shingles(tx) for i, tx in rows}
    dfreq = {}
    for s in sets.values():
        for sh in s:
            dfreq[sh] = dfreq.get(sh, 0) + 1
    expected = {
        (a, b)
        for (a, b) in exact
        if any(dfreq[sh] <= cap for sh in sets[a] & sets[b])
    }
    assert capped == expected
    assert (100, 101) in capped


def test_no_inferred_generate_filter_reinlines_shingles(spark, dup_corpus):
    """InferFiltersFromGenerate turns a plain explode over a shingle-
    derived array into a pushed-down size()>0 filter with the WHOLE
    shingle pipeline (split included) inlined per element — the 60× trap
    through the optimizer's back door (measured 26× on 6 KB docs).  Pin:
    tokenization appears exactly once in the explode-side plans of the
    inverted-index and contamination paths."""
    from pyspark.sql import functions as FF

    from pdf_to_epub_spark.operators import benchmark_contamination
    from pdf_to_epub_spark.operators.dedup import with_shingles

    bench = dup_corpus.limit(2).select(
        FF.col("doc_id").alias("bench_id"), "text"
    )
    plan = (
        benchmark_contamination(dup_corpus, bench, k=3)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("split(trim(lower") == 2, plan[:3000]  # corpus + bench

    # the index/probe shape containment_pairs and ngram_jaccard_pairs use
    sh = with_shingles(dup_corpus.select("doc_id", "text"), "text", 3)
    hashed = sh.select(
        "doc_id",
        FF.array_sort(
            FF.array_distinct(FF.transform("shingles", lambda s: FF.xxhash64(s)))
        ).alias("hs"),
    )
    index = hashed.select(
        "doc_id", FF.explode_outer("hs").alias("h")
    ).where(FF.col("h").isNotNull())
    iplan = index._jdf.queryExecution().optimizedPlan().toString()
    assert iplan.count("split(trim(lower") == 1, iplan[:3000]


def test_histogram_quantiles_accuracy_and_merge(spark):
    from pyspark.sql import functions as F
    from pdf_to_epub_spark.operators import histogram_quantiles, histogram_sketch

    df = spark.createDataFrame([(float(i),) for i in range(1000)], ["x"])
    sk = histogram_sketch(df, "x", lo=0.0, hi=1000.0, n_bins=100)
    got = {r.q: r.estimate
           for r in histogram_quantiles(sk, [0.5, 0.9], 0.0, 1000.0, 100).collect()}
    # uniform data: error bounded by one bin width (10)
    assert abs(got[0.5] - 500) <= 10
    assert abs(got[0.9] - 900) <= 10
    # merging two half-corpus sketches == whole-corpus sketch
    s1 = histogram_sketch(df.where("x < 300"), "x", 0.0, 1000.0, 100)
    s2 = histogram_sketch(df.where("x >= 300"), "x", 0.0, 1000.0, 100)
    merged = s1.union(s2).groupBy("bin").agg(F.sum("c").cast("long").alias("c"))
    assert ({(r.bin, r.c) for r in merged.collect()}
            == {(r.bin, r.c) for r in sk.collect()})
    # out-of-range values clamp into edge bins, count preserved
    df2 = spark.createDataFrame([(-5.0,), (99.0,), (5000.0,)], ["x"])
    bins = {r.bin: r.c for r in
            histogram_sketch(df2, "x", 0.0, 100.0, 10).collect()}
    assert bins == {0: 1, 9: 2}


def test_hll_accuracy_merge_and_small_range(spark):
    from pyspark.sql import functions as F
    from pdf_to_epub_spark.operators import hll_estimate, hll_sketch

    df = spark.range(5000).select(
        F.concat(F.lit("u"), F.col("id")).alias("u"),
        (F.col("id") % 2).alias("g"),
    )
    # raw-branch accuracy: m=256 → σ ≈ 1.04/16 ≈ 6.5%; assert 4σ
    regs = hll_sketch(df, "u", p=8, group_cols=["g"])
    for r in hll_estimate(regs, p=8, group_cols=["g"]).collect():
        assert abs(r.est_distinct - 2500) / 2500 < 0.26
    # merging two half-corpus register tables by max == whole-corpus sketch
    whole = hll_sketch(df, "u", p=8)
    r1 = hll_sketch(df.where("id < 2500"), "u", p=8)
    r2 = hll_sketch(df.where("id >= 2500"), "u", p=8)
    merged = (
        r1.unionByName(r2)
        .groupBy("bucket")
        .agg(F.max("max_rho").cast("int").alias("max_rho"))
    )
    assert {(r.bucket, r.max_rho) for r in merged.collect()} == {
        (r.bucket, r.max_rho) for r in whole.collect()
    }
    # duplicates don't inflate: distinct-ness is what's counted
    dup = df.unionByName(df).unionByName(df)
    est_dup = hll_estimate(hll_sketch(dup, "u", p=8), p=8).first().est_distinct
    est_one = hll_estimate(whole, p=8).first().est_distinct
    assert est_dup == est_one
    # small-range linear-counting branch: 40 distinct values, estimate
    # within ±15% (linear counting is near-exact this far below m)
    small = spark.range(40).select(F.concat(F.lit("v"), F.col("id")).alias("u"))
    est = hll_estimate(hll_sketch(small, "u", p=8), p=8).first().est_distinct
    assert abs(est - 40) / 40 < 0.15
    # nulls are ignored, not hashed
    withnull = spark.createDataFrame(
        [("a",), (None,), ("b",)], "u: string"
    )
    regs_n = hll_sketch(withnull, "u", p=8)
    assert regs_n.count() <= 2


def test_c4_filters_line_and_page_rules(spark):
    import hashlib

    from pdf_to_epub_spark.operators import c4_filters

    good = "This line has five good words."
    docs = [
        # 0: clean page — 6 sentence-ending lines survive
        (0, "\n".join([good] * 6)),
        # 1: line rules — short line, no-punct line, javascript line all
        # drop; page then fails the 5-sentence floor
        (1, "Too short.\nNo terminal punctuation here\n"
            "Enable JavaScript to continue.\n" + good),
        # 2: lorem ipsum kills the page even with enough sentences
        (2, "\n".join([good] * 6) + "\nLorem Ipsum dolor sit amet."),
        # 3: curly brace kills the page
        (3, "\n".join([good] * 6) + "\nvar x = { a: 1 };"),
        # 4: null text
        (4, None),
        # 5: quote-terminated and CRLF-terminated lines both count
        (5, 'He said "stop right there now."\r\n' + "\n".join([good] * 5)),
    ]
    df = spark.createDataFrame(docs, "doc_id: long, text: string")
    rows = {r.doc_id: r for r in c4_filters(df, id_col="doc_id").collect()}
    assert rows[0].page_kept and rows[0].n_kept == 6
    assert rows[1].n_kept == 1 and not rows[1].page_kept
    assert rows[2].n_kept == 7 and not rows[2].page_kept  # lorem rule
    assert not rows[3].page_kept  # curly rule
    assert rows[4].n_kept == 0 and not rows[4].page_kept
    assert rows[4].cleaned_md5 == hashlib.md5(b"").hexdigest()
    # CRLF: trailing \r is absorbed by the terminal-punct class
    assert rows[5].n_kept == 6 and rows[5].page_kept
    # cleaned bytes are exactly the kept lines rejoined
    exp = hashlib.md5(("\n".join([good] * 6)).encode()).hexdigest()
    assert rows[0].cleaned_md5 == exp


def test_code_signals_routing(spark):
    from pdf_to_epub_spark.operators import code_signals

    code = (
        "def f(x):\n    return x + 1;\n\nclass A:\n    import os\n"
        "    var y = {1: 2};\nconst z = [];\npublic void g() {}"
    )
    prose = (
        "The quick brown fox jumps over the lazy dog. It was a dark and "
        "stormy night, and the rain fell in torrents."
    )
    # 'variable' must NOT count as the keyword 'var' (word boundary)
    prosey = "A variable definition includes classic returns. " * 3
    df = spark.createDataFrame(
        [(1, code), (2, prose), (3, None), (4, ""), (5, prosey)],
        "doc_id: long, text: string",
    )
    rows = {r.doc_id: r for r in code_signals(df).collect()}
    assert rows[1].is_code and rows[1].keyword_hits >= 5
    assert rows[1].indent_ratio > 0.3 and rows[1].terminator_ratio > 0.3
    for i in (2, 3, 4, 5):
        assert not rows[i].is_code
    assert rows[5].keyword_hits == 0


def test_containment_verify_reads_materialized_sets(spark, dup_corpus):
    """Plan pin for the shingle-once verify: the scoring subtree reads
    the checkpointed shingle-set table — no tokenizing split() of raw
    text may appear below the verify join (the per-pair re-shingling
    regression cost ~8x wall at sf0.1)."""
    from pyspark.sql import functions as F

    from pdf_to_epub_spark.operators.dedup import (
        _score_pairs_from_shingle_sets,
        with_shingles,
    )

    sets = (
        with_shingles(dup_corpus.select("doc_id", "text"), "text", 3)
        .select(F.col("doc_id").alias("id"), F.col("shingles").alias("_sh"))
        .localCheckpoint(eager=False)
    )
    pairs = spark.createDataFrame([(0, 1)], "id_a: long, id_b: long")
    plan = (
        _score_pairs_from_shingle_sets(sets, pairs)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "split(" not in plan, plan[:2000]
    assert "array_intersect" in plan


def test_temperature_mixture_flattens_head(spark):
    from pdf_to_epub_spark.operators import temperature_mixture

    # 9000 'en' rows vs 100 'yo' rows
    df = spark.range(9100).selectExpr(
        "CASE WHEN id < 9000 THEN 'en' ELSE 'yo' END AS lang"
    )
    rows = {
        r.lang: r
        for r in temperature_mixture(df, alpha=0.5, budget=1000).collect()
    }
    en, yo = rows["en"], rows["yo"]
    # alpha=0.5: weights sqrt(9000):sqrt(100) ~ 94.87:10 -> en share drops
    # from 0.989 raw to ~0.905, yo rises from 0.011 to ~0.095
    assert en.share_temp < en.share_raw
    assert yo.share_temp > yo.share_raw
    assert abs(yo.share_temp - 10 / (10 + 9000 ** 0.5)) < 1e-4
    # epochs: the tail group repeats to meet its target
    assert yo.epochs == round(yo.target_units / 100, 4)
    # targets never exceed the budget
    assert en.target_units + yo.target_units <= 1000
    # alpha=1 degenerates to the raw distribution
    raw = {
        r.lang: r for r in temperature_mixture(df, alpha=1.0).collect()
    }
    assert abs(raw["en"].share_temp - raw["en"].share_raw) < 1e-5


def test_embedding_outliers_flags_planted_point(spark):
    from pdf_to_epub_spark.operators import embedding_outliers

    import random

    rng = random.Random(7)
    rows = []
    # two tight clusters + one planted far point in cluster 0
    for i in range(30):
        rows.append((i, [rng.gauss(0.0, 0.05) for _ in range(8)], 0))
    for i in range(30, 60):
        rows.append((i, [5.0 + rng.gauss(0.0, 0.05) for _ in range(8)], 1))
    rows.append((99, [3.0] * 8, 0))
    df = spark.createDataFrame(
        rows, "vec_id: long, embedding: array<double>, label: int"
    )
    out = {r.vec_id: r for r in embedding_outliers(df).collect()}
    assert out[99].is_outlier and out[99].z > 2
    # the planted point dominates every organic >2-sigma fluctuation
    assert out[99].z == max(r.z for r in out.values() if r.z is not None)
    assert all(
        not r.is_outlier
        for i, r in out.items()
        if i != 99 and r.label == 0
    )
    # zero-variance group: z NULL, not an outlier, no crash
    const = spark.createDataFrame(
        [(1, [1.0, 2.0], 0), (2, [1.0, 2.0], 0)],
        "vec_id: long, embedding: array<double>, label: int",
    )
    rows2 = embedding_outliers(const).collect()
    assert all(r.z is None and not r.is_outlier for r in rows2)


def test_license_and_flesch_signals(spark):
    from pdf_to_epub_spark.operators import (
        flesch_reading_ease,
        license_signals,
    )

    df = spark.createDataFrame(
        [
            (1, "Licensed under a Creative Commons Attribution license."),
            (2, "Copyright 2019 Acme. All rights reserved."),
            (3, "CC0: public domain dedication."),
            # grant + reservation -> conservative 'restricted'
            (4, "CC-BY applies. (c) 2020 Someone."),
            (5, None),
            # 'cc' inside words must not fire the cc-by pattern
            (6, "An accomplice occupies the occult bay."),
        ],
        "doc_id: long, text: string",
    )
    cls = {r.doc_id: r.license_class for r in license_signals(df).collect()}
    assert cls == {
        1: "open", 2: "restricted", 3: "open", 4: "restricted",
        5: "unknown", 6: "unknown",
    }
    fl = {
        r.doc_id: r
        for r in flesch_reading_ease(
            spark.createDataFrame(
                [(1, "The cat sat. The dog ran."), (2, ""), (3, None)],
                "doc_id: long, text: string",
            )
        ).collect()
    }
    # 6 words / 2 sentences, 6 one-syllable words
    assert fl[1].n_sentences == 2 and fl[1].n_words == 6
    assert fl[1].n_syllables == 6
    assert fl[1].flesch == round(206.835 - 1.015 * 3.0 - 84.6 * 1.0, 4)
    assert fl[2].flesch is None and fl[3].flesch is None


def test_semantic_dedup_drops_clones_keeps_originals(vectors):
    from pdf_to_epub_spark.operators import semantic_dedup

    # plant exact-direction clones (scaled → cosine exactly 1) of the
    # first 10 vectors under higher ids; random 16-d gaussians are far
    # below tau=0.9 pairwise, so only the clones must be dropped.
    clones = vectors.where("vec_id < 10").select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.5)).alias("embedding"),
    )
    corpus = vectors.unionByName(clones).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    out = {r.vec_id: r for r in semantic_dedup(corpus, tau=0.9, n_centroids=4).collect()}
    assert len(out) == 210  # one verdict row per input vector
    for i in range(10):
        # clone shares the original's direction → same nearest centroid,
        # and loses the keep-lowest-id rule to the original
        assert out[1000 + i].cluster_id == out[i].cluster_id
        assert not out[1000 + i].kept
        assert out[i].kept
    assert all(r.kept for i, r in out.items() if i < 1000)


def test_token_budget_select_matches_global_cumsum(spark):
    from pdf_to_epub_spark.operators import token_budget_select

    import random

    rng = random.Random(3)
    # heavy bucket collisions: only 5 distinct scores over 300 rows, so
    # correctness must come from the (score desc, id) tie order inside a
    # bucket plus the cross-bucket offsets — not from bucket uniqueness.
    rows = [
        (i, rng.choice([0.1, 0.25, 0.5, 0.5001, 0.9]), rng.randrange(1, 50))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "doc_id long, score double, n_tokens long")
    budget = 2000
    got = {
        r.doc_id: r for r in token_budget_select(df, budget=budget).collect()
    }
    assert len(got) == 300
    # python replay: single global prefix sum in (score desc, id) order
    cum = 0
    for i, sc, tok in sorted(rows, key=lambda r: (-round(r[1], 6), r[0])):
        cum += tok
        assert got[i].cum_tokens == cum
        assert got[i].selected == (cum <= budget)
    # a budget equal to some row's exact cum boundary keeps that row
    boundary = sorted(r.cum_tokens for r in got.values())[10]
    got2 = token_budget_select(df, budget=boundary).collect()
    assert sum(1 for r in got2 if r.selected) == 11


def test_encoding_and_ocr_signals(spark):
    from pdf_to_epub_spark.operators import encoding_signals, ocr_artifact_signals
    from pdf_to_epub_spark.operators.textstats import MOJIBAKE_MARKERS

    # marker bytes are escape-built, never hand-typed: the a-grave artifact
    # carries A0 (not a space) and the I-uml artifact an invisible C1
    assert (chr(0xC3) + chr(0xA0)) in MOJIBAKE_MARKERS
    assert (chr(0xC3) + chr(0x8F)) in MOJIBAKE_MARKERS
    assert not any(" " in m for m in MOJIBAKE_MARKERS)

    moji = "short text " + (chr(0xC3) + chr(0xA9)) * 3  # e-acute artifact x3
    clean = "a perfectly ordinary clean sentence about nothing " * 3
    bad = "x" + "�" * 4
    docs = spark.createDataFrame(
        [(0, moji), (1, clean), (2, bad), (3, None)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in encoding_signals(docs).collect()}
    assert out[0].mojibake_hits == 3 and out[0].flagged
    assert out[1].mojibake_hits == 0 and not out[1].flagged
    assert out[2].replacement_chars == 4 and out[2].flagged
    assert out[3].n_chars == 0 and not out[3].flagged  # null-safe

    ocr = "the exam-\nple con-\ntinued w1th c0nfusi0n b q\nab\n"
    docs2 = spark.createDataFrame(
        [(0, ocr), (1, clean)], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in ocr_artifact_signals(docs2).collect()}
    assert got[0].hyphen_wraps == 2
    assert got[0].digit_confusions >= 2
    assert got[0].needs_repair
    assert not got[1].needs_repair


def test_training_shards_permutation_properties(spark):
    from pdf_to_epub_spark.operators import training_shards

    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    out = training_shards(df, n_shards=8, salt="e0").collect()
    assert len(out) == 500
    by_shard: dict[int, list[int]] = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r.pos)
    assert set(by_shard) == set(range(8))
    # positions are a dense 1..n sequence per shard
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    # deterministic: same salt reproduces, different salt permutes
    again = training_shards(df, n_shards=8, salt="e0").collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    other = {r.doc_id: (r.shard, r.pos) for r in
             training_shards(df, n_shards=8, salt="e1").collect()}
    first = {r.doc_id: (r.shard, r.pos) for r in out}
    assert sum(1 for i in first if first[i] != other[i]) > 400


def test_bitext_margin_mine_finds_planted_pair(spark):
    from pdf_to_epub_spark.operators import bitext_margin_mine

    import random

    rng = random.Random(13)
    src_rows, tgt_rows = [], []
    for i in range(0, 40, 2):
        src_rows.append((i, [rng.gauss(0, 1) for _ in range(16)]))
    for i in range(1, 40, 2):
        tgt_rows.append((i, [rng.gauss(0, 1) for _ in range(16)]))
    # plant a translation: tgt 1 = scaled copy of src 0's direction
    tgt_rows[0] = (1, [2.0 * x for x in src_rows[0][1]])
    src = spark.createDataFrame(src_rows, "vec_id long, embedding array<double>")
    tgt = spark.createDataFrame(tgt_rows, "vec_id long, embedding array<double>")
    got = bitext_margin_mine(src, tgt, k=4, threshold=1.0).collect()
    by_src = {r.src_id: r for r in got}
    assert len(got) == len(by_src)  # top-1 per source
    assert by_src[0].tgt_id == 1
    assert abs(by_src[0].cosine - 1.0) < 1e-5
    # the planted pair's margin dominates all organic pairings
    assert by_src[0].margin == max(r.margin for r in got)


def test_trust_rank_decays_from_seeds(spark):
    from pdf_to_epub_spark.operators import trust_rank

    import pytest as _pytest

    # seed -> good -> leaf chain, plus a spam island linking only itself
    edges = spark.createDataFrame(
        [
            ("seed.example", "good.example"),
            ("good.example", "leaf.example"),
            ("spam-a.example", "spam-b.example"),
            ("spam-b.example", "spam-a.example"),
        ],
        "src_domain string, dst_domain string",
    )
    out = {r.domain: r.trust for r in
           trust_rank(edges, seeds=["seed.example"]).collect()}
    # trust decays with distance from the seed
    assert out["seed.example"] > out["good.example"] > out["leaf.example"] > 0
    # the unreachable spam island gets exactly zero despite its link loop
    assert out["spam-a.example"] == 0.0 and out["spam-b.example"] == 0.0
    with _pytest.raises(ValueError):
        trust_rank(edges, seeds=[])


def test_calibrate_scores_matches_percent_rank(spark):
    from pdf_to_epub_spark.operators import calibrate_scores

    import random

    rng = random.Random(5)
    # ties + a singleton group + a null group
    rows = [(i, "a", rng.choice([0.2, 0.4, 0.4, 0.7, 0.9])) for i in range(100)]
    rows += [(100, "b", 0.5)]
    rows += [(101, None, 0.1), (102, None, 0.3)]
    df = spark.createDataFrame(rows, "doc_id long, source string, score double")
    got = {r.doc_id: r for r in calibrate_scores(df).collect()}
    assert len(got) == 103
    # python replay: RANK ties-share percent rank per group
    from collections import defaultdict

    groups = defaultdict(list)
    for i, g, s in rows:
        groups[g].append((s, i))
    for g, members in groups.items():
        n = len(members)
        scores = sorted(s for s, _ in members)
        for s, i in members:
            if n == 1:
                expect = 0.0
            else:
                rank_min = 1 + sum(1 for x in scores if x < s)
                expect = round((rank_min - 1) / (n - 1), 6)
            assert abs(got[i].pct_rank - expect) < 1e-9, (i, g)
    assert got[100].pct_rank == 0.0  # singleton group


def test_project_embeddings_preserves_relative_distance(vectors):
    from pdf_to_epub_spark.operators import project_embeddings

    out = project_embeddings(
        vectors.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding")),
        dim=16, out_dim=8, seed=3,
    ).collect()
    assert len(out) == 200 * 8
    proj: dict[int, list[float]] = {}
    for r in out:
        proj.setdefault(r.vec_id, [0.0] * 8)[r.component] = r.value
    # deterministic across runs
    again = project_embeddings(
        vectors.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding")),
        dim=16, out_dim=8, seed=3,
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    # JL sanity: identical inputs stay identical, and projection is linear
    # (proj of v0 scaled 2x == 2x proj of v0) — verified via the planes
    data = {r["vec_id"]: r["embedding"] for r in vectors.collect()}
    from pdf_to_epub_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(16, 8, 3)
    for vid in (0, 7, 123):
        for j, p in enumerate(planes):
            expect = round(sum(a * b for a, b in zip(data[vid], p)), 6)
            assert abs(proj[vid][j] - expect) < 1e-6


def test_review_fix_edge_cases(spark):
    """Regression pins for the round-4 review findings: exotic line
    terminators, signed-hash shards, null scores, zero-weight groups,
    small-m HLL alpha, and null-embedding verdict rows."""
    from pdf_to_epub_spark.operators import (
        c4_filters,
        calibrate_scores,
        embedding_outliers,
        ocr_artifact_signals,
        temperature_mixture,
        training_shards,
    )
    from pdf_to_epub_spark.operators.sketch import hll_estimate

    # c4_filters: a line whose only "terminal punctuation at end" match
    # would come from Java's $ stopping before a trailing U+2028 must be
    # DROPPED (RE2/DuckDB semantics — absolute end only).
    df = spark.createDataFrame(
        [(1, "Good sentence here today. "), (2, "Good sentence here today.")],
        "doc_id int, text string",
    )
    kept = {r.doc_id: r.n_kept for r in c4_filters(df).collect()}
    assert kept[1] == 0 and kept[2] == 1

    # ocr signals: lone-CR tail must not count as a short line (Java $
    # before final \r diverges from RE2 without (?d)).
    o = spark.createDataFrame(
        [(1, "abc\r"), (2, "abc\n")], "doc_id int, text string"
    )
    srt = {r.doc_id: r.short_lines for r in ocr_artifact_signals(o).collect()}
    assert srt[1] == 0  # "abc\r" is one 4-char line, not a short line
    assert srt[2] == 1  # "abc" before the newline IS a short line

    # training_shards with a signed hash: shard ids stay in [0, n).
    t = spark.range(50).select(F.col("id").alias("doc_id"))
    shards = [
        r.shard
        for r in training_shards(t, n_shards=8, hash_fn=F.xxhash64).collect()
    ]
    assert min(shards) >= 0 and max(shards) < 8

    # calibrate_scores: a NULL score keeps its verdict row, ranked last.
    c = spark.createDataFrame(
        [(1, "a", 0.1), (2, "a", 0.9), (3, "a", None)],
        "doc_id int, source string, score double",
    )
    rows = {r.doc_id: r for r in calibrate_scores(c).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[3].pct_rank == 1.0  # NULLS LAST, DuckDB percent_rank

    # temperature_mixture: a zero-weight group is excluded, and the
    # remaining shares still normalize to ~1.
    m = spark.createDataFrame(
        [("en", 100), ("xx", 0), ("fr", 50)], "lang string, n_chars int"
    )
    plan = {r.lang: r for r in temperature_mixture(m, weight_col="n_chars").collect()}
    assert "xx" not in plan and set(plan) == {"en", "fr"}
    assert abs(sum(r.share_temp for r in plan.values()) - 1.0) < 1e-5

    # hll_estimate: p=4 uses the tabulated alpha (0.673), not the
    # closed form; p=3 rejected.
    from pdf_to_epub_spark.operators.sketch import hll_sketch

    vals = spark.range(1000).select(
        F.concat(F.lit("v"), F.col("id")).alias("v")
    )
    regs = hll_sketch(vals, value_col="v", p=4)
    est = hll_estimate(regs, p=4).collect()[0].est_distinct
    assert 400 < est < 2500  # m=16 is coarse; just sanity + no crash
    with pytest.raises(ValueError):
        hll_estimate(regs, p=3)

    # embedding_outliers: a NULL embedding keeps its row, flagged.
    e = spark.createDataFrame(
        [
            (1, "g", [1.0, 0.0]),
            (2, "g", [0.9, 0.1]),
            (3, "g", [1.1, -0.1]),
            (4, "g", None),
        ],
        "vec_id int, label string, embedding array<double>",
    )
    out = {r.vec_id: r for r in embedding_outliers(e).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[4].dist is None and out[4].is_outlier is True


def test_edit_similarity_pairs(spark):
    from pdf_to_epub_spark.operators import edit_similarity_pairs

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumped over the lazy dog"),  # 2 edits
            (3, "an entirely different sentence about spark plans"),
            (4, ""),
            (5, ""),
        ],
        "doc_id int, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (4, 5)], "id_a int, id_b int"
    )
    out = {(r.id_a, r.id_b): r for r in edit_similarity_pairs(
        pairs, docs, threshold=0.8
    ).collect()}
    assert out[(1, 2)].edit_dist == 2 and out[(1, 2)].is_dup
    assert not out[(1, 3)].is_dup
    # identical empty prefixes: similarity 1, not a 0/0 NULL
    assert out[(4, 5)].sim == 1.0 and out[(4, 5)].is_dup
    # prefix cap: differences beyond the cap are invisible
    long_docs = spark.createDataFrame(
        [(1, "a" * 500), (2, "a" * 400 + "b" * 100)],
        "doc_id int, text string",
    )
    r = edit_similarity_pairs(
        spark.createDataFrame([(1, 2)], "id_a int, id_b int"),
        long_docs, prefix_chars=400,
    ).collect()[0]
    assert r.edit_dist == 0 and r.sim == 1.0


def test_dedup_keep_best(spark):
    from pdf_to_epub_spark.operators import dedup_keep_best

    docs = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (4, 7), (9, 1)],
        "doc_id int, score int",
    )
    # component {1,2,3} via chain, {4} singleton-with-edge-to-nothing
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "id_a int, id_b int"
    )
    out = {r.doc_id: r for r in dedup_keep_best(docs, pairs).collect()}
    assert len(out) == 5
    # cluster {1,2,3}: best score 9 tie between 2 and 3 -> smaller id 2
    assert [out[i].keep for i in (1, 2, 3)] == [False, True, False]
    assert out[1].cluster == 1 and out[2].cluster == 1 and out[3].cluster == 1
    # singletons keep themselves
    assert out[4].keep and out[9].keep


def test_robots_sitemaps(spark):
    from pdf_to_epub_spark.operators import robots_sitemaps

    robots = spark.createDataFrame(
        [
            ("a.example",
             "User-agent: *\nDisallow: /x\n"
             "Sitemap: https://a.example/s.xml\n"
             "\tsitemap:\thttps://a.example/t.xml  \n"
             "SITEMAP: https://a.example/u.xml # comment\n"
             "NotSitemap: https://decoy/no.xml\n"),
            # duplicate capture of the same domain: collapses
            ("a.example", "Sitemap: https://a.example/s.xml\n"),
            # lone-CR line endings must still anchor the ^ (UNIX_LINES pin)
            ("b.example", "Sitemap: https://b.example/1.xml\r\nUser-agent: *\n"),
            ("c.example", "User-agent: *\nDisallow: /\n"),
        ],
        "domain string, body string",
    )
    got = {(r.domain, r.sitemap_url) for r in robots_sitemaps(robots).collect()}
    assert got == {
        ("a.example", "https://a.example/s.xml"),
        ("a.example", "https://a.example/t.xml"),
        ("a.example", "https://a.example/u.xml"),
        ("b.example", "https://b.example/1.xml"),
    }


def test_unigram_drift(spark):
    from pdf_to_epub_spark.operators import unigram_drift

    old = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(20)],
        "doc_id int, text string",
    )
    new = spark.createDataFrame(
        [(i, "alpha beta gamma delta spamtoken spamtoken") for i in range(20)],
        "doc_id int, text string",
    )
    out = unigram_drift(old, new, top_k=3).collect()
    assert out[0].token == "spamtoken"
    assert out[0].c_old == 0 and out[0].c_new == 40
    assert out[0].contrib_nano > 0
    # identical snapshots: every contribution is ~0 (N and V equal)
    flat = unigram_drift(old, old, top_k=5).collect()
    assert all(r.contrib_nano == 0 for r in flat)


def test_extract_publish_dates_matrix(spark):
    from pdf_to_epub_spark.operators import extract_publish_dates

    pages = spark.createDataFrame(
        [
            # reversed attribute order + unquoted content
            (1, "https://a/x", '<meta content=2024-05-06T01:02:03Z '
                'property="article:published_time">'),
            # meta wins over jsonld and url date
            (2, "https://a/2020/01/02/x",
             '<meta property="article:published_time" content="2023-01-01">'
             '<script type="application/ld+json">'
             '{"datePublished":"2022-02-02"}</script>'),
            # jsonld wins over url date
            (3, "https://a/2020/01/02/x",
             '{"datePublished": "2021-03-04T05:06:07+02:00"}'),
            # url date only; /2024/13/01/ is not a plausible date
            (4, "https://a/2024/13/01/x", "<html></html>"),
            (5, "https://a/2024/12/31/post", "<html></html>"),
            # nothing anywhere; null html
            (6, "https://a/plain", None),
            # malformed meta: raw kept, date NULL
            (7, "https://a/y",
             '<meta property="article:published_time" content="soon">'),
        ],
        "doc_id int, url string, html string",
    )
    out = {r.url: r for r in extract_publish_dates(pages).collect()}
    assert out["https://a/x"].published_raw == "2024-05-06T01:02:03Z"
    assert str(out["https://a/x"].published_date) == "2024-05-06"
    # two rows share this url; split by src
    rows2 = [r for r in extract_publish_dates(pages).collect()
             if r.url == "https://a/2020/01/02/x"]
    srcs = {r.published_src: r for r in rows2}
    assert str(srcs["meta"].published_date) == "2023-01-01"
    assert str(srcs["jsonld"].published_date) == "2021-03-04"
    assert out["https://a/2024/13/01/x"].published_src is None
    r5 = out["https://a/2024/12/31/post"]
    assert r5.published_src == "url" and str(r5.published_date) == "2024-12-31"
    assert out["https://a/plain"].published_raw is None
    r7 = out["https://a/y"]
    assert r7.published_raw == "soon" and r7.published_date is None


def test_link_reciprocity(spark):
    from pdf_to_epub_spark.operators import link_reciprocity

    edges = spark.createDataFrame(
        [
            ("a", "b"), ("b", "a"),        # mutual
            ("a", "c"),                     # one-way
            ("a", "c"),                     # duplicate collapses
            ("c", "c"),                     # self loop dropped
            ("d", "a"),                     # one-way in
        ],
        "src_domain string, dst_domain string",
    )
    out = {r.domain: r for r in link_reciprocity(edges).collect()}
    assert out["a"].n_out == 2 and out["a"].n_recip == 1
    assert abs(out["a"].reciprocity - 0.5) < 1e-9
    assert out["b"].n_out == 1 and out["b"].reciprocity == 1.0
    assert out["d"].n_out == 1 and out["d"].reciprocity == 0.0
    assert "c" not in out  # only outdegree-0 after self-loop drop


def test_gate_attrition_funnel(spark):
    from pdf_to_epub_spark.operators import gate_attrition

    df = spark.createDataFrame(
        [(1, 10, True), (2, 10, False), (3, 3, True), (4, 10, None)],
        "doc_id int, n int, ok boolean",
    )
    gates = [
        ("long_enough", F.col("n") >= 5),
        ("flagged_ok", F.col("ok")),
    ]
    out = {r.gate: r for r in gate_attrition(df, gates).collect()}
    g1, g2 = out["long_enough"], out["flagged_ok"]
    assert (g1.gate_idx, g1.n_in, g1.n_pass, g1.n_killed) == (1, 4, 3, 1)
    # NULL gate value counts as a kill (coalesce false), not a crash
    assert (g2.gate_idx, g2.n_in, g2.n_pass, g2.n_killed) == (2, 3, 1, 2)
    assert abs(g2.cum_survival - 0.25) < 1e-9


def test_leakage_safe_splits(spark):
    from pdf_to_epub_spark.operators import hash_split, leakage_safe_splits

    docs = spark.createDataFrame(
        [(i,) for i in range(40)] , "doc_id int"
    )
    # chain 0-1-2 one cluster; 3-4 another; rest singletons
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4)], "id_a int, id_b int"
    )
    out = {r.doc_id: r for r in leakage_safe_splits(
        docs, pairs, weights={"train": 0.5, "val": 0.25, "test": 0.25}
    ).collect()}
    assert len(out) == 40
    assert len({out[i].split for i in (0, 1, 2)}) == 1
    assert out[3].split == out[4].split
    assert out[0].cluster == 0 and out[4].cluster == 3
    # singleton assignment identical to plain hash_split on the id
    plain = {r.doc_id: r.split for r in hash_split(
        docs, weights={"train": 0.5, "val": 0.25, "test": 0.25}
    ).collect()}
    for i in range(5, 40):
        assert out[i].split == plain[i]


def test_domain_lang_consistency(spark):
    from pdf_to_epub_spark.operators import domain_lang_consistency

    rows = [(f"https://a.example/{i}", "en") for i in range(8)]
    rows += [(f"https://a.example/x{i}", "de") for i in range(2)]
    rows += [(f"https://pure.example/{i}", "fr") for i in range(3)]
    # tie domain: 2 en vs 2 de -> lang asc wins (de)
    rows += [("https://tie.example/1", "en"), ("https://tie.example/2", "en"),
             ("https://tie.example/3", "de"), ("https://tie.example/4", "de")]
    df = spark.createDataFrame(rows, "url string, lang string")
    out = {r.domain: r for r in domain_lang_consistency(df).collect()}
    a = out["a.example"]
    assert (a.majority_lang, a.n_docs, a.n_majority) == ("en", 10, 8)
    assert a.is_mixed is False and abs(a.consistency - 0.8) < 1e-9
    assert out["pure.example"].consistency == 1.0
    assert out["tie.example"].majority_lang == "de"
    assert out["tie.example"].is_mixed is True


def test_extract_feed_items_edge_cases(spark):
    from pdf_to_epub_spark.operators import extract_feed_items

    pages = spark.createDataFrame(
        [
            ("u1",
             "<rss><channel>"
             "<item><title><![CDATA[T1]]></title><link>https://e/1</link></item>"
             "<item><link>https://e/2</link></item>"          # no title: NULL
             "<item><title>orphan</title></item>"              # no link: drop
             "</channel></rss>"),
            ("u2",
             '<feed><entry><title>A</title>'
             '<link rel="self" href="https://e/self"/></entry></feed>'),
            ("u3", None),
        ],
        "url string, html string",
    )
    got = {(r.url, r.item_title, r.item_link, r.kind)
           for r in extract_feed_items(pages).collect()}
    assert ("u1", "T1", "https://e/1", "rss") in got
    assert ("u1", None, "https://e/2", "rss") in got
    assert not any(t == "orphan" for _, t, _, _ in got)
    # atom link: first href in the entry (rel=self still a crawl lead)
    assert ("u2", "A", "https://e/self", "atom") in got


def test_extract_hreflang_matrix(spark):
    from pdf_to_epub_spark.operators import extract_hreflang

    pages = spark.createDataFrame(
        [
            ("u1",
             '<link rel="alternate" hreflang="EN-gb" href="https://e/gb">'
             "<link hreflang='de' rel='alternate' href='https://e/de'>"
             '<link rel="stylesheet" href="/s.css">'
             '<link rel="alternate" href="/feed.xml">'
             '<link rel="ALTERNATE" hreflang=fr href=https://e/fr>'),
            ("u2", None),
        ],
        "url string, html string",
    )
    got = {(r.hreflang, r.href) for r in extract_hreflang(pages).collect()}
    assert got == {
        ("en-gb", "https://e/gb"),
        ("de", "https://e/de"),
        ("fr", "https://e/fr"),
    }


def test_repair_mojibake_gated(spark):
    from pdf_to_epub_spark.operators import fix_mojibake_text, repair_mojibake

    rows = [
        (0, "cafÃ© MÃ¼nchen"),          # classic cp1252
        (1, "plain ascii text"),                             # clean: untouched
        (2, "déjà vu — naïve"),          # real accents kept
        (3, None),                                            # null passthrough
        (4, "quoteâ€™s â€“ x"),  # 3-byte punct
        (5, "bad í € run"),                   # surrogate: intact
        (6, "cafÃƒÂ© twice"),            # double-encoded
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in repair_mojibake(df).collect()}
    assert out[0].text == "café München" and out[0].repaired
    assert out[1].text == "plain ascii text" and not out[1].repaired
    assert out[2].text == rows[2][1] and not out[2].repaired
    assert out[3].text is None and not out[3].repaired
    assert out[4].text == "quote’s – x" and out[4].repaired
    assert out[5].text == rows[5][1] and not out[5].repaired
    assert out[6].text == "café twice" and out[6].repaired
    # UDF and pure function agree on every row
    for i, t in rows:
        assert out[i].text == fix_mojibake_text(t)
    assert out[0].n_runs == 2 and out[1].n_runs == 0


def test_lang_script_mismatch(spark):
    from pdf_to_epub_spark.operators import lang_script_mismatch

    latin = "the quick brown fox jumps over the lazy dog again and again"
    cyr = "привет мир здравствуй товарищ привет мир здравствуй товарищ"
    rows = [
        (0, "en", latin),      # consistent
        (1, "ru", latin),      # mismatch: declared ru, latin letters
        (2, "ru", cyr),        # consistent
        (3, "xx", latin),      # unknown tag: NULL verdict
        (4, "en", "hi"),       # too few letters: NULL verdict
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = {r.doc_id: r for r in lang_script_mismatch(df).collect()}
    assert out[0].mismatch is False
    assert out[1].mismatch is True and out[1].expected_script == "cyrillic"
    assert out[2].mismatch is False
    assert out[3].mismatch is None and out[3].expected_script is None
    assert out[4].mismatch is None


def test_vocab_growth_attribution(spark):
    from pdf_to_epub_spark.operators import vocab_growth

    # 4 batches: 'alpha' everywhere, 'beta' first in batch 1, 'gamma'
    # only in batch 3; batch 2 adds nothing new.
    rows = [
        (0, "alpha alpha beta"),  # wait: batch 0 introduces alpha AND beta
        (1, "alpha beta"),
        (2, "alpha"),
        (3, "alpha gamma"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.batch: r for r in vocab_growth(df, n_batches=4).collect()}
    assert out[0].new_types == 2 and out[0].batch_tokens == 3
    assert out[1].new_types == 0
    assert out[2].new_types == 0
    assert out[3].new_types == 1
    assert out[3].cum_types == 3 and out[3].cum_tokens == 8
    assert abs(out[3].type_token_ratio - 0.375) < 1e-9


def test_filter_lines_rules(spark):
    from pdf_to_epub_spark.operators import filter_lines

    text = "\n".join([
        "A normal prose line that clearly survives.",
        "1,234",                      # numeric-only: drop
        "42 likes",                   # counter: drop
        "HOME | ABOUT | CONTACT",     # all-caps nav: drop
        "Please enable JavaScript to view this page",  # boilerplate: drop
        "Second real sentence stays here.",
        "This line mentions javascript deep inside a long enough paragraph "
        "that keeps going well past the eighty character cap so it stays.",
    ])
    df = spark.createDataFrame([(0, text), (1, None), (2, "9\n8\n7")],
                               "doc_id long, text string")
    out = {r.doc_id: r for r in filter_lines(df).collect()}
    kept = out[0].text.split("\n")
    assert kept == [
        "A normal prose line that clearly survives.",
        "Second real sentence stays here.",
        "This line mentions javascript deep inside a long enough paragraph "
        "that keeps going well past the eighty character cap so it stays.",
    ]
    assert out[0].n_dropped == 4 and out[0].doc_flagged is True
    assert out[1].text == "" and out[1].n_lines == 1
    assert out[2].n_dropped == 3 and out[2].doc_flagged is True


def test_corpus_diversity_profile(spark):
    from pdf_to_epub_spark.operators import corpus_diversity
    import math

    # 3 domains: 6 + 3 + 1 pages
    rows = [("a",)] * 6 + [("b",)] * 3 + [("c",)] * 1
    df = spark.createDataFrame(rows, "domain string")
    r = corpus_diversity(df, "domain", top_n=2).collect()[0]
    assert r.n_pages == 10 and r.n_groups == 3
    ps = [0.6, 0.3, 0.1]
    h = -sum(p * math.log(p) for p in ps)
    assert abs(r.entropy - round(h, 6)) < 2e-6
    assert abs(r.effective_groups - round(math.exp(round(h, 6)), 6)) < 2e-6
    # exact gini over sorted counts [1,3,6]: 2*(1*1+2*3+3*6)/(3*10)-(4/3)
    g = 2 * (1 * 1 + 2 * 3 + 3 * 6) / (3 * 10) - 4 / 3
    assert abs(r.gini - round(g, 6)) < 1e-6
    assert abs(r.top1_share - 0.6) < 1e-9
    assert abs(r.topn_share - 0.9) < 1e-9


def test_extract_amp_pairs(spark):
    from pdf_to_epub_spark.operators import extract_amp_pairs

    pages = spark.createDataFrame(
        [
            ("https://e/a",       # canonical page declaring its AMP twin
             '<html><head><link rel="amphtml" href="https://e/amp/a">'
             "</head></html>"),
            ("https://e/amp/a",   # AMP page pointing back
             '<html ⚡ lang="en"><head>'
             '<link rel="canonical" href="https://e/a"></head></html>'),
            ("https://e/amp/b",   # amp attribute form
             '<html amp><link href="https://e/b" rel="canonical"></html>'),
            ("https://e/plain",   # canonical link but NOT amp: no row
             '<html><link rel="canonical" href="https://e/x"></html>'),
            ("https://e/none", None),
        ],
        "url string, html string",
    )
    got = {(r.url, r.is_amp, r.twin_url, r.edge)
           for r in extract_amp_pairs(pages).collect()}
    assert got == {
        ("https://e/a", False, "https://e/amp/a", "amphtml"),
        ("https://e/amp/a", True, "https://e/a", "canonical"),
        ("https://e/amp/b", True, "https://e/b", "canonical"),
    }


def test_extract_declared_lang_precedence(spark):
    from pdf_to_epub_spark.operators import extract_declared_lang

    pages = spark.createDataFrame(
        [
            ("u1", '<html lang="pt-BR"><head>'
                   '<meta http-equiv="content-language" content="es"></head>'),
            ("u2", '<head><meta http-equiv="Content-Language" content="fr, en">'
                   '</head>'),
            ("u3", '<head><meta property="og:locale" content="de_DE"></head>'),
            ("u4", "<html><body>nothing declared</body></html>"),
            ("u5", None),
        ],
        "url string, html string",
    )
    out = {r.url: r for r in extract_declared_lang(pages).collect()}
    assert (out["u1"].declared_lang, out["u1"].declared_source) == ("pt", "html_lang")
    assert out["u1"].declared_lang_raw == "pt-br"
    assert (out["u2"].declared_lang, out["u2"].declared_source) == ("fr", "http_equiv")
    assert (out["u3"].declared_lang, out["u3"].declared_source) == ("de", "og_locale")
    assert out["u4"].declared_lang is None and out["u4"].declared_source is None
    assert out["u5"].declared_lang is None


def test_shard_manifest_checksum(spark):
    import hashlib

    from pdf_to_epub_spark.operators import shard_manifest, training_shards

    docs = [(i, f"doc {i} body text") for i in range(40)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    man = {r.shard: r for r in shard_manifest(df, n_shards=4).collect()}
    assign = {r.doc_id: r.shard
              for r in training_shards(df, n_shards=4).collect()}
    assert sum(m.n_docs for m in man.values()) == 40
    # replay shard 0's checksum independently
    members = sorted(
        hashlib.md5(t.encode()).hexdigest()
        for i, t in docs if assign[i] == 0
    )
    exp = hashlib.md5("".join(members).encode()).hexdigest()
    assert man[0].checksum == exp
    assert man[0].n_tokens > 0 and man[0].n_chars > 0
    # membership change changes the checksum
    df2 = spark.createDataFrame(docs[1:], "doc_id long, text string")
    man2 = {r.shard: r for r in shard_manifest(df2, n_shards=4).collect()}
    changed = assign[0]
    assert man2[changed].checksum != man[changed].checksum


def test_lang_spans_runs_and_edges(spark):
    from pdf_to_epub_spark.operators import lang_spans

    df = spark.createDataFrame(
        [
            # en, en, fr, en -> three spans
            (1, "the cat was in the house. the dog was in the house. "
                "le chat est une belle personne. the cat and the dog was here."),
            (2, "the cat was in the house."),   # single span
            (3, ""),                             # no sentences -> no rows
            (4, None),                           # null text -> no rows
            (5, "...!?"),                        # terminators only -> no rows
        ],
        "doc_id long, text string",
    )
    rows = lang_spans(df).collect()
    assert {r["doc_id"] for r in rows} == {1, 2}
    d1 = sorted((r for r in rows if r["doc_id"] == 1), key=lambda r: r["span_idx"])
    assert [(r["lang"], r["n_sentences"]) for r in d1] == [
        ("en", 2), ("fr", 1), ("en", 1)
    ]
    assert [(r["start_idx"], r["end_idx"]) for r in d1] == [(0, 1), (2, 2), (3, 3)]
    # spans tile the sentence index range with no gaps
    assert all(
        a["end_idx"] + 1 == b["start_idx"] for a, b in zip(d1, d1[1:])
    )
    d2 = [r for r in rows if r["doc_id"] == 2]
    assert len(d2) == 1 and d2[0]["span_idx"] == 0
    assert d2[0]["n_chars"] == len("the cat was in the house.")


def test_embedding_covariance_and_pca(spark):
    import numpy as np

    from pdf_to_epub_spark.operators.similarity import (
        embedding_covariance,
        pca_top_component,
    )

    # deterministic anisotropic cloud: variance concentrated on a known
    # direction u, so eigh and power iteration must agree on it
    rng = np.random.RandomState(42)
    dim = 8
    u = np.zeros(dim)
    u[1] = 0.8
    u[4] = 0.6
    X = (
        rng.randn(400, 1) * 3.0 * u[None, :]
        + rng.randn(400, dim) * 0.3
    ).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(400)],
        "vec_id long, embedding array<float>",
    )
    cov_rows = embedding_covariance(df).collect()
    assert len(cov_rows) == dim * dim
    got = np.zeros((dim, dim))
    for r in cov_rows:
        got[r["i"] - 1, r["j"] - 1] = r["cov"]
    Xd = X.astype(np.float64)
    ref = np.cov(Xd, rowvar=False, bias=True)
    assert np.allclose(got, ref, atol=2e-4)
    assert np.allclose(got, got.T)  # symmetric by construction

    lam, v = pca_top_component(df, iters=60)
    w, V = np.linalg.eigh(ref)
    top = V[:, -1]
    cos = abs(float(np.dot(v, top)))
    assert cos > 0.999
    assert abs(lam - w[-1]) / w[-1] < 1e-3
    # sign convention: first nonzero loading positive
    nz = [x for x in v if abs(x) > 1e-12]
    assert nz[0] > 0


def test_contamination_spans_interval_merge(spark):
    from pdf_to_epub_spark.operators.dedup import contamination_spans

    leak = "zero one two three four five six seven eight nine"  # 10 toks
    corpus = spark.createDataFrame(
        [
            # leak at tokens 3..12, then again at 20..29 (split spans)
            (1, "pad pad pad " + leak + " " + "x " * 7 + leak + " tail"),
            (2, "no overlap with anything here at all"),
            (3, None),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, leak)], "bench_id long, text string")
    rows = sorted(
        contamination_spans(corpus, bench, k=8).collect(),
        key=lambda r: (r["doc_id"], r["span_start"]),
    )
    assert [r["doc_id"] for r in rows] == [1, 1]
    # 10-token leak with k=8 -> 3 shingle starts, span covers 10 tokens
    first, second = rows
    assert (first["span_start"], first["span_end"], first["n_shingles"]) == (3, 12, 3)
    assert second["span_end"] - second["span_start"] == 9
    assert second["n_shingles"] == 3


def test_dict_compression_ratio(spark):
    from pdf_to_epub_spark.operators.textstats import dict_compression_ratio

    # 4 repeats: enough chrome to matter, few enough that zlib's own
    # window can't already absorb it all (gain measured 0.127)
    chrome = "site nav header footer copyright menu links sidebar banner " * 4
    df = spark.createDataFrame(
        [
            (1, chrome + "unique article body about spark engines", chrome),
            (2, "totally unrelated prose content with no template words "
                "in common, discussing rivers mountains weather and travel "
                "plans for the coming autumn season in great detail " * 3,
             chrome),
            (3, "no dict for this one", None),
            (4, None, chrome),
        ],
        "doc_id long, text string, zdict string",
    )
    rows = {r["doc_id"]: r for r in dict_compression_ratio(df).collect()}
    # template-heavy page compresses much better with the site dict
    assert rows[1]["ratio_dict"] < rows[1]["ratio_plain"]
    assert rows[1]["dict_gain"] > 0.1
    # unrelated content: dict can't hurt much, gain stays >= ~0
    assert rows[2]["dict_gain"] > -0.05
    # null dict falls back to plain; null text yields nulls
    assert rows[3]["ratio_dict"] == rows[3]["ratio_plain"]
    assert rows[4]["ratio_plain"] is None and rows[4]["dict_gain"] is None


def test_contamination_spans_null_text_yields_no_rows(spark):
    from pdf_to_epub_spark.operators.dedup import contamination_spans

    corpus = spark.createDataFrame([(1, None)], "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100, None), (101, "")], "bench_id long, text string"
    )
    assert contamination_spans(corpus, bench, k=8).count() == 0


def test_session6_plan_shapes(spark):
    """Plan pins for the session-6 zero-shuffle/one-pass claims:
    proximity_search and nb scoring have NO exchange; lang_spans carries
    exactly one token-array build into the explode; contamination_spans'
    corpus side shuffles only matched rows (the single exchange pair
    belongs to the window+groupBy over hits)."""
    from pyspark.sql import functions as FF

    from pdf_to_epub_spark.operators.classify import nb_train_scores
    from pdf_to_epub_spark.operators.ir import proximity_search
    from pdf_to_epub_spark.operators.textstats import lang_spans

    docs = spark.createDataFrame(
        [(i, "the cat and the dog was here. le chat est une belle. "
             "alpha beta gamma window spark")
         for i in range(8)],
        "doc_id long, text string",
    )

    def plan_of(df) -> str:
        return df._jdf.queryExecution().executedPlan().toString()

    assert "Exchange" not in plan_of(proximity_search(docs, "spark", "window"))

    labels = docs.select("doc_id", (FF.col("doc_id") % 2 == 0).alias("label"))
    scored = nb_train_scores(docs, labels)  # training collects happen here
    assert "Exchange" not in plan_of(scored)

    spans_plan = plan_of(lang_spans(docs))
    # one window + one groupBy partial/final pair, nothing else wide
    assert spans_plan.count("Exchange") <= 3
    # the sentence-array build appears once (no inferred-generate
    # inline below the explode).  NB: the six per-language token
    # extractions sit in ONE Project, where codegen subexpression
    # elimination evaluates them once — only the SENTENCE pattern count
    # is the trap signal.
    opt = lang_spans(docs)._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("[^.!?]+") == 1


def test_label_propagation_separates_bridged_cliques(spark):
    from pdf_to_epub_spark.operators.dedup import connected_components
    from pdf_to_epub_spark.operators.urls import label_propagation

    edges = (
        [(f"a{i}", f"a{j}") for i in range(4) for j in range(i + 1, 4)]
        + [(f"b{i}", f"b{j}") for i in range(4) for j in range(i + 1, 4)]
        + [("a3", "b0")]  # one weak bridge
    )
    df = spark.createDataFrame(edges, "src string, dst string")
    labels = {r["node"]: r["label"]
              for r in label_propagation(df, iters=6).collect()}
    a_labels = {labels[f"a{i}"] for i in range(4)}
    b_labels = {labels[f"b{i}"] for i in range(4)}
    assert len(a_labels) == 1 and len(b_labels) == 1
    assert a_labels != b_labels  # LPA keeps the bridged cliques apart
    nodes = (
        df.select(F.col("src").alias("doc_id"))
        .unionByName(df.select(F.col("dst").alias("doc_id")))
        .distinct()
    )
    comp = connected_components(
        df.select(F.col("src").alias("id_a"), F.col("dst").alias("id_b")),
        nodes,
    )
    assert comp.select("component").distinct().count() == 1  # CC merges


def test_mask_spans_and_merge(spark):
    from pdf_to_epub_spark.operators.dedup import mask_spans, merge_spans

    corpus = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "untouched  doc   here"), (3, None)],
        "doc_id long, text string",
    )
    # duplicate span (from two benches) + overlapping + disjoint
    spans = spark.createDataFrame(
        [(1, 1, 3), (1, 1, 3), (1, 3, 4), (1, 6, 7)],
        "doc_id long, span_start int, span_end int",
    )
    merged = sorted(
        (r["span_start"], r["span_end"])
        for r in merge_spans(spans).collect()
    )
    assert merged == [(1, 4), (6, 7)]  # duplicates collapse, overlaps merge
    out = {r["doc_id"]: r for r in mask_spans(corpus, spans).collect()}
    assert out[1]["text"] == "a <REDACTED> <REDACTED> <REDACTED> <REDACTED> f <REDACTED> <REDACTED>"
    assert out[1]["n_masked"] == 6 and out[1]["n_tokens"] == 8
    assert out[2]["text"] == "untouched  doc   here"  # byte-identical
    assert out[3]["text"] is None and out[3]["n_masked"] == 0


def test_mask_spans_preserves_case_and_lpa_self_loop(spark):
    from pdf_to_epub_spark.operators.dedup import mask_spans
    from pdf_to_epub_spark.operators.urls import label_propagation

    corpus = spark.createDataFrame(
        [(1, "The QUICK Fox ate The Benchmark Passage Here")],
        "doc_id long, text string",
    )
    spans = spark.createDataFrame(
        [(1, 3, 5)], "doc_id long, span_start int, span_end int"
    )
    out = mask_spans(corpus, spans).collect()[0]
    # surviving tokens keep their original case (span indexes come from
    # the lowered split; the rebuild must not lowercase)
    assert out["text"] == (
        "The QUICK Fox <REDACTED> <REDACTED> <REDACTED> Passage Here"
    )

    # a self-loop must not double the self-vote: x's two L-labeled
    # neighbors outvote its own label even with edge (x, x) present
    edges = spark.createDataFrame(
        [("l1", "l2"), ("l1", "x"), ("l2", "x"), ("x", "x")],
        "src string, dst string",
    )
    labels = {r["node"]: r["label"]
              for r in label_propagation(edges, iters=4).collect()}
    assert labels["x"] == labels["l1"] == labels["l2"]


def test_ngram_coverage_controlled(spark):
    from pdf_to_epub_spark.operators.textstats import ngram_coverage

    train = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "epsilon zeta")],
        "doc_id long, text string",
    )
    test = spark.createDataFrame(
        [(3, "alpha beta nu"), (4, "x"), (5, None)],
        "doc_id long, text string",
    )
    rows = {r["n"]: r for r in ngram_coverage(train, test).collect()}
    # unigrams: {alpha, beta, nu, x}; covered: alpha, beta
    assert rows[1]["test_ngrams"] == 4 and rows[1]["covered"] == 2
    assert rows[1]["coverage"] == 0.5
    # bigrams: {alpha beta, beta nu}; covered: alpha beta  ("x" too short)
    assert rows[2]["test_ngrams"] == 2 and rows[2]["covered"] == 1
    # trigrams: {alpha beta nu}; not in train
    assert rows[3]["test_ngrams"] == 1 and rows[3]["covered"] == 0


def test_recrawl_drift_classes(spark):
    from pdf_to_epub_spark.operators.dedup import md5_hash60, recrawl_drift

    # distinct words: per-bit vote margins are ~sqrt(n), so a real edit
    # moves SOME bits (a tiny append on a 20x-repeated base flips none —
    # that robustness is simhash's point, not a test failure)
    base = " ".join(f"word{chr(97 + i % 26)}{chr(97 + i // 26)}" for i in range(80))
    edited = base + " " + " ".join(f"extra{chr(97 + i)}" for i in range(12))
    old = spark.createDataFrame(
        [(1, base), (2, base), (3, base)], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [
            (1, base),     # identical
            (2, edited),   # additive edit -> some bits move, most stay
            (3, "completely different text about trains and rivers " * 20),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in
            recrawl_drift(old, new, token_hash=md5_hash60).collect()}
    assert rows[1]["hamming"] == 0 and rows[1]["drift_class"] == "identical"
    assert 0 < rows[2]["hamming"] < rows[3]["hamming"]
    assert rows[3]["hamming"] > 16 and rows[3]["drift_class"] == "rewrite"


def test_zipf_fit_on_zipfian_corpus(spark):
    import math

    from pdf_to_epub_spark.operators.textstats import zipf_fit

    # construct frequencies ~ 1000/r (true slope -1) over 40 LETTER-ONLY
    # terms (the tokenizer class is [a-z...]+ — digits would collapse
    # every term to 'w')
    words = []
    for r in range(1, 41):
        name = f"w{chr(97 + (r - 1) % 26)}{chr(97 + (r - 1) // 26)}"
        words += [name] * max(1, round(1000 / r))
    df = spark.createDataFrame([(0, " ".join(words))], "doc_id long, text string")
    row = zipf_fit(df, top_k=40).collect()[0]
    assert row["n_terms"] == 40
    assert -1.1 < row["slope"] < -0.9  # near the planted exponent
    # intercept ~ ln(1000)
    assert abs(row["intercept"] - math.log(1000)) < 0.2


def test_mask_spans_segment_rebuild_matches_per_token_reference(spark):
    """r6: mask_spans' O(tokens+spans) segment rebuild must byte-match a
    per-token Python reference on randomized span sets, including
    edge-touching, adjacent-after-merge, and out-of-range spans."""
    import random

    from pdf_to_epub_spark.operators.dedup import mask_spans

    rng = random.Random(29)
    docs, spans = [], []
    for d in range(40):
        n = rng.randrange(1, 30)
        toks = [f"w{d}_{i}" for i in range(n)]
        docs.append((d, " ".join(toks)))
        for _ in range(rng.randrange(0, 6)):
            s = rng.randrange(-2, n + 3)  # incl. out-of-contract negatives
            e = s + rng.randrange(0, 5)
            spans.append((d, s, e))
    docs.append((98, "solo"))  # no spans -> byte-identical passthrough
    docs.append((99, None))    # NULL text
    corpus = spark.createDataFrame(docs, "doc_id long, text string")
    sdf = spark.createDataFrame(
        spans, "doc_id long, span_start int, span_end int"
    )
    got = {r["doc_id"]: r for r in mask_spans(corpus, sdf).collect()}

    by_doc: dict[int, list] = {}
    for d, s, e in spans:
        by_doc.setdefault(d, []).append((s, e))
    for d, text in docs:
        row = got[d]
        if text is None:
            assert row["text"] is None and row["n_tokens"] is None
            continue
        toks = text.split(" ")
        cov = by_doc.get(d)
        if not cov:
            assert row["text"] == text
            continue
        ref = [
            "<REDACTED>"
            if any(s <= i <= e for s, e in cov)
            else t
            for i, t in enumerate(toks)
        ]
        assert row["text"] == " ".join(ref), (d, row["text"], ref)
        assert row["n_tokens"] == len(toks)
