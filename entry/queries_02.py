"""Driver query builders (part 2/7 of the mechanical __spark_entry__ split; verbatim)."""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
import pathlib
from entry._shared import _ship_package, _t, _vec_lit
from entry.queries_01 import _delta_class_pairs


def _q_template_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain chrome removal (operators/dedup.py
    `strip_template_lines`): deterministic site chrome is injected ahead
    of each document's prose — a copyright banner on every page of the
    domain (100 % → stripped), a cookie notice on 13/25 pages (52 % —
    crosses the ≥50 % threshold exactly), and a promo line on 5/25 pages
    (20 % — kept, even though the SAME literal line appears on every
    domain: the frequency test is domain-scoped).  The oracle replays the
    injection, the distinct-doc frequency test, and the reassembly."""
    from pdf_to_epub_spark.operators import strip_template_lines

    d = _t(spark, sf_dir, "documents")
    j = F.floor(F.col("doc_id") / 20)
    banner = F.concat(
        F.lit("(c) "), F.col("source"), F.lit(" - all rights reserved\n")
    )
    cookie = F.when(
        j % 2 == 0,
        F.concat(F.lit("We use cookies on "), F.col("source"), F.lit("\n")),
    ).otherwise(F.lit(""))
    promo = F.when(
        j % 5 == 0, F.lit("Limited promo - subscribe today\n")
    ).otherwise(F.lit(""))
    mutated = d.select(
        "doc_id",
        "source",
        F.concat(banner, cookie, promo, F.coalesce("text", F.lit(""))).alias(
            "text"
        ),
    )
    out = strip_template_lines(mutated)
    return out.select(
        "doc_id",
        "source",
        F.md5("text").alias("text_md5"),
        "n_lines",
        "n_removed",
    )


def _q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over documents with deterministic injected PII (email
    per doc, IPv4 per doc, phone on every third doc) so the scrubber has
    known work; counts per class plus the md5 of the redacted text make the
    whole rewrite oracle-checkable.  Patterns are Java/RE2-portable by
    construction (operators/textstats.PII_PATTERNS)."""
    from pdf_to_epub_spark.operators import scrub_pii

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    injected = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" call +1 415 555 0"),
                    F.lpad((F.col("doc_id") % 100).cast("string"), 3, "0"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    out = scrub_pii(injected)
    return out.select(
        "doc_id",
        F.col("n_email").cast("long").alias("n_email"),
        F.col("n_ip").cast("long").alias("n_ip"),
        F.col("n_phone").cast("long").alias("n_phone"),
        F.md5("clean_text").alias("clean_md5"),
    )


def _q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality gate (Rae et al. 2021 §A1.1) over documents —
    every signal plus the combined keep verdict, all column algebra,
    replicated exactly in the DuckDB oracle."""
    from pdf_to_epub_spark.operators import gopher_quality

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = gopher_quality(d)
    return out.select(
        "doc_id",
        F.col("n_words_g").cast("long").alias("n_words"),
        F.col("mean_word_len_g").alias("mean_word_len"),
        "symbol_ratio",
        "bullet_line_ratio",
        "ellipsis_line_ratio",
        "alpha_word_ratio",
        F.col("stopword_hits").cast("long").alias("stopword_hits"),
        "keep",
    )


def _q_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-leakage check: docs sharing ≥1 distinct 8-word shingle with a
    benchmark set (here: the first 20 documents' own texts, so each
    benchmark row must at minimum flag its source doc).  Corpus side
    streams through a broadcast probe of the slim benchmark shingle-hash
    table; the oracle recomputes shared counts on string shingles."""
    from pdf_to_epub_spark.operators import benchmark_contamination

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bench = d.where(F.col("doc_id") < 20).select(
        F.col("doc_id").alias("bench_id"), F.col("text")
    )
    return benchmark_contamination(d, bench, k=8).select(
        "doc_id", "bench_id", F.col("shared_shingles").cast("long").alias("shared_shingles")
    )


def _q_contamination_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional leak audit (dedup.contamination_spans): same benchmark
    construction as benchmark_contamination (first 20 docs), but the
    output is the MAXIMAL leaked token spans per (doc, bench) — the
    oracle replays positional shingles on STRINGS (no hashes) and the
    interval merge in SQL windows: two independent algorithms, one
    result set."""
    from pdf_to_epub_spark.operators.dedup import contamination_spans

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bench = d.where(F.col("doc_id") < 20).select(
        F.col("doc_id").alias("bench_id"), F.col("text")
    )
    return contamination_spans(d, bench, k=8)


def _q_mask_contaminated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination ACT step (dedup.mask_spans over
    contamination_spans): leaked token spans — merged across benchmark
    docs — are rewritten to <REDACTED>; untouched docs keep their text
    byte-identical.  The oracle composes the shared span-replay CTEs
    with a SQL token rewrite (correlated list lambda over
    generate_series positions)."""
    from pdf_to_epub_spark.operators.dedup import (
        contamination_spans,
        mask_spans,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bench = d.where(F.col("doc_id") < 20).select(
        F.col("doc_id").alias("bench_id"), F.col("text")
    )
    spans = contamination_spans(d, bench, k=8).select(
        "doc_id", "span_start", "span_end"
    )
    return mask_spans(d, spans).select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("masked_md5"),
        "n_tokens",
        "n_masked",
    )


def _q_recrawl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy recrawl change detection (dedup.recrawl_drift): simhash
    Hamming distance between the snapshot_delta class pairs, md5-hash60
    token form so the oracle replays the fingerprints bit-for-bit in
    pure Python."""
    from pdf_to_epub_spark.operators.dedup import md5_hash60, recrawl_drift

    pairs = _delta_class_pairs()
    d = _t(spark, sf_dir, "documents").select("doc_id")
    r1 = (F.col("doc_id") % 13 + 1).cast("int")
    old = d.select(
        "doc_id",
        F.element_at(F.array(*[F.lit(o) for o, _ in pairs]), r1).alias("text"),
    )
    new = d.select(
        "doc_id",
        F.element_at(F.array(*[F.lit(n) for _, n in pairs]), r1).alias("text"),
    )
    return recrawl_drift(old, new, token_hash=md5_hash60)


def _recrawl_drift_oracle() -> str:
    """Pure-Python simhash replay per class: md5-60bit token hashes,
    per-occurrence +-1 bit votes, same class thresholds."""
    import hashlib as _hl
    import re as _re

    def simhash(text: str) -> int:
        votes = [0] * 64
        for tok in _re.split(r"\s+", text.strip(" ").lower()):
            h = int(_hl.md5(tok.encode("utf-8")).hexdigest()[:15], 16)
            for i in range(64):
                votes[i] += 1 if (h >> i) & 1 else -1
        return sum(1 << i for i in range(64) if votes[i] > 0)

    vals = []
    for r, (old, new) in enumerate(_delta_class_pairs()):
        ham = bin(simhash(old) ^ simhash(new)).count("1")
        cls = (
            "identical" if ham == 0
            else "minor" if ham <= 3
            else "moderate" if ham <= 16
            else "rewrite"
        )
        vals.append(f"({r}, {ham}, '{cls}')")
    rows = ",\n            ".join(vals)
    return f"""
        WITH golden(r, hamming, drift_class) AS (VALUES
            {rows})
        SELECT d.doc_id, g.hamming::INTEGER AS hamming, g.drift_class
        FROM documents d JOIN golden g ON d.doc_id % 13 = g.r
    """


def _q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-health Zipf fit (textstats.zipf_fit): OLS ln(freq) vs
    ln(rank) over the top-64 vocabulary; integer-nano quantization +
    decimal sums make the fit engine-exact, and the oracle replays the
    full pipeline (counts, deterministic top-k, logs, OLS) in SQL."""
    from pdf_to_epub_spark.operators.textstats import zipf_fit

    return zipf_fit(_t(spark, sf_dir, "documents").select("text"))


def _q_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-split novelty check (textstats.ngram_coverage): distinct
    1/2/3-gram coverage of the doc_id%3==1 test slice by the rest of
    the corpus; the oracle replays gram construction and the semi-join
    membership per n in SQL."""
    from pdf_to_epub_spark.operators.textstats import ngram_coverage

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return ngram_coverage(
        d.filter(F.col("doc_id") % 3 != 1), d.filter(F.col("doc_id") % 3 == 1)
    )


def _q_corpus_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by id hash (md5-based so the
    oracle replays the exact arithmetic; weights 0.5/0.25/0.25 make the
    cumulative thresholds exactly representable doubles).  Membership is a
    pure function of (id, salt) — repartition/retry stable, unlike
    DataFrame.sample."""
    from pdf_to_epub_spark.operators import hash_split

    d = _t(spark, sf_dir, "documents").select("doc_id")
    return hash_split(
        d, {"train": 0.5, "val": 0.25, "test": 0.25}
    ).select("doc_id", "split")


def _docs_with_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + the deterministic 7x13 url scheme's registrable domain
    (same construction as _q_domain_stats)."""
    doc_id = F.col("doc_id")
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return d.withColumn(
        "domain",
        F.concat(F.lit("site"), (doc_id % 13).cast("string"), F.lit(".com")),
    )


def _q_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proportional per-domain quota (operators/sampling.py
    `domain_quota_sample`): keep-rate = min(1, cap/n_domain), membership
    decided by the md5 id hash — no window, no per-domain sort; the scale
    path for domain balancing.  The oracle replays count, rate, and hash
    arithmetic exactly."""
    from pdf_to_epub_spark.operators import domain_quota_sample

    d = _docs_with_domain(spark, sf_dir)
    return domain_quota_sample(d, cap=20).select("doc_id", "domain")


def _q_domain_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-domain cap (operators/sampling.py `domain_caps_exact`):
    the cap smallest id-hashes per domain survive (window rank).  Exact
    form of the quota op; hot-domain skew note in the docstring."""
    from pdf_to_epub_spark.operators import domain_caps_exact

    d = _docs_with_domain(spark, sf_dir)
    return domain_caps_exact(d, cap=20).select("doc_id", "domain")


def _q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document-length profile (p50/p90/p99 of n_chars) — the
    corpus-analytics rollup every ingest publishes.  Exact percentile here
    (bit-identical interpolation to DuckDB quantile_cont, verified); at
    100 TB swap in approx_percentile(..., accuracy) — same plan shape,
    bounded-memory sketch instead of per-group sort."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.expr("percentile(n_chars, 0.5)"), 4).alias("p50_chars"),
        F.round(F.expr("percentile(n_chars, 0.9)"), 4).alias("p90_chars"),
        F.round(F.expr("percentile(n_chars, 0.99)"), 4).alias("p99_chars"),
    )


def _q_blocked_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL blocklist gate (operators/urls.py `filter_blocked_urls`):
    broadcast anti-join on the registrable domain — the UT1-shape filter.
    Three of the 13 deterministic domains are blocked; survivors are
    hash-checked."""
    from pdf_to_epub_spark.operators import filter_blocked_urls

    d = _docs_with_domain(spark, sf_dir).select(
        "doc_id",
        F.concat(F.lit("http://sub."), F.col("domain"), F.lit("/p/"),
                 F.col("doc_id").cast("string")).alias("url"),
    )
    blocked = spark.createDataFrame(
        [("site1.com",), ("site4.com",), ("site11.com",)], "domain string"
    )
    return filter_blocked_urls(d, blocked).select("doc_id", "url")


def _q_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocab induction + per-doc OOV stats (operators/textstats.py
    `build_vocab`/`oov_rates`): top-200 corpus vocabulary (count desc,
    word asc — a total order, so the set is engine-identical), then the
    per-doc out-of-vocab word counts.  Integer outputs, hash-stable."""
    from pdf_to_epub_spark.operators import oov_rates

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return oov_rates(d, k=200)


def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (operators/packing.py): greedy fixed-capacity
    training-context assembly, parallel per md5 id-hash shard.  The oracle
    replays the exact fold with a recursive CTE — per-doc (shard, seq_id)
    assignment is a pure function of the id/token-count multiset, so the
    whole placement decision is hash-checkable."""
    from pdf_to_epub_spark.operators import pack_sequences

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return pack_sequences(d, max_tokens=512, n_shards=16)


def _q_packed_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized packed contexts (operators/packing.py `packed_texts`):
    member docs concatenated in doc_id order per (shard, seq_id).  The
    oracle replays the pack fold then string_agg's the same join — the
    full concatenated text is hash-checked."""
    from pdf_to_epub_spark.operators import packed_texts

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return packed_texts(d, max_tokens=512, n_shards=16)


def _q_bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality signal (operators/lm.py): add-one-smoothed
    char-bigram model trained on the corpus, every doc scored under it.
    Scores are sums of integer micro-nat costs, so the oracle hash-matches
    exactly — float summation order never enters the result."""
    from pdf_to_epub_spark.operators import bigram_lm_scores

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bigram_lm_scores(d)


def _q_lm_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet §4.3 perplexity partition: head/middle/tail thirds by mean
    bigram cost.  Tertile cutoffs from ONE exact percentile aggregation
    (no global sort/window); means and cutoffs rounded to 6 dp before the
    boundary compare so the DuckDB quantile_cont replay classifies
    identically."""
    from pdf_to_epub_spark.operators import bigram_lm_scores, lm_partition

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return lm_partition(bigram_lm_scores(d))


def _q_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing frequency-of-frequencies table (lm.good_turing): for
    each observed word count r, the number of word types seen r times
    and the floor-quantized exact-integer discounted estimates
    r* = (r+1)N_{r+1}/N_r (micro) and p_GT = r*/T (nano) — DECIMAL(38,0)
    div, no float anywhere, the unseen mass readable off the r=1 row."""
    from pdf_to_epub_spark.operators import good_turing

    d = _t(spark, sf_dir, "documents").select("text")
    return good_turing(d)


def _q_snm_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking (dedup.sorted_neighborhood_pairs,
    Hernandez & Stolfo): every doc pair within 3 positions in the global
    sort by a 12-char letters-only key — global row_number computed
    scalably (range partition + per-partition window + broadcast
    cumulative offsets; candidate join is an equi-join on position)."""
    from pdf_to_epub_spark.operators import sorted_neighborhood_pairs

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z]", ""), 1, 12
        ).alias("snm_key"),
    )
    return sorted_neighborhood_pairs(
        d, key_col="snm_key", id_col="doc_id", window=4
    )


def _q_kn_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney word-bigram scoring (lm.train_kn_bigram +
    lm.kn_bigram_scores, the KenLM/CCNet model family): top-64 vocab,
    OOV -> <unk> on both sides, D = 3/4 kept as an exact rational so
    every pair probability is one correctly-rounded log of exact
    integers; doc totals are integer micro-nat sums."""
    from pdf_to_epub_spark.operators import kn_bigram_scores, train_kn_bigram

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return kn_bigram_scores(d, train_kn_bigram(d, vocab_size=64), vocab_size=64)


def _q_kn_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet §4.3 head/middle/tail tertiles under the Kneser-Ney model
    (the paper's actual pipeline shape: KenLM-family perplexity feeding
    the partition, not the char-bigram proxy).  Same lm_partition
    mechanics — one exact percentile aggregation for the two cutoffs,
    6-dp rounding on both means and cutoffs before the boundary compare,
    bigram-less docs pinned to ``tail``."""
    from pdf_to_epub_spark.operators import (
        kn_bigram_scores,
        lm_partition,
        train_kn_bigram,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    scores = kn_bigram_scores(
        d, train_kn_bigram(d, vocab_size=64), vocab_size=64
    )
    return lm_partition(scores)


def _q_hrw_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous-hash shard assignment (sampling.hrw_shards, n=8):
    argmax-of-hashes per key, computed row-locally (transform →
    array_max, zero shuffle) — growing n moves only ~1/(n+1) of keys,
    all of them to the new shard (pinned in test_s14_ops)."""
    from pdf_to_epub_spark.operators import hrw_shards

    d = _t(spark, sf_dir, "documents").select("doc_id")
    return hrw_shards(d, n_shards=8)


def _q_paired_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired Poisson-bootstrap comparison (sampling.paired_bootstrap):
    is the chars/5 word-count estimate biased vs the real tokenizer?
    Per-doc DELTA resampled with md5-seeded Poisson(1) weights —
    mean delta, percentile CI, and the win-rate readout."""
    from pdf_to_epub_spark.operators import paired_bootstrap

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("n_chars").cast("double") / F.lit(5.0)).alias("est_words"),
        F.expr(
            "size(regexp_extract_all(lower(text), '[a-zà-öø-ÿ]+', 0))"
        ).alias("n_words"),
    )
    return paired_bootstrap(d, "est_words", "n_words", n_reps=32)


def _q_kn_arpa_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARPA-shaped export of the top-64 KN model (lm.kn_arpa_table):
    continuation unigrams + interpolation-mass backoffs + full
    interpolated bigram probabilities, all signed micro-nats — the
    KenLM interop table (backoff·P_cont reproduces the scorer's
    unseen-pair cost, pinned in test_s14_ops)."""
    from pdf_to_epub_spark.operators import kn_arpa_table, train_kn_bigram

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return kn_arpa_table(train_kn_bigram(d, vocab_size=64))


_WP_CHARS = "abcdefghijklmnopqrstuvwxyz" + "".join(
    chr(c) for c in list(range(0xE0, 0xF7)) + list(range(0xF8, 0x100))
)


def _q_wordpiece_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece greedy longest-match encode
    (textstats.wordpiece_encode_symbols) under a deterministic demo
    vocabulary — top-8 corpus words (a bounded 8-row model-fit
    collect, the package's IVF/LM precedent) plus the tokenizer
    alphabet as start+##-continuation pieces: most corpus words fall
    OUTSIDE the top-8 and segment char-by-char through the greedy loop
    (a top-k covering the whole vocabulary would make every encode a
    single piece and the oracle check vacuous — review finding);
    symbol table mirrors the BPE encoder's shape so the families
    compare directly."""
    from pdf_to_epub_spark.operators import build_vocab
    from pdf_to_epub_spark.operators.textstats import (
        wordpiece_encode_symbols,
    )

    d = _t(spark, sf_dir, "documents").select("text")
    top = [r.word for r in build_vocab(d, k=8).collect()]
    vocab = sorted(
        set(top)
        | set(_WP_CHARS)
        | {"##" + ch for ch in _WP_CHARS}
    )
    return wordpiece_encode_symbols(d, vocab)


def _q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-group quantile normalization (sampling.quantile_normalize):
    per-language n_chars distributions mapped rank-wise onto the pooled
    distribution — the domain-debiasing step before one global quality
    threshold.  The mapped value is an OBSERVED pooled score at an
    integer-exact midpoint-quantile index (DECIMAL div), computed with
    the scalable global-position lift (never a single-partition
    window)."""
    from pdf_to_epub_spark.operators import quantile_normalize

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return quantile_normalize(
        d, score_col="n_chars", group_col="lang", id_col="doc_id"
    )


def _q_chi2_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence audit (evaluate.chi2_independence)
    over the (lang, source) contingency table: exact integer per-cell
    numerator/denominator, ONE identically-associated double expression
    per cell nano-quantized, then an order-free integer sum."""
    from pdf_to_epub_spark.operators import chi2_independence

    d = _t(spark, sf_dir, "documents").select("lang", "source")
    return chi2_independence(d, "lang", "source")


def _q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V effect size (evaluate.cramers_v) over the same
    lang × source contingency as chi2_lang_source — the strength
    companion to the significance test; one identically-associated
    float chain over exact-integer inputs."""
    from pdf_to_epub_spark.operators.evaluate import cramers_v

    d = _t(spark, sf_dir, "documents").select("lang", "source")
    return cramers_v(d, "lang", "source")


def _q_colbert_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction MaxSim retrieval (similarity.colbert_maxsim):
    labels 0-1 play query token bags, every label a document bag;
    per-pair cosines quantize to integer micro-units BEFORE the
    max-per-query-token / sum-per-document reductions, so both engines
    reduce exact integers."""
    from pdf_to_epub_spark.operators import colbert_maxsim

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    return colbert_maxsim(
        e.where(F.col("label") <= 1).select(
            F.col("label").alias("qid"), "vec_id", "embedding"
        ),
        e.select(F.col("label").alias("did"), "embedding"),
        q_id="qid",
        q_tok="vec_id",
        d_id="did",
    )


def _q_luhn_card_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checksum-validated credit-card detection (textstats.
    credit_card_hits): Luhn mod-10 over maximal digit/space/dash runs —
    planted valid, invalid-check-digit, and spaced-valid cards per
    doc_id residue; counts are pure integer column algebra in both
    engines."""
    from pdf_to_epub_spark.operators.textstats import credit_card_hits

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    marker = (
        F.when(
            F.col("doc_id") % 4 == 0, F.lit(" card 4532015112830366 end")
        )
        .when(F.col("doc_id") % 4 == 1, F.lit(" card 4532015112830367 end"))
        .when(
            F.col("doc_id") % 4 == 2,
            F.lit(" card 4532 0151 1283 0366 end"),
        )
        .otherwise(F.lit(""))
    )
    injected = d.select(
        "doc_id",
        F.concat(F.coalesce(F.col("text"), F.lit("")), marker).alias("text"),
    )
    return credit_card_hits(injected)


def _q_text_reuse_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passim-style text-reuse alignment (dedup.text_reuse_spans): every
    doc gains a synthetic plagiarist (10 doc-unique filler tokens + its
    own tokens 21-50), and the operator must recover the copied
    interval as a single diagonal run — positions/intervals are pure
    integers, engine-exact; the oracle joins on shingle STRINGS where
    Spark joins rotation-XOR hashes (identical up to ~2^-63)."""
    from pdf_to_epub_spark.operators import text_reuse_spans

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ws = F.split(
        F.trim(F.lower(F.coalesce(F.col("text"), F.lit("")))), r"\s+"
    )
    fillers = F.array(
        *[
            F.concat(
                F.lit("filler"),
                F.col("doc_id").cast("string"),
                F.lit("x" + str(j)),
            )
            for j in range(10)
        ]
    )
    plag = d.select(
        (F.col("doc_id") + F.lit(2_000_000)).alias("doc_id"),
        F.concat_ws(" ", F.concat(fillers, F.slice(ws, 21, 30))).alias(
            "text"
        ),
    )
    pairs = d.select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + F.lit(2_000_000)).alias("id_b"),
    )
    return text_reuse_spans(d.union(plag), pairs, k=5, min_run=3)


def _q_text_reuse_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The passim two-stage pipeline (dedup.text_reuse_spans →
    dedup.merge_reuse_spans): the synthetic plagiarist here contains an
    INSERTION mid-copy (fillers + tokens 21-35 + a foreign token +
    tokens 36-50), splitting the alignment into two diagonals that the
    gappy merge must reunite into one passage with n_runs = 2."""
    from pdf_to_epub_spark.operators import (
        merge_reuse_spans,
        text_reuse_spans,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ws = F.split(
        F.trim(F.lower(F.coalesce(F.col("text"), F.lit("")))), r"\s+"
    )
    fillers = F.array(
        *[
            F.concat(
                F.lit("gfill"),
                F.col("doc_id").cast("string"),
                F.lit("x" + str(j)),
            )
            for j in range(10)
        ]
    )
    body = F.concat(
        fillers,
        F.slice(ws, 21, 15),
        F.array(F.concat(F.lit("zzins"), F.col("doc_id").cast("string"))),
        F.slice(ws, 36, 15),
    )
    plag = d.select(
        (F.col("doc_id") + F.lit(3_000_000)).alias("doc_id"),
        F.concat_ws(" ", body).alias("text"),
    )
    pairs = d.select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + F.lit(3_000_000)).alias("id_b"),
    )
    spans = text_reuse_spans(d.union(plag), pairs, k=5, min_run=3)
    return merge_reuse_spans(spans, gap=8)


def _q_epub_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's FINAL artifact as a distributed column: extraction →
    assembly → per-doc EPUB3 zip bytes (export.epub_bytes — mimetype-first
    STORED entry, fixed timestamps ⇒ byte-deterministic), hash-compared
    against a pure-Python replay of the same transform.  Bounded to 40
    docs per corpus so the oracle VALUES stay small; the plan shape is the
    full-corpus one (narrow extract → narrow assembly → LEFT join back
    to the doc list → narrow export)."""
    _ship_package(spark)
    from pdf_to_epub_spark.operators import (
        assemble_documents,
        extract_documents,
    )

    docs = _t(spark, sf_dir, "documents").where("doc_id < 40").select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.col("lang"),
        F.col("text"),
    )
    # LEFT join from the doc list: assembly drops a doc whose extraction
    # yields zero blocks, while the oracle still carries its (valid,
    # empty-body) EPUB row
    assembled = assemble_documents(extract_documents(docs))
    with_lang = docs.select("url", "lang").join(
        assembled.select("url", "blocks"), "url", "left"
    )

    def gen(batches):
        import hashlib as _h

        import pandas as pd

        from pdf_to_epub_spark.export import epub_bytes

        for pdf in batches:
            urls, md5s, sizes = [], [], []
            for url, lang, blocks in zip(pdf["url"], pdf["lang"], pdf["blocks"]):
                payload = epub_bytes(
                    [dict(b) for b in blocks] if blocks is not None else [],
                    title=url, lang=lang, url=url,
                )
                urls.append(url)
                md5s.append(_h.md5(payload).hexdigest())
                sizes.append(len(payload))
            yield pd.DataFrame(
                {"url": urls, "epub_md5": md5s, "n_bytes": sizes}
            )

    return with_lang.mapInPandas(gen, "url string, epub_md5 string, n_bytes long")


def _q_epub_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPUB round trip: extraction → assembly → per-doc EPUB3 zip →
    re-ingest through the EPUB SOURCE (sources/epub.parse_epub_payloads,
    container→OPF→spine walk) — one row per recovered chapter.  The
    oracle derives the expected chapters from the block structure
    directly (chapter_struct + the exporter's front-matter/Body rules)
    WITHOUT touching zip or XHTML, so the parser is checked against an
    independent derivation, not against itself."""
    _ship_package(spark)
    from pdf_to_epub_spark.operators import (
        assemble_documents,
        extract_documents,
    )
    from pdf_to_epub_spark.sources.epub import parse_epub_payloads

    docs = _t(spark, sf_dir, "documents").where("doc_id < 40").select(
        F.col("doc_id"),
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.col("lang"),
        F.col("text"),
    )
    assembled = assemble_documents(extract_documents(docs.drop("doc_id")))
    with_lang = docs.select("doc_id", "url", "lang").join(
        assembled.select("url", "blocks"), "url", "left"
    )

    def gen(batches):
        import pandas as pd

        from pdf_to_epub_spark.export import epub_bytes

        for pdf in batches:
            ids, payloads = [], []
            for doc_id, url, lang, blocks in zip(
                pdf["doc_id"], pdf["url"], pdf["lang"], pdf["blocks"]
            ):
                ids.append(doc_id)
                payloads.append(
                    epub_bytes(
                        [dict(b) for b in blocks] if blocks is not None else [],
                        title=url, lang=lang, url=url,
                    )
                )
            yield pd.DataFrame({"doc_id": ids, "epub": payloads})

    payloads = with_lang.mapInPandas(gen, "doc_id long, epub binary")
    parsed = parse_epub_payloads(payloads)
    return parsed.select(
        "doc_id",
        F.col("chapter_idx").cast("int").alias("chapter_idx"),
        "heading",
        F.md5(F.encode(F.col("text"), "utf-8")).alias("text_md5"),
        F.col("n_paras").cast("int").alias("n_paras"),
        "status",
    )


def _epub_roundtrip_oracle(limit: int = 40) -> str | None:
    """Expected chapters computed from the BLOCK structure (the exporter's
    chapter list: front matter if non-empty, chapter_struct chapters,
    'Body' fallback) — the zip/XHTML layers never run here, so the
    round-trip oracle is an independent derivation (same VALUES pattern
    as `_epub_export_oracle`, keyed by the corpus' doc-0 text md5)."""
    import hashlib

    import pyarrow.parquet as pq

    from pdf_to_epub_spark.export import _paragraphs
    from pdf_to_epub_spark.extractlib.blocks import chapter_struct
    from pdf_to_epub_spark.extractlib.pipeline import extract_document

    def q(s: str) -> str:
        return s.replace("'", "''")

    rows: list[str] = []
    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        path = pathlib.Path(sf_dir) / "documents.parquet"
        if not path.exists():
            return None
        t = pq.read_table(path, columns=["doc_id", "text"])
        recs = sorted(zip(t["doc_id"].to_pylist(), t["text"].to_pylist()))
        key = hashlib.md5((recs[0][1] or "").encode()).hexdigest()
        for doc_id, text in recs:
            if doc_id >= limit:
                continue
            res = extract_document(text)
            dicts = [b._asdict() for b in res.blocks]
            doc = chapter_struct(res.blocks)
            chapters: list[tuple[str, list[str]]] = []
            if doc["front_matter"]:
                paras = _paragraphs(doc["front_matter"])
                if paras:
                    chapters.append(("Front Matter", paras))
            for ch in doc["chapters"]:
                chapters.append((ch["heading"], _paragraphs(ch["blocks"])))
            if not chapters:
                chapters.append(("Body", _paragraphs(dicts)))
            for i, (heading, paras) in enumerate(chapters, start=1):
                body = "\n".join(paras)
                rows.append(
                    f"('{key}',{doc_id},{i},'{q(' '.join(heading.split()))}',"
                    f"'{hashlib.md5(body.encode()).hexdigest()}',"
                    f"{len(paras)},'ok')"
                )
    vals = ",\n            ".join(rows)
    return f"""
        WITH golden(corpus_key, doc_id, chapter_idx, heading, text_md5,
                    n_paras, status) AS (VALUES
            {vals})
        SELECT doc_id::BIGINT AS doc_id, chapter_idx::INT AS chapter_idx,
               heading, text_md5, n_paras::INT AS n_paras, status
        FROM golden
        WHERE corpus_key = (SELECT md5(text) FROM documents
                            WHERE doc_id = 0)
    """


def _epub_export_oracle(limit: int = 40) -> str | None:
    """Pure-Python replay of the EPUB export over the same 40 docs per
    corpus (same pattern as the IVF-centroid oracle: computed once at
    oracle-build time from the testdata parquet, keyed by the corpus'
    doc-0 text md5, inlined as VALUES)."""
    import hashlib

    import pyarrow.parquet as pq

    from pdf_to_epub_spark.export import epub_bytes
    from pdf_to_epub_spark.extractlib.pipeline import extract_document

    rows: list[str] = []
    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        path = pathlib.Path(sf_dir) / "documents.parquet"
        if not path.exists():
            return None
        t = pq.read_table(path, columns=["doc_id", "text", "lang"])
        recs = sorted(
            zip(
                t["doc_id"].to_pylist(),
                t["text"].to_pylist(),
                t["lang"].to_pylist(),
            )
        )
        key = hashlib.md5((recs[0][1] or "").encode()).hexdigest()
        for doc_id, text, lang in recs:
            if doc_id >= limit:
                continue
            url = f"doc://{doc_id}"
            res = extract_document(text)
            payload = epub_bytes(
                [b._asdict() for b in res.blocks], title=url, lang=lang, url=url
            )
            rows.append(
                f"('{key}','{url}','{hashlib.md5(payload).hexdigest()}',"
                f"{len(payload)})"
            )
    vals = ",\n            ".join(rows)
    return f"""
        WITH golden(corpus_key, url, epub_md5, n_bytes) AS (VALUES
            {vals})
        SELECT url, epub_md5, n_bytes::BIGINT AS n_bytes FROM golden
        WHERE corpus_key = (SELECT md5(text) FROM documents WHERE doc_id = 0)
    """


def _link_pages(d: DataFrame, extra_anchors: bool = False) -> DataFrame:
    """Deterministic (url, html) link pages shared by page_outlinks and
    domain_pagerank: one absolute, one scheme-relative and one
    path-absolute anchor per doc.  ``extra_anchors`` adds a
    directory-relative anchor, an UNQUOTED-href anchor (legal HTML the
    extractor must still see) and a dropped mailto — all of which resolve
    to the page's own domain (or vanish), so enabling them never changes
    the DISTINCT domain edge set the static pagerank oracle replays."""
    i = F.col("doc_id")
    url = F.concat(
        F.lit("https://sub"), (i % 7).cast("string"),
        F.lit(".site"), (i % 13).cast("string"),
        F.lit(".example/dir"), (i % 3).cast("string"),
        F.lit("/page"), i.cast("string"), F.lit(".html"),
    )
    parts = [
        F.lit('<html><body><a href="https://ext'), (i % 5).cast("string"),
        F.lit('.example.org/x'), i.cast("string"),
        F.lit('">a</a><a href=\'//cdn'), (i % 2).cast("string"),
        F.lit(".example.net/y'>b</a>"),
        F.lit('<a href="/root'), (i % 4).cast("string"), F.lit('.html">c</a>'),
    ]
    if extra_anchors:
        parts += [
            F.lit('<a href="rel'), (i % 6).cast("string"),
            F.lit('.html">d</a><a href=uq'), (i % 6).cast("string"),
            F.lit('.html>e</a><a href="mailto:x@y.z">f</a>'),
        ]
    parts.append(F.lit("</body></html>"))
    html = F.encode(F.concat(*parts), "UTF-8")
    return d.select(url.alias("url"), html.alias("html"))


def _q_page_outlinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink extraction + crawler-style resolution over deterministic
    link pages (absolute, scheme-relative, path-absolute,
    directory-relative and UNQUOTED anchors per doc, plus a dropped
    mailto) — the frontier/webgraph primitive, JVM-side end to end."""
    from pdf_to_epub_spark.operators import extract_outlinks

    d = _t(spark, sf_dir, "documents").select("doc_id")
    pages = _link_pages(d, extra_anchors=True)
    return extract_outlinks(pages).select("url", "target")


def _q_page_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-metadata extraction (title / robots noindex-nofollow /
    rel=canonical) over deterministic page heads — the polite-crawl gate's
    input columns."""
    from pdf_to_epub_spark.operators import page_meta

    d = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    robots = (
        F.when(i % 6 == 0, F.lit('<meta name="robots" content="noindex, nofollow">'))
        .when(i % 6 == 1, F.lit("<meta name='robots' content='nofollow'>"))
        .when(i % 6 == 2, F.lit("<meta name=robots content=noindex>"))
        .when(i % 6 == 3, F.lit(""))
        # reversed attribute order + the 'none' directive
        .when(i % 6 == 4, F.lit('<meta content="none" name="robots">'))
        # multiple robots metas whose directives union
        .otherwise(
            F.lit(
                '<meta name=robots content=noindex>'
                '<meta name="robots" content="nofollow">'
            )
        )
    )
    canonical = F.when(
        i % 3 == 0,
        F.concat(F.lit('<link rel="canonical" href="https://c.example/p'),
                 i.cast("string"), F.lit('">')),
    ).otherwise(F.lit(""))
    html = F.encode(
        F.concat(
            F.lit("<html><head><title> Doc "), i.cast("string"),
            F.lit(" </title>"), robots, canonical,
            F.lit("</head><body>x</body></html>"),
        ),
        "UTF-8",
    )
    pages = d.select("doc_id", html.alias("html"))
    return page_meta(pages).select(
        "doc_id",
        F.col("page_title").alias("title"),
        F.col("page_noindex").alias("noindex"),
        F.col("page_nofollow").alias("nofollow"),
        F.col("page_canonical").alias("canonical"),
    )


def _q_domain_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the registrable-domain webgraph built from the same
    deterministic link pages as page_outlinks — the full chain
    extract_outlinks → domain_graph → 10 iterations of domain_rank.  The
    distinct edge set depends only on doc_id residues (full coverage at
    both test scales), so the oracle is one static pure-Python replay."""
    from pdf_to_epub_spark.operators import (
        domain_graph,
        domain_rank,
        extract_outlinks,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id")
    pages = _link_pages(d)
    return domain_rank(domain_graph(extract_outlinks(pages)))


def _communities_edge_residues() -> list[tuple[int, int]]:
    """Deterministic two-cluster graph over the 13 site residues: two
    cliques (0..5 and 6..12) joined by one weak bridge (5,6) — dense
    internal cohesion so the bridge cannot flip either side."""
    edges = [(a, b) for a in range(6) for b in range(a + 1, 6)]
    edges += [(a, b) for a in range(6, 13) for b in range(a + 1, 13)]
    edges += [(5, 6)]
    return edges


def _q_domain_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities (urls.label_propagation): the
    deterministic two-cluster domain graph (rings + chords + one weak
    bridge) must resolve into two communities — the op min-label
    connected_components cannot express (CC would merge them through
    the bridge).  Synchronous updates + smallest-label ties make the
    fixed-point replayable; the oracle is a pure-Python replay of the
    same 8 rounds."""
    from pdf_to_epub_spark.operators.urls import label_propagation

    d = _t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 13).alias("r")
    ).distinct()
    pred = None
    for a, b in _communities_edge_residues():
        term = (F.col("ra") == a) & (F.col("rb") == b)
        pred = term if pred is None else (pred | term)
    pairs = d.select(F.col("r").alias("ra")).crossJoin(
        d.select(F.col("r").alias("rb"))
    )
    edges = pairs.filter(pred).select(
        F.concat(F.lit("site"), F.col("ra").cast("string")).alias("src"),
        F.concat(F.lit("site"), F.col("rb").cast("string")).alias("dst"),
    )
    return label_propagation(edges, iters=8)


def _domain_communities_oracle() -> str:
    """Pure-Python replay of 8 synchronous min-tie LPA rounds over the
    same static edge set."""
    import collections

    edges = [
        (f"site{a}", f"site{b}") for a, b in _communities_edge_residues()
    ]
    adj: dict[str, set] = collections.defaultdict(set)
    for s, t in edges:
        adj[s].add(t)
        adj[t].add(s)
    nodes = sorted(adj)
    labels = {v: v for v in nodes}
    for _ in range(8):
        labels = {
            v: sorted(
                collections.Counter(
                    # the self-vote, mirroring the operator
                    [labels[u] for u in adj[v]] + [labels[v]]
                ).items(),
                key=lambda kv: (-kv[1], kv[0]),
            )[0][0]
            for v in nodes
        }
    vals = ",\n            ".join(
        f"('{v}', '{labels[v]}')" for v in nodes
    )
    return f"""
        WITH golden(node, label) AS (VALUES
            {vals})
        SELECT node, label FROM golden
    """


def _q_project_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL projection (similarity.project_embeddings): 64-d embeddings
    onto 8 seeded Gaussian directions, long-form rows; the oracle inlines
    the SAME seeded planes and replays via list_dot_product."""
    from pdf_to_epub_spark.operators import project_embeddings

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    return project_embeddings(e, dim=64, out_dim=8, seed=3)


def _project_embeddings_oracle(dim: int = 64, out_dim: int = 8, seed: int = 3) -> str:
    """Same seeded hyperplanes inlined as literals; one UNION ALL branch
    per component."""
    from pdf_to_epub_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, out_dim, seed)
    branches = "\nUNION ALL\n".join(
        f"SELECT vec_id, {j} AS component,"
        f" round(list_dot_product(embedding::DOUBLE[], {_vec_lit(p)}), 6)"
        f" AS value FROM embeddings"
        for j, p in enumerate(planes)
    )
    return branches


def _q_calibrated_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language score calibration (classify.calibrate_scores):
    alpha-ratio quality mapped to its within-language percent-rank via
    the skew-safe two-phase bucket-rank form; the oracle is DuckDB's
    native percent_rank window, which the reconstruction must equal."""
    from pdf_to_epub_spark.operators import calibrate_scores

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        (
            F.length(F.regexp_replace("text", "[^A-Za-zÀ-ÖØ-öø-ÿ]", ""))
            / F.greatest(F.length("text"), F.lit(1))
        ).alias("score"),
    )
    return calibrate_scores(d, score_col="score", group_col="lang")


def _q_trust_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TrustRank over the same deterministic domain graph as
    domain_pagerank, seeded at site0/site1 (urls.trust_rank) — trust
    decays one hop into {example.org, example.net, self}; unreachable
    site domains must land at exactly 0.  Static pure-Python oracle."""
    from pdf_to_epub_spark.operators import (
        domain_graph,
        extract_outlinks,
        trust_rank,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id")
    pages = _link_pages(d)
    return trust_rank(
        domain_graph(extract_outlinks(pages)),
        seeds=["site0.example", "site1.example"],
    )


def _trust_rank_oracle() -> str:
    """Pure-Python replay of trust_rank over the static synthetic edge
    set (13 site domains each → {example.org, example.net, itself}),
    seeds site0/site1."""
    srcs = [f"site{r}.example" for r in range(13)]
    edges = sorted(
        {(s, d) for s in srcs for d in ("example.org", "example.net", s)}
    )
    nodes = sorted({x for e in edges for x in e})
    out: dict[str, int] = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    seeds = {"site0.example", "site1.example"}
    damp = 0.85
    tp = {v: (1.0 / len(seeds) if v in seeds else 0.0) for v in nodes}
    r = dict(tp)
    for _ in range(10):
        nxt = {v: (1 - damp) * tp[v] for v in nodes}
        for s, t in edges:
            nxt[t] += damp * r[s] / out[s]
        r = nxt
    vals = ",\n            ".join(
        f"('{v}', {round(r[v], 9)!r})" for v in nodes
    )
    return f"""
        WITH golden(domain, trust) AS (VALUES
            {vals})
        SELECT domain, trust::DOUBLE AS trust FROM golden
    """


def _domain_pagerank_oracle() -> str:
    """Pure-Python replay of the simple-variant PageRank over the exact
    distinct edge set the synthetic pages produce: 13 site domains each →
    {example.org, example.net, itself}."""
    srcs = [f"site{r}.example" for r in range(13)]
    edges = sorted(
        {(s, d) for s in srcs for d in ("example.org", "example.net", s)}
    )
    nodes = sorted({x for e in edges for x in e})
    out: dict[str, int] = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    n, damp = len(nodes), 0.85
    r = {v: 1.0 / n for v in nodes}
    for _ in range(10):
        nxt = {v: (1 - damp) / n for v in nodes}
        for s, t in edges:
            nxt[t] += damp * r[s] / out[s]
        r = nxt
    vals = ",\n            ".join(
        f"('{v}', {round(r[v], 9)!r})" for v in nodes
    )
    return f"""
        WITH golden(domain, rank) AS (VALUES
            {vals})
        SELECT domain, rank::DOUBLE AS rank FROM golden
    """


def _hits_oracle() -> str:
    """Pure-Python replay of hits_scores (5 L1-normalized Kleinberg
    iterations) over the same static edge set as the PageRank oracle:
    13 site domains each → {example.org, example.net, itself}."""
    srcs = [f"site{r}.example" for r in range(13)]
    edges = sorted(
        {(s, d) for s in srcs for d in ("example.org", "example.net", s)}
    )
    nodes = sorted({x for e in edges for x in e})
    n = len(nodes)
    hub = {v: 1.0 / n for v in nodes}
    auth = {v: 1.0 / n for v in nodes}
    for _ in range(5):
        raw = {v: 0.0 for v in nodes}
        for s, t in edges:
            raw[t] += hub[s]
        tot = sum(raw[v] for v in nodes)
        auth = {v: (raw[v] / tot if tot > 0 else 0.0) for v in nodes}
        raw = {v: 0.0 for v in nodes}
        for s, t in edges:
            raw[s] += auth[t]
        tot = sum(raw[v] for v in nodes)
        hub = {v: (raw[v] / tot if tot > 0 else 0.0) for v in nodes}
    vals = ",\n            ".join(
        f"('{v}', {round(hub[v], 9)!r}, {round(auth[v], 9)!r})" for v in nodes
    )
    return f"""
        WITH golden(domain, hub, authority) AS (VALUES
            {vals})
        SELECT domain, hub::DOUBLE AS hub, authority::DOUBLE AS authority
        FROM golden
    """
