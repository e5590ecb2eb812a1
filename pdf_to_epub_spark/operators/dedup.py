"""Deduplication operators for a large-scale training-data pipeline.

All hot paths are JVM-side Catalyst expressions (higher-order functions +
hash builtins) — no Python in the row path:

* exact duplicates    — hash-groupBy on content digest (one shuffle, partial
  agg map-side)
* MinHash + LSH       — shingles → per-seed min-hash signature → banded
  bucket join; candidate verification by true shingle-set Jaccard.  The
  classic near-dup pipeline (Broder; see PAPERS.md) — at 100 TB the band
  bucket join replaces the O(n²) all-pairs comparison.
* SimHash             — 64-bit bit-majority fingerprint over token hashes,
  Hamming-banded for candidate pairing.
* n-gram Jaccard      — exact verification metric used by the MinHash path.
"""

from __future__ import annotations

from collections.abc import Callable
from fractions import Fraction

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _ceil_mul(n: Column, threshold: float) -> Column:
    """⌈n·t⌉ with t taken at its decimal-literal value, in exact integer
    arithmetic.  ``F.ceil(n * lit(t))`` is wrong whenever the float product
    rounds up past an exact integer (100 × 0.07 = 7.000000000000001 → ceil
    8): the PPJoin prefix shortens and the size-ratio bound over-tightens
    by one, silently dropping true pairs.  ⌈n·p/q⌉ = ⌊(n·p + q − 1)/q⌋;
    the double division is exact-enough because n·p < 2⁵³ and any
    non-integer quotient sits ≥ 1/q > 2⁻⁵² · ⌈n·t⌉ away from an integer
    for q ≤ 10⁹."""
    frac = Fraction(str(threshold))
    if frac.denominator > 10**9:
        # a float-arithmetic threshold (0.1 + 0.2 → '0.30000000000000004')
        # would blow the exactness precondition (n·p < 2⁵³); the nearest
        # ≤1e-9-denominator rational is beyond any meaningful Jaccard
        # resolution and keeps the bound exact
        frac = frac.limit_denominator(10**9)
    p, q = frac.numerator, frac.denominator
    return F.floor((n * F.lit(p) + F.lit(q - 1)) / F.lit(q)).cast("long")


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------

def exact_duplicate_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Hash-groupBy exact dedup: one row per duplicated content digest with
    group size and the kept (minimum) id."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.count("*").alias("n_docs"),
            F.min(id_col).alias("keeper_id"),
        )
        .where(F.col("n_docs") > 1)
    )


def drop_exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the minimum-id row per content digest (deterministic winner)."""
    w = F.row_number().over(
        Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    )
    return df.withColumn("_rn", w).where(F.col("_rn") == 1).drop("_rn")


# --------------------------------------------------------------------------
# Shingling + MinHash
# --------------------------------------------------------------------------

# Scale-safe default document-frequency cap for shingle-inverted-index
# candidate generation (`containment_pairs`, `ngram_jaccard_pairs`).  A
# shingle shared by d docs fans out ~d² candidate pairs — and the PPJoin
# prefix does NOT save you on template corpora: the template shingles'
# hashes occupy the SAME sorted rank region in every doc, so a hot
# shingle can sit in every doc's prefix (measured: 402/402 docs on the
# template-stress fixture).  An UNCAPPED default is therefore a
# quadratic blow-up on any template-heavy web corpus (nav bars, cookie
# banners, license boilerplate).  10⁴ keeps the worst per-shingle
# fan-out around 10⁸ hash-only join rows — bounded like `minhash`'s
# max_bucket=4096 — while staying a no-op on corpora smaller than 10⁴
# docs (df can never exceed the doc count, so small-scale results are
# bit-identical to exact).  Audit with :func:`containment_df_stats`.
#
# The constant is an int SUBCLASS so the operators can tell "caller left
# the default" (run the bounded no-op probe, keeping the default free on
# small corpora) from "caller passed an explicit cap" (their decision —
# no probe, fully lazy plan).  It behaves as the plain int 10_000 in all
# arithmetic/comparisons.
class _DefaultMaxDf(int):
    pass


DEFAULT_SHINGLE_MAX_DF = _DefaultMaxDf(10_000)


def _word_tokens(text_col: Column) -> Column:
    return F.split(F.trim(F.lower(text_col)), r"\s+")


def _shingle_hash_array(th_col: str, k: int) -> Column:
    """k-shingle identity hashes over a bound per-token-hash array column:
    shingle i = XOR of its k member hashes, each left-rotated by its
    offset (rot_j(th[i+j]), j = 0..k−1).  Pure bit algebra — no
    per-shingle slice allocation: the previous ``xxhash64(slice(...))``
    form materializes an UnsafeArrayData per position, and the allocation
    storm showed up as GC-locker stalls; this form measured 2.2× faster
    on the sf0.1 shingle stage with identical distinct-set sizes.

    Equality semantics: the rotation makes the combiner position-
    sensitive (anagram windows do NOT collide), and for random per-token
    xxhash64 values two differing windows collide with probability
    ~2⁻⁶³ — a transposition at offset distance d collides only when
    x⊕y is rot_d-invariant (probability 2^−(64−gcd(d,64))), the same
    order as the xxhash64-slice bound this replaces.  Requires k ≤ 64:
    rotations repeat mod 64, and a transposition at distance exactly 64
    would collide with probability 1.  Short arrays (n < k — the
    whole-array fallback start) XOR only the existing elements via
    NULL-safe ``F.get`` (under ANSI, element_at throws on the
    out-of-bounds tail); cross-length collisions against the zero pad
    are the same ~2⁻⁶⁴ event.
    """
    if k > 64:
        raise ValueError(f"rotation-combined shingles require k <= 64, got {k}")
    nh = F.size(th_col)
    starts = F.sequence(F.lit(0), F.greatest(nh - F.lit(k), F.lit(0)))

    def _sh(i: Column) -> Column:
        acc = None
        for j in range(k):
            e = F.coalesce(
                F.get(th_col, i + F.lit(j)), F.lit(0).cast("long")
            )
            r = (
                e
                if j == 0
                else F.shiftleft(e, j).bitwiseOR(
                    F.shiftrightunsigned(e, 64 - j)
                )
            )
            acc = r if acc is None else acc.bitwiseXOR(r)
        return acc

    return F.transform(starts, _sh)


def _shingles_from_tokens(tokens: Column, k: int) -> Column:
    """Distinct k-word shingles from a MATERIALIZED token-array column.

    ``tokens`` must be a bound column reference, never an expression tree:
    an expression referenced inside a ``transform()`` lambda is re-evaluated
    PER ELEMENT, so an embedded ``split()`` makes shingling
    O(text_len × n_shingles) per document — measured 60× (105 s → 1.7 s)
    on a 6 KB-doc corpus.  (Catalyst's CollapseProject keeps the two-step
    projection intact because the token column is referenced multiple
    times; tests/test_training_ops.py pins the single-split plan.)"""
    n = F.size(tokens)
    starts = F.sequence(F.lit(0), F.greatest(n - F.lit(k), F.lit(0)))
    shingle_at = lambda i: F.concat_ws(" ", F.slice(tokens, i + 1, k))  # noqa: E731
    return F.when(n >= k, F.array_distinct(F.transform(starts, shingle_at))).otherwise(
        F.array(F.concat_ws(" ", tokens))
    )


def with_shingles(
    df: DataFrame, text_col: str = "text", k: int = 5, out_col: str = "shingles"
) -> DataFrame:
    return (
        df.withColumn("_toks", _word_tokens(F.col(text_col)))
        .withColumn(out_col, _shingles_from_tokens(F.col("_toks"), k))
        .drop("_toks")
    )


def _seeded(i: int):
    """1-arg lambda factory (a 2nd lambda param would receive the element
    index from F.transform, not the seed)."""
    return lambda h: F.xxhash64(h, F.lit(i))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 64,
) -> DataFrame:
    """Slim per-doc signature table ``(id, sig: array<long>)`` — the
    artifact a 100 TB pipeline writes ONCE per corpus and reuses across
    banding configurations (the signature build dominates the operator's
    cost).

    Shingle identity is the rotation-XOR combine of per-token hashes
    (:func:`_shingle_hash_array` — the `containment_pairs` scheme): no
    per-position ``concat_ws`` string is ever built and each TOKEN is
    string-hashed once instead of each k-word shingle (measured 1.9 s →
    1.1 s on the sf0.1 signature stage; the string build was ~55% of the
    whole operator).  The family swap is sound for every consumer: all
    downstream pair sets are verified with exact set Jaccard over the
    same hash family (2⁻⁶³ collision bound), and the oracles' recall
    argument (miss ≈ 3e-8 per true pair at J≈0.97) is
    hash-family-independent.  NULL text coalesces to '' — one fallback
    shingle, so empty docs still band together."""
    toks = df.select(
        F.col(id_col),
        _word_tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("__t"),
    )
    th = toks.select(
        F.col(id_col), F.transform("__t", lambda t: F.xxhash64(t)).alias("__th")
    )
    return (
        th.withColumn("_hashes", F.array_distinct(_shingle_hash_array("__th", k)))
        .withColumn(
            "sig",
            F.array(*[F.array_min(F.transform("_hashes", _seeded(i))) for i in range(num_hashes)]),
        )
        .select(id_col, "sig")
    )


def _bucket_pairs(buckets: DataFrame, max_bucket: int = 4096) -> DataFrame:
    """Buckets ``(…, _ids: sorted array<id>)`` → slim candidate ``(id_a,
    id_b)`` rows, generated INSIDE each bucket.

    Buckets up to ``max_bucket`` emit all C(n,2) combinations (the LSH
    contract).  A larger bucket would materialize its O(n²) combination
    array in ONE aggregation row — a single-task OOM on a degenerate band
    value (e.g. millions of identical documents sharing every band); those
    buckets emit STAR pairs instead (bucket-minimum id × each other id):
    linear in bucket size, and exactly sufficient for the keep-lowest
    removal policy on the identical-content buckets that cause the
    degeneracy (every non-min id still pairs with the keeper and verifies
    at Jaccard 1).  Pair LISTING under a triggered cap under-reports
    non-adjacent pairs of ANY over-cap bucket — including a legitimately
    hot mixed bucket (e.g. boilerplate-heavy corpora), not only the
    identical-content degeneracy — documented, tested (tests/test_skew.py),
    and auditable: :func:`lsh_bucket_stats` reports whether any bucket
    tripped the cap so a pipeline can alert instead of silently losing
    recall.  Mitigations: run exact dedup first (identical content is its
    job, not LSH's), or raise ``max_bucket``.
    """
    combos = F.flatten(
        F.transform(
            "_ids",
            lambda a, i: F.transform(
                F.slice(F.col("_ids"), i + 2, F.size("_ids")),
                lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
            ),
        )
    )
    star = F.transform(
        F.slice("_ids", 2, F.size("_ids")),
        lambda b: F.struct(
            F.element_at("_ids", 1).alias("id_a"), b.alias("id_b")
        ),
    )
    chosen = F.when(F.size("_ids") <= F.lit(max_bucket), combos).otherwise(star)
    return buckets.select(F.explode(chosen).alias("p")).select("p.id_a", "p.id_b")


def _band_keys(num_hashes: int, bands: int) -> Column:
    """``array<struct<band_id, band_hash>>`` of the ``sig`` column: band
    ``b`` is the xxhash64 of signature slots ``b·r+1 … b·r+r``
    (``r = num_hashes // bands``), so equal keys mean an equal band."""
    rows_per_band = num_hashes // bands
    band_hash = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.xxhash64(
                F.concat_ws(
                    ":",
                    *[
                        F.element_at("sig", b * rows_per_band + r + 1)
                        for r in range(rows_per_band)
                    ],
                )
            ).alias("band_hash"),
        )
        for b in range(bands)
    ]
    return F.array(*band_hash)


def _lsh_band_pairs_touching(
    sigs: DataFrame,
    new_ids: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    max_bucket: int = 4096,
) -> DataFrame:
    """Like :func:`_lsh_band_pairs` but generates ONLY pairs touching a
    ``new_ids`` member, IN-BUCKET — per-bucket work is
    O(new_in_bucket x bucket_size) and buckets containing no new id are
    skipped entirely, so a daily batch over a huge stored corpus costs
    O(batch x collision rate), not O(corpus collision volume).  (The
    filter-after-generate alternative materializes every old-old
    combination first just to discard it.)  Over-``max_bucket`` buckets
    degrade to the same star shape as :func:`_bucket_pairs`, restricted
    to star pairs touching a new id."""
    flagged = sigs.join(
        F.broadcast(
            new_ids.select(F.col(id_col)).withColumn("_new", F.lit(True))
        ),
        id_col,
        "left",
    )
    banded = flagged.select(
        F.col(id_col),
        F.coalesce("_new", F.lit(False)).alias("_new"),
        F.explode(_band_keys(num_hashes, bands)).alias("band"),
    ).select(id_col, "_new", "band.band_id", "band.band_hash")

    buckets = (
        banded.groupBy("band_id", "band_hash")
        .agg(
            F.sort_array(F.collect_list(id_col)).alias("_ids"),
            F.sort_array(
                F.collect_list(F.when(F.col("_new"), F.col(id_col)))
            ).alias("_new_ids"),
        )
        .where((F.size("_ids") > 1) & (F.size("_new_ids") > 0))
    )
    mn = F.element_at("_ids", 1)
    normal = F.flatten(
        F.transform(
            "_new_ids",
            lambda a: F.transform(
                F.filter(F.col("_ids"), lambda b: b != a),
                lambda b: F.struct(
                    F.least(a, b).alias("id_a"), F.greatest(a, b).alias("id_b")
                ),
            ),
        )
    )
    star_all = F.transform(
        F.slice("_ids", 2, F.size("_ids")),
        lambda b: F.struct(mn.alias("id_a"), b.alias("id_b")),
    )
    star_new = F.transform(
        F.filter("_new_ids", lambda b: b != mn),
        lambda b: F.struct(mn.alias("id_a"), b.alias("id_b")),
    )
    chosen = F.when(F.size("_ids") <= F.lit(max_bucket), normal).otherwise(
        F.when(F.array_contains("_new_ids", mn), star_all).otherwise(star_new)
    )
    return (
        buckets.select(F.explode(chosen).alias("p"))
        .select("p.id_a", "p.id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


def lsh_bucket_stats(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket: int = 4096,
) -> DataFrame:
    """One-row audit of the LSH bucket distribution for a signature table:
    total buckets, the largest bucket, and how many exceed ``max_bucket``
    (where pair listing degrades to star pairs and recall is capped).  Run
    it when a corpus might be boilerplate-heavy — the cap itself engages
    silently inside the executors and cannot log.

    Single-pass: the signature table is exploded once to slim
    (band_id, band_hash) rows — the same shape ``_lsh_band_pairs`` shuffles
    — and aggregated with ONE groupBy, so the audit costs what one banding
    pass costs (the previous per-band groupBy loop + unionByName rescanned
    the signature table ``bands`` times, which nobody would run at 100 TB)."""
    sizes = (
        sigs.select(F.explode(_band_keys(num_hashes, bands)).alias("band"))
        .groupBy("band.band_id", "band.band_hash")
        .agg(F.count("*").alias("n"))
    )
    return sizes.where(F.col("n") > 1).agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.max("n").cast("long").alias("max_bucket_size"),
        F.sum((F.col("n") > max_bucket).cast("long")).alias("n_over_cap"),
    )


def _latest_version(df: DataFrame, id_col: str, value_col: str) -> DataFrame:
    """Deterministically keep ONE row per id: arg-max of the value's
    content hash.  Used when a re-crawled id appears with changed payload
    — an arbitrary dropDuplicates would make candidate recall vary run to
    run; this pick is a pure function of the row set."""
    return df.groupBy(id_col).agg(
        F.expr(
            f"max_by({value_col}, xxhash64(cast({value_col} as string)))"
        ).alias(value_col)
    )


def incremental_pair_batch(
    spark,
    new_docs: DataFrame,
    corpus: DataFrame,
    signatures_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    jaccard_threshold: float = 0.5,
    max_bucket: int = 4096,
) -> DataFrame:
    """Shared batch/streaming core of the incremental near-dup flow:
    append ``new_docs``' signatures to the store, band stored-old ∪ new,
    generate in-bucket pairs touching a new id, verify exact Jaccard
    against ``corpus``.

    Replay/recrawl semantics (deterministic by construction):
    - the store is deduplicated on read per id (crash-replay double
      appends are harmless);
    - when an id re-appears with CHANGED text, one signature version and
      one text version are each kept by content-hash arg-max.  The kept
      signature may lag the kept text by one crawl (they are picked
      independently); candidates are then approximate for that id, but
      verification always runs on the kept text, so the OUTPUT stays a
      deterministic function of the store + corpus state."""
    # distinct: a recrawl batch may carry multiple versions of an id; a
    # duplicated probe id would replicate every matching signature row
    # through banding and inflate bucket sizes toward max_bucket
    new_ids = new_docs.select(F.col(id_col)).distinct()
    minhash_signatures(new_docs, text_col, id_col, k, num_hashes).write.mode(
        "append"
    ).parquet(signatures_path)
    sigs = spark.read.parquet(signatures_path)
    # adaptive: resolve store versions (crash replays / recrawls) only when
    # an id-only probe finds duplicates — the groupBy otherwise shuffles
    # every signature array across the whole store every batch
    s_rows, s_ids = sigs.agg(F.count(id_col), F.count_distinct(id_col)).first()
    if s_rows != s_ids:
        sigs = _latest_version(sigs, id_col, "sig")
    pairs = _lsh_band_pairs_touching(
        sigs, new_ids, id_col, num_hashes, bands, max_bucket
    )
    corpus_slim = corpus.select(F.col(id_col), F.col(text_col))
    # adaptive recrawl handling: an id-only probe (slim, no text shuffle)
    # detects whether any id carries multiple text versions.  The common
    # append-only case takes the fast path; only when recrawled ids exist
    # do we pay version resolution — and then only over the candidate-id
    # subset (a full-corpus groupBy would shuffle every text every batch).
    n_rows, n_ids = corpus_slim.agg(
        F.count(id_col), F.count_distinct(id_col)
    ).first()
    if n_rows != n_ids:
        # checkpoint: the pair table feeds both the candidate-id set and
        # the verify join — without the barrier banding runs twice
        pairs = pairs.localCheckpoint(eager=False)
        cand_ids = (
            pairs.select(F.col("id_a").alias(id_col))
            .union(pairs.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        corpus_slim = _latest_version(
            corpus_slim.join(cand_ids, id_col, "left_semi"), id_col, text_col
        )
    return _verify_pairs_exact_jaccard(
        corpus_slim, pairs, text_col, id_col, k, jaccard_threshold
    )


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    jaccard_threshold: float = 0.5,
    signatures_path: str | None = None,
    max_bucket: int = 4096,
) -> DataFrame:
    """MinHash+LSH near-dup pairs with exact-Jaccard verification.

    Plan shape (scale notes): signature build is a narrow stage; the only
    shuffles are (1) the explode-band groupBy-join on (band_id, band_hash)
    — whose fan-in is bounded by bucket size, the LSH point — and
    (2) the final pair dedup.  Bucket skew (a degenerate band value) is
    handled by AQE skew-join splitting.

    Memory/scale hygiene: the signature pipeline is computed exactly ONCE —
    bucket pairing is a groupBy on (band_id, band_hash) with in-bucket pair
    generation (sorted collect_list + combination explode), not a self-join,
    so there is no second plan branch to feed and nothing to persist.  With
    ``signatures_path`` the slim ``(id, sig)`` table is written once and
    banding reads it back instead of recomputing the signatures.
    The full shingle arrays never ride through a shuffle: exact-Jaccard
    verification re-shingles only the candidate rows after the broadcast
    probe.  A degenerate band value (all-identical docs) makes one giant
    bucket — quadratic pair fan-out is inherent to LSH there; buckets over
    ``max_bucket`` fall back to linear star pairs (see :func:`_bucket_pairs`)
    so the degeneracy is bounded-memory instead of a single-task OOM.  The
    exact dedup pass is still the right tool for identical content — run it
    first.
    """
    sigs = minhash_signatures(df, text_col, id_col, k, num_hashes)
    if signatures_path is not None:
        sigs.write.mode("overwrite").parquet(signatures_path)
        sigs = df.sparkSession.read.parquet(signatures_path)

    pairs = _lsh_band_pairs(sigs, id_col, num_hashes, bands, max_bucket)
    return _verify_pairs_exact_jaccard(df, pairs, text_col, id_col, k, jaccard_threshold)


def _lsh_band_pairs(
    sigs: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    max_bucket: int = 4096,
) -> DataFrame:
    """Signature table ``(id, sig: array<long>)`` → deduped slim candidate
    ``(id_a, id_b)`` pairs via banded LSH buckets.  Slim band rows —
    signature arrays do NOT ride through the ×bands explode or the bucket
    shuffle (they'd be duplicated ``bands`` times)."""
    banded = sigs.select(
        F.col(id_col), F.explode(_band_keys(num_hashes, bands)).alias("band")
    ).select(id_col, "band.band_id", "band.band_hash")

    buckets = (
        banded.groupBy("band_id", "band_hash")
        .agg(F.sort_array(F.collect_list(id_col)).alias("_ids"))
        .where(F.size("_ids") > 1)
    )
    return _bucket_pairs(buckets, max_bucket).dropDuplicates(["id_a", "id_b"])


def _verify_pairs_exact_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    threshold: float,
) -> DataFrame:
    """Exact shingle-Jaccard verification of candidate ``(id_a, id_b)``
    pairs: attach raw TEXT to the candidates first (the corpus streams
    through broadcast hash probes — candidates are the build side), then
    shingle ONLY the surviving pair rows.  Shingle computation stays
    O(candidates), not another full corpus pass, and no shingle array ever
    rides a shuffle or broadcast (only the raw text of candidate rows
    does).

    The lazy localCheckpoint is an optimizer barrier: without it Catalyst
    substitutes the jaccard expression into the pushed-down threshold
    filter, evaluating the whole shingle pipeline TWICE per row (measured
    2× verify cost).  It materializes only (id_a, id_b, double) —
    candidate-count rows — and is freed by the ContextCleaner.

    Broadcast policy: only the SLIM (id_a, id_b) pair table is hinted —
    candidate ids are small by construction (banding bounds them).  The
    text-attached side is left to AQE: candidate-count × doc-text is
    data-dependent, and on a duplicate-heavy corpus a forced broadcast
    bypasses AQE's size check and OOMs where a shuffle hash join on id
    degrades gracefully (AQE still converts to broadcast at runtime when
    the post-shuffle stats come in small)."""
    scored = _score_pairs_exact_jaccard(df, pairs, text_col, id_col, k)
    return scored.localCheckpoint(eager=False).where(
        F.col("jaccard") >= threshold
    )


def _score_pairs_exact_jaccard(
    df: DataFrame, pairs: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """Pre-barrier scoring stage of the verify join (split out so plan
    tests can inspect the join strategy, which the checkpoint barrier hides
    from the public function's executedPlan).  Token arrays are
    materialized as columns on the candidate rows before the shingle
    lambdas touch them (see :func:`_shingles_from_tokens`).

    Shingle identity here is the rotation-XOR combine of per-token hashes
    (the `containment_pairs` verify scheme, r6): set sizes — and hence
    the jaccard double — equal the string-shingle computation's
    bit-for-bit unless two distinct shingles of a candidate pair collide
    at 64 bits (~2⁻⁶³ per shared shingle, the documented family bound),
    while skipping the per-position ``concat_ws`` string build that
    dominated the verify stage.  NULL text coalesces to '' so NULL and
    empty docs still verify at jaccard 1 against each other (the
    string era's ``concat_ws(NULL) = ''`` behavior, kept explicit)."""
    ta = df.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("_text_a"))
    tb = df.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("_text_b"))
    with_texts = tb.join(ta.join(F.broadcast(pairs), "id_a"), "id_b")
    toks = with_texts.select(
        "id_a",
        "id_b",
        _word_tokens(F.coalesce(F.col("_text_a"), F.lit(""))).alias("_toks_a"),
        _word_tokens(F.coalesce(F.col("_text_b"), F.lit(""))).alias("_toks_b"),
    )
    th = toks.select(
        "id_a",
        "id_b",
        F.transform("_toks_a", lambda t: F.xxhash64(t)).alias("_th_a"),
        F.transform("_toks_b", lambda t: F.xxhash64(t)).alias("_th_b"),
    )
    sh_a = F.array_distinct(_shingle_hash_array("_th_a", k))
    sh_b = F.array_distinct(_shingle_hash_array("_th_b", k))
    return th.select(
        "id_a",
        "id_b",
        (
            F.size(F.array_intersect(sh_a, sh_b))
            / F.size(F.array_union(sh_a, sh_b))
        ).alias("jaccard"),
    )


def benchmark_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    bench_id_col: str = "bench_id",
    k: int = 8,
    min_shared: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing ≥
    ``min_shared`` distinct k-word shingles with ANY benchmark document —
    the standard eval-leakage check a training pipeline runs before a data
    release (exact n-gram collision, the GPT-3/PaLM-style criterion; k≈8
    words ≈ the 13-token window those reports use).

    Plan shape for 100 TB corpus × small benchmark: the benchmark's shingle
    hashes are a SLIM distinct (hash, bench_id) table joined via broadcast
    against the corpus's exploded shingle hashes — the corpus is never
    shuffled, and only matching (doc, bench) rows leave the probe.  Output:
    one row per contaminated (doc_id, bench_id) with the shared-shingle
    count; anti-join the doc_ids to decontaminate.
    """
    # explode_outer + null filter on both sides (see containment_pairs):
    # a plain explode's inferred size()>0 filter re-inlines the shingle
    # pipeline per element below the token projection — quadratic per doc.
    c = with_shingles(corpus.select(id_col, text_col), text_col, k)
    c_hashed = c.select(
        F.col(id_col),
        F.explode_outer(
            F.transform("shingles", lambda s: F.xxhash64(s))
        ).alias("h"),
    ).where(F.col("h").isNotNull())
    b = with_shingles(
        benchmark.select(bench_id_col, bench_text_col), bench_text_col, k
    )
    b_hashed = b.select(
        F.col(bench_id_col),
        F.explode_outer(
            F.transform("shingles", lambda s: F.xxhash64(s))
        ).alias("h"),
    ).where(F.col("h").isNotNull()).dropDuplicates([bench_id_col, "h"])
    return (
        c_hashed.join(F.broadcast(b_hashed), "h")
        .groupBy(id_col, bench_id_col)
        .agg(F.count("*").alias("shared_shingles"))
        .where(F.col("shared_shingles") >= min_shared)
    )


def incremental_near_dup_pairs(
    corpus: DataFrame,
    pending_ids: DataFrame,
    signatures_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    jaccard_threshold: float = 0.5,
    max_bucket: int = 4096,
) -> DataFrame:
    """The daily-recrawl composition of the signature store and the resume
    flow — the shape a 100 TB pipeline actually runs per batch:

    1. signatures are computed ONLY for ``pending_ids`` docs (the resume
       anti-join's output — operators/resume.py) and APPENDED to the
       signature store; the old corpus's signature stage never re-executes
       (its parquet files are not even rewritten — append adds new parts);
    2. banding runs over stored-old ∪ new signatures;
    3. candidate pairs are restricted to those touching a new id (old–old
       pairs were already emitted by previous runs — re-verifying them
       every batch would make the daily job O(corpus) instead of
       O(batch × collision rate));
    4. exact-Jaccard verification reads texts from ``corpus`` (the store
       holds only slim (id, sig) rows; text access is the corpus table's
       job).

    Side effect: the append to ``signatures_path`` happens eagerly at call
    time, so reruns of the RETURNED plan do not double-append; the store
    is also deduplicated on read, so a crash-replay double append cannot
    corrupt banding.  Candidate generation is in-bucket touching-new
    (:func:`_lsh_band_pairs_touching`) — old–old combinations are never
    materialized, keeping the per-batch cost at the step-3 O() above.
    Output is identical to running :func:`minhash_candidate_pairs` on the
    full corpus and keeping pairs that involve a new id (tested both
    ways)."""
    spark = corpus.sparkSession
    new_docs = corpus.join(pending_ids.select(id_col), id_col, "left_semi")
    return incremental_pair_batch(
        spark,
        new_docs,
        corpus,
        signatures_path,
        text_col=text_col,
        id_col=id_col,
        k=k,
        num_hashes=num_hashes,
        bands=bands,
        jaccard_threshold=jaccard_threshold,
        max_bucket=max_bucket,
    )


def drop_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    jaccard_threshold: float = 0.5,
    signatures_path: str | None = None,
    max_bucket: int = 4096,
) -> DataFrame:
    """Greedy near-duplicate REMOVAL on top of the MinHash+LSH pairs: drop
    every row whose id appears as the higher id of a verified pair, keeping
    the lowest id of each pairwise chain (the CCNet-style keep-first
    policy; full connected components would need an iterative algorithm and
    buys nothing when the keep policy is id-ordered).  Deterministic, so
    the survivor set is SQL-oracle-checkable."""
    pairs = minhash_candidate_pairs(
        df, text_col, id_col, k, num_hashes, bands, jaccard_threshold,
        signatures_path, max_bucket,
    )
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def _doc_shingle_hash_table(
    df: DataFrame, text_col: str, id_col: str, k: int, sort: bool = True
) -> DataFrame:
    """``(id, hs)``: per-doc SORTED DISTINCT k-shingle hashes
    (lowercased whitespace tokens → xxhash64 per token → rotation-XOR
    shingle combine, NULL text coalesced to '').  The ONE shingling
    definition shared by `containment_pairs` (candidate generation +
    verification) and `containment_df_stats` (the audit) — the audited
    df distribution and the one the cap acts on must never drift.

    ``sort=False`` skips the array_sort for consumers that only need the
    distinct MULTISET (the audit's df count — ordering is presentation,
    the token/hash/distinct pipeline stays shared; ~0.2 s of the audit's
    wall at sf0.1, r6).  Prefix-slicing consumers must keep the sort."""
    toks = df.select(
        F.col(id_col).alias("id"),
        _word_tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("__t"),
    )
    th = toks.select(
        "id", F.transform("__t", lambda t: F.xxhash64(t)).alias("__th")
    )
    hs = F.array_distinct(_shingle_hash_array("__th", k))
    if sort:
        hs = F.array_sort(hs)
    return th.select("id", hs.alias("hs"))


def _cap_is_provably_noop(df: DataFrame, max_df: int | None) -> bool:
    """True when the df cap cannot trip: a shingle's document frequency
    is bounded by the corpus doc count, so ≤ ``max_df`` docs ⟹ no hot
    shingles ⟹ the capped plan is EXACTLY the uncapped plan.  Probed
    with a BOUNDED ``limit(max_df+1).count()`` driver action (max_df+1
    rows of work no matter the corpus size — never a full count, which
    would be a wasted corpus pass at the 100 TB scale where the cap
    matters).  Lets the scale-safe default cost literally nothing on
    small/medium corpora: they keep the old single-pass plan, and the
    capped machinery (one df-count exchange + doc-side cold-set rebuild)
    engages only when the corpus is large enough that a hot shingle is
    possible.  The probe runs ONLY when the caller left the DEFAULT cap
    (`_DefaultMaxDf`): an explicitly-passed ``max_df`` is a deliberate
    decision, so those calls stay fully lazy with no probe job
    (measured ~0.9 s per call on the sf0.1 bench shape).

    Eagerness caveat (documented API behavior): the probe is a driver
    ACTION at operator-construction time — the builders are no longer
    fully lazy when ``max_df`` is set.  On a scan-rooted input (the
    100 TB common case: a parquet/Iceberg read) the limit stops the
    scan early and the probe is genuinely cheap; on a SHUFFLE-rooted
    input the limit must still execute the upstream stages once, so
    cache/checkpoint an expensive upstream, or skip the probe entirely
    by passing an explicit ``max_df`` decision (``None`` for the exact
    plan after your own `containment_df_stats` audit).  Streaming
    inputs cannot be counted — the probe declines and the capped plan
    is used as-is."""
    if not isinstance(max_df, _DefaultMaxDf):
        return False
    if df.isStreaming:
        return False
    return df.limit(max_df + 1).count() <= max_df


def _cold_shingle_sets(hashed: DataFrame, max_df: int) -> DataFrame:
    """Per-doc ``(id, _n, hs_f)``: the FULL distinct-shingle count and
    the order-preserved COLD subarray (shingles whose corpus document
    frequency is ≤ ``max_df``) of a sorted ``(id, hs)`` shingle-hash
    table.  Shared by the capped paths of `containment_pairs` and
    `ngram_jaccard_pairs`.

    Shuffle shape: the df count is the one unavoidable full-volume
    exchange.  The cold sets themselves are rebuilt DOC-SIDE as
    array_except(hs, doc's hot shingles): only HOT occurrences ride the
    second shuffle (Σ df over capped shingles — the small side by
    construction), and downstream explodes come straight off the per-doc
    array with no exchange at all.  (The first draft anti-joined the
    FULL explode and re-collected every cold hash through a collect_list
    groupBy — two corpus-volume exchanges this shape deletes; warm A/B
    on the sf0.1 template-heavy bench corpus: 9.1 s → 6.3 s.)
    array_except keeps the left array's order, so sorted-prefix slice
    semantics downstream are unchanged; hot-free docs left-join to NULL
    and coalesce to the empty hot set."""
    ex = hashed.select("id", F.explode_outer("hs").alias("h")).where(
        F.col("h").isNotNull()
    )
    hot = (
        ex.groupBy("h")
        .agg(F.count("*").alias("__df"))
        .where(F.col("__df") > max_df)
        .select("h")
    )
    hot_per_doc = (
        ex.join(hot, "h").groupBy("id").agg(F.collect_list("h").alias("_hot_hs"))
    )
    empty = F.array().cast("array<bigint>")
    return (
        hashed.join(hot_per_doc, "id", "left")
        .select(
            "id",
            F.size("hs").alias("_n"),
            F.array_except("hs", F.coalesce(F.col("_hot_hs"), empty)).alias(
                "hs_f"
            ),
        )
        .localCheckpoint(eager=False)
    )


def _hot_adjusted_prefix_len(threshold: float) -> Column:
    """Sorted-cold-prefix length for a doc with FULL size ``_n`` and cold
    set ``hs_f``, sound under the df cap: a qualifying pair shares
    ≥ ⌈t·n⌉ shingles, of which at most H (the doc's hot count) are hot,
    so ≥ ⌈t·n⌉ − H shared survivors live among the n′ = n − H cold
    shingles and the first n′ − max(⌈t·n⌉ − H, 1) + 1 sorted cold hashes
    must contain one.  The max(·, 1) floor widens the prefix up to the
    whole cold set for template-dominated docs, making the documented
    cap semantics EXACT: a pair is missed iff every shared shingle is
    hot."""
    need = _ceil_mul(F.col("_n"), threshold) - (F.col("_n") - F.size("hs_f"))
    return (F.size("hs_f") - F.greatest(need, F.lit(1)) + F.lit(1)).cast("int")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    max_df: int | None = DEFAULT_SHINGLE_MAX_DF,
) -> DataFrame:
    """Exact n-gram-Jaccard pairing via a PPJoin-style PREFIX-FILTERED
    inverted index over HASHED shingles, with exact set verification:

    1. per doc, sort the distinct xxhash64(shingle) values (the hash IS the
       canonical global token order — no df-statistics pass needed) and
       index only the first ``n − ⌈t·n⌉ + 1`` of them (prefix-filtering
       principle, Chaudhuri et al. SSJoin / Xiao et al. PPJoin: the
       SMALLEST common token of any pair with Jaccard ≥ t must sit inside
       both prefixes — if it didn't, the whole intersection would have to
       fit in a suffix smaller than the required overlap).  For a
       RANDOM stopword-like shingle this collapses hot-shingle fan-out
       from Σ df² to Σ ((1−t)·df)² — but NOT for template boilerplate:
       a shared template shingle has the SAME hash, hence the same
       sorted rank region, in every doc, so it can land in every doc's
       prefix and the join is quadratic again (measured 402/402 docs on
       the template-stress fixture).  ``max_df`` closes that hole: the
       cap's semantics and H-adjusted prefix are exactly
       `containment_pairs`' (capped pairs == exact pairs sharing ≥ 1
       cold shingle; verification always intersects FULL shingle sets,
       so no false positives), and the default
       ``DEFAULT_SHINGLE_MAX_DF`` (10⁴) is bit-identical to exact below
       10⁴ docs.  Audit template pressure with
       :func:`containment_df_stats` (same shingle-df distribution up to
       tokenizer differences for k ≠ 5);
    2. the prefix self-join carries only (id, n, long) — never shingle
       strings; a size-ratio filter (min(n_a,n_b) ≥ ⌈t·max⌉, sound because
       J ≤ min/max) prunes length-incompatible pairs in the join itself;
    3. candidates are re-verified by exact intersection of the full
       rotation-XOR shingle-hash sets (`_score_pairs_exact_jaccard`, r6 —
       the `containment_pairs` verify scheme): jaccard values equal the
       string-shingle computation's up to the ~2⁻⁶³-per-shared-shingle
       collision bound, the same order as the candidate stage's 2⁻⁶⁴
       xxhash64 bound this operator has always carried.

    Left at its default, ``max_df`` costs one bounded driver job at
    construction (`_cap_is_provably_noop`, a limit(max_df+1).count()
    probe) that drops the cap when it cannot trip.  Any explicitly
    passed cap — ``max_df=10_000`` included — skips the probe and keeps
    construction FULLY LAZY, for pipelines composing many operators
    that should not pay one hidden job each."""
    if _cap_is_provably_noop(df, max_df):
        max_df = None
    sh = with_shingles(df.select(id_col, text_col), text_col, k).select(
        F.col(id_col).alias("id"), F.col("shingles")
    )
    hashed = sh.select(
        "id",
        F.array_sort(
            F.array_distinct(F.transform("shingles", lambda s: F.xxhash64(s)))
        ).alias("hs"),
    )
    # explode_outer + null filter (see containment_pairs): a plain explode
    # gets an inferred size()>0 filter pushed below the token projection
    # with the full shingle pipeline inlined per element — quadratic on
    # big docs.
    if max_df is None:
        n = F.size("hs")
        prefix_len = (n - _ceil_mul(n, threshold) + F.lit(1)).cast("int")
        inverted = hashed.select(
            "id",
            n.alias("n_sh"),
            F.explode_outer(F.slice("hs", F.lit(1), prefix_len)).alias("h"),
        ).where(F.col("h").isNotNull())
    else:
        # Hot shingles leave BOTH sides before the prefix is sliced, and
        # the prefix over the FILTERED array is H-adjusted — the
        # `containment_pairs` construction, applied to both sides of the
        # symmetric self-join (Jaccard's per-doc overlap bound ⌈t·n⌉
        # plays containment's role).  The size-ratio prune below stays
        # on the FULL sizes, which the cap does not change.  The lazy
        # checkpoint keeps the corpus from being re-shingled for the
        # df-count and the per-doc hot join.
        filt = _cold_shingle_sets(
            hashed.localCheckpoint(eager=False), max_df
        )
        inverted = filt.select(
            "id",
            F.col("_n").alias("n_sh"),
            F.explode_outer(
                F.slice("hs_f", F.lit(1), _hot_adjusted_prefix_len(threshold))
            ).alias("h"),
        ).where(F.col("h").isNotNull())
    # NB: measured A/B (r6) — both legs are prefix-volume only, small
    # enough that the optimizer's broadcast build beats a forced
    # shuffle_hash here (0.8 s vs 0.9 s warm at sf0.1); containment's
    # full-index leg is the shape that needs the hint, not this one.
    a = inverted.alias("a")
    b = inverted.alias("b")
    pairs = (
        a.join(
            b,
            on=[
                F.col("a.h") == F.col("b.h"),
                F.col("a.id") < F.col("b.id"),
                F.least(F.col("a.n_sh"), F.col("b.n_sh"))
                >= _ceil_mul(
                    F.greatest(F.col("a.n_sh"), F.col("b.n_sh")), threshold
                ),
            ],
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return _verify_pairs_exact_jaccard(df, pairs, text_col, id_col, k, threshold)


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    threshold: float = 0.8,
    max_df: int | None = DEFAULT_SHINGLE_MAX_DF,
) -> DataFrame:
    """Exact ASYMMETRIC shingle-containment pairing — the
    syndication/excerpt detector Jaccard structurally misses: when A is an
    excerpt of a much larger B, C(A→B) = |A∩B|/|A| ≈ 1 while
    J(A,B) ≈ |A|/|B| stays far below any useful threshold.  Returns
    unordered ``(id_a, id_b, shared, c_a, c_b)`` (sizes measured in
    distinct k-word shingles, ``c_x`` = shared/|x| rounded to 4 dp) for
    every pair where EITHER direction reaches ``threshold``.

    Candidate generation is prefix-filtered on the PROBE side only (the
    prospective containee): containment ≥ t forces overlap ≥ ⌈t·n_probe⌉,
    so the smallest common hash must fall within the probe's first
    ``n − ⌈t·n⌉ + 1`` sorted hashes — but unlike Jaccard there is no lower
    bound on overlap relative to the CONTAINER's size, so the index side
    carries full sets and no size-ratio prune applies (that asymmetry is
    the point of the metric).  The join itself carries only
    (id, long hash); candidates are then re-verified by exact set
    intersection over the per-doc DISTINCT shingle-hash sets
    (`_score_pairs_from_shingle_sets` over the once-computed table) —
    exact up to shingle-hash collisions (~2⁻⁶³ per shared shingle —
    see `_shingle_hash_array`; same order as `ngram_jaccard_pairs`'
    2⁻⁶⁴ bound).  Verifying on hash sets instead of string-shingle
    sets removes the dominant cost of the first-draft design: building
    every doc's concat_ws string shingle array (measured ~70% of
    operator wall time at sf0.1) — shingle identity is a rotation-XOR
    combine of per-token hashes, so neither a per-position string nor
    a per-position array slice is ever materialized.

    Scale note: a boilerplate shingle shared by d docs costs
    ~(1−t)·d · d index fan-out (probe-side prefix shrinks one factor
    only) — a phrase present in EVERY doc makes every doc pair a
    candidate.  ``max_df`` caps that: shingles whose document frequency
    exceeds it are excluded from CANDIDATE GENERATION (both sides; the
    `minhash` max_bucket precedent).  Verification intersects the full
    (uncapped) hash sets, so capping never creates false positives
    beyond the ~2⁻⁶³ hash-collision bound above — it can
    only miss a pair whose every shared shingle is template-hot, which
    is the pair you didn't want anyway.  The DEFAULT is
    ``DEFAULT_SHINGLE_MAX_DF`` (10⁴) — scale-safe out of the box,
    and bit-identical to exact on any corpus with < 10⁴ docs (df can
    never exceed the doc count).  Pass ``max_df=None`` only when you
    explicitly want the exact uncapped plan; audit a corpus's template
    pressure first with :func:`containment_df_stats`, which reports how
    many shingles the cap would drop (the cap engages silently inside
    the executors and cannot log — the `lsh_bucket_stats` precedent).

    An explicitly passed ``max_df`` keeps construction FULLY LAZY (no
    bounded default-cap no-op probe) — see `ngram_jaccard_pairs`."""
    if _cap_is_provably_noop(df, max_df):
        max_df = None
    # ONE lazy checkpoint on the slim (id, sorted distinct shingle-hash
    # array) table: it feeds the probe, the index, the df-count (under
    # max_df), AND the verify — each doc tokenizes and hashes ONCE (the
    # first-draft verify re-shingled raw text per PAIR, multiplying the
    # dominant cost by the mean pair degree: 77 s → 7 s at sf0.1 with
    # ~100k candidates over 10k docs).  Shingle identity is the
    # rotation-XOR combine of per-token hashes (_shingle_hash_array) — no
    # per-position string concat (~70% of the second draft's wall time)
    # and no per-position slice allocation (the third draft's GC-locker
    # stalls).  array_sort keeps the prefix slice deterministic.
    # coalesce('') keeps the string-set era's NULL semantics: a NULL text
    # shingled to [''] and therefore matched empty docs.
    hashed = _doc_shingle_hash_table(df, text_col, id_col, k).localCheckpoint(
        eager=False
    )
    n = F.size("hs")
    prefix_len = (n - _ceil_mul(n, threshold) + F.lit(1)).cast("int")
    # explode_outer + null filter, NOT explode: InferFiltersFromGenerate
    # turns a plain explode into a pushed-down `size(arr) > 0` filter with
    # the WHOLE shingle expression inlined per element below the token
    # projection — the O(len × n_shingles) trap re-entering through the
    # optimizer's back door (measured 26× on 6 KB docs; the null filter
    # references only the generator output, so nothing pushes down).
    if max_df is None:
        prefix_side = hashed.select(
            "id",
            F.explode_outer(F.slice("hs", F.lit(1), prefix_len)).alias("h"),
        ).where(F.col("h").isNotNull())
        index = hashed.select("id", F.explode_outer("hs").alias("h")).where(
            F.col("h").isNotNull()
        )
        prefix_side = prefix_side.hint("shuffle_hash")
    else:
        # Hot shingles must leave BOTH sides BEFORE the probe prefix is
        # sliced: filtering only the index is unsound — a doc whose
        # smallest hashes are all template-hot probes with nothing but
        # dead keys and silently loses every candidate (caught by
        # test_containment_max_df_cap_keeps_true_pairs the moment the
        # hash scheme reordered which shingle sorts first).  Cold-set
        # build and the H-adjusted prefix are the shared capped-path
        # machinery (`_cold_shingle_sets` / `_hot_adjusted_prefix_len`
        # — shuffle-shape and exactness rationale there); containment's
        # required-overlap bound ⌈t·n⌉ is the same as Jaccard's per-doc
        # bound, so the prefix formula is identical.
        filt = _cold_shingle_sets(hashed, max_df)
        index = filt.select(
            "id", F.explode_outer("hs_f").alias("h")
        ).where(F.col("h").isNotNull())
        prefix_side = filt.select(
            "id",
            F.explode_outer(
                F.slice("hs_f", F.lit(1), _hot_adjusted_prefix_len(threshold))
            ).alias("h"),
        ).where(F.col("h").isNotNull())
        prefix_side = prefix_side.hint("shuffle_hash")
    # shuffle_hash (build = prefix_side, the smaller side): the optimizer's
    # default here is to BROADCAST the full index explode — a 6.2M-entry
    # single-threaded hash-relation build at sf0.1 (~3.2 s of the
    # operator's wall; measured A/B 3.2 s vs 1.4 s warm) and a
    # non-starter at 100 TB where the index side never fits a broadcast.
    # Both sides exchange slim (id, long) rows; the per-partition build
    # is bounded by the probe's prefix volume and AQE skew-split still
    # applies.
    p, ix = prefix_side.alias("p"), index.alias("ix")
    pairs = (
        p.join(
            ix,
            on=[F.col("p.h") == F.col("ix.h"), F.col("p.id") != F.col("ix.id")],
        )
        .select(
            F.least(F.col("p.id"), F.col("ix.id")).alias("id_a"),
            F.greatest(F.col("p.id"), F.col("ix.id")).alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    scored = _score_pairs_from_shingle_sets(
        hashed.select("id", F.col("hs").alias("_sh")), pairs
    )
    return scored.localCheckpoint(eager=False).where(
        F.greatest(F.col("c_a"), F.col("c_b")) >= threshold
    )


def containment_df_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    max_df: int | None = DEFAULT_SHINGLE_MAX_DF,
) -> DataFrame:
    """One-row audit of a corpus's template pressure for
    :func:`containment_pairs` — the `lsh_bucket_stats` precedent: the
    ``max_df`` cap engages silently inside the executors and cannot log,
    so run this when a corpus might be boilerplate-heavy and alert when
    ``n_over_cap`` > 0 (pairs whose every shared shingle is hot are the
    only ones the capped operator can miss).

    Columns: ``n_shingles`` (distinct k-shingles corpus-wide),
    ``max_df_observed`` (the hottest shingle's document frequency),
    ``n_over_cap`` (shingles the cap drops from candidate generation)
    and ``hot_occurrences`` (Σ df over dropped shingles — exactly the
    row volume the capped plan's hot-side shuffle carries, so this one
    number prices the cap's own overhead).  Shingling is identical to
    `containment_pairs` (lowercased whitespace tokens, rotation-XOR
    k-shingle hashes, per-doc DISTINCT), and the whole audit is the one
    df-count exchange the capped operator already pays — no extra plan
    shape to reason about at 100 TB."""
    hashed = _doc_shingle_hash_table(df, text_col, id_col, k, sort=False)
    dfreq = (
        hashed.select(F.explode_outer("hs").alias("h"))
        .where(F.col("h").isNotNull())
        .groupBy("h")
        .agg(F.count("*").alias("__df"))
    )
    hot = (
        F.lit(False) if max_df is None else F.col("__df") > F.lit(max_df)
    )
    return dfreq.agg(
        F.count("*").cast("long").alias("n_shingles"),
        F.max("__df").cast("long").alias("max_df_observed"),
        F.coalesce(F.sum(hot.cast("long")), F.lit(0))
        .cast("long")
        .alias("n_over_cap"),
        F.coalesce(
            F.sum(F.when(hot, F.col("__df")).otherwise(F.lit(0))), F.lit(0)
        )
        .cast("long")
        .alias("hot_occurrences"),
    )


def _score_pairs_from_shingle_sets(
    sets: DataFrame, pairs: DataFrame
) -> DataFrame:
    """Set intersection plus BOTH directed containments over a
    MATERIALIZED per-doc shingle-set table ``(id, _sh)`` (each doc
    shingled once upstream, never per pair — see `containment_pairs`).
    Element type is generic: string shingles give collision-free
    verification; shingle-HASH sets (the `containment_pairs` default)
    are exact up to hash collisions (~2⁻⁶³ for `_shingle_hash_array`,
    the same order as `ngram_jaccard_pairs`' 2⁻⁶⁴ xxhash64 bound) and
    skip string materialization.
    Broadcast policy matches `_verify_pairs_exact_jaccard`: only the slim
    (id_a, id_b) pair table is hinted; the set-attached intermediate is
    left to AQE.  The intersect/size step is its own projection so the
    shared count is computed once per row (three ratio references would
    otherwise inline three intersections)."""
    sa = sets.select(F.col("id").alias("id_a"), F.col("_sh").alias("_sh_a"))
    sb = sets.select(F.col("id").alias("id_b"), F.col("_sh").alias("_sh_b"))
    with_sets = sb.join(sa.join(F.broadcast(pairs), "id_a"), "id_b")
    step = with_sets.select(
        "id_a",
        "id_b",
        F.size(F.array_intersect("_sh_a", "_sh_b")).cast("long").alias("shared"),
        F.size("_sh_a").alias("_na"),
        F.size("_sh_b").alias("_nb"),
    )
    return step.select(
        "id_a",
        "id_b",
        "shared",
        F.round(F.col("shared") / F.col("_na"), 4).alias("c_a"),
        F.round(F.col("shared") / F.col("_nb"), 4).alias("c_b"),
    )


def connected_components(
    edges: DataFrame,
    ids: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 50,
) -> DataFrame:
    """Iterative min-label propagation over the near-dup pair graph:
    ``(id, component)`` where component = the smallest id reachable through
    any chain of verified pairs — the TRUE transitive-closure dedup
    clustering.  The greedy pairwise policy (:func:`drop_near_duplicates`)
    keeps every id with no smaller NEIGHBOR; this keeps one id per
    connected COMPONENT — the two differ whenever a component's minimum is
    not adjacent to every member (e.g. edges (1,3),(2,3): greedy keeps 1
    and 2, components keep 1 only).

    Algorithm: labels start as own id; each round every node takes the min
    of its label and its neighbors' labels (min by the id type's ordering —
    lexicographic for string/url ids), then a POINTER-DOUBLING shortcut
    re-reads the label's OWN current label (labels are node ids, so this
    is one slim self-join): l(u) ← min(l(u), l(l(u))).  The shortcut
    contracts label chains exponentially, so convergence takes
    O(log diameter) rounds instead of O(diameter) — a 1M-node path graph
    converges in ~21 rounds where plain propagation needs 1M (the
    pathological chain case flagged in the r4 verdict; near-dup clusters
    are tiny-diameter, but one bad transitive chain in 10¹² docs
    shouldn't own the job's round count).  The shortcut preserves the
    invariant that a node's label is always the id of some node in its
    own component, so the fixed point (component min) is unchanged —
    byte-identical output, fewer rounds.

    Convergence is detected when NO label changed, checked with a slim
    prev-vs-new anti-condition probe (take-1, stops at the first
    difference).  A sum-of-labels check would be cheaper but is
    numeric-only — it crashes (ANSI) or silently null-converges after one
    round on string ids, which the url-keyed pipelines use.  If
    ``max_iterations`` rounds pass without convergence the function
    RAISES (with the still-changing label count) instead of silently
    returning a wrong clustering; with doubling, the default 50 rounds
    covers any diameter up to ~2⁵⁰, so hitting the guard means the graph
    is still growing under you (a live-ingest race), not a deep chain.
    Each round eagerly localCheckpoints the slim (id, label) table so
    lineage stays flat (the standard iterative-algo hygiene — without it
    the plan doubles every round).

    ``edges`` needs (id_a, id_b); ``ids`` the full node set (singletons get
    their own id as component).
    """
    if max_iterations < 1:
        raise ValueError(f"max_iterations must be >= 1, got {max_iterations}")
    und = edges.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).union(edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    und = und.localCheckpoint(eager=False)

    labels = ids.select(F.col(id_col).alias("id"), F.col(id_col).alias("label"))
    labels = labels.localCheckpoint(eager=True)

    converged = False
    for _ in range(max_iterations):
        nbr = (
            und.join(labels, und.src == labels.id)
            .select(F.col("dst").alias("id"), F.col("label"))
        )
        l1 = (
            labels.union(nbr)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
        )
        # Pointer-doubling shortcut: every label is itself a node id, so
        # one slim left self-join reads l(l(u)).  Left join + coalesce:
        # the label's node always exists in l1 (it is some node's id),
        # but a missing row must degrade to "no shortcut", never NULL.
        m = l1.select(
            F.col("id").alias("_mid"), F.col("label").alias("_mlabel")
        )
        new_labels = (
            l1.join(m, l1["label"] == m["_mid"], "left")
            .select(
                "id",
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("_mlabel"), F.col("label")),
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        prev = labels.select("id", F.col("label").alias("prev_label"))
        converged = (
            new_labels.join(prev, "id")
            .where(F.col("label") != F.col("prev_label"))
            .isEmpty()
        )
        labels = new_labels
        if converged:
            break

    if not converged:
        # `prev` holds the second-to-last round's labels: count how many
        # were still moving so the error names the blast radius.
        n_changing = (
            labels.join(prev, "id")
            .where(F.col("label") != F.col("prev_label"))
            .count()
        )
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            f"rounds ({n_changing} labels still changing); with pointer "
            "doubling this covers diameter ~2^max_iterations, so the "
            "edge set is likely changing mid-job — snapshot it first"
        )

    return labels.select(F.col("id").alias(id_col), F.col("label").alias("component"))


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def md5_hash60(col: Column) -> Column:
    """Deterministic 60-bit token hash from the first 15 hex chars of md5 —
    reproducible in DuckDB as ``('0x' || substr(md5(tok), 1, 15))::BIGINT``,
    which is what makes the simhash query *exactly* oracle-checkable.
    Slower than xxhash64 (the scale default); use for verification paths."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def simhash64(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_hash: Callable[[Column], Column] = F.xxhash64,
) -> DataFrame:
    """64-bit SimHash per document: explode token hashes, bit-majority vote
    per position (64 conditional sums), reassemble the fingerprint.  All
    JVM-side; one shuffle (groupBy id).

    ``token_hash`` defaults to xxhash64 (fastest); pass :func:`md5_hash60`
    to make the fingerprint reproducible in an external SQL oracle."""
    # explode_outer + null filter: a plain explode's inferred size()>0
    # filter re-runs the split once more per row (pure overhead — a Java
    # split is never empty); the outer form infers nothing.
    tokens = (
        df.select(
            F.col(id_col),
            F.explode_outer(
                F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
            ).alias("tok"),
        )
        .where(F.col("tok").isNotNull())
        .withColumn("h", token_hash(F.col("tok")))
    )

    # Packed bit-count aggregation: bits i and i+32 ride ONE long sum in
    # two 32-bit lanes — (h >> i) & 0x0000000100000001 puts bit i in lane
    # 0 and bit i+32 in lane 1 — so 32 branch-free shift+mask sums replace
    # 64 conditional ±1 sums: half the agg columns (smaller partial-agg
    # buffers on the shuffle) and ~4× less per-token ALU in the codegen
    # loop.  Lane carry is impossible: a lane accumulates at most n
    # (tokens per doc) < 2^31 — a 2 GB string cannot hold 2^31 tokens.
    # Majority per bit is recovered as 2·ones > n, exactly the old
    # sum(±1) > 0 tie rule (votes = 2·ones − n).
    _LANE = (1 << 32) | 1
    packed = [
        F.sum(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(_LANE))).alias(
            f"p{i}"
        )
        for i in range(32)
    ]
    voted = tokens.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"), *packed)

    fingerprint = None
    for i in range(64):
        p = F.col(f"p{i & 31}")
        ones = (
            p.bitwiseAND(F.lit(0xFFFFFFFF))
            if i < 32
            else F.shiftrightunsigned(p, 32)
        )
        majority = (ones * 2) > F.col("_n")
        value = F.lit(1 << i if i < 63 else -(1 << 63)).cast("long")
        term = F.when(majority, value).otherwise(F.lit(0).cast("long"))
        fingerprint = term if fingerprint is None else fingerprint + term
    return voted.select(F.col(id_col), fingerprint.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    token_hash: Callable[[Column], Column] = F.xxhash64,
    max_bucket: int = 4096,
) -> DataFrame:
    """Hamming-near pairs: band the 64-bit simhash into ``max_hamming + 1``
    contiguous bit chunks — any pair within Hamming ≤ max_hamming shares at
    least one chunk untouched (pigeonhole, so recall is EXACTLY 1 for the
    banded candidate set below the cap) — in-bucket pair generation on
    band value, verify Hamming.

    ``max_bucket`` bounds the degenerate-band quadratic path, exactly
    like `minhash_candidate_pairs`: a band value shared by d docs (d
    near-identical docs, or a boilerplate-dominated corpus whose
    fingerprints collapse) emits C(d,2) candidates; buckets over the cap
    degrade to linear STAR pairs via :func:`_bucket_pairs` (sufficient
    for keep-lowest dedup of the identical-content degeneracy; the
    pigeonhole recall guarantee then holds only below the cap).  Audit
    with :func:`simhash_band_stats` — the cap engages silently
    executor-side.

    Scale ceiling (inherent to banded SimHash, not the cap): band keys
    have only 2^(64/(max_hamming+1)) possible values — 16 bits per band
    at the default max_hamming=3 — so even a HEALTHY uniform corpus
    drives the mean bucket over any fixed cap once N ≳ 65,536·max_bucket
    (~2.7·10⁸ docs at the defaults), and below the cap the expected
    candidate volume is already ~4·N²/2¹⁶.  That is the algorithm's
    pigeonhole floor, not an implementation choice: 64-bit fingerprints
    cannot band more selectively for Hamming ≤ 3.  At 10⁹+ docs run
    this per PARTITION of a corpus split (by domain / url prefix /
    language), or use the MinHash family whose 64-bit band keys collide
    only on real similarity; `simhash_band_stats.max_bucket_size`
    rising toward the cap is the audit signal that a corpus has
    outgrown one partition."""
    if not 0 <= max_hamming <= 63:
        raise ValueError(f"max_hamming must be in [0, 63], got {max_hamming}")
    # lazy localCheckpoint: both join sides reuse the (64-aggregate)
    # fingerprint; freed by the ContextCleaner when unreferenced (persist
    # would pin the CacheManager entry for the whole session).
    sh = simhash64(df, text_col, id_col, token_hash).localCheckpoint(eager=False)
    banded = _simhash_banded(sh, id_col, max_hamming)
    # Two-path plan: over-cap bucket KEYS first (one slim map-side-
    # combined groupBy, filtered to a near-empty set on healthy
    # corpora), BROADCAST anti-joined off the fast band self-join —
    # the healthy path keeps the old plan shape plus one broadcast
    # probe, with hamming filtered BEFORE the final dedup exchange so
    # random band collisions between unrelated docs never ride it.
    # Over-cap buckets — where the self-join would emit C(d,2) rows —
    # degrade to `_bucket_pairs`' linear star listing, Hamming-verified
    # through fingerprint re-joins; that branch's input is empty when
    # no bucket trips.  (A first draft tagged EVERY banded row with its
    # bucket size through a shuffle join and split on the tag — 2×
    # slower at bench scale purely from the added exchanges.)
    banded = banded.localCheckpoint(eager=False)
    hot_keys = F.broadcast(
        banded.groupBy("band_id", "bv")
        .agg(F.count("*").alias("_n"))
        .where(F.col("_n") > max_bucket)
        .select("band_id", "bv")
    )
    small = banded.join(hot_keys, ["band_id", "bv"], "left_anti")
    a = small.alias("a")
    b = small.alias("b")
    small_pairs = (
        a.join(
            b,
            on=[
                F.col("a.band_id") == F.col("b.band_id"),
                F.col("a.bv") == F.col("b.bv"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )
    # Over-cap star pairs carry (id, simhash) STRUCTS through the
    # collect_list, so Hamming verification is struct-field algebra on
    # the pair row itself — no fingerprint re-join, and the whole
    # branch's plan reduces to nothing when no bucket trips (its input
    # is empty after the semi-join; a re-join against the full
    # fingerprint table would put two corpus-sized join stages in every
    # plan just in case).  sort_array on the structs orders by the id
    # field first, so `_bucket_pairs`' id_a < id_b contract holds.
    big_buckets = (
        banded.join(hot_keys, ["band_id", "bv"], "left_semi")
        .groupBy("band_id", "bv")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col(id_col).alias("i"), "simhash"))
            ).alias("_ids")
        )
    )
    big_pairs = (
        _bucket_pairs(big_buckets, max_bucket)
        .select(
            F.col("id_a.i").alias("id_a"),
            F.col("id_b.i").alias("id_b"),
            F.bit_count(
                F.col("id_a.simhash").bitwiseXOR(F.col("id_b.simhash"))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )
    return small_pairs.unionByName(big_pairs).dropDuplicates(
        ["id_a", "id_b"]
    )


def _simhash_banded(
    sh: DataFrame, id_col: str, max_hamming: int
) -> DataFrame:
    """``(id, simhash, band_id, bv)`` rows: the 64-bit fingerprint split
    into ``max_hamming + 1`` contiguous bit chunks (even split — widths
    differ by at most 1; any pair within Hamming ≤ max_hamming shares at
    least one untouched chunk by pigeonhole).  The ONE banding
    definition shared by `simhash_near_pairs` and `simhash_band_stats`
    — the audited bucket distribution and the one the operator pairs on
    must never drift."""
    n_bands = max_hamming + 1
    bounds = [(64 * b) // n_bands for b in range(n_bands + 1)]

    def _band_value(b: int) -> Column:
        lo, hi = bounds[b], bounds[b + 1]
        if hi - lo == 64:  # single band (max_hamming=0): mask would overflow
            return F.col("simhash")
        return F.shiftright(F.col("simhash"), lo).bitwiseAND(
            F.lit((1 << (hi - lo)) - 1)
        )

    bandcols = [
        F.struct(F.lit(b).alias("band_id"), _band_value(b).alias("bv"))
        for b in range(n_bands)
    ]
    return sh.select(
        id_col, "simhash", F.explode(F.array(*bandcols)).alias("band")
    ).select(id_col, "simhash", "band.band_id", "band.bv")


def simhash_band_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    token_hash: Callable[[Column], Column] = F.xxhash64,
    max_bucket: int = 4096,
) -> DataFrame:
    """One-row audit of the simhash band-bucket distribution — the
    `lsh_bucket_stats` counterpart for :func:`simhash_near_pairs`:
    multi-member buckets, the largest bucket, and how many exceed
    ``max_bucket`` (where pair listing degrades to star pairs and the
    pigeonhole recall guarantee is capped).  Banding comes from the same
    `_simhash_banded` helper the operator pairs on, so the audited
    distribution cannot drift from the acted-on one.  A corpus with no
    multi-member bucket returns the all-zero row (every aggregate
    coalesced — a driver comparing ``max_bucket_size`` against a cap
    must never meet NULL).  Costs one banding pass;
    ``max_bucket_size`` climbing toward the cap on a HEALTHY corpus is
    the signal it has outgrown one simhash partition (see the scale
    ceiling note on :func:`simhash_near_pairs`)."""
    if not 0 <= max_hamming <= 63:
        raise ValueError(f"max_hamming must be in [0, 63], got {max_hamming}")
    sh = simhash64(df, text_col, id_col, token_hash)
    sizes = (
        _simhash_banded(sh, id_col, max_hamming)
        .groupBy("band_id", "bv")
        .agg(F.count("*").alias("n"))
    )
    return sizes.where(F.col("n") > 1).agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.coalesce(F.max("n"), F.lit(0)).cast("long").alias(
            "max_bucket_size"
        ),
        F.coalesce(
            F.sum((F.col("n") > max_bucket).cast("long")), F.lit(0)
        ).alias("n_over_cap"),
    )


# --------------------------------------------------------------------------
# Global line-level dedup (CCNet paragraph dedup)
# --------------------------------------------------------------------------

def dedup_lines_global(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style corpus-global paragraph dedup: every non-blank line
    that appears more than once in the corpus is kept only at its FIRST
    occurrence (smallest (doc_id, pos)) and dropped everywhere else;
    blank lines always pass through (they are structure, not content).
    Returns ``(doc_id, text, n_lines, n_kept)`` with the rebuilt text.

    Scale shape: lines shuffle ONCE keyed by the line value (the groupBy
    computing each line's first occurrence is map-side combined to one
    slim row per distinct line per partition); the keeper table joins
    back on the same key — Catalyst reuses the partitioning, so the
    line text crosses the wire once.  Keying on the LINE, not a 60-bit
    hash of it, matters at corpus scale: a hash-keyed keep/drop silently
    deletes the collision victim's line everywhere (birthday bound
    ~1.2e9 distinct lines), while Spark's internal shuffle hashing of the
    string key costs the same and stays exact.  Reassembly shuffles kept
    lines by doc — bounded by document size.  This is the exact CCNet
    dedup topology (Wenzek et al. 2020 §3.1) as DataFrame algebra.

    Determinism: first-occurrence = arg-min of (doc_id, pos) — a pure
    function of the corpus, independent of partitioning.  Null text is
    treated as empty (the doc survives with one blank line).
    """
    lines = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
        ).alias("pos", "ln"),
    )
    nonblank = lines.where(F.expr("ln rlike '[^ \\\\t\\\\r]'"))
    keepers = nonblank.groupBy("ln").agg(
        F.min(F.struct("doc_id", "pos")).alias("first")
    )
    kept_nonblank = (
        nonblank.join(keepers, "ln")
        .where(
            (F.col("doc_id") == F.col("first.doc_id"))
            & (F.col("pos") == F.col("first.pos"))
        )
        .select("doc_id", "pos", "ln")
    )
    blanks = lines.where(~F.expr("ln rlike '[^ \\\\t\\\\r]'")).select(
        "doc_id", "pos", "ln"
    )
    kept = kept_nonblank.unionByName(blanks)
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "ln"))),
                lambda s: s["ln"],
            ),
            "\n",
        ).alias("text"),
        F.count("*").cast("long").alias("n_kept"),
    )
    totals = lines.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_lines")
    )
    return totals.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        F.coalesce("text", F.lit("")).alias("text"),
        "n_lines",
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
    )


def duplicate_ngram_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_df: int = 2,
) -> DataFrame:
    """Exact duplicated-substring spans (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): maximal token spans
    covered by k-grams that occur ≥ ``min_df`` times corpus-wide
    (within- or cross-document).  The memorization-prone spans a
    substring-level dedup pass masks or drops — finer-grained than
    whole-doc (MinHash) or line (CCNet) dedup.

    Plan shape at scale: one narrow pass materializes the token array and
    explodes to slim (id, pos, gram_hash60) rows — the ONLY corpus-sized
    shuffle is the gram-hash groupBy (map-side combined) plus the
    left-semi join back, both keyed on the 60-bit hash, never the gram
    string.  Span merging is per-document gaps-and-islands (running-max
    window keyed on the id, skew bounded by the longest doc, not the
    corpus).  60-bit md5 grams keep the DuckDB oracle replay exact; a
    cross-gram hash collision (~2⁻⁶⁰/pair) could at worst merge two
    unrelated spans.

    Returns (id, span_start, span_end, n_tokens): token-index intervals
    [start, end) in the doc's whitespace tokenization.
    """
    toks = df.select(
        F.col(id_col), _word_tokens(F.col(text_col)).alias("_toks")
    )
    n = F.size("_toks")
    positions = (
        toks.where(n >= k)
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.lit(0), n - k)).alias("pos"),
            "_toks",
        )
        .select(
            F.col(id_col),
            "pos",
            md5_hash60(
                F.concat_ws(" ", F.slice("_toks", F.col("pos") + 1, k))
            ).alias("h"),
        )
    )
    # dup detection as a window count over h: ONE pass over the positions
    # (one shuffle keyed on the hash) — the groupBy + semi-join-back form
    # would re-run the tokenize/explode/md5 subtree for the probe side,
    # doubling the dominant narrow-stage cost (no exchange reuse across a
    # partial aggregate)
    w_gram = Window.partitionBy("h")
    hits = (
        positions.withColumn("_df", F.count("*").over(w_gram))
        .where(F.col("_df") >= min_df)
        .select(id_col, "pos")
    )

    w_order = Window.partitionBy(id_col).orderBy("pos")
    prev_max_end = F.max(F.col("pos") + k).over(
        w_order.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = hits.withColumn(
        "_new",
        (prev_max_end.isNull() | (F.col("pos") > prev_max_end)).cast("int"),
    ).withColumn(
        "_island",
        F.sum("_new").over(
            w_order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        islands.groupBy(id_col, "_island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + k).cast("long").alias("span_end"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("n_tokens"),
        )
    )


def mask_duplicate_spans(
    df: DataFrame,
    spans: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_df: int = 2,
    min_span_tokens: int | None = None,
) -> DataFrame:
    """The actionable form of :func:`duplicate_ngram_spans`: rebuild each
    document with its duplicated spans REMOVED (Lee et al. drop the
    repeated substring from all-but-one occurrence; this conservative
    variant drops every occurrence — deterministic and idempotent, no
    keep-one coordination shuffle).

    ``spans`` defaults to ``duplicate_ngram_spans(df, ...)``;
    ``min_span_tokens`` ignores short spans (keep incidental k-gram
    collisions).  Rebuild is column algebra over the token array: spans
    arrive as a per-doc struct array via one slim groupBy, and a token
    keeps its place iff no span covers its index — O(tokens × spans) per
    doc, spans per doc are few by construction.  Docs with no spans pass
    through with their ORIGINAL text byte-for-byte; a doc that was
    actually masked is rebuilt from its whitespace-split tokens,
    single-space joined (the spliced whitespace around removed spans has
    no faithful reconstruction) — run line-structure-sensitive ops before
    this one.

    Returns (id, text, n_masked_tokens)."""
    if spans is None:
        spans = duplicate_ngram_spans(df, text_col, id_col, k, min_df)
    if min_span_tokens:
        spans = spans.where(F.col("n_tokens") >= min_span_tokens)
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    toks = F.col("_toks")
    idx = F.sequence(F.lit(0), F.size(toks) - 1)
    covered = lambda i: F.exists(  # noqa: E731
        F.col("_spans"),
        lambda s: (i >= s["span_start"]) & (i < s["span_end"]),
    )
    kept = F.filter(
        F.zip_with(toks, idx, lambda t, i: F.struct(t.alias("t"), i.alias("i"))),
        lambda p: ~covered(p["i"]),
    )
    # rebuild on the CASE-PRESERVING token split: span positions come from
    # the lowered tokenization but \s+ split indices are case-independent,
    # so they align — masking must not lowercase the surviving text
    rebuilt = (
        df.select(
            F.col(id_col),
            F.col(text_col).alias("_orig"),
            F.split(F.trim(F.col(text_col)), r"\s+").alias("_toks"),
        )
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.when(
                F.col("_spans").isNull(), F.col("_orig")
            ).otherwise(
                F.concat_ws(
                    " ", F.transform(kept, lambda p: p["t"])
                )
            ).alias(text_col),
            F.coalesce(
                F.aggregate(
                    "_spans",
                    F.lit(0).cast("long"),
                    lambda acc, s: acc + (s["span_end"] - s["span_start"]),
                ),
                F.lit(0).cast("long"),
            ).alias("n_masked_tokens"),
        )
    )
    return rebuilt


def dedup_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-global exact PARAGRAPH dedup — the boilerplate-removal pass
    of a web-crawl pipeline: a paragraph (``\\n\\n``-separated unit) that
    appears in many pages (nav bars, cookie banners, footers) is kept only
    at its first occurrence (smallest ``(doc_id, pos)``) and dropped from
    every other page.  Returns ``(doc_id, text, n_paras, n_kept)`` with
    the rebuilt text; whitespace-only units are dropped outright.

    Value-keyed like :func:`dedup_lines_global` (keyed on the PARAGRAPH
    text, not a hash — exact at any corpus size) but WITHOUT the
    groupBy-then-join-back: the keeper aggregate's rows (paragraph →
    arg-min (doc, pos)) ARE the kept occurrences, so reassembly regroups
    the keeper table by doc directly.  Two shuffles total (explode →
    groupBy para with map-side partial min, skew-safe on a mega-hot
    boilerplate paragraph; then regroup by doc), zero joins, and the
    expensive explode subtree executes once — the measured
    double-execution trap of the join-back form (PLANS.md).  Totals per
    doc come from column algebra on the un-exploded array.  A doc whose
    every paragraph is a duplicate survives with empty text
    (n_kept = 0) so downstream joins never lose the row.
    """
    arr = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), "\n\n"),
        lambda x: x.rlike("[^ \t\r\n]"),
    )
    base = df.select(F.col(id_col).alias("doc_id"), arr.alias("__arr"))
    paras = base.select(
        "doc_id", F.posexplode("__arr").alias("pos", "para")
    )
    keepers = paras.groupBy("para").agg(
        F.min(F.struct("doc_id", "pos")).alias("first")
    )
    rebuilt = (
        keepers.select(
            F.col("first.doc_id").alias("doc_id"),
            F.col("first.pos").alias("pos"),
            "para",
        )
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "para"))),
                    lambda s: s["para"],
                ),
                "\n\n",
            ).alias("text"),
            F.count(F.lit(1)).cast("long").alias("n_kept"),
        )
    )
    totals = base.select(
        "doc_id", F.size("__arr").cast("long").alias("n_paras")
    ).where(F.col("n_paras") > 0)
    return (
        totals.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("text", F.lit("")).alias("text"),
            "n_paras",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        )
    )


# --------------------------------------------------------------------------
# Domain-scoped template (chrome) removal
# --------------------------------------------------------------------------


def strip_template_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    min_docs: int = 3,
    frac_num: int = 1,
    frac_den: int = 2,
) -> DataFrame:
    """Per-domain boilerplate ("chrome") removal: a non-blank line that
    appears in at least ``frac_num/frac_den`` of a domain's documents
    (domains with ≥ ``min_docs`` docs) is site template — nav, cookie
    banner, copyright footer — and is removed from EVERY document of that
    domain.  Blank lines always pass through.  Complements
    :func:`dedup_lines_global` (which keeps the first occurrence of a
    repeated line corpus-wide): template stripping keeps *no* occurrence,
    and its frequency test is scoped to the site, which is how crawl
    pipelines actually separate chrome from quoted-across-sites content.

    Returns ``(id, group, text, n_lines, n_removed)`` with the rebuilt
    text.

    Scale shape — deliberately NOT the single-pass window form: a window
    keyed ``(domain, line)`` would funnel every copy of a mega-site's
    chrome line through one reducer (occurrences = pages-in-domain, 1e8+
    for a large crawl domain).  Instead the frequency branch aggregates
    twice over SLIM projections — ``(domain, line, doc)`` distinct (map-
    side combined, so per-task duplicates die before the wire), then
    ``(domain, line)`` counts — and only the filtered template table
    (chrome lines are few per domain) is broadcast back onto the line
    stream.  The rebuild side therefore never shuffles line text at all
    except by document id, which is bounded by document size.  The
    documents scan runs twice (the groupBy+join-back double-scan noted in
    PLANS.md) — at web scale two narrow columnar scans are far cheaper
    than one skew-prone wide exchange.

    The threshold compares in exact integer arithmetic
    (``ndocs·den ≥ num·gdocs``) — no float ``ceil`` boundary drift (see
    :func:`_ceil_mul`).  Determinism: output is a pure function of the
    corpus, independent of partitioning.
    """
    lines = df.select(
        F.col(group_col).alias("__grp"),
        F.col(id_col).alias("__id"),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
        ).alias("pos", "ln"),
    )
    nonblank = lines.where(F.col("ln").rlike("[^ \t\r]"))

    gdocs = df.groupBy(F.col(group_col).alias("__grp")).agg(
        F.countDistinct(F.col(id_col)).alias("__gdocs")
    )
    templates = (
        nonblank.select("__grp", "ln", "__id")
        .distinct()  # (domain, line, doc) — map-side combined partial agg
        .groupBy("__grp", "ln")
        .agg(F.count("*").alias("__ndocs"))
        .join(F.broadcast(gdocs), "__grp")
        .where(
            (F.col("__gdocs") >= F.lit(min_docs))
            & (F.col("__ndocs") * F.lit(frac_den) >= F.lit(frac_num) * F.col("__gdocs"))
        )
        .select("__grp", "ln", F.lit(True).alias("__tpl"))
    )

    marked = lines.join(F.broadcast(templates), ["__grp", "ln"], "left")
    is_tpl = F.coalesce(F.col("__tpl"), F.lit(False))
    return (
        marked.groupBy("__id", "__grp")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(~is_tpl, F.struct("pos", "ln"))
                        )
                    ),
                    lambda s: s["ln"],
                ),
                "\n",
            ).alias("text"),
            F.count("*").cast("long").alias("n_lines"),
            F.sum(is_tpl.cast("long")).alias("n_removed"),
        )
        .select(
            F.col("__id").alias(id_col),
            F.col("__grp").alias(group_col),
            "text",
            "n_lines",
            "n_removed",
        )
    )


# --------------------------------------------------------------------------
# Minimizer fingerprints (winnowing)
# --------------------------------------------------------------------------


def minimizer_fingerprints(
    df: DataFrame,
    k: int = 3,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_hash: Callable[[Column], Column] = F.xxhash64,
) -> DataFrame:
    """Winnowing minimizer sketch (Schleimer, Wilkerson & Aiken, SIGMOD'03
    — the MOSS fingerprint; also the seed-sampling scheme of minimap):
    hash every k-token shingle, slide a w-gram window, keep each window's
    MINIMUM hash.  Guarantees: any shared token run of ≥ w+k-1 tokens
    yields at least one shared fingerprint (position-local, unlike
    MinHash's whole-document signature), and expected density is
    2/(w+1) of the grams — sketch size tunes with w.

    Entirely Catalyst array algebra (sequence/slice/array_min — no
    explode until the final distinct emit, no Python), so the sketch is a
    narrow map stage; the only shuffle is whatever the caller does with
    the emitted ``(id, minimizer)`` rows.

    ``token_hash`` defaults to xxhash64 (scale path); pass
    :func:`md5_hash60` for an externally replayable sketch (same contract
    as :func:`simhash64`).

    Guard rails: Spark ``sequence(1, n)`` DESCENDS when n < 1 — both
    ladders are gated on emptiness instead (a doc with < k tokens has no
    grams; with ≤ w grams the whole gram array is one window).
    """
    from .textstats import _tokens

    toks = df.select(
        F.col(id_col),
        _tokens(text_col).alias("tk"),
    )
    n_tk = F.size(F.col("tk"))
    grams = F.when(
        n_tk >= k,
        F.transform(
            F.sequence(F.lit(1), n_tk - k + 1),
            lambda i: token_hash(
                F.concat_ws(" ", F.slice(F.col("tk"), i, F.lit(k)))
            ),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    g = toks.select(id_col, grams.alias("gs"))
    n_g = F.size(F.col("gs"))
    mins = (
        F.when(n_g == 0, F.array().cast("array<bigint>"))
        .when(n_g <= w, F.array(F.array_min("gs")))
        .otherwise(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), n_g - w + 1),
                    lambda j: F.array_min(F.slice(F.col("gs"), j, F.lit(w))),
                )
            )
        )
    )
    return g.select(
        F.col(id_col), F.explode_outer(mins).alias("minimizer")
    ).where(F.col("minimizer").isNotNull())


def minimizer_overlap_pairs(
    df: DataFrame,
    k: int = 3,
    w: int = 4,
    min_shared: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_hash: Callable[[Column], Column] = F.xxhash64,
    max_bucket: int = 4096,
) -> DataFrame:
    """Candidate near-dup/overlap pairs from shared minimizers: bucket-join
    the sketch on the fingerprint value, count shared minimizers per pair,
    keep pairs sharing ≥ ``min_shared``.  Position-local sketches mean
    this catches long COPIED PASSAGES between otherwise different
    documents — the case a whole-document MinHash signature dilutes away.

    The join is the LSH-bucket topology (:func:`_bucket_pairs`): one
    shuffle on the minimizer value; a degenerate bucket (a fingerprint
    occurring in > ``max_bucket`` docs — boilerplate the caller should
    have stripped first, see :func:`strip_template_lines`) degrades to
    linear star pairs, which under-counts ``n_shared`` for those ids
    only — the bounded-worst-case trade documented at
    :func:`_bucket_pairs`."""
    sk = minimizer_fingerprints(df, k, w, id_col, text_col, token_hash)
    buckets = sk.groupBy("minimizer").agg(
        F.array_sort(F.collect_set(id_col)).alias("_ids")
    )
    pairs = _bucket_pairs(buckets, max_bucket)
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def collapse_repeated_lines(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """WITHIN-document repeated-line collapse: keep the FIRST occurrence of
    every exact non-blank line, drop later repeats, preserve order and
    blank lines (structure).  The intra-doc complement of the corpus-level
    `dedup_lines_global` — repeated nav/footer lines that a boilerplate
    stripper missed typically repeat WITHIN the page first.

    Shape: pure per-row higher-order algebra — ``filter`` with the index
    lambda keeps line i iff it is blank or ``array_position`` (first
    match) returns i.  O(L²) comparisons per doc on the materialized line
    array, ZERO shuffles and no join-back (the keeper-rebuild lesson:
    the kept lines are recomputable in place, so never re-key the corpus
    to fetch them)."""
    lines = df.withColumn(
        "__lines", F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
    )
    kept = F.filter(
        F.col("__lines"),
        lambda x, i: (x == F.lit(""))
        | (F.array_position(F.col("__lines"), x) == i + F.lit(1)),
    )
    return (
        lines.withColumn("__kept", kept)
        .select(
            id_col,
            F.array_join("__kept", "\n").alias("text_clean"),
            F.size("__lines").cast("int").alias("n_lines"),
            (F.size("__lines") - F.size("__kept")).cast("int").alias(
                "n_dropped"
            ),
        )
    )


def edit_similarity_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix_chars: int = 400,
    threshold: float = 0.8,
) -> DataFrame:
    """Edit-distance verification of near-duplicate CANDIDATE pairs — the
    final character-level check a dedup pipeline runs after the cheap
    sketch stages (MinHash/SimHash give set similarity; two docs can share
    every shingle yet read differently, and OCR/encoding noise can break
    shingles while the texts stay one edit apart).

    ``sim = 1 − lev(a, b) / max(len(a), len(b))`` over the first
    ``prefix_chars`` characters of each side; identical empty prefixes
    are similarity 1.  The prefix cap is the scale contract: Levenshtein
    is O(n·m) per pair, so the cost per candidate is bounded at
    ``prefix_chars²`` regardless of document length — candidates come
    from the sketch stages, so the pair table is tiny next to the corpus,
    and the texts are fetched through two slim (id, prefix) joins (the
    full text column never shuffles).

    Returns ``(id_a, id_b, edit_dist, sim, is_dup)`` with ``sim`` rounded
    to 6 dp so the ``threshold`` verdict is engine-stable."""
    slim = docs.select(
        F.col(id_col),
        F.substring(F.col(text_col), 1, int(prefix_chars)).alias("__pfx"),
    )
    a = slim.select(
        F.col(id_col).alias("id_a"), F.col("__pfx").alias("__pa")
    )
    b = slim.select(
        F.col(id_col).alias("id_b"), F.col("__pfx").alias("__pb")
    )
    d = F.levenshtein("__pa", "__pb")
    denom = F.greatest(F.length("__pa"), F.length("__pb"))
    sim = F.round(
        F.when(denom == 0, F.lit(1.0)).otherwise(
            F.lit(1.0) - d / denom.cast("double")
        ),
        6,
    )
    return (
        pairs.select("id_a", "id_b")
        .join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            d.alias("edit_dist"),
            sim.alias("sim"),
            (sim >= F.lit(float(threshold))).alias("is_dup"),
        )
    )


def dedup_keep_best(
    docs: DataFrame,
    pairs: DataFrame,
    score_col: str = "score",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cluster-representative selection: label every document with its
    near-dup connected component (over the verified pair graph) and keep
    the HIGHEST-``score_col`` member per cluster (ties → smallest id) —
    the survivor policy curated corpora actually use (keep the
    best-quality capture, not the lowest id; a truncated or boilerplate-
    ridden copy should lose to the clean one even when it crawled first).

    Returns one row per input doc: ``(id, cluster, score, keep)`` —
    the full verdict table (audit shape), so the kept corpus is
    ``.where("keep")`` and the drop log is the complement.

    Plan: connected components over the slim pair graph (iterative
    min-label propagation, id-keyed joins only), one join of the labels
    back to the slim (id, score) projection, and one per-cluster window
    on that slim table — document text never shuffles; cluster count ≈
    doc count so the window partitioning is skew-free (the largest
    cluster bounds the largest partition)."""
    from pyspark.sql.window import Window

    labels = connected_components(
        pairs, docs.select(id_col), id_col=id_col
    )
    slim = docs.select(F.col(id_col), F.col(score_col).alias("score"))
    labeled = slim.join(
        labels.select(F.col(id_col), F.col("component").alias("cluster")),
        id_col,
    )
    w = Window.partitionBy("cluster").orderBy(
        F.desc_nulls_last("score"), F.asc(id_col)
    )
    return labeled.select(
        id_col,
        "cluster",
        "score",
        (F.row_number().over(w) == 1).alias("keep"),
    )


def contamination_spans(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    bench_id_col: str = "bench_id",
    k: int = 8,
) -> DataFrame:
    """Positional eval-leakage audit: the MAXIMAL token spans of each
    corpus document covered by k-word shingles shared with a benchmark
    document — the where-exactly companion to
    :func:`benchmark_contamination` (which only counts), and the input
    a masking pass needs.  Returns ``(doc_id, bench_id, span_start,
    span_end, n_shingles)`` with 0-based token indexes; overlapping or
    adjacent shingle windows coalesce into one span.

    Plan shape: corpus tokens materialize ONCE, positional shingles are
    rotation-XOR combines over the bound token-hash array
    (posexplode_outer + null guard — the inferred-generate-filter trap),
    the benchmark side is a slim DISTINCT (hash, bench_id) broadcast
    probe, and the interval merge is one window + one groupBy keyed
    (doc, bench) over matched rows only — at 100 TB the corpus never
    shuffles; only actual leak hits do."""
    # NULL text must yield NO rows: without this guard a NULL-text doc
    # would fabricate one all-zero shingle hash (F.get over a NULL array
    # is NULL, coalesced to the zero pad) and "match" another NULL-text
    # doc — diverging from the oracle.
    # Shingle identity = _shingle_hash_array over per-token hashes, not a
    # concat_ws string: hashing each token once and bit-combining skips
    # the per-position string build AND the per-position slice allocation
    # (see the helper for the measured wins and the ~2⁻⁶³ collision
    # bound — same order as the 2⁻⁶⁴ xxhash64 bound it replaces; match
    # set identical on the bench corpus).  Both probe sides below derive
    # hashes the same way, including the short-doc whole-array fallback.
    toks = corpus.select(
        F.col(id_col), _word_tokens(F.col(text_col)).alias("__toks")
    ).where(F.col("__toks").isNotNull())
    hashed = toks.select(
        id_col,
        F.transform("__toks", lambda t: F.xxhash64(t)).alias("__th"),
    )
    positional = hashed.select(
        id_col,
        F.size("__th").alias("__n"),
        F.posexplode_outer(_shingle_hash_array("__th", k)).alias(
            "pos", "__h"
        ),
    ).where(F.col("__h").isNotNull())
    hits = positional.select(
        id_col,
        "pos",
        F.least(F.col("pos") + F.lit(k - 1), F.col("__n") - 1).alias("__end"),
        "__h",
    )
    # NULL-text benchmark rows would shingle to [''] — drop them
    btoks = benchmark.select(
        F.col(bench_id_col),
        _word_tokens(F.col(bench_text_col)).alias("__bt"),
    ).where(F.col("__bt").isNotNull())
    bh = btoks.select(
        bench_id_col,
        F.transform("__bt", lambda t: F.xxhash64(t)).alias("__bh"),
    )
    bhash = (
        bh.select(
            F.col(bench_id_col),
            F.explode_outer(_shingle_hash_array("__bh", k)).alias("__h"),
        )
        .where(F.col("__h").isNotNull())
        .distinct()
    )
    m = hits.join(F.broadcast(bhash), "__h").select(
        id_col, bench_id_col, "pos", "__end"
    )
    # (pos, __end) is unique per (doc, bench) — the helper's total-order
    # requirement holds without a distinct
    return (
        _interval_groups(m, [id_col, bench_id_col], "pos", "__end")
        .groupBy(id_col, bench_id_col, "__ig")
        .agg(
            F.min("pos").cast("int").alias("span_start"),
            F.max("__end").cast("int").alias("span_end"),
            F.count(F.lit(1)).cast("int").alias("n_shingles"),
        )
        .select(id_col, bench_id_col, "span_start", "span_end", "n_shingles")
    )


def _interval_groups(
    df: DataFrame,
    part_cols: list,
    start_col: str,
    end_col: str,
    gap: int = 0,
) -> DataFrame:
    """Assign the interval-merge group id ``__ig``: overlapping or
    adjacent [start, end] rows within a partition share a group
    (``gap`` > 0 additionally bridges intervals separated by at most
    that many positions — the passim gappy merge).  The
    window order is (start, end) — callers must guarantee row
    uniqueness on that pair within a partition (distinct first), or the
    prev-max and running-sum passes can order ties differently and the
    merge splits nondeterministically (observed live).  (Ties sharing
    the same (start, end) always land in one group regardless of order:
    the second row's prev-max already covers its start.)"""
    w = Window.partitionBy(*part_cols).orderBy(start_col, end_col)
    prev_max = F.max(end_col).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flag = F.when(
        prev_max.isNull()
        | (F.col(start_col) > prev_max + 1 + int(gap)),
        1,
    ).otherwise(0)
    return df.withColumn(
        "__ig",
        F.sum(flag).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )


def merge_spans(
    spans: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Collapse (id, span_start, span_end) rows — possibly from many
    benchmark docs — into maximal non-overlapping per-document spans
    (the shared :func:`_interval_groups` merge, keyed on the doc
    alone; distinct() first gives the required total order)."""
    spans = spans.select(id_col, "span_start", "span_end").distinct()
    return (
        _interval_groups(spans, [id_col], "span_start", "span_end")
        .groupBy(id_col, "__ig")
        .agg(
            F.min("span_start").cast("int").alias("span_start"),
            F.max("span_end").cast("int").alias("span_end"),
        )
        .select(id_col, "span_start", "span_end")
    )


def mask_spans(
    corpus: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    mask: str = "<REDACTED>",
) -> DataFrame:
    """Act on a leakage audit: replace every token inside the given
    0-based token spans with ``mask`` — the decontamination companion
    of :func:`contamination_spans` (same contract as
    ``mask_duplicate_spans`` for within-corpus dup ngrams).

    Returns ``(id, text, n_tokens, n_masked)``.  Documents WITHOUT
    spans keep their text byte-identical (left join, null-guarded);
    masked documents are rebuilt from whitespace tokens joined by
    single spaces — token-level masking normalizes whitespace, which
    is the documented trade (spans are token-indexed, not byte-
    indexed).  Plan: spans merge per doc (slim rows), collect to ONE
    array per doc, then a single index-aware HOF rewrite — the corpus
    joins a tiny span table and never shuffles itself."""
    merged = merge_spans(spans, id_col)
    # sort_array: the segment rebuild below walks spans in start order
    # (collect_list order is partition-dependent); merge_spans already
    # guarantees they are non-overlapping with >= 1 gap token between.
    per_doc = merged.groupBy(id_col).agg(
        F.sort_array(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("__spans")
    )
    # broadcast: spans are bounded by leak hits (tiny by design) while
    # their lineage (join+windows) defeats size estimation — without
    # the hint the corpus side could shuffle, the one exchange this
    # operator forbids.  Rebuild on the CASE-PRESERVING split: span
    # positions come from the lowered tokenization, but \s+ indices are
    # case-independent so they align (the mask_duplicate_spans rule —
    # masking must not lowercase the surviving text).
    j = corpus.join(F.broadcast(per_doc), id_col, "left").withColumn(
        "__t", F.split(F.trim(F.col(text_col)), r"\s+")
    )
    # Segment rebuild, O(tokens + spans) (r6): per span emit the
    # untouched gap before it (slice) plus its mask run (array_repeat),
    # then append the tail after the last span.  The previous per-token
    # `exists(__spans, ...)` predicate was O(tokens × spans) of
    # interpreted lambda evals — the dominant cost of the bench
    # decontamination entry, whose merged spans run to dozens per doc.
    # Length guards (greatest 0 / least n-1) clamp exactly to the old
    # "mask only tokens that exist" semantics for out-of-range spans.
    nt = F.size("__t")
    spansc = F.col("__spans")

    def _seg(s: Column, i: Column) -> Column:
        # prev_end clamps at -1: a fully-negative previous span covers
        # no tokens, and slice() rejects a computed start of 0
        prev_end = F.when(i == 0, F.lit(-1)).otherwise(
            F.greatest(F.get(spansc, i - 1)["span_end"], F.lit(-1))
        )
        # clamp the start at 0: the contract is 0-based in-range spans,
        # but the old per-token form tolerated a negative start (it can
        # only cover tokens that exist) and the rebuild must match it
        start = F.greatest(s["span_start"], F.lit(0))
        gap_len = F.greatest(F.lit(0), start - prev_end - F.lit(1))
        run = F.greatest(
            F.lit(0),
            F.least(s["span_end"], nt - F.lit(1)) - start + F.lit(1),
        )
        return F.concat(
            F.slice(F.col("__t"), prev_end + F.lit(2), gap_len),
            F.array_repeat(F.lit(mask), run),
        )

    last_end = F.greatest(
        F.get(spansc, F.size(spansc) - 1)["span_end"], F.lit(-1)
    )
    masked_toks = F.concat(
        F.flatten(F.transform(spansc, _seg)),
        F.slice(
            F.col("__t"),
            last_end + F.lit(2),
            F.greatest(F.lit(0), nt - last_end - F.lit(1)),
        ),
    )
    n_masked = F.aggregate(
        F.coalesce("__spans", F.array()),
        F.lit(0),
        lambda acc, s: acc + (s["span_end"] - s["span_start"] + 1),
    )
    return j.select(
        id_col,
        F.when(F.col("__spans").isNull(), F.col(text_col))
        .otherwise(F.array_join(masked_toks, " "))
        .alias("text"),
        F.when(F.col(text_col).isNull(), F.lit(None).cast("int"))
        .otherwise(F.size("__t"))
        .alias("n_tokens"),
        n_masked.cast("int").alias("n_masked"),
    )


def recrawl_drift(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_hash: Callable[[Column], Column] = F.xxhash64,
) -> DataFrame:
    """Fuzzy change detection between two crawl snapshots: per-doc
    Hamming distance between the simhash fingerprints.  md5 equality
    (``delta_encode``) says WHETHER a page changed; the simhash distance
    says HOW MUCH — timestamp/boilerplate tweaks land within a few
    bits, template swaps mid-range, rewrites near the ~32-bit random
    floor.  A recrawl scheduler prioritizes by drift, not by changed
    flag.

    Returns ``(id, hamming, drift_class)`` for docs present in BOTH
    snapshots (identical / minor <= 3 / moderate <= 16 / rewrite).
    Plan: two simhash passes (slim (id, fingerprint) outputs) and one
    id-keyed join — co-located when snapshots are bucketed by the doc
    key.  Pass ``token_hash=md5_hash60`` for the oracle-replayable
    form."""
    a = simhash64(old, text_col, id_col, token_hash).withColumnRenamed(
        "simhash", "__sh_old"
    )
    b = simhash64(new, text_col, id_col, token_hash).withColumnRenamed(
        "simhash", "__sh_new"
    )
    hamming = F.bit_count(
        F.col("__sh_old").bitwiseXOR(F.col("__sh_new"))
    ).cast("int")
    return (
        a.join(b, id_col)
        .withColumn("hamming", hamming)
        .select(
            id_col,
            "hamming",
            F.when(F.col("hamming") == 0, "identical")
            .when(F.col("hamming") <= 3, "minor")
            .when(F.col("hamming") <= 16, "moderate")
            .otherwise("rewrite")
            .alias("drift_class"),
        )
    )


def continuation_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    max_fanout: int = 16,
    token_hash: Callable[[Column], Column] = F.xxhash64,
) -> DataFrame:
    """Content-based pagination stitching: find (A, B) pairs where the
    LAST ``k`` word tokens of A equal the FIRST ``k`` tokens of B — the
    multi-page-article tell (page 2 of a split article repeats the
    trailing sentence fragment of page 1) that ``rel_pagination``'s
    markup-based detector misses when the links are stripped.

    Scale shape: each doc reduces to two 60-ish-bit bridge hashes (head
    and tail of the token array — one regexp pass, two slices, no
    shuffle), and candidates come from ONE equi-join tail-hash =
    head-hash.  Template boilerplate (a shared footer sentence) would
    make a single bridge value quadratic, so bridges hotter than
    ``max_fanout`` on EITHER side are dropped before the join — the
    same hot-shingle hygiene as containment_pairs.  Pass
    ``md5_hash60`` as ``token_hash`` for SQL-oracle reproducibility.

    Returns ``(id_a, id_b, bridge_hash)`` — B continues A.  Docs with
    fewer than ``k`` tokens never pair.
    """
    base = (
        docs.select(
            F.col(id_col).alias("_id"),
            _word_tokens(F.col(text_col)).alias("_t"),
        )
        .where(F.size("_t") >= k)
        .select(
            "_id",
            token_hash(F.array_join(F.slice("_t", 1, k), " ")).alias("_h"),
            token_hash(F.array_join(F.slice("_t", -k, k), " ")).alias("_tl"),
        )
        .localCheckpoint(eager=False)  # heads, tails, and both fanout aggs
    )
    heads = base.select(F.col("_id").alias("id_b"), F.col("_h").alias("bridge_hash"))
    tails = base.select(F.col("_id").alias("id_a"), F.col("_tl").alias("bridge_hash"))
    hot_heads = (
        heads.groupBy("bridge_hash").agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > max_fanout).select("bridge_hash")
    )
    hot_tails = (
        tails.groupBy("bridge_hash").agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > max_fanout).select("bridge_hash")
    )
    hot = hot_heads.union(hot_tails).distinct()
    return (
        tails.join(hot, "bridge_hash", "left_anti")
        .join(heads.join(hot, "bridge_hash", "left_anti"), "bridge_hash")
        .where(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b", "bridge_hash")
    )


def oph_minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 64,
    token_hash: Callable[[Column], Column] = F.xxhash64,
) -> DataFrame:
    """One-Permutation-Hashing MinHash signatures (Li, Owen & Zhang
    2012) with rotation densification (Shrivastava & Li 2014): every
    shingle is hashed ONCE, the hash space is split into ``num_hashes``
    bins (``pmod(h, num_hashes)``), each bin keeps its minimum, and an
    empty bin borrows from the nearest non-empty bin to its right
    (circularly), salted by the rotation distance (``xxhash64(v, t)``;
    overflow-safe under ANSI mode, unlike the classic additive offset)
    so borrowed values stay distinct across distances.

    Why it exists next to :func:`minhash_signatures`: the classic
    signature derives ``num_hashes`` seeded hashes PER SHINGLE —
    O(shingles × num_hashes) hash work; OPH pays ONE hash per shingle
    plus bin bookkeeping, the standard constant-factor win for
    signature builds at corpus scale (the signature build dominates
    MinHash dedup cost).  Collision probability per bin position still
    estimates Jaccard, so banding and verification are unchanged.

    NULL/empty text follows the same whole-text-fallback shingle as
    :func:`minhash_signatures` (one empty-string shingle), so empty
    docs band together and resolve at the exact-verification stage —
    identical policy to the classic signature path.

    Returns ``(id, sig: array<long>)`` — drop-in for
    :func:`_lsh_band_pairs`.
    """
    nh = num_hashes
    # Rotation-XOR shingle ids over per-token hashes (the
    # `minhash_signatures` / `containment_pairs` scheme): one token_hash
    # call per TOKEN, no per-shingle string build.  1-arg lambda wrapper:
    # a varargs token_hash (xxhash64) would receive the (element, index)
    # two-parameter form and hash the index in.
    hashed = (
        df.select(
            F.col(id_col),
            _word_tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("__t"),
        )
        .select(
            F.col(id_col),
            F.transform("__t", lambda t: token_hash(t)).alias("__th"),
        )
        .select(
            F.col(id_col),
            F.array_distinct(_shingle_hash_array("__th", k)).alias("_hashes"),
        )
    )

    # Per-bin minimum as nh PYTHON-loop filter+min exprs over the
    # materialized hash column — structurally the classic signature's
    # per-seed loop.  The obvious alternative (one transform over
    # sequence(0, nh-1) with the bin scan in a NESTED lambda capturing
    # the outer bin variable) runs entirely interpreted and measured
    # 8x slower on the 6 KB-doc bench corpus (49 s vs 6 s).
    def _bin_min(j: int) -> Column:
        # transform+when (array_min ignores the nulled-out elements)
        # instead of filter: filter's predicate+copy materialization
        # measured 2.3x slower on the 6 KB-doc bench corpus
        return F.array_min(
            F.transform(
                "_hashes",
                lambda h: F.when(F.pmod(h, F.lit(nh)) == F.lit(j), h),
            )
        )

    sig0 = hashed.select(
        id_col, F.array(*[_bin_min(j) for j in range(nh)]).alias("_sig0")
    )

    # Rotation densification, GATED per row: empty bins are rare for
    # real documents (P(any empty) ~ nh·(1-1/nh)^shingles — ~2e-13 for
    # 6 KB docs at nh=32), so the rotation scan — compact nested HOFs,
    # interpreted but only ever evaluated for the short docs that
    # actually have a hole — sits behind an exists(isnull) CASE.  The
    # unrolled-coalesce alternative (1024 scalar branches) evaluates
    # fast but its ~3000-node expression tree pays ~4 s of codegen
    # compilation PER QUERY PLAN, dominating the operator (measured
    # 8.6 s vs 3.4 s end-to-end on the 6 KB-doc bench corpus — the
    # gated-HOF form also edges out the classic seeded path's 4.0 s).
    seq = F.sequence(F.lit(0), F.lit(nh - 1))
    rot = F.transform(
        seq,
        lambda j: F.array_min(
            F.transform(
                seq,
                lambda t: F.when(
                    F.get(F.col("_sig0"), F.pmod(j + t, F.lit(nh))).isNotNull(),
                    t,
                ),
            )
        ),
    )
    # Borrowed values are distance-salted with a HASH COMBINE, not the
    # classic "+ t·2^40" offset: a borrowed xxhash64 value within
    # t·2^40 of Long.MAX would overflow the addition, and under Spark
    # 4's default ANSI mode that's an ArithmeticException killing the
    # whole job off one pathological short doc (~4e-6 per borrow).
    # t = 0 (the bin's own value) stays IDENTITY so non-empty bins in a
    # holey doc still band-match docs with no holes; only genuinely
    # borrowed positions (t > 0) are salted, and xxhash64(v, t) keeps
    # distances distinct exactly as the additive offset did.
    def _borrow(j: Column, t: Column) -> Column:
        v = F.get(F.col("_sig0"), F.pmod(j + t, F.lit(nh)))
        return F.when(t == 0, v).otherwise(
            F.when(v.isNotNull(), F.xxhash64(v, t.cast("long")))
        )

    dens = F.zip_with(seq, rot, _borrow)
    has_empty = F.exists("_sig0", lambda v: v.isNull())
    return sig0.select(
        id_col,
        F.when(has_empty, dens).otherwise(F.col("_sig0")).alias("sig"),
    )


def oph_minhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    jaccard_threshold: float = 0.5,
    max_bucket: int = 4096,
    token_hash: Callable[[Column], Column] = F.xxhash64,
) -> DataFrame:
    """Near-dup pairs via OPH signatures + the same banded LSH and
    exact-Jaccard verification as :func:`minhash_candidate_pairs` —
    identical contract, one-hash-per-shingle signature build (see
    :func:`oph_minhash_signatures` for the cost argument).
    """
    sigs = oph_minhash_signatures(
        df, text_col, id_col, k, num_hashes, token_hash
    )
    pairs = _lsh_band_pairs(sigs, id_col, num_hashes, bands, max_bucket)
    return _verify_pairs_exact_jaccard(
        df, pairs, text_col, id_col, k, jaccard_threshold
    )


def ngram_novelty(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Per-document n-gram novelty: what fraction of a document's
    distinct k-word shingles appear for the FIRST time (by id order)
    in this document — the marginal-contribution view of a corpus
    (docs full of already-seen n-grams add nothing to a training set
    even when they are not near-duplicates of any single other doc;
    the aggregate complement of pairwise dedup).

    Scale shape: one (shingle → min id) aggregation — map-side
    combined, hot boilerplate shingles reduce before the shuffle —
    then one equi-join back on the shingle hash.  Shingles ride as
    64-bit hashes, never as strings, through both exchanges.

    Returns ``(id, n_shingles, n_novel, novelty)`` (6 dp) — docs with
    no text still report their single fallback shingle, consistent
    with the other shingle operators.
    """
    # explode_outer + null filter (see containment_pairs): a plain
    # explode infers a size(shingles)>0 filter that re-inlines the
    # whole shingle pipeline below the generator
    sh = (
        with_shingles(docs.select(id_col, text_col), text_col, k)
        .select(
            F.col(id_col).alias("_id"),
            F.explode_outer("shingles").alias("_s"),
        )
        .where(F.col("_s").isNotNull())
        .select("_id", F.xxhash64("_s").alias("_h"))
        .localCheckpoint(eager=False)  # feeds first-seen agg AND join-back
    )
    first = sh.groupBy("_h").agg(F.min("_id").alias("_first"))
    joined = sh.join(first, "_h")
    return (
        joined.groupBy("_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum((F.col("_first") == F.col("_id")).cast("long"))
            .cast("long")
            .alias("n_novel"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_shingles",
            "n_novel",
            F.round(
                F.col("n_novel").cast("double")
                / F.col("n_shingles").cast("double"),
                6,
            ).alias("novelty"),
        )
    )


def domain_dup_rates(
    docs: DataFrame,
    domain_col: str = "domain",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-domain exact-duplicate audit: for each domain, how many of
    its documents are byte-exact copies of an EARLIER document
    (corpus-wide, not just within the domain) — the mirror/scraper
    tell a crawl budget review reads next to ``site_sections``.

    One md5 group-min over the corpus (map-side combined), one
    join-back, one domain rollup.  Duplicate rank is (id order), so
    the keeper assignment is deterministic and SQL-replayable.

    Returns ``(domain, n_docs, n_dups, dup_rate)`` (6 dp), every
    domain present.
    """
    # NULL text hashes to a sentinel (md5(NULL) is NULL, and NULL keys
    # never survive the equi-join below — a NULL-text doc must still
    # count toward its domain's n_docs, and all NULL-text docs are
    # byte-exact copies of each other for this audit's purposes)
    d = docs.select(
        F.col(domain_col).alias("_dom"),
        F.col(id_col).alias("_id"),
        F.md5(
            F.coalesce(F.col(text_col).cast("string"), F.lit("\x00null\x00"))
        ).alias("_md5"),
    ).localCheckpoint(eager=False)  # feeds keeper agg AND join-back
    keep = d.groupBy("_md5").agg(F.min("_id").alias("_keep"))
    j = d.join(keep, "_md5")
    return (
        j.groupBy("_dom")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum((F.col("_id") != F.col("_keep")).cast("long"))
            .cast("long")
            .alias("n_dups"),
        )
        .select(
            F.col("_dom").alias(domain_col),
            "n_docs",
            "n_dups",
            F.round(
                F.col("n_dups").cast("double") / F.col("n_docs").cast("double"),
                6,
            ).alias("dup_rate"),
        )
    )

def sorted_neighborhood_pairs(
    df: DataFrame,
    key_col: str,
    id_col: str = "doc_id",
    window: int = 4,
    num_partitions: int | None = None,
) -> DataFrame:
    """Sorted-neighborhood (SNM) blocking (Hernandez & Stolfo 1995): sort
    the corpus by a blocking key and emit every record pair within
    ``window`` positions of each other in the sorted order — the classic
    record-linkage candidate generator that complements LSH banding (it
    catches near-neighbors whose keys SORT together even when no hash
    bucket collides, e.g. typo'd prefixes).

    Output: one row per candidate pair ``(id_a, id_b, key_a, key_b,
    gap)`` with ``gap = position(b) - position(a) in [1, window-1]``,
    ordered pairs by the global (key, id) sort.  The pair set depends
    only on that total order, never on partition placement.

    Scale shape (100 TB) — global row_number WITHOUT the single-partition
    window trap (``bucketing.global_positions``: range partition +
    per-partition window + broadcast cumulative offsets).  Candidate
    pairs then come from an EQUI-join — each row probes positions
    ``gpos+1 .. gpos+window-1`` via a sequence explode — so the join
    shuffles O(n·window) slim (position, id, key) rows and never
    range-scans.  Boundary pairs need no special casing: global positions
    make partition edges invisible."""
    from .bucketing import global_positions

    w = int(window)
    d = df.select(F.col(id_col).alias("_id"), F.col(key_col).alias("_k"))
    if w < 2:
        return (
            d.sparkSession.createDataFrame([], "gap long")
            .select(
                F.lit(None).cast(d.schema["_id"].dataType).alias("id_a"),
                F.lit(None).cast(d.schema["_id"].dataType).alias("id_b"),
                F.lit(None).cast(d.schema["_k"].dataType).alias("key_a"),
                F.lit(None).cast(d.schema["_k"].dataType).alias("key_b"),
                "gap",
            )
        )
    g = global_positions(
        d, ["_k", "_id"], pos_col="_g", num_partitions=num_partitions
    )
    probes = g.select(
        F.col("_id").alias("id_a"),
        F.col("_k").alias("key_a"),
        F.col("_g").alias("_ga"),
        F.explode(F.sequence(F.col("_g") + 1, F.col("_g") + (w - 1))).alias(
            "_g"
        ),
    )
    right = g.select(
        F.col("_id").alias("id_b"), F.col("_k").alias("key_b"), "_g"
    )
    return probes.join(right, "_g").select(
        "id_a",
        "id_b",
        "key_a",
        "key_b",
        (F.col("_g") - F.col("_ga")).cast("long").alias("gap"),
    )

def text_reuse_spans(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    min_run: int = 3,
) -> DataFrame:
    """Passim-style text-reuse alignment (Smith, Cordell & Dillon 2013;
    the newspaper-reprint / plagiarism-span detector): for each candidate
    pair, find the aligned passage intervals — maximal runs of shared
    k-shingles lying on the SAME diagonal (``pos_a − pos_b`` constant),
    which is how a copied excerpt manifests when one document embeds a
    slice of another at a different offset.  Candidate pairs come from
    any upstream generator (``containment_pairs``, ``minhash``, SNM);
    this stage turns "these two documents are related" into WHERE.

    Returns ``(id_a, id_b, diag, a_start, a_end, b_start, b_end,
    n_shingles)``: 1-based inclusive TOKEN intervals covering the run's
    shingles (``a_end = last shingle start + k − 1``), ``diag`` the
    0-based position difference, ``n_shingles`` the number of shared
    unique shingles on the diagonal (``≥ min_run``).

    Two documented simplifications keep it engine-exact: (1) only
    within-doc-UNIQUE shingles participate (repeated boilerplate
    shingles would match every occurrence pairing and spray spurious
    diagonals — passim's standard filter); (2) runs are exact-diagonal
    (an insertion inside a copied passage splits the alignment into two
    rows rather than gap-merging — the gappy merge is a driver-free
    post-pass over this table if needed).

    Scale shape: only documents that appear in a pair are shingled
    (inner join against the distinct pair-id set); the shared-shingle
    join carries slim (id, hash, pos) rows keyed by (id_b, hash); the
    diagonal rollup is a map-side-combined groupBy on (pair, diag).
    Shingle identity is the rotation-XOR hash (``_shingle_hash_array``,
    ~2⁻⁶³ collisions); the oracle replica joins on shingle STRINGS —
    identical matches up to that bound."""
    def uniq_occ(side_col: str, pos_alias: str) -> DataFrame:
        """(side_col, _h, pos) of within-doc-UNIQUE shingles for the docs
        appearing on that side of ``pairs`` — all narrow until the final
        explode.  Uniqueness is a sorted-struct neighbor test on the
        per-doc array (array_sort + index-lambda filter), NOT a
        (id, hash) groupBy: the per-occurrence shuffle was measured to
        cost as much as the pair join itself at bench volume, and the
        boundary OR-guards make the NULL neighbor reads at j=0 / j=n-1
        safe (true OR NULL = true).  posexplode_OUTER + null filter —
        the InferFiltersFromGenerate trap (see containment_pairs)."""
        ids = pairs.select(F.col(side_col).alias("_id")).distinct()
        toks = df.select(
            F.col(id_col).alias("_id"),
            _word_tokens(F.coalesce(F.col(text_col), F.lit(""))).alias(
                "_t"
            ),
        ).join(ids, "_id")
        th = toks.select(
            "_id", F.transform("_t", lambda t: F.xxhash64(t)).alias("_th")
        ).where(F.size("_t") >= k)
        hs = th.select("_id", _shingle_hash_array("_th", k).alias("_hs"))
        st = hs.select(
            "_id",
            F.array_sort(
                F.zip_with(
                    F.col("_hs"),
                    F.sequence(F.lit(0), F.size("_hs") - 1),
                    lambda h, i: F.struct(h.alias("h"), i.alias("i")),
                )
            ).alias("_st"),
        )
        n = F.size("_st")
        stc = F.col("_st")
        uniq_arr = F.filter(
            stc,
            lambda x, j: (
                (j == 0) | (x["h"] != F.get(stc, j - 1)["h"])
            )
            & ((j == n - 1) | (x["h"] != F.get(stc, j + 1)["h"])),
        )
        return (
            st.select("_id", F.explode_outer(uniq_arr).alias("_x"))
            .where(F.col("_x").isNotNull())
            .select(
                F.col("_id").alias(side_col),
                F.col("_x.h").alias("_h"),
                F.col("_x.i").alias(pos_alias),
            )
        )

    a = uniq_occ("id_a", "_pa")
    b = uniq_occ("id_b", "_pb")
    # shuffle_hash on the big side: both inputs are corpus-shingle-volume
    # and SMJ would sort each; per-partition hash maps are cheaper
    m = a.join(pairs, "id_a").join(b.hint("shuffle_hash"), ["id_b", "_h"])
    g = (
        m.groupBy(
            "id_a", "id_b", (F.col("_pa") - F.col("_pb")).alias("diag")
        )
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.min("_pa").alias("_a0"),
            F.max("_pa").alias("_a1"),
        )
        .where(F.col("n_shingles") >= min_run)
    )
    return g.select(
        "id_a",
        "id_b",
        F.col("diag").cast("long").alias("diag"),
        (F.col("_a0") + 1).cast("long").alias("a_start"),
        (F.col("_a1") + k).cast("long").alias("a_end"),
        (F.col("_a0") + 1 - F.col("diag")).cast("long").alias("b_start"),
        (F.col("_a1") + k - F.col("diag")).cast("long").alias("b_end"),
        F.col("n_shingles").cast("long").alias("n_shingles"),
    )


def merge_reuse_spans(spans: DataFrame, gap: int = 8) -> DataFrame:
    """Passim's gappy second stage over :func:`text_reuse_spans` output:
    per candidate pair, collapse aligned runs whose A-side intervals
    overlap or sit within ``gap`` tokens — an insertion/deletion inside
    a copied passage splits the exact-diagonal alignment into tiling
    rows, and this merge restores the single passage, reporting how many
    runs composed it.  Returns ``(id_a, id_b, a_start, a_end, b_start,
    b_end, n_runs, n_shingles)``.

    Scale: a window + groupBy over the SPAN table (already reduced far
    below corpus volume by the alignment stage) — partitioned by pair,
    never global."""
    s = spans.select(
        "id_a", "id_b", "a_start", "a_end", "b_start", "b_end",
        "n_shingles",
    ).distinct()
    g = _interval_groups(
        s, ["id_a", "id_b"], "a_start", "a_end", gap=gap
    )
    return (
        g.groupBy("id_a", "id_b", "__ig")
        .agg(
            F.min("a_start").cast("long").alias("a_start"),
            F.max("a_end").cast("long").alias("a_end"),
            F.min("b_start").cast("long").alias("b_start"),
            F.max("b_end").cast("long").alias("b_end"),
            F.count(F.lit(1)).cast("long").alias("n_runs"),
            F.sum("n_shingles").cast("long").alias("n_shingles"),
        )
        .select(
            "id_a", "id_b", "a_start", "a_end", "b_start", "b_end",
            "n_runs", "n_shingles",
        )
    )
