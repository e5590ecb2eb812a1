"""Text analysis operators: language-ID, quality scoring, token counting,
document fingerprinting.

Everything is built-in `pyspark.sql.functions` column algebra (rlike /
regexp_extract_all / higher-order fns / hash builtins) so the whole surface
stays inside whole-stage codegen; the SQL oracles in __spark_entry__ use
the equivalent DuckDB expressions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StringType, StructField, StructType
from pyspark.sql.window import Window

from pdf_to_epub_spark.sources._arrow import map_rows

# Tiny per-language stopword seeds for the n-gram/stopword heuristic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "was"),
    "fr": ("le", "la", "les", "et", "de", "un", "une", "est"),
    "de": ("der", "die", "das", "und", "ist", "ein", "nicht"),
    "es": ("el", "la", "los", "y", "de", "que", "es"),
    "it": ("il", "la", "di", "e", "che", "un", "per"),
    "la": ("et", "in", "est", "non", "cum", "ad", "quod"),
}


# The ONE token character class (lowercase letters incl. accented Latin)
# — every tokenizer-derived regex in this package and in operators/ir.py
# builds from this string so the definitions cannot drift.
_TOKEN_CLASS = "[a-zà-öø-ÿ]"


def _tokens(col_name: str) -> Column:
    """Word tokens (letters incl. accented), lowercased."""
    return F.expr(
        f"regexp_extract_all(lower({col_name}), '{_TOKEN_CLASS}+', 0)"
    )


# token_count's three classes, materialized as explicit char sets for
# translate(): the 114 letters of [A-Za-zÀ-ÖØ-öø-ÿ], the digits, and Java
# regex's ASCII-only \s (the original pattern used [^...\s] under Java
# semantics, so Unicode whitespace counts as a punctuation token — the
# translate set must NOT include it).
_TOKEN_LETTER_CHARS = "".join(
    chr(c)
    for c in range(0x100)
    if ("A" <= chr(c) <= "Z")
    or ("a" <= chr(c) <= "z")
    or ("À" <= chr(c) <= "Ö")
    or ("Ø" <= chr(c) <= "ö")
    or ("ø" <= chr(c) <= "ÿ")
)
_TOKEN_DELETE_CHARS = _TOKEN_LETTER_CHARS + "0123456789" + " \t\n\x0b\x0c\r"


def token_count(col_name: str) -> Column:
    """Whitespace-ish token count (BPE-ish tokenization: letter runs +
    digit runs + single punctuation marks).  Computed as two single-class
    run counts plus a translate-delete for the punctuation singles — the
    original one-regex 3-branch alternation
    ``[letters]+|[0-9]+|[^letters 0-9\\s]`` retries all three branches at
    every position and measured **14× slower** (3.0 s vs 0.21 s on the
    sf0.1 corpus, min-of-3, identical counts on every doc): single-class
    run patterns scan nearly branch-free, and the leftover length after
    deleting letters+digits+ASCII-ws IS the punctuation-singles count
    (each such char is exactly one token in the alternation form)."""
    return (
        F.expr(f"regexp_count({col_name}, '[A-Za-zÀ-ÖØ-öø-ÿ]+')")
        + F.expr(f"regexp_count({col_name}, '[0-9]+')")
        + F.length(F.translate(F.col(col_name), _TOKEN_DELETE_CHARS, ""))
    )


def with_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("n_tokens", token_count(text_col)).withColumn(
        "n_words", F.expr(f"regexp_count(lower({text_col}), '[a-zà-öø-ÿ]+')")
    )


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Cheap quality signals: length, alpha ratio, punctuation density,
    mean word length, stopword ratio — the Boilerpipe-ish text-density
    heuristics as column algebra."""
    n_chars = F.length(F.col(text_col))
    # Count by deleting RUNS of the class and subtracting — ~10× fewer regex
    # match events than a negated single-char class replace (measured 8-15×
    # faster, bit-identical counts).
    alpha_chars = n_chars - F.length(
        F.regexp_replace(F.col(text_col), "[A-Za-zÀ-ÖØ-öø-ÿ]+", "")
    )
    punct_chars = n_chars - F.length(
        F.regexp_replace(F.col(text_col), r"""[\.,;:!\?"'—–-]+""", "")
    )
    # token COUNT without the token array (regexp_count ≡ size(extract_all))
    # and stopword OCCURRENCES in one lookaround-delimited scan: zero-width
    # run anchors mean a marker counts iff it equals a whole letter-run —
    # exactly the array_contains-over-tokens semantics.
    n_words = F.expr(f"regexp_count(lower({text_col}), '[a-zà-öø-ÿ]+')")
    stop_alt = "|".join(LANG_MARKERS["en"])
    stop_hits = F.expr(
        f"regexp_count(lower({text_col}), "
        f"'(?<![a-zà-öø-ÿ])({stop_alt})(?![a-zà-öø-ÿ])')"
    )
    return df.select(
        "*",
        n_chars.alias("n_chars_q"),
        F.round(alpha_chars / F.greatest(n_chars, F.lit(1)), 4).alias("alpha_ratio"),
        F.round(punct_chars / F.greatest(n_chars, F.lit(1)), 4).alias("punct_ratio"),
        F.round(
            alpha_chars / F.greatest(n_words, F.lit(1)).cast("double"), 4
        ).alias("mean_word_len"),
        F.round(
            stop_hits / F.greatest(n_words, F.lit(1)).cast("double"), 4
        ).alias("stopword_ratio"),
    )


def guess_language(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-vote language ID: score = |tokens ∩ markers(lang)| per
    language; argmax wins (ties broken by language code order)."""
    words = _tokens(text_col)
    def marker_hits(markers: tuple[str, ...]):
        # NB: must stay a 1-arg lambda — F.filter treats a 2nd parameter as
        # the element-index column.
        return lambda w: w.isin(*markers)

    scores = [
        F.struct(
            F.size(F.filter(words, marker_hits(markers))).alias("score"),
            F.lit(lang).alias("lang"),
        )
        for lang, markers in sorted(LANG_MARKERS.items())
    ]
    # array_max on struct compares field-by-field: (score, lang); to break
    # ties by *ascending* lang we negate... keep it simple & deterministic:
    # sort by (score desc, lang asc) via sort_array of (-score, lang).
    ranked = F.sort_array(
        F.array(
            *[
                F.struct((-s["score"]).alias("neg"), s["lang"].alias("lang"))
                for s in scores
            ]
        )
    )
    return df.withColumn("lang_guess", F.element_at(ranked, 1)["lang"])


# PII patterns chosen to behave identically under Java regex (Spark) and
# RE2 (DuckDB): ASCII classes, \b, bounded quantifiers — no backrefs or
# lookaround.  Scrub ORDER is part of the contract (emails first so the
# phone pattern can't eat digit runs inside addresses, IPs before phones).
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d() -]{6,}\d", "<PHONE>"),
)


def scrub_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails / IPv4s / phone-shaped digit runs with typed
    placeholder tokens and count each class — the pre-training privacy
    scrub every web-corpus pipeline runs before tokenization.  Heuristic by
    design (a phone-shaped false positive is redacted in both engines the
    same way); all JVM-side regexp column algebra, counts taken BEFORE the
    rewrite of each class, classes applied in PII_PATTERNS order."""
    out = df
    clean = F.col(text_col)
    for name, pat, token in PII_PATTERNS:
        out = out.withColumn(f"n_{name}", F.regexp_count(clean, F.lit(pat)))
        clean = F.regexp_replace(clean, pat, token)
    return out.withColumn("clean_text", clean)


# Gopher quality rules (Rae et al. 2021, "Scaling Language Models", §A1.1)
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """Gopher-rule document quality gate as pure column algebra: word-count
    bounds, mean word length in [3, 10], symbol-to-word ratio (# and ...)
    < 0.1, < 90% bullet-started lines, < 30% ellipsis-ended lines, ≥ 80%
    words with an alphabetic char, ≥ 2 distinct required stopwords.
    Emits every signal plus the combined ``keep`` verdict so downstream
    filters can loosen individual rules.

    Implementation note: every signal is a regexp_count/arithmetic — NO
    split arrays or higher-order lambdas (those run interpreted outside
    codegen and dominated this operator's cost; measured ~2.5x).  Each
    count is proven value-identical to the original split/filter algebra,
    including the edges: split-with-trim's leading/trailing empty-token
    quirks (``n_words = regexp_count(trim, '\\s+') + 1``, blank -> 1),
    exotic whitespace (\\x0B, \\f are \\s for bullet/ellipsis classes but
    CONTENT for the non-blank line test, matching the original
    ``[^ \\t\\r]`` filter), CRLF, and lone ``\\r``/U+2028/U+0085
    terminators (the ``(?d)`` UNIX_LINES flag restricts ``^``/``$`` to
    ``\\n``, matching split-on-newline — without it Java MULTILINE treats
    those as line breaks and the counts diverge).
    tests/test_training_ops.py pins the
    equivalence differentially against the original expressions on an
    edge-case corpus; the DuckDB oracle replicates the original algebra."""
    trimmed = F.col("_g_trim")
    n_words = F.when(trimmed == "", 1).otherwise(
        F.expr("regexp_count(_g_trim, '\\\\s+')") + 1
    )
    n_words_d = F.greatest(n_words, F.lit(1)).cast("double")
    # sum of split-token lengths == count of non-\s chars in the trimmed
    # text (empty quirk-tokens contribute 0)
    mean_wlen = F.length(F.regexp_replace(trimmed, r"\s+", "")) / n_words_d
    n_hash = F.length(F.col(text_col)) - F.length(
        F.regexp_replace(F.col(text_col), "#", "")
    )
    n_ellipsis = F.regexp_count(F.col(text_col), F.lit(r"\.\.\."))
    symbol_ratio = (n_hash + n_ellipsis) / n_words_d
    # non-blank line: contains a char outside [ \t\r] (so \x0B/\f count as
    # content, exactly like the original filter's [^ \t\r] test)
    n_lines = F.greatest(
        F.expr("regexp_count(" + text_col + ", '(?md)^[ \\\\t\\\\r]*[^ \\\\t\\\\r\\\\n]')"),
        F.lit(1),
    ).cast("double")
    bullet_ratio = (
        F.expr(
            "regexp_count(" + text_col + ", '(?md)^[ \\\\t\\\\x0B\\\\f\\\\r]*[•\\\\-\\\\*]')"
        )
        / n_lines
    )
    ellipsis_ratio = (
        F.expr(
            "regexp_count(" + text_col + ", '(?md)\\\\.\\\\.\\\\.[ \\\\t\\\\x0B\\\\f\\\\r]*$')"
        )
        / n_lines
    )
    # tokens containing a letter == \S+ runs of the trimmed text that
    # contain a letter (empty quirk-tokens can't): anchor each run start
    # with a lookbehind so mid-run positions never re-match
    alpha_ratio = (
        F.expr(
            "regexp_count(_g_trim,"
            " '(?<!\\\\S)\\\\S*[A-Za-zÀ-ÖØ-öø-ÿ]')"
        )
        / n_words_d
    )
    # distinct-stopword presence in ONE scan: zero-width lookarounds keep
    # adjacent hits ("of and") from eating each other's delimiters; the
    # extracted hits are a tiny array (stopword occurrences only)
    stop_alt = "|".join(GOPHER_STOPWORDS)
    stop_hits = F.size(
        F.array_distinct(
            F.expr(
                f"regexp_extract_all(lower({text_col}), "
                f"'(?<![a-zà-öø-ÿ])({stop_alt})(?![a-zà-öø-ÿ])', 1)"
            )
        )
    )
    keep = (
        n_words.between(min_words, max_words)
        & mean_wlen.between(3.0, 10.0)
        & (symbol_ratio < 0.1)
        & (bullet_ratio < 0.9)
        & (ellipsis_ratio < 0.3)
        & (alpha_ratio > 0.8)
        & (stop_hits >= 2)
    )
    return df.withColumn("_g_trim", F.trim(F.col(text_col))).select(
        "*",
        n_words.alias("n_words_g"),
        F.round(mean_wlen, 4).alias("mean_word_len_g"),
        F.round(symbol_ratio, 4).alias("symbol_ratio"),
        F.round(bullet_ratio, 4).alias("bullet_line_ratio"),
        F.round(ellipsis_ratio, 4).alias("ellipsis_line_ratio"),
        F.round(alpha_ratio, 4).alias("alpha_word_ratio"),
        stop_hits.alias("stopword_hits"),
        keep.alias("keep"),
    ).drop("_g_trim")


def _line_dup_ratio_cols() -> tuple[Column, Column]:
    """(dup_line_ratio, dup_line_char_ratio) over a materialized
    ``_lines`` array column — shared by repetition_signals and the fused
    quality_gate so the two cannot drift."""
    lines = F.col("_lines")
    dlines = F.array_distinct(lines)
    n_lines = F.size(lines)
    # sum of element lengths == length of the concatenation — native
    # array_join instead of an interpreted per-element aggregate lambda
    chars = F.length(F.array_join(lines, "")).cast("long")
    dchars = F.length(F.array_join(dlines, "")).cast("long")
    dup_line_ratio = F.when(
        n_lines > 0,
        F.round((n_lines - F.size(dlines)) / n_lines.cast("double"), 4),
    ).otherwise(F.lit(0.0))
    dup_line_char_ratio = F.when(
        chars > 0, F.round((chars - dchars) / chars.cast("double"), 4)
    ).otherwise(F.lit(0.0))
    return dup_line_ratio, dup_line_char_ratio


def _py_top_bigram_ratio(text: str | None) -> float:
    """Pure-Python replica of the top-bigram coverage signal, matched
    bit-for-bit to the SQL/column form: Java-split token semantics
    (``F.split(trim(text), '\\s+')`` — space-only trim, ASCII ``\\s``,
    leading/trailing empty tokens kept), (count desc, gram asc) tie-break,
    and Spark's HALF_UP double rounding via the shortest-repr decimal."""
    import re
    from decimal import ROUND_HALF_UP, Decimal

    if not text:
        return 0.0
    words = re.split(r"\s+", text.strip(" "), flags=re.ASCII)
    if len(words) < 2:
        return 0.0
    counts: dict[str, int] = {}
    prev = words[0]
    for w in words[1:]:
        g = prev + " " + w
        counts[g] = counts.get(g, 0) + 1
        prev = w
    neg, gram = min((-c, g) for g, c in counts.items())
    ratio = (-neg) * len(gram) / max(len(text), 1)
    return float(
        Decimal(repr(ratio)).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
    )


def quality_gate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    max_dup_line_char_ratio: float = 0.2,
    max_top_bigram_char_ratio: float = 0.2,
) -> DataFrame:
    """Fused pre-training quality gate: the Gopher rules and the
    repetition filters in one pass, plus the combined ``keep_all`` verdict
    the ingest actually filters on.

    ZERO shuffles.  The Gopher and duplicate-line signals are the same
    codegen column algebra as :func:`gopher_quality` /
    :func:`repetition_signals`; the top-bigram coverage — the one signal
    whose column form needs explode → groupBy → join-back (two shuffles
    keyed on the id, plus a text-carrying join in the composed form) —
    moves into a vectorized Arrow batch that builds each doc's bigram
    histogram in one linear dict pass.  The whole gate becomes a narrow
    map over the scan: at 100 TB that is the difference between a filter
    stage and re-shuffling the corpus between extraction and
    tokenization.  Tests pin it to the ``gopher_quality ⋈
    repetition_signals`` composition (the form the DuckDB oracle replays)
    on an edge-case corpus (exotic whitespace, split-token quirks,
    rounding boundaries)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    slim = df.select(F.col(id_col), F.col(text_col))

    # no annotations on the inner fn: PEP-563 stringized hints break
    # pandas_udf signature inference under `from __future__ import annotations`
    @pandas_udf("double")
    def top_bigram(texts):
        return pd.Series(
            [_py_top_bigram_ratio(t) for t in texts], dtype="float64"
        )

    dup_line_ratio, dup_line_char_ratio = _line_dup_ratio_cols()
    pre = gopher_quality(slim, text_col, min_words, max_words).withColumn(
        "_lines",
        F.filter(F.split(F.col(text_col), "\n"), lambda l: l.rlike(r"[^ \t\r]")),
    )
    scored = pre.select(
        F.col(id_col),
        F.col(text_col),
        F.col("keep"),
        dup_line_ratio.alias("dup_line_ratio"),
        dup_line_char_ratio.alias("dup_line_char_ratio"),
        top_bigram(F.col(text_col)).alias("top_bigram_char_ratio"),
    )
    keep_all = (
        F.col("keep")
        & (F.col("dup_line_char_ratio") < max_dup_line_char_ratio)
        & (F.col("top_bigram_char_ratio") < max_top_bigram_char_ratio)
    )
    return scored.withColumn("keep_all", keep_all)


def repetition_signals(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher §A1.1 repetition filters: duplicate-line fraction (by line
    count and by character mass) and the fraction of characters covered by
    the most frequent word 2-gram.

    The line signals are per-row array algebra (no shuffle).  The top-2-gram
    signal EXPLODES bigrams and aggregates — deliberately: the per-row
    alternative (count each distinct gram inside the array) is O(len²) per
    document, which dies on a 100k-word doc, while the explode is linear
    rows through one combiner-enabled groupBy + one window.  Ties broken by
    gram ascending for determinism."""
    # Materialize the split arrays as COLUMNS before any higher-order
    # lambda touches them: an expression tree referenced inside a
    # transform() lambda is re-evaluated PER ELEMENT, so an embedded
    # split() turns O(len) tokenization into O(len × n_words) per document
    # (measured 109 s → 3 s on the 5000-doc bench corpus).
    pre = df.select(
        F.col(id_col),
        F.col(text_col).alias("_text"),
        F.filter(
            F.split(F.col(text_col), "\n"), lambda l: l.rlike(r"[^ \t\r]")
        ).alias("_lines"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("_words"),
    )
    dup_line_ratio, dup_line_char_ratio = _line_dup_ratio_cols()
    base = pre.select(
        F.col(id_col),
        F.length("_text").cast("long").alias("_n_chars"),
        dup_line_ratio.alias("dup_line_ratio"),
        dup_line_char_ratio.alias("dup_line_char_ratio"),
        F.col("_words"),
    )

    words = F.col("_words")
    # zip_with over two slices: two array copies per DOC, vs the previous
    # per-element slice lambda (one copy per BIGRAM) — measured ~2x on the
    # 6 KB bench corpus; identical gram strings.
    n_words = F.size(words)
    bigrams = F.when(
        n_words >= 2,
        F.zip_with(
            F.slice(words, 1, n_words - 1),
            F.slice(F.col("_words"), 2, n_words - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = base.select(id_col, F.explode(bigrams).alias("gram"))
    base = base.drop("_words")
    counts = grams.groupBy(id_col, "gram").agg(F.count("*").alias("cnt"))
    # arg-min of (-cnt, gram): max count, ties by gram ASC — one partial
    # aggregation instead of a per-doc window sort (same tie-break).
    top = counts.groupBy(id_col).agg(
        F.min(F.struct((-F.col("cnt")).alias("_neg"), F.col("gram"))).alias("_t")
    ).select(
        F.col(id_col),
        ((-F.col("_t._neg")) * F.length("_t.gram")).cast("long").alias("_covered"),
    )
    return base.join(top, id_col, "left").select(
        id_col,
        "dup_line_ratio",
        "dup_line_char_ratio",
        F.round(
            F.coalesce(
                F.col("_covered") / F.greatest(F.col("_n_chars"), F.lit(1)).cast(
                    "double"
                ),
                F.lit(0.0),
            ),
            4,
        ).alias("top_bigram_char_ratio"),
    )


def document_fingerprint(
    df: DataFrame,
    text_col: str = "text",
    token_hash=None,
) -> DataFrame:
    """64-bit content fingerprint of whitespace-normalized, lowercased text
    plus a min-shingle rolling fingerprint — the cheap identity used for
    bucketing and resume bookkeeping.  ``token_hash`` defaults to xxhash64
    (fastest); pass operators.md5_hash60 to make both fingerprints
    reproducible in an external SQL oracle (see __spark_entry__
    `doc_fingerprints`)."""
    h = token_hash or F.xxhash64
    # Materialize the normalized string and its word array as columns
    # BEFORE the shingle lambda: an expression tree referenced inside a
    # transform() lambda re-evaluates per element (the O(len × n_words)
    # trap — see repetition_signals / dedup._shingles_from_tokens).
    pre = df.select(
        "*",
        F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ").alias(
            "_norm"
        ),
    ).withColumn("_nwords", F.split(F.col("_norm"), " "))
    words = F.col("_nwords")
    n = F.size(words)
    starts = F.sequence(F.lit(0), F.greatest(n - F.lit(4), F.lit(0)))
    shingle_hashes = F.transform(
        starts, lambda i: h(F.concat_ws(" ", F.slice(words, i + 1, 4)))
    )
    return pre.select(
        "*",
        h(F.col("_norm")).alias("fingerprint"),
        F.array_min(shingle_hashes).alias("min_shingle_hash"),
    ).drop("_norm", "_nwords")


def build_vocab(
    df: DataFrame, k: int = 1000, text_col: str = "text"
) -> DataFrame:
    """Top-k word vocabulary by corpus frequency (tie-break: word asc, so
    the set is deterministic).  One map-side-combined groupBy over exploded
    words, then a bounded top-k (TakeOrdered) — the tokenizer-training
    stand-in; the result is always broadcastable."""
    words = df.select(F.explode(_tokens(text_col)).alias("word"))
    return (
        words.groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("word").asc())
        .limit(k)
    )


def oov_rates(
    df: DataFrame,
    vocab: DataFrame | None = None,
    k: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document out-of-vocabulary stats under a top-k corpus vocab:
    ``(doc_id, n_words, n_oov)`` — the coverage signal tokenizer and
    quality pipelines gate on.  Explode is narrow, the vocab join is a
    broadcast, and the per-doc aggregation collapses map-side (docs are
    never split across partitions), so the only shuffle carries one slim
    row per doc.  Integer outputs -> hash-stable oracle."""
    if vocab is None:
        vocab = build_vocab(df, k=k, text_col=text_col)
    words = df.select(
        F.col(id_col).alias("doc_id"), F.explode_outer(_tokens(text_col)).alias("word")
    )
    v = F.broadcast(vocab.select(F.col("word").alias("__v_word")))
    return (
        words.join(v, words["word"] == F.col("__v_word"), "left")
        .groupBy("doc_id")
        .agg(
            F.count("word").cast("long").alias("n_words"),
            (F.count("word") - F.count("__v_word")).cast("long").alias("n_oov"),
        )
    )


def normalize_unicode(
    df: DataFrame,
    form: str = "NFC",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Unicode normalization (NFC/NFKC/NFD/NFKD) — the canonicalization
    step web-text pipelines run before hashing/dedup so that 'é' and
    'e'+U+0301 dedup together.  Spark has no builtin normalizer, so this
    is a row function on the package's Arrow boundary (unicodedata is a
    C module; the per-row loop is pointer chasing, not codepoint work).
    Python's unicodedata and DuckDB's utf8proc implement the same UAX #15
    tables, which is what makes the NFC form exactly oracle-checkable.

    Returns ``(doc_id, text_norm, changed)``."""
    import unicodedata

    # id passes through at its input type (string urls included)
    sel = df.select(F.col(id_col).alias("doc_id"), F.col(text_col))
    schema = StructType([
        StructField("doc_id", sel.schema["doc_id"].dataType),
        StructField("text_norm", StringType()),
        StructField("changed", BooleanType()),
    ])

    def rows(doc_id, text):
        if text is None:
            return [(doc_id, None, None)]
        norm = unicodedata.normalize(form, text)
        return [(doc_id, norm, norm != text)]

    return map_rows(sel, sel.columns, schema, rows)


def sentence_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document sentence segmentation stats: sentences are maximal
    ``[^.!?]+`` runs with their trailing terminator cluster attached
    (an RE2-portable segmentation — no lookbehind, so the same pattern
    replays in the DuckDB oracle), trimmed, whitespace-only units
    dropped.  Adds ``n_sentences``, ``avg_sentence_chars`` (6 dp),
    ``max_sentence_chars``, ``short_sentence_ratio`` (< 20 chars, 6 dp).

    All column algebra over one array column — no shuffle, no UDF.  The
    higher-order ``transform``/``filter``/``aggregate`` calls run
    interpreted (not codegen), which is fine here: one pass over ≤ a few
    hundred sentence strings per row, dwarfed by the regex scan itself.
    """
    sents = F.expr(
        f"filter(transform(regexp_extract_all({text_col},"
        f" '[^.!?]+[.!?]*', 0), x -> trim(x)), x -> x != '')"
    )
    d = df.withColumn("__sents", sents)
    lens = F.expr("transform(__sents, x -> length(x))")
    n = F.size("__sents")
    total = F.expr(
        "aggregate(transform(__sents, x -> length(x)), 0L, (a, x) -> a + x)"
    )
    n_short = F.size(F.expr("filter(__sents, x -> length(x) < 20)"))
    return d.select(
        *df.columns,
        n.cast("int").alias("n_sentences"),
        F.when(n > 0, F.round(total / n, 6)).alias("avg_sentence_chars"),
        F.when(n > 0, F.array_max(lens)).cast("int").alias(
            "max_sentence_chars"
        ),
        F.when(n > 0, F.round(n_short / n, 6)).alias("short_sentence_ratio"),
    )


def compression_ratio(
    df: DataFrame, text_col: str = "text", level: int = 6
) -> DataFrame:
    """zlib compression ratio per document (compressed bytes / raw UTF-8
    bytes, 6 dp) — the classic cheap junk detector: boilerplate-stuffed
    or repetitive machine-generated pages compress far below prose
    (Gopher uses it as a repetition companion signal).  Empty/null text
    yields NULL.

    zlib is not expressible in column algebra, so this is the one
    quality signal that pays the Python boundary — as an Arrow-batched
    ``pandas_udf`` (whole batches cross per call, no per-row pickling),
    level pinned so the ratio is deterministic and replayable by the
    pure-Python oracle.  No annotations on the inner function: under
    ``from __future__ import annotations`` stringized hints break
    pandas_udf signature inference, the returnType argument carries the
    type instead."""
    import zlib

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _ratio(s):  # no hints: see docstring
        def one(t):
            if t is None or t == "":
                return None
            raw = t.encode("utf-8")
            return round(len(zlib.compress(raw, level)) / len(raw), 6)

        return s.map(one)

    return df.withColumn("compression_ratio", _ratio(F.col(text_col)))


def script_ratios(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Unicode script mix per document: counts of Latin / Cyrillic /
    Greek / CJK letters, the Latin share of all script letters (6 dp),
    and the dominant script under a FIXED precedence (latin > cyrillic >
    greek > cjk on ties) so the label is deterministic.  The script
    filter a multilingual crawl applies before language-ID — mixed-script
    spam and wrong-script mojibake fall out of ratio bounds.

    Pure codegen regex counting (literal-range character classes, RE2-
    portable — the DuckDB oracle counts with the same classes); no
    shuffle."""
    classes = {
        "n_latin": "[A-Za-zÀ-ÖØ-öø-ÿĀ-ɏ]",
        "n_cyrillic": "[Ѐ-ӿ]",
        "n_greek": "[Ͱ-Ͽ]",
        "n_cjk": "[一-鿿]",
    }
    d = df
    for name, pat in classes.items():
        d = d.withColumn(
            name, F.expr(f"regexp_count({text_col}, '{pat}')").cast("int")
        )
    total = sum(F.col(c) for c in classes)
    dominant = (
        F.when(F.col("n_latin") >= F.greatest("n_cyrillic", "n_greek", "n_cjk"), "latin")
        .when(F.col("n_cyrillic") >= F.greatest("n_greek", "n_cjk"), "cyrillic")
        .when(F.col("n_greek") >= F.col("n_cjk"), "greek")
        .otherwise("cjk")
    )
    return d.withColumn(
        "latin_ratio",
        F.when(total > 0, F.round(F.col("n_latin") / total, 6)),
    ).withColumn(
        "dominant_script", F.when(total > 0, dominant)
    )


# --------------------------------------------------------------------------
# BPE tokenizer-training prep
# --------------------------------------------------------------------------


def _word_vocab(df: DataFrame, text_col: str) -> DataFrame:
    """Frequency-weighted word vocabulary ``(word, n)`` — the corpus→vocab
    compression every BPE step runs on: one map-side-combined groupBy, and
    all later symbol algebra is VOCABULARY-sized however large the corpus
    grows (the same bound as `top_terms`)."""
    return (
        df.select(F.explode(_tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("n"))
    )


def bpe_pair_counts(
    df: DataFrame, text_col: str = "text", min_weight: int = 2
) -> DataFrame:
    """Adjacent character-pair statistics for the FIRST BPE merge (Sennrich
    et al. 2016): every within-word adjacent character pair, weighted by
    corpus word frequency — ``(pair, weight)``, overlapping occurrences
    counted separately ('aaa' contributes ('a','a') twice, the reference
    BPE convention).

    Two shuffles total, both slim: corpus→vocab (word, count), then the
    vocabulary-sized pair aggregation.  The corpus text itself never
    re-shuffles — at 100 TB the pair step touches only the few-million-row
    vocab table."""
    vocab = _word_vocab(df, text_col)
    pairs = vocab.select(
        F.explode(
            F.when(
                F.length("word") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.length("word") - 1),
                    lambda i: F.col("word").substr(i, F.lit(2)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pair"),
        F.col("n"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("n").alias("weight"))
        .where(F.col("weight") >= min_weight)
    )


def bpe_learn_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    min_weight: int = 2,
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merges distributively: the word
    vocabulary stays a DataFrame; each round aggregates adjacent SYMBOL
    pairs (weighted by word frequency), picks the deterministic argmax
    (weight desc, then pair lexicographic asc), and rewrites every word's
    symbol array with a left-to-right greedy fold — the exact Sennrich
    learner, with the corpus-sized work done once up front.

    Per round: one vocabulary-sized aggregation + a 1-row collect (the
    learned merge — O(1) driver data, the fixpoint pattern of any
    iterative algorithm), then a narrow HOF rewrite.  ``localCheckpoint``
    keeps the lineage flat across rounds.  Returns
    ``(rank, left, right, weight)``; stops early when no pair reaches
    ``min_weight``."""
    spark = df.sparkSession
    # NOT split(word, '(?!^)'): Spark split keeps trailing empties
    # (limit=-1), and the lookahead matches the end-of-string position too,
    # so every word would gain a phantom '' symbol.
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.col("word").substr(i, F.lit(1)),
    )
    vocab = (
        _word_vocab(df, text_col)
        .select(chars.alias("syms"), "n")
        .localCheckpoint(eager=False)
    )

    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        pairs = vocab.select(
            F.explode(
                F.when(
                    F.size("syms") >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size("syms") - 1),
                        lambda i: F.struct(
                            F.element_at("syms", i).alias("a"),
                            F.element_at("syms", i + 1).alias("b"),
                        ),
                    ),
                ).otherwise(
                    F.array().cast("array<struct<a:string,b:string>>")
                )
            ).alias("p"),
            "n",
        )
        best = (
            pairs.groupBy("p.a", "p.b")
            .agg(F.sum("n").alias("weight"))
            .orderBy(F.col("weight").desc(), F.col("a").asc(), F.col("b").asc())
            .first()
        )
        if best is None or best["weight"] < min_weight:
            break
        a, b = best["a"], best["b"]
        merges.append((rank, a, b, int(best["weight"])))
        # branch ORDER matters: the empty-acc case must be decided before
        # element_at(acc, -1) is touched (ANSI mode raises on the empty
        # array; CaseWhen evaluates branches lazily in order)
        merged = F.aggregate(
            F.col("syms"),
            F.array().cast("array<string>"),
            lambda acc, s: F.when(F.size(acc) == 0, F.array(s))
            .when(
                (F.element_at(acc, -1) == F.lit(a)) & (s == F.lit(b)),
                F.concat(
                    F.slice(acc, F.lit(1), F.size(acc) - 1),
                    F.array(F.lit(a + b)),
                ),
            )
            .otherwise(F.concat(acc, F.array(s))),
        )
        vocab = vocab.select(merged.alias("syms"), "n").localCheckpoint(
            eager=False
        )
    return spark.createDataFrame(
        merges, "rank int, left string, right string, weight long"
    )


def bpe_encode_symbols(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
) -> DataFrame:
    """Encode the corpus with a learned BPE merge list and return the
    subword symbol table ``(symbol, n_words, occurrences)`` — the
    tokenizer-application half of the Sennrich pipeline
    (`bpe_pair_counts` / `bpe_learn_merges` are the training half).

    ``merges`` is the rank-ordered merge list (driver-side: it is tiny —
    the tokenizer artifact, 8..50k pairs — and was already materialized by
    the learner).  Each merge rewrites every adjacent (left, right)
    occurrence leftmost-first, in rank order — the exact reference encode.

    Shape: the corpus is scanned ONCE into the frequency-weighted word
    vocabulary; the merge loop then runs per DISTINCT word in an
    Arrow-batched pandas UDF, so the Python cost is O(vocab × merges)
    regardless of corpus size — at 100 TB the encode stage touches only
    the few-million-row vocab table (the same bound as the learner).  A
    built-in HOF fold would work for toy merge lists but a production
    30k-merge tokenizer cannot nest 30k expressions; the vocab-sized UDF
    is the honest scale path.  ``occurrences`` is weighted by word
    frequency; ``n_words`` counts distinct vocabulary words containing
    the symbol."""
    _encode = _bpe_word_encoder(merges)
    vocab = _word_vocab(df, text_col)
    return (
        vocab.select(
            "word", F.explode(_encode("word")).alias("symbol"), "n"
        )
        .groupBy("symbol")
        .agg(
            F.countDistinct("word").cast("long").alias("n_words"),
            F.sum("n").cast("long").alias("occurrences"),
        )
    )


def _bpe_word_encoder(merges: list[tuple[str, str]]):
    """Arrow-batched word→symbols encoder for a rank-ordered merge list:
    each merge rewrites every adjacent (left, right) occurrence
    leftmost-first, in rank order — the exact Sennrich encode.  Shared by
    `bpe_encode_symbols` and `bpe_fertility`."""
    from pyspark.sql.functions import pandas_udf

    merge_list = [(str(a), str(b)) for a, b in merges]

    # no parameter/return annotations: stringized hints under
    # `from __future__ import annotations` break signature inference;
    # returnType carries the schema.
    @pandas_udf("array<string>")
    def _encode(words):
        import pandas as pd

        def enc(w):
            if w is None:
                return []
            out = list(w)
            for a, b in merge_list:
                if len(out) < 2:
                    break
                merged = []
                i = 0
                while i < len(out):
                    if (
                        i + 1 < len(out)
                        and out[i] == a
                        and out[i + 1] == b
                    ):
                        merged.append(a + b)
                        i += 2
                    else:
                        merged.append(out[i])
                        i += 1
                out = merged
            return out

        return pd.Series([enc(w) for w in words])

    return _encode


def bpe_fertility(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    group_col: str = "lang",
) -> DataFrame:
    """Tokenizer fertility per group (typically language): weighted mean
    subword symbols per word under the learned merge list —
    ``(group, n_tokens, n_subwords, fertility)`` with fertility =
    n_subwords / n_tokens rounded to 6 dp.  THE standard multilingual
    tokenizer-quality metric: a merge list learned on an English-heavy
    mix over-fragments the under-represented languages, and this is the
    table that shows it.

    Shape: one corpus scan into the per-(group, word) frequency table,
    the encoder UDF runs once per vocab row (same O(vocab × merges)
    bound as `bpe_encode_symbols` — a word shared by g groups encodes g
    times, which beats re-keying the corpus through a join-back), then a
    group-count aggregation."""
    _encode = _bpe_word_encoder(merges)
    vocab = (
        df.select(F.col(group_col).alias("grp"), F.explode(_tokens(text_col)).alias("word"))
        .groupBy("grp", "word")
        .agg(F.count("*").cast("long").alias("n"))
    )
    enc = vocab.select("grp", "n", F.size(_encode("word")).alias("n_syms"))
    return (
        enc.groupBy("grp")
        .agg(
            F.sum("n").cast("long").alias("n_tokens"),
            F.sum(F.col("n") * F.col("n_syms")).cast("long").alias("n_subwords"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_tokens",
            "n_subwords",
            F.round(F.col("n_subwords") / F.col("n_tokens"), 6).alias(
                "fertility"
            ),
        )
    )


def wordpiece_encode_symbols(
    df: DataFrame,
    vocab: list[str],
    text_col: str = "text",
    unk: str = "[UNK]",
) -> DataFrame:
    """Greedy longest-match-first WordPiece encode (Wu et al. 2016 §4.1
    — the BERT tokenizer's application half) against a given piece
    vocabulary: at each position take the LONGEST vocab piece matching
    (continuation pieces carry the ``##`` prefix); if any position
    matches nothing the whole word becomes ``unk`` — exactly BERT's
    per-word failure semantics, not per-character fallback.  Returns the
    subword symbol table ``(symbol, n_words, occurrences)`` — the same
    shape as :func:`bpe_encode_symbols`, so the two tokenizer families
    are directly comparable.

    ``vocab`` is the driver-side tokenizer artifact (≤ ~100k pieces by
    construction — BERT ships 30k).  Scale shape mirrors the BPE
    encoder: one corpus scan into the frequency-weighted DISTINCT-word
    vocabulary, then the greedy loop runs per distinct word in an
    Arrow-batched pandas UDF — O(vocab_words × |word|²) Python
    regardless of corpus size."""
    _encode = _wordpiece_word_encoder(vocab, unk)
    words = _word_vocab(df, text_col)
    return (
        words.select(
            "word", F.explode(_encode("word")).alias("symbol"), "n"
        )
        .groupBy("symbol")
        .agg(
            F.countDistinct("word").cast("long").alias("n_words"),
            F.sum("n").cast("long").alias("occurrences"),
        )
    )


def _wordpiece_word_encoder(vocab: list[str], unk: str):
    """Arrow-batched word→pieces encoder for a WordPiece vocabulary:
    greedy longest match, ``##`` continuations, whole-word ``unk`` on
    any failure."""
    from pyspark.sql.functions import pandas_udf

    pieces = frozenset(str(p) for p in vocab)

    # no annotations: stringized hints under `from __future__ import
    # annotations` break signature inference; returnType has the schema.
    @pandas_udf("array<string>")
    def _encode(words):
        import pandas as pd

        def enc(w):
            if not w:
                return []
            out = []
            i, n = 0, len(w)
            while i < n:
                j = n
                found = None
                while j > i:
                    sub = w[i:j] if i == 0 else "##" + w[i:j]
                    if sub in pieces:
                        found = sub
                        break
                    j -= 1
                if found is None:
                    return [unk]
                out.append(found)
                i = j
            return out

        return pd.Series([enc(w) for w in words])

    return _encode


# --------------------------------------------------------------------------
# Soft-404 / error-page detection
# --------------------------------------------------------------------------

# Phrases counted case-insensitively as distinct error signals; a page
# matching ≥1 while being short (or living on an error-looking URL path)
# is classified soft-404.  Deliberately a small, auditable list — the
# crawl-cleaning heuristic, not a trained classifier (classify.py holds
# the trained path).
SOFT404_PHRASES: tuple[str, ...] = (
    "page not found",
    "404 not found",
    "error 404",
    "not found on this server",
    "access denied",
    "no longer available",
    "temporarily unavailable",
    "this page does not exist",
)

_SOFT404_URL_PATTERN = "(404|not-found|error)([/.?]|$)"


def soft404_signals(
    df: DataFrame,
    text_col: str = "text",
    url_col: str | None = None,
    max_tokens: int = 40,
) -> DataFrame:
    """Soft-404 detection signals per page: pages that return HTTP 200 but
    carry an error body are a notorious crawl contaminant — they survive
    status-code filtering and then dominate exact/near dedup clusters
    ("Page not found" × 10⁷).  Appends ``n_error_phrases`` (distinct
    `SOFT404_PHRASES` present, case-insensitive), ``n_word_tokens``,
    ``url_error_hint`` (when ``url_col`` given), and the verdict
    ``is_soft404`` = ≥1 phrase AND (short page OR error-looking URL).

    All signals are codegen column algebra (instr/regexp_count on a
    materialized lowercase column — one lower() per row, not one per
    phrase); zero shuffles, zero UDFs.  Run BEFORE dedup so error pages
    don't form giant clusters there."""
    low = df.withColumn(
        "__low", F.lower(F.coalesce(F.col(text_col), F.lit("")))
    )
    n_err = sum(
        F.when(F.instr("__low", p) > 0, 1).otherwise(0)
        for p in SOFT404_PHRASES
    ).cast("int")
    n_tok = F.expr(
        f"regexp_count(__low, '{_TOKEN_CLASS}+')"
    ).cast("int")
    out = low.withColumn("n_error_phrases", n_err).withColumn(
        "n_word_tokens", n_tok
    )
    if url_col is not None:
        out = out.withColumn(
            "url_error_hint",
            F.coalesce(
                F.lower(F.col(url_col)).rlike(_SOFT404_URL_PATTERN),
                F.lit(False),
            ),
        )
        hint = F.col("url_error_hint")
    else:
        hint = F.lit(False)
    return out.withColumn(
        "is_soft404",
        (F.col("n_error_phrases") >= 1)
        & ((F.col("n_word_tokens") <= max_tokens) | hint),
    ).drop("__low")


# --------------------------------------------------------------------------
# Term-blocklist gate (C4-style "any listed term drops the page")
# --------------------------------------------------------------------------


def term_blocklist_signals(
    df: DataFrame,
    terms: tuple[str, ...],
    text_col: str = "text",
    min_hits: int = 1,
) -> DataFrame:
    """Blocklist-term gate: count whole-token, case-insensitive
    occurrences of each listed term/phrase and flag documents at
    ``min_hits`` or more (C4's policy is min_hits=1 over its bad-words
    list; the list itself is a parameter — ship your own).  Appends
    ``n_blocklist_hits``, ``blocked_ratio`` (hits per word token, 6 dp)
    and ``is_blocked``.

    Matching is on the TOKEN SEQUENCE, not the raw bytes: the lowered
    text is normalized once (every non-letter run → two spaces, padded),
    after which a term's occurrences are literal-substring occurrences of
    its double-spaced form — so "click, here" and "click\\nhere" both
    count for "click here", exactly the token-adjacency semantics a
    C4-style list means.  Counting is
    ``(len(norm) − len(replace(norm, needle, ''))) / len(needle)`` —
    plain length/replace codegen, no token arrays, no lookarounds (RE2
    has none, so this is also what keeps the DuckDB oracle
    expression-identical).  Counts are non-overlapping leftmost; a term
    that overlaps itself token-wise ("buy buy" in "buy buy buy") counts
    each disjoint occurrence once.  Terms are lowercase letter words
    separated by single spaces."""
    import re as _re

    for t in terms:
        if not _re.fullmatch(f"{_TOKEN_CLASS}+( {_TOKEN_CLASS}+)*", t):
            raise ValueError(
                f"blocklist term {t!r} must be lowercase letter words "
                "separated by single spaces"
            )
    low = df.withColumn(
        "__low", F.lower(F.coalesce(F.col(text_col), F.lit("")))
    ).withColumn(
        "__norm",
        F.concat(
            F.lit(" "),
            F.regexp_replace(F.col("__low"), f"{_TOKEN_CLASS.replace('[', '[^', 1)}+", "  "),
            F.lit(" "),
        ),
    )

    def _term_count(t: str) -> Column:
        needle = " " + t.replace(" ", "  ") + " "
        return (
            (
                F.length("__norm")
                - F.length(F.replace(F.col("__norm"), F.lit(needle)))
            )
            / F.lit(len(needle))
        ).cast("int")

    hits = sum(_term_count(t) for t in terms).cast("int")
    n_words = F.expr(f"regexp_count(__low, '{_TOKEN_CLASS}+')")
    return (
        low.withColumn("n_blocklist_hits", hits)
        .withColumn(
            "blocked_ratio",
            F.round(
                F.col("n_blocklist_hits")
                / F.greatest(n_words, F.lit(1)).cast("double"),
                6,
            ),
        )
        .withColumn("is_blocked", F.col("n_blocklist_hits") >= min_hits)
        .drop("__low", "__norm")
    )


def c4_filters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words_per_line: int = 3,
    min_sentences: int = 5,
) -> DataFrame:
    """C4-style line/page cleaning (Raffel et al. 2020 §2.2): keep only
    lines that end in terminal punctuation (``. ! ? "``), carry at least
    ``min_words_per_line`` words, and do not mention "javascript"; then
    keep only pages whose CLEANED text still has ≥ ``min_sentences``
    terminal marks and whose ORIGINAL text contains neither "lorem
    ipsum" nor a curly brace (the code-page tell).  (C4's remaining
    rule, global three-sentence-span dedup, is `dup_ngram_spans` /
    `mask_duplicate_spans` in this engine.)

    Emits per-page audit columns plus ``cleaned_md5`` so the verdict and
    the exact cleaned bytes are both checkable without shipping full
    text through the compare.

    Plan shape: one projection materializes the line array, the filter
    is a per-element lambda over it (predicates reference ONLY the
    lambda variable, so nothing heavy re-evaluates per element — the
    `_shingles_from_tokens` discipline).  Line predicates are also RE2-
    portable, which is what lets the DuckDB oracle replay them with
    ``list_filter`` verbatim.  HOF lambdas run interpreted, so this
    operator trades some per-row speed for the per-LINE semantics the
    regexp_count algebra (gopher_quality) cannot express; it remains
    shuffle-free."""
    keep_line = lambda ln: (  # noqa: E731
        # (?d) pins Java's `$` to \n-only (UNIX_LINES) so it cannot match
        # before a trailing U+2028/U+0085/lone-CR terminator that RE2's
        # `$` (absolute end) ignores — same portability fix as
        # gopher_quality's sentence counter in this file.
        (F.regexp_count(ln, F.lit('(?d)[.!?"][ \t\r]*$')) >= 1)
        & (F.regexp_count(ln, F.lit(r"\S+")) >= min_words_per_line)
        & (F.instr(F.lower(ln), "javascript") == 0)
    )
    lined = df.select(
        F.col(id_col),
        F.coalesce(F.col(text_col), F.lit("")).alias("_text"),
        F.split(F.coalesce(F.col(text_col), F.lit("")), "\n", -1).alias(
            "_lines"
        ),
    )
    kept = lined.select(
        id_col,
        "_text",
        F.size("_lines").alias("n_lines"),
        F.filter("_lines", keep_line).alias("_kept"),
    )
    cleaned = F.concat_ws("\n", F.col("_kept"))
    out = kept.select(
        id_col,
        F.col("n_lines"),
        F.size("_kept").alias("n_kept"),
        cleaned.alias("_cleaned"),
        F.regexp_count(cleaned, F.lit(r"[.!?]")).alias("n_sentences"),
        (F.instr(F.lower("_text"), "lorem ipsum") > 0).alias("_lorem"),
        (F.instr("_text", "{") > 0).alias("_curly"),
    )
    return out.select(
        id_col,
        "n_lines",
        "n_kept",
        "n_sentences",
        (
            (F.col("n_sentences") >= min_sentences)
            & ~F.col("_lorem")
            & ~F.col("_curly")
        ).alias("page_kept"),
        F.md5("_cleaned").alias("cleaned_md5"),
    )


_CODE_KEYWORDS = (
    "def", "return", "import", "function", "var", "const", "class",
    "void", "include", "public",
)


def code_signals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Code-vs-prose routing signals — the gate a training pipeline runs
    to route documents into a code tier (or keep code out of a prose
    corpus): code-punctuation density (``{}();=<>``), indented-line and
    semicolon/brace-terminated-line ratios, and distinct code-keyword
    presence (``\\b``-bounded, ASCII word boundary in both Java and
    RE2).  ``is_code`` combines them: structural shape (punct + indent)
    or lexical shape (≥3 keywords + punct).  All regexp_count column
    algebra — no split arrays, no lambdas, shuffle-free; line anchors
    use (?dm) on the Java side so ``^``/``$`` bind to ``\\n`` exactly
    like RE2's (?m) (the gopher_quality UNIX_LINES discipline)."""
    base = df.select(
        id_col, F.coalesce(F.col(text_col), F.lit("")).alias("_ct")
    )
    n_chars = F.greatest(F.length("_ct"), F.lit(1)).cast("double")
    n_lines = F.when(F.col("_ct") == "", F.lit(0)).otherwise(
        F.expr("regexp_count(_ct, '\\n')") + 1
    )
    n_lines_d = F.greatest(n_lines, F.lit(1)).cast("double")
    n_punct = F.expr("regexp_count(_ct, '[{}();=<>]')")
    n_indent = F.expr("regexp_count(_ct, '(?dm)^[ \\t]{2,}\\\\S')")
    n_termin = F.expr("regexp_count(_ct, '(?dm)[;{}][ \\t\\r]*$')")
    kw_hits = sum(
        (F.expr(f"regexp_count(_ct, '\\\\b{kw}\\\\b')") >= 1).cast(
            "int"
        )
        for kw in _CODE_KEYWORDS
    ).cast("int")
    punct_density = F.round(n_punct / n_chars, 6)
    indent_ratio = F.round(n_indent / n_lines_d, 6)
    terminator_ratio = F.round(n_termin / n_lines_d, 6)
    is_code = (
        (punct_density >= 0.02) & (indent_ratio >= 0.2)
    ) | ((kw_hits >= 3) & (punct_density >= 0.01))
    return base.select(
        id_col,
        punct_density.alias("punct_density"),
        indent_ratio.alias("indent_ratio"),
        terminator_ratio.alias("terminator_ratio"),
        kw_hits.alias("keyword_hits"),
        is_code.alias("is_code"),
    )


_LICENSE_PATTERNS: tuple[tuple[str, str], ...] = (
    # (signal name, RE2-portable case-folded pattern over lower(text))
    ("cc_license", r"creative commons|\bcc[ -]by(?:[ -](?:sa|nc|nd)){0,2}\b"),
    ("public_domain", r"public domain|\bcc0\b"),
    ("all_rights", r"all rights reserved"),
    ("copyright_line", r"(?:copyright|\(c\)|©) *(?:19|20)[0-9][0-9]"),
)


def license_signals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """License/compliance routing signals: detect open-license grants
    (Creative Commons/CC0/public domain) vs explicit reservation
    ("all rights reserved", copyright-year lines) so a corpus build can
    route pages into permissive/restricted tiers or honor opt-outs.
    Purely heuristic (page text, not rel=license headers — those are
    `page_meta`'s job) and deliberately conservative: ``license_class``
    is 'open' only on a grant WITHOUT a reservation, 'restricted' on
    any reservation, 'unknown' otherwise.  All regexp_count column
    algebra over one lowercased projection; RE2-portable (no
    lookaround, bounded quantifiers) so the oracle replays patterns
    verbatim."""
    base = df.select(
        id_col,
        F.lower(F.coalesce(F.col(text_col), F.lit(""))).alias("_lt"),
    )
    # double the backslashes: the pattern rides inside a Spark SQL string
    # literal, where a bare \b is a BACKSPACE escape, not a boundary
    flags = [
        (
            F.expr(
                "regexp_count(_lt, '" + pat.replace("\\", "\\\\") + "')"
            )
            >= 1
        ).alias(name)
        for name, pat in _LICENSE_PATTERNS
    ]
    sig = base.select(id_col, *flags)
    grant = F.col("cc_license") | F.col("public_domain")
    reserved = F.col("all_rights") | F.col("copyright_line")
    return sig.select(
        id_col,
        "cc_license",
        "public_domain",
        "all_rights",
        "copyright_line",
        F.when(reserved, "restricted")
        .when(grant, "open")
        .otherwise("unknown")
        .alias("license_class"),
    )


def flesch_reading_ease(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Flesch reading-ease score as column algebra: ``206.835 − 1.015 ·
    (words/sentences) − 84.6 · (syllables/words)`` with the standard
    vowel-group syllable approximation (runs of [aeiouy] per word, min 1
    per word) — the classic readability axis quality classifiers use as
    a feature.  Sentences = terminal-mark runs ``[.!?]+``; words =
    letter runs; syllables = vowel-group runs, floored by the word
    count (a vowelless token still costs one syllable).  Everything is
    regexp_count over one lowercased projection — no arrays, no
    lambdas, shuffle-free; counts and the two ratios replay exactly in
    RE2, and the final score rounds to 4 dp with the division order
    mirrored in the oracle."""
    base = df.select(
        id_col,
        F.lower(F.coalesce(F.col(text_col), F.lit(""))).alias("_lt"),
    )
    counts = base.select(
        id_col,
        F.expr("regexp_count(_lt, '[.!?]+')").alias("n_sentences"),
        F.expr(f"regexp_count(_lt, '{_TOKEN_CLASS}+')").alias("n_words"),
        F.expr("regexp_count(_lt, '[aeiouy]+')").alias("_vg"),
    )
    n_sent, n_words = F.col("n_sentences"), F.col("n_words")
    n_syll = F.greatest(F.col("_vg"), n_words)
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (n_words / n_sent)
        - F.lit(84.6) * (n_syll / n_words)
    )
    return counts.select(
        id_col,
        "n_sentences",
        "n_words",
        n_syll.alias("n_syllables"),
        F.when(
            (n_sent > 0) & (n_words > 0), F.round(score, 4)
        ).alias("flesch"),
    )


# Mojibake markers = the stage-1 repair table's keys (extractlib/cleanup.py
# _STAGE1_MOJIBAKE, reference Step1_ocr_cleanup_v11.py:7-27) plus the
# cp1252 curly-quote/dash artifacts of UTF-8 read as Latin-1 that web text
# adds on top of the reference's accented-letter set.  Plain literals (no
# regex metacharacters), so the alternation below is engine-portable.
#
# Every marker is written with explicit \u escapes: several second
# characters are invisible, whitespace-like (A0), or C1 controls, and
# hand-typed literals silently corrupt them (tests/test_tables.py
# precedent).  The C3-pair set mirrors the stage-1 repair table
# (extractlib/cleanup.py _STAGE1_MOJIBAKE, reference
# Step1_ocr_cleanup_v11.py:7-27); the E2-triples are the cp1252
# curly-quote/dash artifacts web text adds on top.
MOJIBAKE_MARKERS: tuple[str, ...] = (
    "\u00c3\u00a9",  # e-acute
    "\u00c3\u00a8",  # e-grave
    "\u00c3\u00aa",  # e-circ
    "\u00c3\u00ab",  # e-uml
    "\u00c3\u00a0",  # a-grave (2nd char NBSP-like A0)
    "\u00c3\u00a2",  # a-circ
    "\u00c3\u00a4",  # a-uml
    "\u00c3\u00b9",  # u-grave
    "\u00c3\u00bb",  # u-circ
    "\u00c3\u00bc",  # u-uml
    "\u00c3\u00ae",  # i-circ
    "\u00c3\u00af",  # i-uml
    "\u00c3\u00b4",  # o-circ
    "\u00c3\u00b6",  # o-uml
    "\u00c3\u2021",  # C-cedilla cap
    "\u00c3\u00a7",  # c-cedilla
    "\u00c3\u2030",  # E-acute cap
    "\u00c3\u02c6",  # E-grave cap
    "\u00c3\u0160",  # E-circ cap
    "\u00c3\u2039",  # E-uml cap
    "\u00c3\u20ac",  # A-grave cap
    "\u00c3\u201a",  # A-circ cap
    "\u00c3\u201e",  # A-uml cap
    "\u00c3\u2122",  # U-grave cap
    "\u00c3\u203a",  # U-circ cap
    "\u00c3\u0153",  # U-uml cap
    "\u00c3\u017d",  # I-circ cap
    "\u00c3\u008f",  # I-uml cap (2nd char invisible C1)
    "\u00c3\u201d",  # O-circ cap
    "\u00c3\u2013",  # O-uml cap
    "\u00e2\u20ac\u2122",  # right single quote
    "\u00e2\u20ac\u02dc",  # left single quote
    "\u00e2\u20ac\u0153",  # left double quote
    "\u00e2\u20ac\u009d",  # right double quote (3rd char invisible C1)
    "\u00e2\u20ac\u201c",  # en dash
    "\u00e2\u20ac\u201d",  # em dash
    "\u00e2\u20ac\u00a6",  # ellipsis
    "\u00c2\u00b7",  # middle dot
    "\u00c2\u00bb",  # raquo
    "\u00c2\u00ab",  # laquo
)


def mojibake_pattern() -> str:
    """The shared RE2/Java alternation over :data:`MOJIBAKE_MARKERS`
    (longest-first so 3-char artifacts win over their 2-char prefixes)."""
    return "|".join(sorted(MOJIBAKE_MARKERS, key=len, reverse=True))


def encoding_signals(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Encoding-artifact detection for web-scale text: per-document counts
    of UTF-8-as-Latin-1 mojibake markers, U+FFFD replacement characters,
    stray C0 control characters, and no-break spaces, plus a combined
    artifact rate and a ``flagged`` verdict (rate ≥ 1 per 1000 chars on
    the ROUNDED ratio, so the boundary is engine-stable).

    A pipeline routes flagged pages to re-decode (charset sniff) or
    drops them; the repair table itself lives in extractlib (the
    reference's in-word mojibake pass) — this operator is the cheap
    corpus-wide *detector* that decides who pays for repair.  All four
    signals are ``regexp_count`` over one projection: codegen end to
    end, shuffle-free, linear scan at any scale."""
    pat = mojibake_pattern()
    t = F.coalesce(F.col(text_col), F.lit(""))
    base = df.select(id_col, t.alias("_t"))
    counts = base.select(
        id_col,
        F.length("_t").alias("n_chars"),
        F.expr(f"regexp_count(_t, '{pat}')").alias("mojibake_hits"),
        F.expr("regexp_count(_t, '\\\\x{FFFD}')").alias("replacement_chars"),
        F.expr(
            "regexp_count(_t, '[\\\\x00-\\\\x08\\\\x0b\\\\x0c\\\\x0e-\\\\x1f]')"
        ).alias("ctrl_chars"),
        F.expr("regexp_count(_t, '\\\\x{00A0}')").alias("nbsp_hits"),
    )
    rate = F.round(
        (
            F.col("mojibake_hits")
            + F.col("replacement_chars")
            + F.col("ctrl_chars")
        )
        / F.greatest(F.col("n_chars"), F.lit(1)),
        6,
    )
    return counts.select(
        id_col,
        "n_chars",
        "mojibake_hits",
        "replacement_chars",
        "ctrl_chars",
        "nbsp_hits",
        rate.alias("artifact_rate"),
        (rate >= 0.001).alias("flagged"),
    )


def ocr_artifact_signals(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """OCR-damage detection signals over a text corpus: hyphen line-wrap
    rate (``-`` at end of line continuing into a lowercase letter — the
    de-hyphenation workload extractlib's reflow pass repairs), digit
    letter confusion (a digit sandwiched inside a letter word, the 0/O
    1/l scanner classic), isolated single-consonant tokens (broken
    words), and the short-line ratio (hard-wrapped or column-split
    pages).  Like :func:`encoding_signals` this is the corpus-wide
    router: pages with high OCR damage go to the heavy extractlib
    repair pipeline, clean pages skip it.  Four regexp_counts over one
    projection — codegen, shuffle-free; the verdict compares the
    ROUNDED damage rate."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    base = df.select(id_col, t.alias("_t"))
    counts = base.select(
        id_col,
        F.expr("regexp_count(_t, '\\n')").alias("n_lines_break"),
        F.expr("regexp_count(_t, '-\\n[a-z]')").alias("hyphen_wraps"),
        F.expr(
            "regexp_count(_t, '[A-Za-z][0-9][A-Za-z]')"
        ).alias("digit_confusions"),
        F.expr(
            # (?d) = UNIX_LINES: pins Java's `$` to absolute-end/\n and
            # `.` to exclude only \n, matching RE2 on lone-CR / U+2028 /
            # U+0085 tails (classic OCR artifacts, exactly this input
            # domain).  The explicit \n alternative shadows the one
            # remaining before-final-\n `$` case, so counts are engine-
            # identical.
            "regexp_count(_t, '(?d)(^|[ \\n])[b-hj-z]([ \\n]|$)')"
        ).alias("isolated_consonants"),
        F.expr(
            "regexp_count(_t, '(?d)(^|\\n).{0,3}(\\n|$)')"
        ).alias("short_lines"),
        F.expr(f"regexp_count(_t, '{_TOKEN_CLASS}+')").alias("n_words"),
    )
    rate = F.round(
        (
            F.col("hyphen_wraps")
            + F.col("digit_confusions")
            + F.col("isolated_consonants")
        )
        / F.greatest(F.col("n_words"), F.lit(1)),
        6,
    )
    return counts.select(
        id_col,
        "hyphen_wraps",
        "digit_confusions",
        "isolated_consonants",
        "short_lines",
        "n_words",
        rate.alias("damage_rate"),
        (rate >= 0.01).alias("needs_repair"),
    )


def unigram_drift(
    old_df: DataFrame,
    new_df: DataFrame,
    text_col: str = "text",
    top_k: int = 20,
) -> DataFrame:
    """Corpus drift monitor: the per-token contributions to
    ``KL(P_new ‖ P_old)`` between two snapshots' add-one-smoothed unigram
    distributions — the check a recurring crawl runs before swapping a new
    snapshot into the training mix (a burst of one template token, a
    language-mix shift, or a scraper regression shows up as a dominant
    mover long before eyeballing samples would catch it).

    Smoothing: ``p = (c_new + 1) / (N_new + V)``, ``q = (c_old + 1) /
    (N_old + V)`` over the UNION vocabulary (V = union vocab size), so
    both distributions are positive everywhere and the KL is finite.
    Each token's contribution ``p·ln(p/q)`` is quantized to integer
    NANO-nats (``floor(x·1e9 + 0.5)``, exact either sign in both
    engines — the lm.py micro-nat discipline one scale finer), so
    ranking and any downstream total are integer-exact and
    order-independent.  Returns the ``top_k`` movers by ``|contribution|``
    (ties → token asc): ``(token, c_old, c_new, contrib_nano)``.

    Scale shape: one map-side-combined count per snapshot (the only
    corpus-sized shuffles), a vocabulary-sized full-outer join, one 1-row
    totals aggregate broadcast back, and a TakeOrdered k-cut — no global
    sort, document text never moves."""
    def counts(df: DataFrame, name: str) -> DataFrame:
        return (
            df.select(F.explode(_tokens(text_col)).alias("token"))
            .groupBy("token")
            .agg(F.count("*").alias(name))
        )

    joined = counts(old_df, "c_old").join(
        counts(new_df, "c_new"), "token", "full_outer"
    ).select(
        "token",
        F.coalesce("c_old", F.lit(0)).alias("c_old"),
        F.coalesce("c_new", F.lit(0)).alias("c_new"),
    )
    joined = joined.localCheckpoint(eager=False)  # feeds totals AND output
    tot = joined.agg(
        F.sum("c_old").alias("_no"),
        F.sum("c_new").alias("_nn"),
        F.count("*").alias("_v"),
    )
    p = (F.col("c_new") + 1.0) / (F.col("_nn") + F.col("_v"))
    q = (F.col("c_old") + 1.0) / (F.col("_no") + F.col("_v"))
    contrib = F.floor(p * F.log(p / q) * F.lit(1e9) + F.lit(0.5)).cast("long")
    return (
        joined.crossJoin(F.broadcast(tot))
        .select("token", "c_old", "c_new", contrib.alias("contrib_nano"))
        .orderBy(F.abs(F.col("contrib_nano")).desc(), F.col("token").asc())
        .limit(int(top_k))
    )


# --- Mojibake repair (ftfy-style cp1252 round-trip) ---------------------
#
# A UTF-8 byte sequence mis-decoded as cp1252 turns each byte into one
# character; the repair is the inverse round-trip (encode the characters
# back to cp1252 bytes, decode as UTF-8).  The classes below are the
# cp1252 DECODE images of the UTF-8 byte ranges: lead bytes 0xC2-0xDF /
# 0xE0-0xEF / 0xF0-0xF4 land on U+00C2-U+00DF / U+00E0-U+00EF /
# U+00F0-U+00F4 (all defined in cp1252), continuation bytes 0x80-0xBF
# land on U+00A0-U+00BF plus the cp1252 0x80-0x9F punctuation page —
# with the five undefined bytes (81 8D 8F 90 9D) passed through as C1
# controls, ftfy's "sloppy cp1252" convention (a browser that produced
# the mojibake did the same).  Every char below is written as an
# explicit escape: several are invisible (tests/test_tables.py rule).
_MOJI_CONT_CLASS = (
    "\\u00a0-\\u00bf"  # cont bytes A0-BF decode to themselves
    "\\u0081\\u008d\\u008f\\u0090\\u009d"  # sloppy holes
    "\\u20ac\\u201a\\u0192\\u201e\\u2026\\u2020\\u2021\\u02c6"
    "\\u2030\\u0160\\u2039\\u0152\\u017d\\u2018\\u2019\\u201c"
    "\\u201d\\u2022\\u2013\\u2014\\u02dc\\u2122\\u0161\\u203a"
    "\\u0153\\u017e\\u0178"  # cp1252 0x80-0x9F page
)
# One mis-decoded UTF-8 character: 2/3/4-byte lead + its continuations.
_MOJI_UNIT = (
    f"(?:[\\u00c2-\\u00df][{_MOJI_CONT_CLASS}]"
    f"|[\\u00e0-\\u00ef][{_MOJI_CONT_CLASS}]{{2}}"
    f"|[\\u00f0-\\u00f4][{_MOJI_CONT_CLASS}]{{3}})"
)


def _encode_sloppy_cp1252(s: str) -> bytes:
    """cp1252 encode with the five undefined code points (U+0081 U+008D
    U+008F U+0090 U+009D) passed through as their raw byte values."""
    try:
        return s.encode("cp1252")
    except UnicodeEncodeError:
        out = bytearray()
        for ch in s:
            try:
                out += ch.encode("cp1252")
            except UnicodeEncodeError:
                o = ord(ch)
                if o > 0xFF:
                    raise
                out.append(o)
        return bytes(out)


def fix_mojibake_text(s: str | None, max_rounds: int = 3) -> str | None:
    """Pure-Python mojibake repair shared by the Arrow UDF, the tests,
    and the golden-VALUES oracle replay.  Each maximal run of
    mis-decoded characters is round-tripped independently (encode
    sloppy-cp1252, decode strict UTF-8); a run that fails the strict
    decode (overlong form, surrogate, truncated sequence) is left
    byte-for-byte intact — the repair never corrupts what it cannot
    prove is mojibake.  Runs repair independently of surrounding
    already-correct non-ASCII text (a whole-string round-trip would
    refuse mixed pages).  Up to ``max_rounds`` passes unwind
    double-encoded pages; a pass with no change terminates early."""
    if s is None:
        return None
    pat = _moji_run_re()
    cur = s
    for _ in range(max_rounds):
        changed = False

        def _sub(m) -> str:
            nonlocal changed
            try:
                dec = _encode_sloppy_cp1252(m.group()).decode("utf-8")
            except (UnicodeEncodeError, UnicodeDecodeError):
                return m.group()
            changed = True
            return dec

        nxt = pat.sub(_sub, cur)
        if not changed or nxt == cur:
            break
        cur = nxt
    return cur


def _moji_run_re():
    """Compiled Python regex for a maximal mojibake run (module-level
    cache; the class strings use \\uXXXX escapes valid in both Python
    and Java regex, so Spark's gate and this repair see the same runs)."""
    import re

    global _MOJI_RUN_RE
    try:
        return _MOJI_RUN_RE
    except NameError:
        _MOJI_RUN_RE = re.compile(f"{_MOJI_UNIT}+")
        return _MOJI_RUN_RE


def repair_mojibake(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-wide mojibake repair, gated so only damaged rows pay the
    Python boundary: a codegen ``rlike`` over the same run pattern
    routes rows, clean rows keep their original string untouched (the
    fused-gate convention from quality_gate — when one signal forces
    the expensive path, make THAT signal per-row and cheap).  Damaged
    rows cross into an Arrow-batched ``pandas_udf`` running
    :func:`fix_mojibake_text`; ``n_runs`` (regexp_count, pre-repair)
    and the ``repaired`` verdict ride along for audit.  Shuffle-free,
    linear scan; at CC scale the gate typically passes <2% of rows to
    Python.

    The gate is applied to the UDF's INPUT, not around its call: Spark
    extracts Python UDFs out of CASE WHEN and evaluates them for every
    row (SPARK-22347), so ``when(gate, udf(t))`` would pay Arrow
    transfer + repair for the whole corpus.  ``udf(when(gate, t))``
    ships NULL for clean rows instead — the batch still crosses, but
    carries no bytes for the ~98% clean majority — and ``coalesce``
    restores the original string."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _fix(s):  # no hints: stringized-annotation pandas_udf rule
        return s.map(fix_mojibake_text)

    t = F.col(text_col)
    gate = t.rlike(_MOJI_UNIT)
    n_runs = F.when(
        t.isNull(), F.lit(None).cast("int")
    ).otherwise(F.expr(f"regexp_count({text_col}, '{_MOJI_UNIT}+')"))
    repaired_text = F.coalesce(_fix(F.when(gate, t)), t)
    return df.select(
        id_col,
        repaired_text.alias("text"),
        n_runs.alias("n_runs"),
        F.coalesce(repaired_text != t, F.lit(False)).alias("repaired"),
    )


# Declared-language → expected-script table for the mismatch audit.
# Only languages whose script is unambiguous get an expectation; every
# other tag yields NULL (no verdict, never a false flag).
LANG_EXPECTED_SCRIPT: dict[str, str] = {
    "en": "latin", "fr": "latin", "de": "latin", "es": "latin",
    "it": "latin", "pt": "latin", "nl": "latin", "la": "latin",
    "ru": "cyrillic", "uk": "cyrillic", "bg": "cyrillic",
    "sr": "cyrillic", "el": "greek", "zh": "cjk", "ja": "cjk",
}


def lang_script_mismatch(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    id_col: str = "doc_id",
    min_letters: int = 20,
) -> DataFrame:
    """Declared-language vs script-evidence audit: a page tagged ``ru``
    whose letters are overwhelmingly Latin (or ``en`` in Cyrillic) is
    either mis-tagged, transliterated, or encoding-corrupted — all
    reasons to exclude it from per-language corpus pools.  Builds on
    :func:`script_ratios` (same literal-range classes, same dominant-
    script precedence); the expectation table maps unambiguous language
    tags to scripts and abstains (NULL verdict) for unknown tags or
    pages with fewer than ``min_letters`` script letters — too little
    evidence to overrule the tag.  Pure codegen + one broadcast-sized
    CASE; no shuffle."""
    scored = script_ratios(df, text_col)
    expected = F.col(lang_col)
    mapping = F.lit(None).cast("string")
    # Build the CASE from the table (deterministic iteration order).
    for tag, script in LANG_EXPECTED_SCRIPT.items():
        mapping = F.when(expected == tag, F.lit(script)).otherwise(mapping)
    total = (
        F.col("n_latin") + F.col("n_cyrillic")
        + F.col("n_greek") + F.col("n_cjk")
    )
    verdict = F.when(
        F.col("expected_script").isNull() | (total < min_letters),
        F.lit(None).cast("boolean"),
    ).otherwise(F.col("dominant_script") != F.col("expected_script"))
    return (
        scored.withColumn("expected_script", mapping)
        .withColumn("mismatch", verdict)
        .select(
            id_col, lang_col, "n_latin", "n_cyrillic", "n_greek",
            "n_cjk", "dominant_script", "expected_script", "mismatch",
        )
    )


def vocab_growth(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_batches: int = 16,
) -> DataFrame:
    """Heaps-law vocabulary growth curve: the corpus is processed as
    ``n_batches`` deterministic ingest batches (``doc_id mod
    n_batches``) and each batch reports its token volume, the NEW word
    types it contributes, and the cumulative type/token counts — the
    curve a tokenizer-training run reads to decide when vocabulary has
    saturated (sub-linear growth) vs when the corpus keeps paying
    (fresh domains still arriving).

    The cumulative-distinct trap is avoided by attribution: a type is
    NEW in the batch where it FIRST appears, so one ``min(batch)`` per
    type replaces any running-distinct scan — two map-side-combined
    aggregations over token rows, then a window over the n_batches-row
    result (driver-bounded).  explode_outer + isNotNull keeps the
    optimizer from re-inlining the token array below the generator
    (the InferFiltersFromGenerate guard)."""
    b = F.pmod(F.col(id_col), F.lit(n_batches)).cast("int")
    toks = (
        df.select(b.alias("batch"), F.explode_outer(_tokens(text_col)).alias("token"))
        .where(F.col("token").isNotNull())
    )
    vol = toks.groupBy("batch").agg(F.count("*").alias("batch_tokens"))
    first = toks.groupBy("token").agg(F.min("batch").alias("batch"))
    fresh = first.groupBy("batch").agg(F.count("*").alias("new_types"))
    per = (
        vol.join(fresh, "batch", "full_outer")
        .select(
            "batch",
            F.coalesce("batch_tokens", F.lit(0)).alias("batch_tokens"),
            F.coalesce("new_types", F.lit(0)).alias("new_types"),
        )
    )
    w = (
        Window.orderBy("batch")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per.select(
        "batch",
        "batch_tokens",
        "new_types",
        F.sum("batch_tokens").over(w).alias("cum_tokens"),
        F.sum("new_types").over(w).alias("cum_types"),
    ).withColumn(
        "type_token_ratio",
        F.round(
            F.col("cum_types")
            / F.greatest(F.col("cum_tokens"), F.lit(1)).cast("double"),
            6,
        ),
    )


# RefinedWeb-style line-correction rules (Penedo et al. 2023 §A.2 drop
# categories, re-expressed as RE2/Java-portable predicates).  ASCII-only
# (?i) keywords: Java's default case folding is ASCII, RE2's is Unicode
# — identical on these patterns.
LINE_DROP_RULES: tuple[tuple[str, str], ...] = (
    ("numeric", r"^[0-9 .,:/%()+-]*[0-9][0-9 .,:/%()+-]*$"),
    ("counter", r"(?i)^ *[0-9]+ *(likes?|shares?|comments?|views?|votes?|replies|points?) *$"),
    ("allcaps", r"^[^a-zà-öø-ÿ]*[A-Z][^a-zà-öø-ÿ]*$"),
)
# Keyword rule fires only on SHORT lines (nav chrome), never inside real
# prose that merely mentions a cookie banner.  Kept separate from the
# regex-only table because RE2 has no lookahead to express the length
# bound in-pattern — the length test is a second lambda predicate, the
# same shape the DuckDB oracle's list_filter uses.
BOILERPLATE_LINE_PATTERN = (
    r"(?i)(javascript|cookies?|sign in|log in|subscribe|newsletter"
    r"|read more|click here|all rights reserved)"
)
BOILERPLATE_LINE_MAX_CHARS = 80


def filter_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_drop_ratio: float = 0.5,
) -> DataFrame:
    """Per-line corrections (the RefinedWeb pass that runs AFTER
    document-level gates): drop lines that are pure numbers/dates,
    social counters ("3 likes"), shouting all-caps navigation, or
    short boilerplate-keyword lines, rebuild the document from the
    kept lines, and flag documents that lose more than
    ``max_drop_ratio`` of their lines (a page that is mostly chrome is
    dropped whole rather than shipped as a stub).  One split + one
    higher-order ``filter`` + ``array_join`` — all codegen, no Python,
    no shuffle; the same predicates run as ``list_filter`` lambdas in
    the DuckDB oracle."""
    drop_pat = "|".join(f"(?:{p})" for _, p in LINE_DROP_RULES)

    def _keep(line: Column) -> Column:
        short_chrome = (
            F.length(line) < BOILERPLATE_LINE_MAX_CHARS
        ) & line.rlike(BOILERPLATE_LINE_PATTERN)
        return ~(line.rlike(drop_pat) | short_chrome)

    t = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.split(t, "\n")
    kept = F.filter(lines, _keep)
    n_lines = F.size(lines)
    n_kept = F.size(kept)
    ratio = F.round(
        (n_lines - n_kept) / F.greatest(n_lines, F.lit(1)).cast("double"),
        6,
    )
    return df.select(
        id_col,
        F.array_join(kept, "\n").alias("text"),
        n_lines.alias("n_lines"),
        (n_lines - n_kept).alias("n_dropped"),
        ratio.alias("drop_ratio"),
        (ratio > F.lit(float(max_drop_ratio))).alias("doc_flagged"),
    )


def lang_spans(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-sentence language segmentation: split the document into the
    RE2-portable sentence units (see :func:`sentence_stats`), vote each
    sentence's language with the stopword markers (same argmax +
    lang-ascending tie-break as :func:`guess_language`), then compress
    contiguous same-language sentences into spans — the code-switching
    map of a document.

    Returns ``(id, span_idx, lang, n_sentences, n_chars, start_idx,
    end_idx)`` with 0-based sentence indexes.

    Plan shape: explode -> codegen column algebra -> one window + one
    groupBy, both keyed on the doc id first, over slim (id, idx, lang,
    len) rows — sentence TEXT is dropped before any shuffle.  The
    explode uses the posexplode_outer + isNotNull guard so
    InferFiltersFromGenerate cannot re-inline the sentence-array build
    below the projection (the r4s4 trap)."""
    sents = F.expr(
        f"filter(transform(regexp_extract_all({text_col},"
        f" '[^.!?]+[.!?]*', 0), x -> trim(x)), x -> x != '')"
    )
    exploded = (
        df.select(F.col(id_col), sents.alias("__sents"))
        .select(id_col, F.posexplode_outer("__sents").alias("idx", "sent"))
        .where(F.col("sent").isNotNull())
    )
    langd = guess_language(exploded, text_col="sent").select(
        id_col,
        "idx",
        F.col("lang_guess").alias("lang"),
        F.length("sent").alias("sent_chars"),
    )
    w = Window.partitionBy(id_col).orderBy("idx")
    prev = F.lag("lang").over(w)
    chg = F.when(prev.isNull() | (prev != F.col("lang")), 1).otherwise(0)
    run = F.sum(chg).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        langd.withColumn("__run", run)
        .groupBy(id_col, "__run")
        .agg(
            F.min("lang").alias("lang"),  # constant within a run
            F.count(F.lit(1)).cast("int").alias("n_sentences"),
            F.sum("sent_chars").cast("long").alias("n_chars"),
            F.min("idx").alias("start_idx"),
            F.max("idx").alias("end_idx"),
        )
        .select(
            id_col,
            (F.col("__run") - 1).cast("int").alias("span_idx"),
            "lang",
            "n_sentences",
            "n_chars",
            "start_idx",
            "end_idx",
        )
    )


def dict_compression_ratio(
    df: DataFrame,
    text_col: str = "text",
    dict_col: str = "zdict",
    level: int = 6,
) -> DataFrame:
    """Shared-dictionary compression (zlib ``zdict``) per document: how
    much better a doc compresses when seeded with its site's template
    text — the storage trick for template-heavy domains (a per-domain
    dictionary amortizes the chrome every page repeats; zstd --train is
    the production analog, zlib's preset dictionary is the stdlib one).

    Adds ``ratio_plain`` and ``ratio_dict`` (compressed/raw bytes, 6 dp);
    ``dict_gain = ratio_plain - ratio_dict`` is the win.  Same Arrow
    boundary contract as :func:`compression_ratio`; the dictionary rides
    a column so a broadcast join from a slim per-domain dict table feeds
    it without shuffling the corpus."""
    import zlib

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<ratio_plain: double, ratio_dict: double>")
    def _ratios(texts, dicts):  # no hints: stringized-annotation rule
        import pandas as pd

        plain, dicted = [], []
        for t, d in zip(texts, dicts):
            if t is None or t == "":
                plain.append(None)
                dicted.append(None)
                continue
            raw = t.encode("utf-8")
            plain.append(round(len(zlib.compress(raw, level)) / len(raw), 6))
            if d:
                co = zlib.compressobj(level, zlib.DEFLATED, 15, 8,
                                      zlib.Z_DEFAULT_STRATEGY,
                                      d.encode("utf-8"))
                n = len(co.compress(raw) + co.flush())
                dicted.append(round(n / len(raw), 6))
            else:
                dicted.append(plain[-1])
        return pd.DataFrame({"ratio_plain": plain, "ratio_dict": dicted})

    r = _ratios(F.col(text_col), F.col(dict_col))
    return (
        df.withColumn("__r", r)
        .withColumn("ratio_plain", F.col("__r.ratio_plain"))
        .withColumn("ratio_dict", F.col("__r.ratio_dict"))
        .withColumn(
            "dict_gain", F.round(F.col("ratio_plain") - F.col("ratio_dict"), 6)
        )
        .drop("__r")
    )


def ngram_coverage(
    train: DataFrame,
    test: DataFrame,
    n_values: tuple = (1, 2, 3),
    text_col: str = "text",
) -> DataFrame:
    """Train-set n-gram coverage of a test set: for each n, what share
    of the test set's DISTINCT word n-grams also occur in train — the
    novelty check run before accepting an eval split (near-1 unigram
    coverage is expected; near-1 TRIGRAM coverage means the split is
    too close to train).

    Returns one row per n: ``(n, test_ngrams, covered, coverage)``
    (coverage 6 dp).  Plan: each side builds distinct n-gram rows once
    per n (token array materialized first — the 60x rule), the
    membership test is a LEFT SEMI join on the n-gram string keyed by
    the gram itself (hash-uniform, skew-free), and counts are slim
    aggregates.  Train-side grams are deduped before the join, so the
    join input is bounded by vocabulary, not corpus, size."""
    from pdf_to_epub_spark.operators.dedup import _word_tokens

    def grams(df: DataFrame, n: int) -> DataFrame:
        toks = df.select(_word_tokens(F.col(text_col)).alias("__t"))
        # docs shorter than n contribute NOTHING (no whole-text fallback
        # here — coverage over partial grams would be meaningless); the
        # explicit gate matters because sequence(0, -1) DESCENDS in
        # Spark and slice(…, 0, n) then throws
        arr = F.when(
            F.size("__t") >= n,
            F.transform(
                F.sequence(F.lit(0), F.size("__t") - F.lit(n)),
                lambda i: F.concat_ws(" ", F.slice("__t", i + 1, n)),
            ),
        )
        return (
            toks.select(F.explode_outer(arr).alias("g"))
            .where(F.col("g").isNotNull())
            .distinct()
        )

    out = None
    for n in n_values:
        te = grams(test, n)
        tr = grams(train, n)
        covered = te.join(tr, "g", "left_semi")
        row = te.agg(F.count(F.lit(1)).alias("test_ngrams")).crossJoin(
            covered.agg(F.count(F.lit(1)).alias("covered"))
        ).select(
            F.lit(n).cast("int").alias("n"),
            F.col("test_ngrams").cast("long"),
            F.col("covered").cast("long"),
            F.round(
                F.col("covered")
                / F.greatest(F.col("test_ngrams"), F.lit(1)).cast("double"),
                6,
            ).alias("coverage"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def zipf_fit(
    df: DataFrame, text_col: str = "text", top_k: int = 64
) -> DataFrame:
    """Zipf's-law fit over the top-``top_k`` vocabulary: OLS slope of
    ln(freq) against ln(rank) — natural language sits near -1; templated
    or machine-generated corpora flatten, token-salad steepens.  One
    corpus-health number per corpus.

    Returns one row ``(n_terms, slope, intercept)`` (6 dp).

    Engine-exactness: ln(rank) and ln(freq) are quantized to integer
    nanos BEFORE summation (both engines call the same libm on
    identical integers), the four OLS sums ride decimal(38,0)
    (order-independent, overflow-proof), and the closing formula is
    computed on doubles cast from those exact integers in a mirrored
    order.  Plan: one token explode + count groupBy, a top-k cut
    ordered (freq DESC, term ASC) — deterministic tie-break — and a
    64-row aggregate; nothing corpus-sized crosses the top-k boundary.
    """
    from pyspark.sql.window import Window

    counts = (
        df.select(F.explode_outer(_tokens(text_col)).alias("t"))
        .where(F.col("t").isNotNull())
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("t"))
        .limit(top_k)
    )
    w = Window.orderBy(F.desc("c"), F.asc("t"))
    pts = counts.select(
        F.row_number().over(w).alias("r"), F.col("c")
    ).select(
        F.round(F.log(F.col("r").cast("double")) * 1e9)
        .cast("decimal(38,0)")
        .alias("x"),
        F.round(F.log(F.col("c").cast("double")) * 1e9)
        .cast("decimal(38,0)")
        .alias("y"),
    )
    sums = pts.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    k = F.col("k").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    den = k * sxx - sx * sx
    # < 2 distinct terms (or all at rank 1) -> no line to fit; the
    # guard also keeps ANSI mode from raising DIVIDE_BY_ZERO
    slope = F.when(den != 0, (k * sxy - sx * sy) / den)
    intercept = F.when(den != 0, (sy - slope * sx) / k / 1e9)
    return sums.select(
        F.col("k").cast("int").alias("n_terms"),
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
    )


def sentence_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_sents: int = 3,
    stride: int = 2,
) -> DataFrame:
    """RAG-style overlapping sentence-window chunking: segment each
    document into sentences (the same RE2-portable ``[^.!?]+[.!?]*``
    rule as :func:`sentence_stats`), then emit windows of
    ``chunk_sents`` consecutive sentences starting every ``stride``
    sentences — chunk ``c`` covers sentences ``c*stride+1 ..
    c*stride+chunk_sents`` (1-based), and the tail window may be
    shorter.  Documents with no sentences emit no rows.

    All JVM-side column algebra: one regex scan builds the sentence
    array, ``sequence`` builds the chunk ids (guarded — ``sequence(0,
    -1)`` DESCENDS in Spark, so empty docs take an explicit empty-array
    branch), and the explode is ``explode_outer`` + null-filter so the
    optimizer cannot re-inline the sentence regex below the generator
    (InferFiltersFromGenerate).  No shuffle, no UDF.

    Returns ``(id, chunk_id, n_sents, chunk_text)``.
    """
    sents = F.expr(
        f"filter(transform(regexp_extract_all({text_col},"
        f" '[^.!?]+[.!?]*', 0), x -> trim(x)), x -> x != '')"
    )
    n = F.size("__sents")
    n_chunks = F.floor((n - F.lit(1)) / F.lit(stride)).cast("int") + F.lit(1)
    ids = F.when(n > 0, F.sequence(F.lit(0), n_chunks - 1)).otherwise(
        F.array().cast("array<int>")
    )
    staged = (
        df.select(F.col(id_col), sents.alias("__sents"))
        .select(F.col(id_col), F.col("__sents"), ids.alias("__ids"))
        .select(
            F.col(id_col),
            F.col("__sents"),
            F.explode_outer("__ids").alias("chunk_id"),
        )
        .where(F.col("chunk_id").isNotNull())
    )
    piece = F.slice(
        F.col("__sents"),
        F.col("chunk_id") * stride + 1,
        chunk_sents,
    )
    return staged.select(
        F.col(id_col),
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.size(piece).cast("int").alias("n_sents"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def title_body_overlap(
    df: DataFrame,
    id_col: str = "doc_id",
    title_col: str = "title",
    body_col: str = "text",
) -> DataFrame:
    """Clickbait / title-mismatch signal: the fraction of distinct title
    words that also occur in the body (1 = fully grounded title, 0 =
    title shares nothing with the page).  Pages whose headline never
    reappears in the text are a quality-filter staple.

    Tokenization is the corpus-standard lowercase letter-run rule
    (:func:`_tokens`, so the definition cannot drift from the other
    text operators); the overlap is ``array_intersect`` size over
    ``array_distinct`` token columns — no shuffle, no UDF.

    Returns ``(id, n_title_tokens, n_overlap, overlap_ratio)``; docs
    with an empty title get a NULL ratio.
    """
    staged = df.select(
        F.col(id_col),
        F.array_distinct(_tokens(title_col)).alias("__t"),
        F.array_distinct(_tokens(body_col)).alias("__b"),
    )
    n_t = F.size("__t")
    n_o = F.size(F.array_intersect("__t", "__b"))
    return staged.select(
        F.col(id_col),
        n_t.cast("int").alias("n_title_tokens"),
        n_o.cast("int").alias("n_overlap"),
        F.when(n_t > 0, F.round(n_o / n_t, 6)).alias("overlap_ratio"),
    )


def quote_density(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Quotation profile: how much of a document sits inside double
    quotes.  News/interview/forum content is quote-heavy; scraped
    navigation and SEO spam are not — a cheap compositional signal for
    corpus mixing.

    One RE2-portable regex scan (``\"[^\"]*\"`` — no backtracking, no
    lookarounds) feeding pure column algebra; NULL text yields zero
    counts via the empty-array branch.

    Returns ``(id, n_quotes, quoted_chars, quote_char_ratio)`` where the
    ratio is quoted chars (quotes excluded) over total chars, 6 dp,
    NULL for empty docs.
    """
    segs = F.expr(f"regexp_extract_all({text_col}, '\"[^\"]*\"', 0)")
    staged = df.select(
        F.col(id_col),
        F.coalesce(F.length(text_col), F.lit(0)).alias("__len"),
        F.coalesce(segs, F.array().cast("array<string>")).alias("__q"),
    )
    n_q = F.size("__q")
    quoted = F.expr(
        "aggregate(__q, 0L, (a, x) -> a + length(x) - 2)"
    )
    return staged.select(
        F.col(id_col),
        n_q.cast("int").alias("n_quotes"),
        quoted.cast("long").alias("quoted_chars"),
        F.when(
            F.col("__len") > 0, F.round(quoted / F.col("__len"), 6)
        ).alias("quote_char_ratio"),
    )


def length_outliers(
    df: DataFrame,
    group_col: str = "lang",
    value_col: str = "n_chars",
    id_col: str = "doc_id",
    z_cut: float = 3.0,
) -> DataFrame:
    """Robust per-group outlier flagging via median/MAD: a document is an
    outlier when ``|x - median| > z_cut * MAD`` of its group — unlike
    mean/stddev this survives the heavy-tailed length distributions web
    corpora actually have (one 100 MB page doesn't move the median).

    Two exact-percentile aggregations (median, then MAD over the
    residuals) on slim projections, each joined back broadcast (one row
    per group).  The robust z is computed on the 6-dp-ROUNDED MAD so
    the cut boundary is engine-stable.

    Returns ``(id, group, value, robust_z, is_outlier)``; groups with
    MAD = 0 get NULL z and are never outliers.
    """
    slim = df.select(
        F.col(id_col), F.col(group_col), F.col(value_col).cast("double").alias("v")
    )
    med = slim.groupBy(group_col).agg(
        F.expr("percentile(v, 0.5)").alias("_med")
    )
    withmed = slim.join(F.broadcast(med), group_col)
    mad = (
        withmed.select(group_col, F.abs(F.col("v") - F.col("_med")).alias("r"))
        .groupBy(group_col)
        .agg(F.round(F.expr("percentile(r, 0.5)"), 6).alias("_mad"))
    )
    out = withmed.join(F.broadcast(mad), group_col)
    z = F.when(
        F.col("_mad") > 0,
        F.round((F.col("v") - F.col("_med")) / F.col("_mad"), 6) + F.lit(0.0),
    )
    return out.select(
        F.col(id_col),
        F.col(group_col),
        F.col("v").cast("long").alias(value_col),
        z.alias("robust_z"),
        F.coalesce(F.abs(z) > z_cut, F.lit(False)).alias("is_outlier"),
    )


def signal_correlations(
    df: DataFrame,
    signal_cols: tuple = ("n_chars", "n_words", "n_quotes"),
) -> DataFrame:
    """Pairwise Pearson correlation matrix over per-document quality
    signals — the sanity check before feeding "independent" signals to
    a quality classifier (two signals at r > 0.95 are one signal).

    ONE combiner-enabled aggregate computes every sum/cross-moment
    (k, Sx, Sxx, Sxy for each pair) over a slim projection; the r
    values are assembled driver-free from that single row in a fixed
    parse shape (``k*Sxy - Sx*Sy`` over doubles, 6 dp), one output row
    per unordered signal pair.  NULL r when either variance is 0.

    Signals are quantized to micro-units (``round(v * 1e6)`` as int64)
    first — fractional signals (6-dp quality ratios) stay faithful,
    correlation is scale-invariant, and every sum/product runs in
    EXACT arithmetic (``decimal(38,0)`` accumulators, so the
    cross-moments of 1e12 micro-unit values can't wrap int64) —
    summation-order-free, hence replayable in SQL.
    """
    cols = list(signal_cols)
    micro = df.select(
        *[
            F.round(F.col(c).cast("double") * 1e6)
            .cast("decimal(19,0)")
            .alias(c)
            for c in cols
        ]
    )
    return _pearson_matrix(micro, cols)


def _pearson_matrix(micro: DataFrame, cols: list) -> DataFrame:
    """Pairwise Pearson r over integer-valued (decimal(19,0)) columns:
    ONE combiner-enabled aggregate for every sum/cross-moment in exact
    decimal(38,0) arithmetic, pair rows assembled from that single row
    (shared by :func:`signal_correlations` and
    :func:`rank_correlations`)."""
    dec = "decimal(38,0)"
    aggs = [F.count(F.lit(1)).alias("k")]
    for c in cols:
        aggs.append(F.sum(F.col(c)).cast(dec).alias(f"s_{c}"))
        aggs.append(F.sum(F.col(c) * F.col(c)).cast(dec).alias(f"ss_{c}"))
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            aggs.append(
                F.sum(F.col(a) * F.col(b)).cast(dec).alias(f"sp_{a}_{b}")
            )
    one = micro.agg(*aggs)
    k = F.col("k").cast("double")

    def _r(a: str, b: str) -> Column:
        sa, sb = F.col(f"s_{a}").cast("double"), F.col(f"s_{b}").cast("double")
        va = k * F.col(f"ss_{a}").cast("double") - sa * sa
        vb = k * F.col(f"ss_{b}").cast("double") - sb * sb
        cov = k * F.col(f"sp_{a}_{b}").cast("double") - sa * sb
        return F.when(
            (va > 0) & (vb > 0),
            F.round(cov / (F.sqrt(va) * F.sqrt(vb)), 6) + F.lit(0.0),
        )

    pairs = F.array(
        *[
            F.struct(
                F.lit(a).alias("signal_a"),
                F.lit(b).alias("signal_b"),
                _r(a, b).alias("r"),
            )
            for i, a in enumerate(cols)
            for b in cols[i + 1 :]
        ]
    )
    return one.select(F.explode(pairs).alias("p")).select(
        "p.signal_a", "p.signal_b", "p.r"
    )


def rank_correlations(
    df: DataFrame,
    signal_cols: tuple = ("n_chars", "n_words", "n_quotes"),
) -> DataFrame:
    """Pairwise Spearman rank correlation over per-document quality
    signals — the monotone-association companion to
    :func:`signal_correlations`: two signals that agree on ORDER but
    not linearly (length vs log-ish quality scores, the usual case)
    show ρ ≈ 1 where Pearson r understates.

    Spearman = Pearson over average ranks.  Ranks are computed without
    a global window: per signal, a value-level count table (one
    map-side-combined groupBy) gets EXCLUSIVE global prefix sums via
    ``bucketing.global_prefix_sums`` (the range-partition +
    per-partition window + broadcast-offsets shape of
    ``global_positions``), and the tie-averaged rank is the
    half-integer ``cnt_less + (cnt_tied+1)/2`` — carried DOUBLED
    (``2·cnt_less + cnt_tied + 1``) so every rank is an exact int64 and
    the whole statistic stays in exact decimal arithmetic until the one
    final division (Pearson is affine-invariant, so doubling changes
    nothing).  Rows then map through one value-keyed join per signal
    (value-level maps, far smaller than the corpus; broadcast left to
    optimizer stats) and the shared exact-decimal Pearson aggregate
    finishes.  NULL handling: ranks are assigned per signal over that
    signal's FULL non-null value set, but each pairwise Pearson runs
    only on rows where BOTH signals are non-null — so when signals have
    different NULL sets, the ranks entering a pair are a (possibly
    non-contiguous) subset of that signal's 1..n ranking rather than a
    fresh listwise re-ranking (a "Spearman over marginal ranks"
    estimator, not textbook listwise-complete Spearman).  The two
    coincide exactly when all signals share the same NULL rows — the
    common case, and the shape every oracled query here feeds.  For
    listwise-complete semantics, ``df.na.drop(subset=signal_cols)``
    upstream; coalesce upstream if absence is meaningful."""
    from .bucketing import global_prefix_sums

    cols = list(signal_cols)
    micro = df.select(
        *[
            F.round(F.col(c).cast("double") * 1e6)
            .cast("decimal(19,0)")
            .alias(c)
            for c in cols
        ]
    )
    out = micro
    for c in cols:
        vals = (
            micro.where(F.col(c).isNotNull())
            .groupBy(c)
            .agg(F.count(F.lit(1)).alias("_cnt"))
        )
        ranked = global_prefix_sums(vals, [c], "_cnt", sum_col="_cum")
        r2map = ranked.select(
            F.col(c),
            (F.lit(2) * F.col("_cum") + F.col("_cnt") + F.lit(1))
            .cast("decimal(19,0)")
            .alias(f"_r2_{c}"),
        )
        out = out.join(r2map, c)
    ranks = out.select(*[F.col(f"_r2_{c}").alias(c) for c in cols])
    return _pearson_matrix(ranks, cols)


def punct_profile(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Typography fingerprint: smart punctuation (curly quotes, em dash,
    ellipsis char) vs ASCII equivalents — professionally-edited text
    uses smart punctuation, scraped/boilerplate/mojibake text doesn't,
    and a HIGH ascii share inside an allegedly-publisher source is a
    provenance tell.  Also the cheap pre-filter for the mojibake
    repairer (curly quotes are its most common casualty).

    Four ``regexp_count`` scans, codegen end-to-end.

    Returns ``(id, n_smart, n_ascii, smart_ratio)`` — ratio NULL when
    the doc has no counted punctuation at all.
    """
    smart = F.regexp_count(
        F.col(text_col), F.lit("[“”‘’—…]")
    )
    ascii_q = F.regexp_count(F.col(text_col), F.lit("[\"']"))
    ascii_d = F.regexp_count(F.col(text_col), F.lit("--"))
    ascii_e = F.regexp_count(F.col(text_col), F.lit(r"\.\.\."))
    n_smart = smart.cast("int")
    n_ascii = (ascii_q + ascii_d + ascii_e).cast("int")
    return df.select(
        F.col(id_col),
        n_smart.alias("n_smart"),
        n_ascii.alias("n_ascii"),
        F.when(
            n_smart + n_ascii > 0,
            F.round(
                n_smart.cast("double") / (n_smart + n_ascii).cast("double"),
                6,
            ),
        ).alias("smart_ratio"),
    )


def hapax_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document hapax profile: how many of a document's distinct
    tokens occur in NO other document (corpus document-frequency 1) —
    OCR noise, mojibake, and generated gibberish are hapax-dense, while
    normal prose shares most of its vocabulary.

    One exploded distinct ``(doc, token)`` table, the corpus df as a
    COUNT WINDOW over the token key (one pass — a groupBy + join-back
    would re-run the tokenize subtree for the probe side), then the
    per-doc rollup.  Token-keyed stages, so stop-word skew is bounded
    by the df-window's combiner-less count (token × doc pairs are
    distinct, the hot token's partition is proportional to its df).

    Returns ``(id, n_distinct_tokens, n_hapax, hapax_ratio)`` — ratio
    NULL for token-less docs.
    """
    from pyspark.sql.window import Window

    toks = (
        df.select(
            F.col(id_col).alias("__id"),
            F.explode_outer(F.array_distinct(_tokens(text_col))).alias("tok"),
        )
        .where(F.col("tok").isNotNull())
    )
    w = Window.partitionBy("tok")
    per = toks.select(
        "__id", F.count(F.lit(1)).over(w).alias("df")
    )
    agg = per.groupBy("__id").agg(
        F.count(F.lit(1)).alias("n_distinct_tokens"),
        F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias("n_hapax"),
    )
    base = df.select(F.col(id_col).alias("__id"))
    out = base.join(agg, "__id", "left")
    n = F.coalesce(F.col("n_distinct_tokens"), F.lit(0))
    h = F.coalesce(F.col("n_hapax"), F.lit(0))
    return out.select(
        F.col("__id").alias(id_col),
        n.cast("int").alias("n_distinct_tokens"),
        h.cast("int").alias("n_hapax"),
        F.when(n > 0, F.round(h.cast("double") / n.cast("double"), 6)).alias(
            "hapax_ratio"
        ),
    )


def term_burstiness(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top: int = 30,
) -> DataFrame:
    """Term burstiness (Church & Gale 1995): content words clump — given
    one occurrence, more follow in the same document — while function
    words spread evenly.  Two exact statistics per term: ``burstiness``
    = mean tf among documents containing it (Σtf / df) and the
    variance-to-mean ratio over ALL documents including zeros (VMR = 1
    for Poisson scatter, ≫ 1 for topical terms).  This separates
    template/boilerplate vocabulary (even scatter) from content terms —
    a signal the template-strip and quality gates consume.

    Zeros never materialize: VMR needs only Σtf, Σtf² (exact integer
    aggregates over the (term, doc) tf table) and the corpus doc count
    N (a 1-row broadcast).  One (doc, term) shuffle + one term shuffle;
    the ``top``-by-Σtf cut is TakeOrderedAndProject with the term
    string breaking boundary ties.

    Returns ``(term, doc_freq, total_tf, burstiness, vmr)``, ``top``
    rows by total_tf.
    """
    toks = df.select(
        F.col(id_col).alias("_id"), F.explode_outer(_tokens(text_col)).alias("term")
    ).where(F.col("term").isNotNull())
    tf = toks.groupBy("_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    per = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("doc_freq"),
        F.sum("tf").cast("long").alias("total_tf"),
        F.sum(F.col("tf") * F.col("tf")).cast("long").alias("_tf2"),
    )
    n = df.agg(F.count(F.lit(1)).alias("_n"))
    p = per.crossJoin(F.broadcast(n))
    mu = F.col("total_tf").cast("double") / F.col("_n").cast("double")
    ex2 = F.col("_tf2").cast("double") / F.col("_n").cast("double")
    return (
        p.select(
            "term", "doc_freq", "total_tf",
            (
                F.round(
                    F.col("total_tf").cast("double")
                    / F.col("doc_freq").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("burstiness"),
            (F.round((ex2 - mu * mu) / mu, 6) + F.lit(0.0)).alias("vmr"),
        )
        .orderBy(F.desc("total_tf"), F.asc("term"))
        .limit(top)
    )


# RAKE stopword seed — shared with the DuckDB oracle in __spark_entry__
# (the alternation is built from THIS tuple on both sides).
RAKE_STOPWORDS: tuple[str, ...] = (
    "the", "and", "of", "to", "a", "in", "is", "was", "it", "for",
    "on", "as", "with", "that", "this", "his", "her", "they", "be",
    "at", "by", "an", "are", "or", "from", "had", "has", "have",
    "not", "but", "were", "which", "you", "he", "she", "we", "their",
)


def rake_keywords(
    docs: DataFrame,
    text_col: str = "text",
    top: int = 50,
    min_occurrences: int = 2,
) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) over the corpus:
    candidate phrases are maximal stopword-free token runs, a word's
    score is ``deg(w)/freq(w)`` (degree = summed length of phrases
    containing it), and a phrase scores the sum of its word scores —
    the classic cheap keyphrase miner for corpus topic profiling.

    Scale shape: phrase splitting is pure per-row regex (two stopword
    boundary passes — adjacent stopwords share a delimiting space, so
    one pass alone misses every second one).  Scoring runs over the
    DISTINCT-phrase table weighted by occurrence counts, so the word
    explode is phrase-vocabulary-sized, not corpus-sized; word scores
    come back via one equi-join on the word.  Scores are integer
    micro-units (``round(1e6·deg/freq)`` per word, exact integer sum
    per phrase) — order-independent and engine-exact.

    Returns ``(phrase, n_words, n_occurrences, score_micro)``, top
    ``top`` by (score, phrase).
    """
    stop_alt = "|".join(RAKE_STOPWORDS)
    norm = F.concat(
        F.lit(" "),
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-zà-öø-ÿ]+", " "),
        F.lit(" "),
    )
    # two passes: a run of adjacent stopwords only half-resolves in one
    # (the shared space is consumed by the left match)
    cut = F.regexp_replace(norm, f" ({stop_alt}) ", " | ")
    cut = F.regexp_replace(cut, f" ({stop_alt}) ", " | ")
    phrases = (
        docs.select(
            F.explode_outer(F.split(cut, "\\|")).alias("_raw")
        )
        .where(F.col("_raw").isNotNull())
        .select(F.trim(F.regexp_replace("_raw", " +", " ")).alias("phrase"))
        .where(F.col("phrase") != "")
    )
    occ = phrases.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("long").alias("n_occ")
    )
    occ = occ.where(F.col("n_occ") >= min_occurrences).localCheckpoint(
        eager=False  # feeds the word explode AND the score join-back
    )
    words = occ.select(
        "phrase",
        "n_occ",
        F.size(F.split("phrase", " ")).cast("long").alias("n_words"),
        F.explode(F.split("phrase", " ")).alias("word"),
    )
    wstats = words.groupBy("word").agg(
        F.sum("n_occ").alias("freq"),
        F.sum(F.col("n_occ") * F.col("n_words")).alias("deg"),
    )
    wscore = wstats.select(
        "word",
        F.round(
            F.lit(1e6) * F.col("deg").cast("double")
            / F.col("freq").cast("double"),
            0,
        ).cast("long").alias("w_micro"),
    )
    scored = (
        words.join(wscore, "word")
        .groupBy("phrase")
        .agg(F.sum("w_micro").cast("long").alias("score_micro"))
    )
    return (
        occ.join(scored, "phrase")
        .select(
            "phrase",
            F.size(F.split("phrase", " ")).cast("int").alias("n_words"),
            F.col("n_occ").alias("n_occurrences"),
            "score_micro",
        )
        .orderBy(F.desc("score_micro"), F.asc("phrase"))
        .limit(top)
    )


def capitalized_phrases(
    docs: DataFrame,
    text_col: str = "text",
    top: int = 50,
    min_count: int = 3,
) -> DataFrame:
    """Multi-word capitalized-run mining — the zero-model named-entity
    sweep ("New York City", "World Health Organization") used to
    profile what a crawl slice is ABOUT before any tagger runs.

    A candidate is a run of ≥ 2 ``Xxxx``-shaped words separated by
    single spaces; runs whose FIRST word is just a capitalized
    stopword ("The Quick...") are dropped, which removes most
    sentence-start noise without positional logic (positional
    sentence-start tracking would need lookbehind — not in RE2, so it
    could never be oracle-mirrored).  One ``regexp_extract_all`` per
    row, one map-side-combined count — the plan is scan → explode →
    agg, nothing else.

    Returns ``(phrase, n_words, n_mentions)``, top ``top`` by
    (mentions, phrase); phrases seen fewer than ``min_count`` times
    are dropped.
    """
    runs = F.expr(
        f"regexp_extract_all({text_col}, "
        "'[A-Z][a-z]+( [A-Z][a-z]+)+', 0)"
    )
    stop_first = tuple(s.capitalize() for s in RAKE_STOPWORDS)
    first_word = F.split(F.col("phrase"), " ")[0]
    return (
        # explode_outer: plain explode gets an inferred size(arr)>0
        # filter with the regexp_extract_all re-inlined (double scan)
        docs.select(F.explode_outer(runs).alias("phrase"))
        .where(F.col("phrase").isNotNull() & ~first_word.isin(*stop_first))
        .groupBy("phrase")
        .agg(F.count(F.lit(1)).cast("long").alias("n_mentions"))
        .where(F.col("n_mentions") >= min_count)
        .select(
            "phrase",
            F.size(F.split("phrase", " ")).cast("int").alias("n_words"),
            "n_mentions",
        )
        .orderBy(F.desc("n_mentions"), F.asc("phrase"))
        .limit(top)
    )


def burrows_delta(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "group",
    top_words: int = 100,
    max_groups: int = 20,
) -> DataFrame:
    """Burrows' Delta — the standard stylometric distance between text
    groups (authors, domains, suspected content farms): z-score each
    group's relative frequency of the corpus' top function words against
    the across-group distribution, then Delta(a,b) = mean |z_a − z_b|.
    In a curation pipeline it flags style-clone clusters (one operator
    ghost-writing many "independent" domains) and audits style mixture
    across corpus tiers — signals token-level dedup can't see because
    the texts share no literal n-grams.

    Exactness contract (every stage SQL-replayable):
    * relative frequency in exact NANO units: ``f = (n·1e9) div total_g``
      (integral div — the Fleiss/alpha device);
    * z numerator ``f·G − Σf`` stays exact integer; the denominator is
      one ``sqrt(G·Σf² − (Σf)²)`` of an exact integer (both engines'
      IEEE-correctly-rounded sqrt), so
      ``z_a − z_b = (num_a − num_b)/den`` costs ONE float division;
    * each pair term is floor-quantized to MICRO units before the
      over-words sum, making the mean order-independent; zero-variance
      words (den = 0) are excluded from both the sum and the divisor.

    Scale shape: one map-side-combinable (group, word) count is the only
    corpus-volume exchange; everything after runs on slim aggregates.
    The pair stage is O(G²·W) so groups are capped at ``max_groups``
    (top token volume, name tie-break) — Delta is a panel statistic, not
    an all-corpus join; raise the cap deliberately.

    Returns ``(group_a, group_b, n_words, delta)`` for unordered pairs
    of included groups, NULL delta when no word has variance.
    """
    toks = df.select(
        F.col(group_col).alias("g"),
        F.explode_outer(_tokens(text_col)).alias("w"),
    ).where(F.col("w").isNotNull())
    # ONE corpus pass: every downstream branch (totals, word top-k, the
    # dense panel, stats, both self-join sides) re-derives from `counts`,
    # and without the checkpoint Spark re-executes the explode+count
    # subtree per branch — a 20-scan plan at corpus volume (caught by the
    # plan-shape test; the dedup.py lazy-checkpoint precedent)
    counts = (
        toks.groupBy("g", "w")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    totals = counts.groupBy("g").agg(F.sum("n").alias("total"))
    # bounded top-k via orderBy+limit (TakeOrdered: per-partition partial
    # top-k, driver merge) — a global row_number window would drag the
    # whole group/vocab table through ONE partition (the build_vocab rule)
    groups = (
        totals.where(F.col("total") > 0)
        .orderBy(F.col("total").desc(), F.col("g").asc())
        .limit(max_groups)
    )
    in_counts = counts.join(F.broadcast(groups.select("g")), "g")
    words = (
        in_counts.groupBy("w")
        .agg(F.sum("n").alias("wn"))
        .orderBy(F.col("wn").desc(), F.col("w").asc())
        .limit(top_words)
        .select("w")
    )
    dense = (
        groups.crossJoin(F.broadcast(words))
        .join(in_counts, ["g", "w"], "left")
        .select(
            "g",
            "w",
            F.expr(
                "(CAST(coalesce(n, 0) AS DECIMAL(38,0)) * 1000000000)"
                " div CAST(total AS DECIMAL(38,0))"
            ).cast("decimal(38,0)").alias("f"),
        )
    )
    stats = dense.groupBy("w").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("gn"),
        F.sum("f").alias("sum_f"),
        F.sum(F.col("f") * F.col("f")).alias("sum_f2"),
    )
    z = dense.join(F.broadcast(stats), "w").select(
        "g",
        "w",
        (F.col("f") * F.col("gn") - F.col("sum_f")).alias("num"),
        F.sqrt(
            (F.col("gn") * F.col("sum_f2") - F.col("sum_f") * F.col("sum_f"))
            .cast("double")
        ).alias("den"),
    )
    a, b = z.alias("a"), z.alias("b")
    pair_terms = a.join(
        b, on=[F.col("a.w") == F.col("b.w"), F.col("a.g") < F.col("b.g")]
    ).select(
        F.col("a.g").alias("group_a"),
        F.col("b.g").alias("group_b"),
        F.col("a.den").alias("den"),
        F.when(
            F.col("a.den") > 0,
            F.floor(
                F.lit(1e6)
                * F.abs((F.col("a.num") - F.col("b.num")).cast("double"))
                / F.col("a.den")
            ).cast("decimal(38,0)"),
        ).alias("term_micro"),
    )
    return (
        pair_terms.groupBy("group_a", "group_b")
        .agg(
            F.sum(F.when(F.col("den") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_words"),
            F.sum("term_micro").alias("sum_micro"),
        )
        .select(
            "group_a",
            "group_b",
            "n_words",
            F.when(
                F.col("n_words") > 0,
                F.round(
                    F.col("sum_micro").cast("double")
                    / (F.col("n_words").cast("double") * 1e6),
                    6,
                ),
            ).alias("delta"),
        )
    )

_CARD_RUN_RE = r"[0-9][0-9 \-]{11,30}[0-9]"


def credit_card_hits(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Checksum-validated credit-card detection — the precision upgrade
    over :data:`PII_PATTERNS`' shape-only classes: a digit run only
    counts as a card if its separator-stripped digits are 13-19 long AND
    pass the Luhn mod-10 checksum (ISO/IEC 7812), which rejects ~90% of
    random digit runs of card-like length.  Returns one row per doc:
    ``(id, n_card_candidates, n_cards_valid)``.

    Candidates are MAXIMAL digit/space/dash runs (greedy, no lookaround —
    the pattern class that behaves identically under Java regex and RE2;
    two cards separated by a single space merge into one over-long,
    hence invalid, candidate — the inherent ambiguity of in-card
    separators, documented rather than papered over).  The Luhn sum is
    pure integer column algebra over the reversed digit string
    (double every second digit, subtract 9 above 9, sum mod 10) — both
    engines compute identical integers.

    Scale: one narrow pass (regexp extract + bounded per-candidate
    arithmetic — runs are ≤ 31 chars); the per-doc rollup collapses
    map-side.  No shuffle carries text."""
    # coalesce: F.size(NULL array) is -1, so a NULL text must extract
    # from '' (zero candidates), not propagate
    runs = F.expr(
        f"regexp_extract_all(coalesce({text_col}, ''), '{_CARD_RUN_RE}', 0)"
    )
    digits = lambda r: F.translate(r, " -", "")  # noqa: E731
    rev_chars = lambda r: F.split(F.reverse(digits(r)), "")  # noqa: E731
    luhn_sum = lambda r: F.aggregate(  # noqa: E731
        F.zip_with(
            rev_chars(r),
            F.sequence(F.lit(1), F.length(digits(r))),
            lambda c, i: F.when(
                i % 2 == 0,
                F.when(
                    (F.ascii(c) - 48) * 2 > 9, (F.ascii(c) - 48) * 2 - 9
                ).otherwise((F.ascii(c) - 48) * 2),
            ).otherwise(F.ascii(c) - 48),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    ok = lambda r: (  # noqa: E731
        F.length(digits(r)).between(13, 19) & (luhn_sum(r) % 10 == 0)
    )
    valid = F.size(F.filter(runs, ok))
    return df.select(
        F.col(id_col),
        F.size(runs).alias("n_card_candidates"),
        valid.alias("n_cards_valid"),
    )


def pseudonymize_pii(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "pii",
) -> DataFrame:
    """Deterministic pseudonymization — the RELEASE-side alternative to
    :func:`scrub_pii`'s blanket redaction: every email / IPv4 occurrence
    is replaced by a STABLE per-value token
    (``<EMAIL:1a2b3c4d5e6f>`` — salted-md5 prefix), so the same address
    maps to the same token corpus-wide.  Joinability survives the
    release (actor-level dedup, reply graphs, per-author statistics all
    still work on tokens) while the raw identifier never appears —
    exactly the trade k-anonymity-era literature calls pseudonymization
    rather than anonymization, and why the l-diversity/t-closeness
    audits still apply downstream.  Phone-shaped digit runs are NOT
    pseudonymized
    (scrub those): the pattern is too loose to define a stable identity.

    Mechanics (all codegen column algebra, no UDF): per class the
    DISTINCT matches from one ``regexp_extract_all`` are sorted
    ``(length desc, value asc)`` and folded through literal
    ``replace`` — longest-first so a match that is a substring of
    another (``a@b.com`` inside ``xa@b.com``) can never corrupt the
    longer one; literal replace so match text is never re-interpreted
    as regex.  The fold is an ``aggregate`` lambda over the bounded
    per-doc match array; the SQL oracle replays it with DuckDB
    ``list_reduce`` over the same struct-sorted list."""
    txt = F.col(text_col)
    counts = []
    for name, pat, _tok in PII_PATTERNS[:2]:  # email, ip — ordered
        matches = F.array_sort(
            F.array_distinct(F.regexp_extract_all(txt, F.lit(pat), 0)),
            lambda a, b: F.when(F.length(a) > F.length(b), F.lit(-1))
            .when(F.length(a) < F.length(b), F.lit(1))
            .when(a < b, F.lit(-1))
            .when(a > b, F.lit(1))
            .otherwise(F.lit(0)),
        )
        token = lambda m, _n=name: F.concat(  # noqa: E731 — tight closure
            F.lit("<" + _n.upper() + ":"),
            F.substring(F.md5(F.concat(F.lit(salt + ":"), m)), 1, 12),
            F.lit(">"),
        )
        txt = F.aggregate(
            matches, txt, lambda acc, m: F.replace(acc, m, token(m))
        )
        counts.append(F.size(matches).alias(f"n_{name}_ids"))
    return df.select(F.col(id_col), *counts, txt.alias("pseudo_text"))
