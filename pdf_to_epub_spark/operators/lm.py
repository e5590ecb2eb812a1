"""Character-bigram language-model quality scoring (CCNet-style).

CCNet (Wenzek et al., LREC 2020) buckets web documents by the perplexity
of a small LM trained on a clean corpus — the single most load-bearing
quality signal in Common-Crawl pipelines.  This is that operator with the
smallest honest model that stays engine-reproducible: an add-one-smoothed
character-bigram LM over a 28-symbol alphabet (``a-z``, space, ``#`` for
everything else after lowercasing).

Determinism contract: per-bigram costs are stored as integer **micro-nats**
(``round(-ln(p) * 1e6)``), so every per-document score is a sum of
integers — order-independent, hash-stable across Spark and the DuckDB
oracle (float summation order never enters the result).  The only float
step is the one ``ln`` per model row; a cross-engine mismatch would need
the true value within ~1e-9 of a rounding boundary — negligible over a
<=784-row model.

Scale design (100 TB):
- Model training is one Arrow pass that emits at most 784 (bigram code,
  count) rows per batch, then a map-side-combined groupBy and a BOUNDED
  784-row collect: training shuffles O(batches * 784) slim rows regardless
  of corpus size, and the driver holds one 784-entry cost vector.
- Scoring is a narrow row stage (``sources/_arrow.map_rows``) over the
  scan with ZERO shuffles: the cost vector ships in the closure and each
  document's score is ``costvec[codes].sum()`` over its numpy bigram
  codes.  No text, array, or float rides any shuffle.
- ``train_df`` lets production train on a clean split (the CCNet shape:
  train on Wikipedia, score Common Crawl) — unseen bigrams then fall back
  to the smoothed per-context floor, and unseen contexts to the uniform
  ``-ln(1/V)``.

Reference parity note: no analog in the reference (a per-book converter);
part of the training-data surface this build adds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from pdf_to_epub_spark.sources._arrow import map_rows

ALPHABET_SIZE = 28  # a-z, space, '#'
_MICRO = 1_000_000.0


def _char_lut():
    """256-entry byte->code table: a-z -> 0..25, space -> 26, '#' -> 27.
    Valid because normalized text is pure ASCII by construction."""
    import numpy as np

    lut = np.full(256, 27, dtype=np.int64)
    for i in range(26):
        lut[ord("a") + i] = i
    lut[ord(" ")] = 26
    return lut


def _train_cost_vector(df: DataFrame, id_col: str, text_col: str):
    """Model fit: global bigram-code counts (one mapInArrow pass
    emitting <=784 slim rows per batch, map-side-combined groupBy, then a
    BOUNDED 784-row collect — same driver-collect budget as the IVF
    centroid sample), turned into the full 784-entry integer micro-nat
    cost table.  Full-table add-one smoothing makes the seen/floor/uniform
    distinction fall out of the same formula: count 0 with a seen context
    gives the floor cost, an unseen context gives -ln(1/V)."""
    import re

    import numpy as np
    import pyarrow as pa

    lut = _char_lut()
    sub = re.compile("[^a-z ]")

    def count_batches(it):
        for batch in it:
            acc = np.zeros(784, dtype=np.int64)
            for t in batch.column(0).to_pylist():
                if t is None:
                    continue
                a = lut[np.frombuffer(sub.sub("#", t.lower()).encode("ascii"),
                                      dtype=np.uint8)]
                if len(a) >= 2:
                    acc += np.bincount(a[:-1] * 28 + a[1:], minlength=784)
            nz = np.nonzero(acc)[0]
            yield pa.RecordBatch.from_arrays(
                [pa.array(nz.astype(np.int64)), pa.array(acc[nz])],
                names=["code", "cnt"],
            )

    rows = (
        df.select(F.col(text_col))
        .mapInArrow(count_batches, "code long, cnt long")
        .groupBy("code")
        .agg(F.sum("cnt").alias("n"))
        .collect()
    )
    counts = np.zeros(784, dtype=np.int64)
    for r in rows:
        counts[r["code"]] = r["n"]
    n_c1 = counts.reshape(28, 28).sum(axis=1)
    # integer micro-nats, half-up (costs are positive) — matches Spark
    # ROUND HALF_UP and the DuckDB oracle's round-half-away
    p = (counts + 1.0) / (np.repeat(n_c1, 28) + float(ALPHABET_SIZE))
    return np.floor(-np.log(p) * _MICRO + 0.5).astype(np.int64)


def bigram_lm_scores(
    df: DataFrame,
    train_df: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score every document under the bigram LM.

    Returns ``(doc_id, n_bigrams, cost_micro_total)`` — all integers.
    Cross-entropy in nats is ``cost_micro_total / (1e6 * n_bigrams)``;
    perplexity its exp.  Documents shorter than 2 normalized chars score
    ``(0, 0)``.

    Both passes are vectorized in numpy over Arrow batches: training
    collects a bounded 784-row count table, scoring is
    ``costvec[codes].sum()`` per doc with ZERO shuffles (the model ships
    in the closure).  Lowercasing is Python's full case mapping, the same
    as DuckDB's utf8proc in the entry oracle, which tests run over an
    edge corpus (empty, one-char, symbol-only and non-ASCII texts).
    """
    import re

    import numpy as np

    costvec = _train_cost_vector(
        train_df if train_df is not None else df, id_col, text_col
    )
    lut = _char_lut()
    sub = re.compile("[^a-z ]")
    sel = df.select(F.col(id_col).alias("doc_id"), F.col(text_col))
    schema = StructType([
        StructField("doc_id", sel.schema["doc_id"].dataType),
        StructField("n_bigrams", LongType()),
        StructField("cost_micro_total", LongType()),
    ])

    def rows(doc_id, text):
        a = lut[
            np.frombuffer(
                sub.sub("#", (text or "").lower()).encode("ascii"),
                dtype=np.uint8,
            )
        ]
        if len(a) < 2:
            return [(doc_id, 0, 0)]
        codes = a[:-1] * 28 + a[1:]
        return [(doc_id, len(codes), int(costvec[codes].sum()))]

    return map_rows(sel, sel.columns, schema, rows)


def lm_partition(
    scores: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet §4.3 perplexity partition: bucket documents into
    ``head`` / ``middle`` / ``tail`` thirds by mean bigram cost (the
    perplexity proxy — exp is monotonic, so bucketing on mean nats is
    bucketing on perplexity).

    Scale shape: the two tertile cutoffs come from ONE exact
    ``percentile`` aggregation over the slim (id, mean) projection —
    a single partial-aggregated pass, broadcast back as two doubles; no
    global sort, no window over the corpus.  (At 100 TB swap in
    ``percentile_approx`` — documented trade, same plan shape.)

    Determinism across engines: means and cutoffs are rounded to 6
    decimals BEFORE comparison, so the boundary predicate compares the
    same rounded doubles in Spark and the DuckDB oracle replay.  Docs
    with no bigrams (sub-2-char) have no perplexity and land in ``tail``
    explicitly.  Bucket sizes are ~n/3 ± ties (ties at a cutoff all take
    the lower bucket — value-deterministic, id-independent)."""
    mean = F.round(
        F.col("cost_micro_total")
        / F.greatest(F.col("n_bigrams"), F.lit(1)).cast("double")
        / F.lit(1e6),
        6,
    )
    slim = scores.select(
        F.col(id_col), F.col("n_bigrams"), mean.alias("mean_nats")
    )
    cuts = slim.where(F.col("n_bigrams") > 0).agg(
        F.round(F.expr("percentile(mean_nats, 1.0/3)"), 6).alias("_c1"),
        F.round(F.expr("percentile(mean_nats, 2.0/3)"), 6).alias("_c2"),
    )
    bucket = (
        F.when(F.col("n_bigrams") == 0, F.lit("tail"))
        .when(F.col("mean_nats") <= F.col("_c1"), F.lit("head"))
        .when(F.col("mean_nats") <= F.col("_c2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        slim.crossJoin(F.broadcast(cuts))
        .select(F.col(id_col), F.col("mean_nats"), bucket.alias("lm_bucket"))
    )

def good_turing(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Good-Turing frequency-of-frequencies table over word counts
    (Good 1953; the Katz/SGT smoothing input): for every observed
    occurrence count ``r``, the number of distinct words seen exactly
    ``r`` times (``n_r``), the discounted count ``r* = (r+1)·N_{r+1}/N_r``
    and the Good-Turing probability ``p_GT = r*/T`` (``T`` = corpus
    tokens).  The unseen-mass estimate ``P0 = N_1/T`` is read off the
    ``r = 1`` row (``p0 = n_1/T``).  Rows where ``N_{r+1} = 0`` carry
    NULL estimates (Simple GT would regress over log ``n_r`` there; the
    raw table is the engine-reproducible part).

    Determinism contract: ``r*`` and ``p_GT`` are floor-quantized exact
    integer ratios computed in DECIMAL(38,0) — ``r_star_micro =
    (1e6·(r+1)·N_{r+1}) div N_r``, ``p_gt_nano = (1e9·(r+1)·N_{r+1})
    div (N_r·T)`` — no float enters the result, so the table replays
    bit-for-bit in the SQL oracle (HUGEINT ``//``; truncation == floor
    for the non-negative operands here).

    Scale shape (100 TB): the corpus-volume pass is ONE map-side-combined
    word count (the vocab shuffle); frequency-of-frequencies collapses
    that to at most |distinct count values| rows (~thousands at any
    scale — bounded by max doc frequency's log-ish spread), and every
    downstream step (total, the r+1 self-join) runs on that slim table
    behind a lazy checkpoint, broadcast-joined.  No second corpus scan,
    nothing wide on any shuffle."""
    from .textstats import _tokens

    counts = (
        df.select(F.explode(_tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("r"))
    )
    # slim (r, n_r) table; checkpoint: it feeds the total, the shifted
    # self-join AND the output — without it the corpus word count reruns
    fof = (
        counts.groupBy("r")
        .agg(F.count(F.lit(1)).alias("n_r"))
        .localCheckpoint(eager=False)
    )
    tot = fof.agg(
        F.sum(F.col("r").cast("decimal(38,0)") * F.col("n_r")).alias("_t")
    )
    nxt = fof.select((F.col("r") - 1).alias("r"), F.col("n_r").alias("_n_r1"))
    return (
        fof.join(F.broadcast(nxt), "r", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("r").cast("long").alias("r"),
            F.col("n_r").cast("long").alias("n_r"),
            F.expr(
                "(CAST(1000000 AS DECIMAL(38,0)) * (r + 1) * _n_r1)"
                " div CAST(n_r AS DECIMAL(38,0))"
            ).cast("long").alias("r_star_micro"),
            F.expr(
                "(CAST(1000000000 AS DECIMAL(38,0)) * (r + 1) * _n_r1)"
                " div (CAST(n_r AS DECIMAL(38,0)) * _t)"
            ).cast("long").alias("p_gt_nano"),
        )
    )

# ---------------------------------------------------------------------------
# Interpolated Kneser-Ney word-bigram LM (the KenLM/CCNet model family)

_KN_D_NUM, _KN_D_DEN = 3, 4  # absolute discount D = 3/4, exact rational


def _word_pair_rows(
    df: DataFrame, id_col: str, text_col: str, keep_empty: bool = False
) -> DataFrame:
    """(doc_id, w1, w2) — one row per adjacent word pair WITHIN a doc
    (pairs never cross documents).  Narrow: tokens stay an array and the
    shift-zip happens per row, so no window/shuffle touches the corpus;
    ``keep_empty`` emits one null-pair row for docs with <2 tokens
    (explode_outer) so scoring keeps every doc without a join-back."""
    from .textstats import _tokens

    n = F.size(F.col("_ws"))
    pairs = F.when(
        n >= 2,
        F.zip_with(
            F.slice("_ws", 1, n - 1),
            F.slice(F.col("_ws"), 2, n - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    explode = F.explode_outer if keep_empty else F.explode
    return (
        df.select(
            F.col(id_col).alias("doc_id"), _tokens(text_col).alias("_ws")
        )
        .select("doc_id", explode(pairs).alias("_p"))
        .select("doc_id", F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2"))
    )


_UNK_IDX = -1  # the <unk> slot of the integer vocabulary


def _map_idx(df: DataFrame, vocab: DataFrame, col: str) -> DataFrame:
    """Map word column ``col`` to its integer vocab id (``_UNK_IDX`` for
    OOV) via a broadcast left join — every downstream shuffle and join
    then carries slim ints instead of corpus-volume strings.  NULLs pass
    through: the keep_empty marker rows of :func:`_word_pair_rows` must
    never masquerade as ``<unk>`` pairs."""
    v = vocab.select(
        F.col("word").alias(f"_w_{col}"), F.col("idx").alias(f"_i_{col}")
    )
    return df.join(
        F.broadcast(v), df[col] == F.col(f"_w_{col}"), "left"
    ).withColumn(
        col,
        F.when(
            df[col].isNotNull(),
            F.coalesce(F.col(f"_i_{col}"), F.lit(_UNK_IDX)),
        ),
    ).drop(f"_w_{col}", f"_i_{col}")


def train_kn_bigram(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 256,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame, DataFrame]:
    """Fit an interpolated Kneser-Ney word-bigram LM (Kneser & Ney 1995;
    Chen & Goodman 1999 eq. 4.25) — the model family behind KenLM, hence
    the CCNet quality-filtering stack.  Out-of-vocabulary words (beyond
    the top-``vocab_size`` corpus words) map to ``<unk>`` on BOTH the
    training and scoring sides.

        P(w2|w1) = (max(c12 - D, 0) + D·N1+(w1,·)·Pcont(w2)) / c1(w1)
        Pcont(w2) = N1+(·,w2) / N1+(·,·),   D = 3/4

    Returns ``(vocab, pairs_c, ctx, cont, scalars)``: ``vocab`` the
    top-k word table scoring must map through (rebuilding it from pair
    counts would silently drop vocab words that never enter a training
    bigram);
    ``pairs_c = (w1, w2, c12)`` observed bigram counts keyed by INTEGER
    vocab ids (``idx`` from the vocab table; OOV/``<unk>`` = -1) — ints,
    not words, so every corpus-volume shuffle and every scoring join
    probe is slim (≤ (k+1)² types, in practice far fewer);
    ``ctx = (w1, c1, n1f)`` context totals and distinct-continuation
    counts; ``cont = (w2, n1b)`` distinct-history counts;
    ``scalars = (n1all,)`` the total bigram-type count.  All counts are
    exact integers — the probability is the rational
    ``(max(4·c12-3, 0)·n1all + 3·n1f·n1b) / (4·c1·n1all)``, so scoring
    can quantize ONE correctly-rounded log per distinct pair.

    Scale shape (100 TB): tokens stay arrays (no per-token shuffle); raw
    pairs explode narrowly, map through two broadcast vocab joins to
    integer ids, and the ONE corpus-volume shuffle is the
    map-side-combined (w1, w2) INT count.  ctx / cont / n1all all derive
    from that ≤(k+1)²-row table behind a lazy checkpoint."""
    from .textstats import build_vocab

    # idx assignment: a ≤k-row window — deterministic (count desc, word
    # asc, build_vocab's own top-k order).  Lazy checkpoint: the vocab
    # feeds FOUR broadcast exchanges (two _map_idx joins at train, two at
    # score) whose column aliases differ, so ReusedExchange never kicks
    # in — without the checkpoint the corpus word count re-executes once
    # per exchange.
    from pyspark.sql.window import Window

    vocab = (
        build_vocab(df, k=vocab_size, text_col=text_col)
        .withColumn(
            "idx",
            F.row_number().over(
                Window.orderBy(F.desc("n"), F.asc("word"))
            ),
        )
        .localCheckpoint(eager=False)
    )
    raw = _word_pair_rows(df, id_col, text_col)
    mapped = _map_idx(_map_idx(raw, vocab, "w1"), vocab, "w2")
    pairs_c, ctx, cont, scalars = _kn_stats(mapped)
    return vocab, pairs_c, ctx, cont, scalars


def _kn_stats(
    mapped: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """KN count tables from the mapped integer pair stream; the (w1, w2)
    count is the one corpus-volume shuffle, everything else derives from
    it behind a lazy checkpoint.  Null-pair marker rows (keep_empty
    streams) are excluded here so shared streams need no pre-filter."""
    pairs_c = (
        mapped.where(F.col("w1").isNotNull())
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .localCheckpoint(eager=False)
    )
    ctx = pairs_c.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n1f")
    )
    cont = pairs_c.groupBy("w2").agg(F.count(F.lit(1)).alias("n1b"))
    scalars = pairs_c.agg(F.count(F.lit(1)).alias("n1all"))
    return pairs_c, ctx, cont, scalars


def kn_bigram_scores(
    df: DataFrame,
    model: tuple[DataFrame, DataFrame, DataFrame, DataFrame, DataFrame],
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 256,
) -> DataFrame:
    """Score documents under a :func:`train_kn_bigram` model: per doc,
    the number of scored word pairs and the total cost in integer
    micro-nats (``round(-ln P · 1e6)`` summed — order-independent, the
    package-wide determinism contract).  Column names match
    :func:`bigram_lm_scores` so :func:`lm_partition` buckets either.

    Fallback ladder (each case documented, engine-reproducible):
    unseen pair → the interpolated formula with ``c12 = 0``; unseen
    CONTEXT (``c1`` null — a vocab word that never starts a training
    bigram, or ``<unk>`` absent from training) → pure continuation
    ``Pcont(w2)``; numerator still zero (``w2`` never a continuation) →
    uniform ``1/(vocab_size+1)`` whose cost constant is computed in
    Python and embedded as a literal on both engines (java.Math.log and
    libm may disagree on the last ulp; a literal cannot).  Pass the SAME
    ``vocab_size`` as the training call — it parameterizes that uniform
    constant (the model tuple carries no scalar channel for it).

    Scale: all stat joins probe INTEGER vocab ids (the token stream maps
    through the broadcast vocab once, then never carries a string);
    ``ctx``/``cont`` are ≤(k+1)-row broadcasts and the pair table is
    broadcast too (top-k vocabularies keep it small).  Doc totals
    collapse map-side to one row per doc before the only wide shuffle."""
    vocab, pairs_c, ctx, cont, scalars = model
    scored = _map_idx(
        _map_idx(
            _word_pair_rows(df, id_col, text_col, keep_empty=True),
            vocab,
            "w1",
        ),
        vocab,
        "w2",
    )
    return (
        _kn_cost_stream(scored, (pairs_c, ctx, cont, scalars), vocab_size)
        .groupBy("doc_id")
        .agg(
            F.count("_cost").alias("n_bigrams"),
            F.coalesce(F.sum("_cost"), F.lit(0)).cast("long").alias(
                "cost_micro_total"
            ),
        )
        .withColumnRenamed("doc_id", id_col)
    )


def _kn_cost_stream(
    scored: DataFrame,
    stats: tuple[DataFrame, DataFrame, DataFrame, DataFrame],
    vocab_size: int,
) -> DataFrame:
    """The KN join/cost core: mapped integer pair stream + count tables
    → ``(doc_id, _cost)`` rows (one per scored bigram, integer
    micro-nats; NULL-cost marker rows for bigram-less docs from
    ``keep_empty`` streams).  Shared by the total-sum rollup
    (:func:`kn_bigram_scores`) and the per-doc order statistics
    (:func:`mink_prob_scores`)."""
    import math

    pairs_c, ctx, cont, scalars = stats
    uniform_micro = round(math.log(vocab_size + 1) * 1e6)
    dec = "decimal(38,0)"
    j = (
        scored.join(F.broadcast(pairs_c), ["w1", "w2"], "left")
        .join(F.broadcast(ctx), "w1", "left")
        .join(F.broadcast(cont), "w2", "left")
        .crossJoin(F.broadcast(scalars))
    )
    c12 = F.coalesce(F.col("c12"), F.lit(0)).cast(dec)
    n1f = F.coalesce(F.col("n1f"), F.lit(0)).cast(dec)
    n1b = F.coalesce(F.col("n1b"), F.lit(0)).cast(dec)
    n1all = F.col("n1all").cast(dec)
    c1 = F.col("c1").cast(dec)
    num = (
        F.greatest(c12 * _KN_D_DEN - _KN_D_NUM, F.lit(0).cast(dec)) * n1all
        + F.lit(_KN_D_NUM).cast(dec) * n1f * n1b
    )
    den = F.lit(_KN_D_DEN).cast(dec) * c1 * n1all
    cost = (
        F.when(F.col("w1").isNull(), F.lit(None).cast("long"))
        .when(
            F.col("c1").isNotNull() & (num > 0),
            F.round(
                -F.log(num.cast("double") / den.cast("double")) * 1e6, 0
            ).cast("long"),
        )
        .when(
            F.col("c1").isNull() & (n1b > 0),
            F.round(
                -F.log(n1b.cast("double") / n1all.cast("double")) * 1e6, 0
            ).cast("long"),
        )
        .otherwise(F.lit(int(uniform_micro)))
    )
    return j.select("doc_id", cost.alias("_cost"))


def mink_prob_scores(
    df: DataFrame,
    model: tuple[DataFrame, DataFrame, DataFrame, DataFrame, DataFrame],
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 256,
    k_pct: int = 20,
) -> DataFrame:
    """Min-K% Prob membership/contamination signal (Shi et al. 2024,
    "Detecting Pretraining Data from Large Language Models"): per doc,
    the mean negative log-probability of its ``k_pct``% LEAST probable
    bigrams under a :func:`train_kn_bigram` model.  A document the
    model has memorized has no low-probability outlier tokens, so a LOW
    min-k cost flags likely members of (contaminants in) the training
    corpus — the audit to run with a benchmark-trained model before
    trusting eval numbers.

    Determinism contract: costs are the same integer micro-nats as
    :func:`kn_bigram_scores`; the k% selection is top-⌈n·k/100⌉ BY VALUE
    of the per-doc sorted cost array (tie order can't matter in a sum),
    the count is exact-integer ``(n·k + 99) div 100``, and
    ``mink_cost_micro`` is an integer sum — only the reported
    ``mink_mean_nats`` does one final 6-dp-rounded division.

    Scale shape: everything up to the rollup is the shared
    :func:`_kn_cost_stream` (broadcast stat joins over integer ids);
    the per-doc cost array rides ONE slim (doc_id, int64) shuffle and
    is bounded by doc length — the same bound tokenization already
    carries."""
    vocab, pairs_c, ctx, cont, scalars = model
    scored = _map_idx(
        _map_idx(
            _word_pair_rows(df, id_col, text_col, keep_empty=True),
            vocab,
            "w1",
        ),
        vocab,
        "w2",
    )
    costs = _kn_cost_stream(scored, (pairs_c, ctx, cont, scalars), vocab_size)
    per = costs.groupBy("doc_id").agg(
        F.count("_cost").alias("n_bigrams"),
        F.sort_array(F.collect_list("_cost"), asc=False).alias("_cs"),
    )
    m = F.expr(f"CAST((n_bigrams * {int(k_pct)} + 99) DIV 100 AS INT)")
    top = F.coalesce(
        F.aggregate(
            F.slice(F.col("_cs"), F.lit(1), m),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
        F.lit(0).cast("long"),
    )
    return per.select(
        F.col("doc_id").alias(id_col),
        "n_bigrams",
        m.cast("long").alias("mink_n"),
        top.alias("mink_cost_micro"),
        F.when(
            m > 0,
            F.round(
                top.cast("double") / m.cast("double") / F.lit(1e6), 6
            )
            + F.lit(0.0),
        ).alias("mink_mean_nats"),
    )


def kn_arpa_table(
    model: tuple[DataFrame, DataFrame, DataFrame, DataFrame, DataFrame],
) -> DataFrame:
    """The :func:`train_kn_bigram` model as an ARPA-shaped table — the
    KenLM/SRILM interop surface: one row per n-gram,
    ``(ngram_order, ngram, logp_micro_nats, backoff_micro_nats)``.

    * 1-grams: the continuation distribution ``P(w) = N1+(·,w)/N1+(·,·)``
      (what interpolated KN backs off to), with backoff weight
      ``b(w) = D·N1+(w,·)/c1(w) = 3·n1f/(4·c1)`` — exactly the
      interpolation mass :func:`kn_bigram_scores` gives unseen pairs,
      so ``P(w2|w1) = b(w1)·P(w2)`` reproduces the scorer.  Words never
      seen as a continuation / never opening a bigram carry NULL
      logp / backoff (no smoothing floor is invented).
    * 2-grams: the full interpolated probability of every OBSERVED pair
      — the same exact rational as scoring,
      ``(max(4c12−3,0)·n1all + 3·n1f·n1b) / (4·c1·n1all)``.

    Values are signed micro-NATS (``round(ln p · 1e6)``, negative) —
    the engine-exact form; an ARPA serializer divides by ``ln 10·1e6``
    at write time (log10 is NOT computed here: Java's ``Math.log10``
    is only 1-ulp accurate, which would break the oracle replay the
    package's correctly-rounded ``ln`` convention exists to protect).

    Scale shape: every input is an already-aggregated model table
    (≤(k+1)² rows); two broadcast vocab joins map ids back to words;
    no corpus access at all."""
    vocab, pairs_c, ctx, cont, scalars = model
    words = vocab.select("idx", "word").unionByName(
        vocab.sparkSession.createDataFrame(
            [(-1, "<unk>")], "idx int, word string"
        )
    )
    dec = "decimal(38,0)"
    uni = (
        words.join(cont.withColumnRenamed("w2", "idx"), "idx", "left")
        .join(ctx.withColumnRenamed("w1", "idx"), "idx", "left")
        .crossJoin(F.broadcast(scalars))
        .select(
            F.lit(1).alias("ngram_order"),
            F.col("word").alias("ngram"),
            F.when(
                F.col("n1b").isNotNull(),
                F.round(
                    F.log(
                        F.col("n1b").cast("double")
                        / F.col("n1all").cast("double")
                    )
                    * 1e6,
                    0,
                ).cast("long"),
            ).alias("logp_micro_nats"),
            F.when(
                F.col("c1").isNotNull(),
                F.round(
                    F.log(
                        (F.lit(_KN_D_NUM).cast(dec) * F.col("n1f").cast(dec))
                        .cast("double")
                        / (F.lit(_KN_D_DEN).cast(dec) * F.col("c1").cast(dec))
                        .cast("double")
                    )
                    * 1e6,
                    0,
                ).cast("long"),
            ).alias("backoff_micro_nats"),
        )
    )
    num = (
        F.greatest(
            F.col("c12").cast(dec) * _KN_D_DEN - _KN_D_NUM,
            F.lit(0).cast(dec),
        )
        * F.col("n1all").cast(dec)
        + F.lit(_KN_D_NUM).cast(dec)
        * F.col("n1f").cast(dec)
        * F.col("n1b").cast(dec)
    )
    den = (
        F.lit(_KN_D_DEN).cast(dec)
        * F.col("c1").cast(dec)
        * F.col("n1all").cast(dec)
    )
    bi = (
        pairs_c.join(ctx, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(scalars))
        .join(
            F.broadcast(words.withColumnRenamed("word", "_wa")),
            F.col("w1") == F.col("idx"),
        )
        .drop("idx")
        .join(
            F.broadcast(words.withColumnRenamed("word", "_wb")),
            F.col("w2") == F.col("idx"),
        )
        .select(
            F.lit(2).alias("ngram_order"),
            F.concat_ws(" ", "_wa", "_wb").alias("ngram"),
            F.round(
                F.log(num.cast("double") / den.cast("double")) * 1e6, 0
            )
            .cast("long")
            .alias("logp_micro_nats"),
            F.lit(None).cast("long").alias("backoff_micro_nats"),
        )
    )
    return uni.unionByName(bi)
