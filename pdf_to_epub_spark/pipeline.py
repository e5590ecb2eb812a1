"""End-to-end ingest pipeline: the composition a user actually runs.

pages (url, warc_ts, html, text, lang — the Common-Crawl-style input
table) →

1. resume anti-join against the committed output (operators/resume.py);
2. extraction (OCR-text or HTML mode) + chapter assembly;
3. quality gate: fused Gopher + repetition signals (one narrow pass);
4. PII scrub of the survivors;
5. exact dedup, then MinHash near-dup removal (signature store optional);
6. optional per-domain quota (proportional hash-threshold — the scale
   path) and optional LM perplexity gate (CCNet-style char-bigram model);
7. deterministic train/val/test split;
8. optional packed-context materialization (per split, so train sequences
   never mix with eval docs).

Every stage is an independently-oracled operator (see __spark_entry__);
this module only wires them, so the composition's correctness is the
conjunction of the per-stage oracles plus the composition test
(tests/test_pipeline.py).  Per-stage counts are reported through an
``audit`` dict of small aggregate DataFrames — a driver materializes them
AFTER the run (they are cheap aggregates over checkpointed stages, not
extra full passes).

Building the plan is not free: ``ingest()`` starts Spark jobs when it is
called, before any action on its result.  A ``localCheckpoint(eager=False)``
over a plan with exchanges builds its RDD through AQE's final-plan step,
which executes every query stage under it.  Two such barriers run at
call time: the one in ``dedup._verify_pairs_exact_jaccard`` (under
``drop_near_duplicates``) and ingest's own ``deduped`` barrier.  With
``max_lm_nats_micro`` set, the LM gate also collects its model then.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_to_epub_spark.operators import (
    assemble_documents,
    drop_exact_duplicates,
    drop_near_duplicates,
    extract_documents,
    extract_html_documents,
    extract_pdf_documents,
    quality_gate,
    hash_split,
    scrub_pii,
)


@dataclass
class IngestResult:
    corpus: DataFrame
    audit: dict[str, DataFrame] = field(default_factory=dict)
    packed: DataFrame | None = None


def ingest(
    pages: DataFrame,
    done_hashes: DataFrame | None = None,
    html_mode: bool = False,
    pdf_mode: bool = False,
    salt_partitions: int | None = None,
    min_words: int = 50,
    max_dup_line_char_ratio: float = 0.3,
    max_top_bigram_char_ratio: float = 0.3,
    near_dup_threshold: float = 0.7,
    signatures_path: str | None = None,
    split_weights: dict[str, float] | None = None,
    max_per_domain: int | None = None,
    max_lm_nats_micro: int | None = None,
    pack_max_tokens: int | None = None,
    pack_shards: int = 64,
    robots_txt: DataFrame | None = None,
    blocked_domains: DataFrame | None = None,
    allowed_scripts: tuple[str, ...] | None = None,
    min_classifier_prob: float | None = None,
    min_compression_ratio: float | None = None,
) -> IngestResult:
    """Run the full pipeline; returns the cleaned, deduplicated, split
    corpus ``(url, text, n_email, n_ip, n_phone, split)`` plus per-stage
    audit aggregates.

    ``robots_txt`` (html mode; a ``(domain, body)`` frame) switches on
    the crawl-politeness gates BEFORE extraction: robots.txt Disallow
    filtering (broadcast) and the robots-meta noindex gate —
    publisher-declared exclusions never reach the extractor.
    ``blocked_domains`` (any mode; ``(domain)``) applies the UT1-shape
    registrable-domain blocklist the same way.

    The call itself runs Spark jobs: the near-dup verification barrier
    and the ``deduped`` barrier execute their shuffle stages here, and
    ``max_lm_nats_micro`` collects the LM model here (see the module
    docstring).  The rest of the work runs when an action reads the
    returned corpus or audit frames."""
    audit: dict[str, DataFrame] = {}

    if html_mode and pdf_mode:
        raise ValueError("pick one of html_mode / pdf_mode")
    if robots_txt is not None and not html_mode:
        raise ValueError("robots_txt gating needs html_mode pages")
    raw_pages = pages
    if blocked_domains is not None:
        from pdf_to_epub_spark.operators import filter_blocked_urls

        pages = filter_blocked_urls(pages, blocked_domains)
    if robots_txt is not None:
        from pdf_to_epub_spark.operators import (
            drop_noindex,
            filter_disallowed,
            robots_rules,
        )

        pages = filter_disallowed(drop_noindex(pages), robots_rules(robots_txt))
    if pages is not raw_pages:
        n_raw = raw_pages.groupBy().agg(F.count("*").alias("n_raw"))
        n_kept = pages.groupBy().agg(F.count("*").alias("n_kept"))
        excluded = (F.col("n_raw") - F.col("n_kept")).alias("n_excluded")
        audit["politeness"] = n_raw.crossJoin(n_kept).select(
            "n_raw", "n_kept", excluded
        )

    if done_hashes is not None:
        from pdf_to_epub_spark.operators import (
            pending_documents,
            resume_payload_col,
            with_doc_hash,
        )

        # The identity extract_documents records: the raw page whenever the
        # pages carry one (in html/pdf mode ``text`` is null, so a text hash
        # would be null and the anti-join a silent no-op), else the text.
        payload = resume_payload_col(pages.columns)
        pages = pending_documents(with_doc_hash(pages, payload), done_hashes)
        if payload != "text" and not (html_mode or pdf_mode):
            # OCR mode extracts ``text``, so a done set keyed on text
            # hashes (with_doc_hash(payload_col="text")) names the same
            # documents: skip those too.
            pages = pending_documents(with_doc_hash(pages, "text"), done_hashes)

    if pdf_mode:
        extractor = extract_pdf_documents
    elif html_mode:
        extractor = extract_html_documents
    else:
        extractor = extract_documents
    # checkpoint the extractor output itself: the assembly projection, the
    # quality gate, the dedup stages and the status audit all read it, and
    # without the barrier each would re-run the whole Python extraction pass
    extracted = extractor(pages, salt_partitions=salt_partitions).localCheckpoint(
        eager=False
    )
    docs = assemble_documents(extracted).select(
        "url", F.col("assembled_text").alias("text")
    )
    audit["extracted"] = extracted.groupBy("status").count()

    # fused shuffle-free gate (arrow top-bigram histogram): one narrow
    # pass instead of two corpus scans + a text-carrying join on url
    kept = (
        quality_gate(
            docs,
            id_col="url",
            min_words=min_words,
            max_dup_line_char_ratio=max_dup_line_char_ratio,
            max_top_bigram_char_ratio=max_top_bigram_char_ratio,
        )
        .where(F.col("keep_all"))
        .select("url", "text")
    )
    audit["quality_kept"] = kept.groupBy().count()

    if allowed_scripts is not None:
        # script gate BEFORE the zlib gate: codegen regex counting is far
        # cheaper than the Python boundary, so it shrinks what crosses it.
        # A doc with no script letters at all (dominant NULL) is junk here.
        from pdf_to_epub_spark.operators import script_ratios

        kept = (
            script_ratios(kept)
            .where(F.col("dominant_script").isin(list(allowed_scripts)))
            .select("url", "text")
        )
        audit["script_kept"] = kept.groupBy().count()

    if min_classifier_prob is not None:
        # model-based quality gate (hashed linear classifier): pure
        # codegen like the script gate, so it also runs BEFORE the zlib
        # Python boundary; in-row filter, no join-back
        from pdf_to_epub_spark.operators import classifier_gate

        kept = classifier_gate(kept, threshold=min_classifier_prob)
        audit["classifier_kept"] = kept.groupBy().count()

    if min_compression_ratio is not None:
        # zlib repetition gate: ratios BELOW the floor are repetitive
        # machine junk (NULL ratio = empty text → dropped; the quality
        # gate has already removed short docs, so this only fires on
        # degenerate survivors)
        from pdf_to_epub_spark.operators import compression_ratio

        kept = (
            compression_ratio(kept)
            .where(F.col("compression_ratio") >= min_compression_ratio)
            .select("url", "text")
        )
        audit["compression_kept"] = kept.groupBy().count()

    scrubbed = scrub_pii(kept).select(
        "url", F.col("clean_text").alias("text"), "n_email", "n_ip", "n_phone"
    )

    exact = drop_exact_duplicates(scrubbed, text_col="text", id_col="url")
    deduped = drop_near_duplicates(
        exact,
        text_col="text",
        id_col="url",
        k=5,
        jaccard_threshold=near_dup_threshold,
        signatures_path=signatures_path,
    ).localCheckpoint(eager=False)
    audit["deduped"] = deduped.groupBy().count()

    if max_per_domain is not None:
        from pdf_to_epub_spark.operators import (
            domain_quota_sample,
            registrable_domain,
        )

        deduped = domain_quota_sample(
            deduped.withColumn("domain", registrable_domain(F.col("url"))),
            cap=max_per_domain,
            id_col="url",
        ).drop("domain")
        audit["domain_quota_kept"] = deduped.groupBy().count()

    if max_lm_nats_micro is not None:
        # NB: the LM trains its (bounded, 784-row) model with
        # a collect(), so enabling this gate runs the upstream pipeline
        # EAGERLY inside ingest() — model fitting is an action, not a
        # plan.  Callers that only want the lazy plan should gate LM
        # scoring themselves downstream.
        from pdf_to_epub_spark.operators import bigram_lm_scores

        # per-bigram threshold in micro-nats (cross-entropy * 1e6); the
        # slim over-threshold id set anti-joins the corpus (AQE broadcasts
        # it when small)
        scores = bigram_lm_scores(deduped, id_col="url")
        bad = scores.where(
            (F.col("n_bigrams") > 0)
            & (
                F.col("cost_micro_total")
                > F.lit(max_lm_nats_micro) * F.col("n_bigrams")
            )
        ).select(F.col("doc_id").alias("url"))
        deduped = deduped.join(bad, "url", "left_anti")
        audit["lm_gate_kept"] = deduped.groupBy().count()

    out = hash_split(deduped, split_weights, id_col="url")
    audit["splits"] = out.groupBy("split").count()

    packed = None
    if pack_max_tokens is not None:
        from functools import reduce

        from pdf_to_epub_spark.operators import packed_texts

        # pack WITHIN each split so train contexts never contain eval docs
        weights = split_weights or {"train": 0.98, "val": 0.01, "test": 0.01}
        parts = [
            packed_texts(
                out.where(F.col("split") == name),
                max_tokens=pack_max_tokens,
                n_shards=pack_shards,
                id_col="url",
            ).withColumn("split", F.lit(name))
            for name in weights
        ]
        packed = reduce(DataFrame.unionByName, parts)
    return IngestResult(corpus=out, audit=audit, packed=packed)


def export_packed_tfrecords(
    packed: DataFrame, out_dir: str, files_per_split: int = 32
) -> None:
    """Materialize packed training contexts (the ``IngestResult.packed``
    frame) as TFRecord shards — the training-loader handoff format.

    Layout: ``out_dir/split=<name>/part-*.tfrecord`` (one file per Spark
    partition; raise ``files_per_split`` with corpus size).  Rows are
    grouped by pack shard and written in (shard, seq_id) order, so a
    loader streams each context sequence exactly as packed.  Features:
    ``text`` bytes + shard/seq_id/n_docs/fill_tokens int64 — everything
    a trainer needs to audit fill efficiency without re-tokenizing."""
    from pdf_to_epub_spark.sources.tfrecord import write_tfrecords

    has_split = "split" in packed.columns
    # persist: the distinct collect + one write per split would otherwise
    # recompute the whole upstream ingest lineage once per consumer
    packed = packed.persist()
    splits = (
        [r["split"] for r in packed.select("split").distinct().collect()]
        if has_split
        else ["all"]
    )
    if has_split and any(s is None for s in splits):
        packed.unpersist()
        raise ValueError(
            "export_packed_tfrecords: NULL split values present — rows "
            "would be silently dropped; assign every row a split first"
        )
    for name in sorted(splits):
        part = packed.where(F.col("split") == name) if has_split else packed
        write_tfrecords(
            part.withColumn("text_b", F.col("text").cast("binary"))
            .withColumn(
                "__order",
                F.col("shard").cast("long") * F.lit(1 << 32) + F.col("seq_id"),
            )
            .repartition(files_per_split, "shard"),
            f"{out_dir}/split={name}",
            bytes_cols=("text_b",),
            int_cols=("shard", "seq_id", "n_docs", "fill_tokens"),
            order_col="__order",
        )
    packed.unpersist()
