"""End-to-end ingest composition: extraction → quality → scrub → dedup →
split, on a corpus engineered to exercise every gate."""

from __future__ import annotations

from pyspark.sql import functions as F

from pdf_to_epub_spark.pipeline import ingest
from pdf_to_epub_spark.sources.synth import make_documents


def _pages(spark, rows):
    return spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )


def test_ingest_end_to_end(spark):
    rows = make_documents(30, seed=21)
    # a near-duplicate pair: same doc re-crawled with the last word dropped
    dup = dict(rows[0])
    dup["url"] = rows[0]["url"] + "-recrawl"
    dup["text"] = rows[0]["text"].rsplit(None, 1)[0]
    # a doc that must fail the Gopher word-count gate
    short = dict(rows[1])
    short["url"] = "doc://short"
    short["text"] = "way too short"
    pages = _pages(spark, rows + [dup, short])

    result = ingest(pages, min_words=20, near_dup_threshold=0.7)
    corpus = result.corpus.cache()
    urls = {r["url"] for r in corpus.select("url").collect()}

    # the short doc fell to the quality gate
    assert "doc://short" not in urls
    # exactly one of the near-dup pair survived (keep-lowest on url)
    assert (rows[0]["url"] in urls) != (rows[0]["url"] + "-recrawl" in urls)
    # every surviving row has a split; weights default to 98/1/1
    assert corpus.where(F.col("split").isNull()).count() == 0

    # audit aggregates are consistent with the corpus
    assert result.audit["deduped"].collect()[0][0] == corpus.count()
    ext = {r["status"]: r["count"] for r in result.audit["extracted"].collect()}
    assert ext.get("ok", 0) == 32


def test_ingest_html_mode_scrubs_pii(spark):
    """PII can only survive into the scrub stage via the HTML path: the
    OCR-cleanup transform (correctly, per reference semantics) strips
    digits and spaces dotted tokens, mangling emails/IPs before the scrub
    ever sees them.  HTML extraction preserves block text verbatim."""
    rows = []
    for i, r in enumerate(make_documents(10, seed=23)):
        body = r["text"].replace("&", "&amp;").replace("<", "&lt;")
        extra = " reach me at who@example.org now" if i < 2 else ""
        paras = "".join(
            f"<p>{line}</p>"
            for line in body.split("\n")
            if line.strip()
        )
        html = f"<html><body>{paras}<p>closing words{extra}</p></body></html>"
        rows.append(
            {
                "url": r["url"],
                "warc_ts": r["warc_ts"],
                "html": html.encode(),
                "text": None,
                "lang": r["lang"],
            }
        )
    pages = _pages(spark, rows)
    result = ingest(pages, html_mode=True, min_words=10)
    corpus = result.corpus.cache()
    scrubbed = corpus.where(F.col("n_email") > 0)
    assert scrubbed.count() == 2
    for row in scrubbed.collect():
        assert "who@example.org" not in row["text"]
        assert "<EMAIL>" in row["text"]


def test_ingest_resume_skips_done(spark):
    from pdf_to_epub_spark.operators import with_doc_hash

    rows = make_documents(10, seed=22)
    pages = _pages(spark, rows)
    done = with_doc_hash(pages.limit(4), payload_col="text").select("doc_hash")
    result = ingest(pages, done_hashes=done, min_words=1)
    assert result.corpus.count() == 6


def test_ingest_resume_skips_extracted_repeats(spark):
    """A resume index committed from extract_documents output (doc_hash
    over ``html`` whenever the pages carry it) must skip every repeat in an
    OCR-mode ingest of pages that carry both ``html`` and ``text``."""
    from pdf_to_epub_spark.operators import extract_documents

    rows = make_documents(10, seed=23)
    pages = _pages(spark, rows)
    repeats = sorted(r["url"] for r in rows[:4])
    committed = extract_documents(pages.where(F.col("url").isin(repeats)))
    done = committed.select("doc_hash")
    result = ingest(pages, done_hashes=done, min_words=1)
    kept = sorted(r["url"] for r in result.corpus.select("url").collect())
    assert kept == sorted(r["url"] for r in rows[4:])


def test_ingest_tail_quota_lm_gate_and_packing(spark):
    """Tail stages: per-domain quota, LM perplexity gate, per-split packed
    contexts — composed behind the oracled per-stage operators."""
    rows = make_documents(24, seed=23)
    # gibberish doc: passes word-count/Gopher shape but costs far more
    # under the corpus bigram LM than natural text
    gib = dict(rows[0])
    gib["url"] = "doc://gibberish"
    gib["text"] = ("zq xv jk qz wx vj kq zx qj vk the of and that have " * 6)
    pages = _pages(spark, rows + [gib])

    result = ingest(
        pages,
        min_words=10,
        max_per_domain=1000,            # above every count: keeps all
        max_lm_nats_micro=3_500_000,    # ~e^3.5 ppl per char-bigram
        pack_max_tokens=256,
        pack_shards=4,
    )
    corpus = result.corpus.cache()
    urls = {r["url"] for r in corpus.select("url").collect()}
    assert "doc://gibberish" not in urls     # LM gate caught it
    assert len(urls) >= 20                   # natural docs survived

    packed = result.packed.cache()
    # packing covered every split present in the corpus, nothing else
    assert {r["split"] for r in packed.select("split").collect()} == {
        r["split"] for r in corpus.select("split").distinct().collect()
    }
    # utilization: no sequence exceeds the cap unless it is a lone overflow
    for r in packed.collect():
        assert r["fill_tokens"] <= 256 or r["n_docs"] == 1
    # every corpus doc is packed exactly once
    assert packed.agg(F.sum("n_docs")).collect()[0][0] == corpus.count()


def test_ingest_quota_caps_hot_domain(spark):
    rows = []
    for i, r in enumerate(make_documents(20, seed=24)):
        r = dict(r)
        r["url"] = f"http://{'hot' if i < 15 else 'cold' + str(i)}.com/p/{i}"
        rows.append(r)
    pages = _pages(spark, rows)
    res = ingest(pages, min_words=1, max_per_domain=4)
    hot = res.corpus.where(F.col("url").like("http://hot.com%")).count()
    cold = res.corpus.where(~F.col("url").like("http://hot.com%")).count()
    assert hot < 15          # quota thinned the hot domain
    assert cold == 5         # rate clamps to 1 for small domains


def test_ingest_pdf_mode_end_to_end(spark):
    """PDF pages ride the same pipeline: per-doc PDFs (scrambled content
    order) are parsed, reading-ordered, assembled, and quality-gated —
    the recovered text must equal title + original body, and a
    non-PDF payload must quarantine as a row, not a task failure."""
    from pdf_to_epub_spark.sources.pdf import doc_to_pdf

    rows = []
    originals = {}
    for i, r in enumerate(make_documents(10, seed=29)):
        flat = " ".join(r["text"].split())
        originals[r["url"]] = flat
        rows.append(
            {
                "url": r["url"],
                "warc_ts": r["warc_ts"],
                "html": doc_to_pdf(i, flat),
                "text": None,
                "lang": r["lang"],
            }
        )
    rows.append(
        {
            "url": "doc://broken",
            "warc_ts": rows[0]["warc_ts"],
            "html": b"%PDF-1.4 but empty inside",
            "text": None,
            "lang": "en",
        }
    )
    pages = _pages(spark, rows)
    result = ingest(pages, pdf_mode=True, min_words=5)
    ext = {r["status"]: r["count"] for r in result.audit["extracted"].collect()}
    assert ext.get("ok", 0) == 10
    assert ext.get("unsupported", 0) == 1
    corpus = {r["url"]: r["text"] for r in result.corpus.collect()}
    assert "doc://broken" not in corpus
    for i, (url, flat) in enumerate(sorted(originals.items())):
        if url not in corpus:  # may fall to quality/dedup gates
            continue
        body = corpus[url].split("\n", 1)
        assert body[0].startswith("Document ")
        assert " ".join(body[1].split("\n")) == flat


def test_ingest_politeness_gates(spark):
    """robots_txt + blocked_domains wire the crawl-politeness layer in
    front of html-mode extraction: blocklisted domains, noindex pages and
    Disallow'd paths never reach the extractor; the politeness audit row
    carries the raw/kept/excluded counts.  Like every audit it is a lazy
    aggregate: the gates add no job to the ``ingest()`` call itself (the
    same job count as ingesting the pre-gated pages), and the counts run
    when the audit is collected."""
    rows = []
    for i, r in enumerate(make_documents(12, seed=31)):
        body = "".join(
            f"<p>{line}</p>" for line in r["text"].split("\n") if line.strip()
        )
        meta = '<meta name="robots" content="noindex">' if i % 4 == 0 else ""
        html = f"<html><head>{meta}</head><body>{body}</body></html>"
        path = "/private/p" if i % 4 == 1 else "/ok/p"
        rows.append(
            {
                "url": f"https://site{i % 3}.example{path}{i}.html",
                "warc_ts": r["warc_ts"],
                "html": html.encode(),
                "text": None,
                "lang": r["lang"],
            }
        )
    pages = _pages(spark, rows)
    robots = spark.createDataFrame(
        [(f"site{d}.example", "User-agent: *\nDisallow: /private/\n")
         for d in range(3)],
        "domain string, body string",
    )
    blocked = spark.createDataFrame([("site2.example",)], "domain string")
    from pdf_to_epub_spark.operators import (
        drop_noindex,
        filter_blocked_urls,
        filter_disallowed,
        robots_rules,
    )

    sc = spark.sparkContext

    def jobs_started(group, run):
        sc.setJobGroup(group, group)
        try:
            out = run()
            return out, len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setJobGroup(None, None)

    result, n_gated = jobs_started("ingest-gated", lambda: ingest(
        pages, html_mode=True, min_words=10,
        robots_txt=robots, blocked_domains=blocked,
    ))
    pre_gated = filter_disallowed(
        drop_noindex(filter_blocked_urls(pages, blocked)), robots_rules(robots)
    )
    _, n_plain = jobs_started("ingest-pre-gated", lambda: ingest(
        pre_gated, html_mode=True, min_words=10,
    ))
    assert n_gated == n_plain
    (pol,), n_audit = jobs_started(
        "politeness-audit", result.audit["politeness"].collect
    )
    assert n_audit > 0
    # blocked domain: i%3==2 (4 docs); then noindex i%4==0 (0,4) and
    # Disallow'd /private/ i%4==1 (1,9) among the rest → 4 survivors
    assert (pol["n_raw"], pol["n_kept"], pol["n_excluded"]) == (12, 4, 8)
    kept = {r2["url"] for r2 in result.corpus.select("url").collect()}
    allowed = {f"https://site{i % 3}.example/ok/p{i}.html" for i in (3, 6, 7, 10)}
    assert kept <= allowed and kept


def test_ingest_rejects_conflicting_modes_before_any_job(spark):
    """Argument errors surface before any Spark job: pages whose
    evaluation fails are never evaluated."""
    import pytest

    pages = _pages(spark, make_documents(2, seed=5)).where(
        F.raise_error(F.lit("pages were evaluated")).isNull()
    )
    blocked = spark.createDataFrame([("site2.example",)], "domain string")
    sc = spark.sparkContext
    sc.setJobGroup("ingest-args", "argument check")
    try:
        with pytest.raises(ValueError, match="pick one of html_mode / pdf_mode"):
            ingest(pages, html_mode=True, pdf_mode=True, blocked_domains=blocked)
        assert sc.statusTracker().getJobIdsForGroup("ingest-args") == []
    finally:
        sc.setJobGroup(None, None)


def test_ingest_script_and_compression_gates(spark):
    rows = make_documents(12, seed=33)
    # a Cyrillic doc the latin-only script gate must drop
    cyr = dict(rows[0])
    cyr["url"] = "doc://cyrillic"
    cyr["text"] = "привет мир здравствуй планета " * 20
    # a pathologically repetitive doc the compression gate must drop
    # (long enough to clear the word-count gate; one token repeated)
    junk = dict(rows[1])
    junk["url"] = "doc://junk"
    junk["text"] = "spam ham " * 400
    pages = _pages(spark, rows + [cyr, junk])

    result = ingest(
        pages,
        min_words=20,
        # the synthetic prose has some repeated lines; relax the line gate
        max_dup_line_char_ratio=1.0,
        max_top_bigram_char_ratio=1.0,
        allowed_scripts=("latin",),
        min_compression_ratio=0.2,
    )
    urls = {r["url"] for r in result.corpus.select("url").collect()}
    assert "doc://cyrillic" not in urls
    assert "doc://junk" not in urls
    assert urls - {"doc://cyrillic", "doc://junk"}  # normal docs survive
    # audit counters present and ordered: script gate runs before zlib
    n_script = result.audit["script_kept"].collect()[0][0]
    n_comp = result.audit["compression_kept"].collect()[0][0]
    assert n_script >= n_comp == result.audit["deduped"].collect()[0][0]


def test_ingest_classifier_gate(spark):
    import hashlib
    import itertools
    import string

    def weight(tok: str) -> float:
        h = int(hashlib.md5(f"feat:{tok}".encode()).hexdigest()[:15], 16)
        return ((h % 1024) % 997) / 996.0 - 0.5

    # craft a junk doc from tokens the model weights most negatively
    bad_toks = [
        "".join(p)
        for p in itertools.product(string.ascii_lowercase, repeat=2)
        if weight("".join(p)) < -0.45
    ]
    assert len(bad_toks) >= 5
    rows = make_documents(10, seed=44)
    junk = dict(rows[0])
    junk["url"] = "doc://model-junk"
    junk["text"] = " ".join(bad_toks * (60 // len(bad_toks) + 1))
    pages = _pages(spark, rows + [junk])

    result = ingest(
        pages,
        min_words=20,
        max_dup_line_char_ratio=1.0,
        max_top_bigram_char_ratio=1.0,
        min_classifier_prob=0.4,
    )
    urls = {r["url"] for r in result.corpus.select("url").collect()}
    assert "doc://model-junk" not in urls
    assert urls  # ordinary prose (mean weight ~0 -> prob ~0.5) survives
    n_cls = result.audit["classifier_kept"].collect()[0][0]
    assert n_cls == len(urls) >= 1


def test_ingest_then_retrieve_end_to_end(spark):
    """The full product loop: ingest (extract -> quality -> scrub ->
    dedup -> split) then QUERY the resulting corpus — BM25 ranking,
    boolean filtering, and KWIC snippets over the ingested text."""
    from pdf_to_epub_spark.operators import (
        bm25_topk,
        boolean_search,
        keyword_snippets,
    )

    rows = make_documents(10, seed=41)
    result = ingest(
        _pages(spark, rows),
        min_words=20,
        max_dup_line_char_ratio=1.0,
        max_top_bigram_char_ratio=1.0,
    )
    corpus = result.corpus.select("url", "text").cache()
    n = corpus.count()
    assert n > 0

    # every ingested doc contains prose with 'the'; ranking is total
    hits = bm25_topk(corpus, ["the"], k=n + 5, id_col="url").collect()
    assert len(hits) == n
    scores = [r.score for r in hits]
    assert scores == sorted(scores, reverse=True)

    ids = {r.url for r in boolean_search(corpus, ["the"], id_col="url").collect()}
    assert ids == {r.url for r in corpus.collect()}

    sn = {r.url: r.snippet
          for r in keyword_snippets(corpus, "the", id_col="url").collect()}
    assert all(s is not None and "the" in s for s in sn.values())
