"""Driver query builders (part 3/7 of the mechanical __spark_entry__ split; verbatim)."""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from entry._shared import _docs_as_pages, _ship_package, _t
from entry.queries_01 import _boilerplate_page_expr, _html_escape_expr, mutated_recrawl
from entry.queries_02 import _link_pages


def _robots_fixture(d13: DataFrame) -> DataFrame:
    """Deterministic robots.txt table over the 13 site domains (input: a
    one-column ``r`` frame of the distinct doc_id%13 residues): r%3==0 has
    a star group with a plain and a wildcard Disallow, r%3==1 buries the
    star group behind a named group and stacked UA lines plus an empty
    Disallow, r%3==2 has only a named group (no rules for us)."""
    r = F.col("r")
    body = (
        F.when(
            r % 3 == 0,
            F.concat(
                F.lit("# corpus politeness\nUser-agent: *\nDisallow: /private"),
                r.cast("string"),
                F.lit("/\nDisallow: /tmp"),
                r.cast("string"),
                F.lit("*x\n"),
            ),
        )
        .when(
            r % 3 == 1,
            F.concat(
                F.lit(
                    "User-agent: Googlebot\nDisallow: /g/\n\n"
                    "User-agent: FooBot\nUser-agent: *\nDisallow: /only"
                ),
                r.cast("string"),
                F.lit("/\nDisallow:\nCrawl-delay: 2\n"),
            ),
        )
        .otherwise(F.lit("User-agent: Googlebot\nDisallow: /g/\n"))
    )
    return d13.select(
        F.concat(F.lit("site"), r.cast("string"), F.lit(".example")).alias(
            "domain"
        ),
        body.alias("body"),
    )


def _q_robots_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt star-group parsing over the deterministic per-domain
    fixture — comments, named groups, stacked user-agent lines, empty and
    wildcard Disallows (operators/robots.py)."""
    from pdf_to_epub_spark.operators import robots_rules

    d13 = (
        _t(spark, sf_dir, "documents")
        .select((F.col("doc_id") % 13).alias("r"))
        .distinct()
    )
    return robots_rules(_robots_fixture(d13)).select(
        "domain", F.array_join("disallow", "|").alias("rules"), "crawl_delay"
    )


def _q_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full crawl-politeness chain: parse the robots fixture, then
    broadcast-filter deterministic page URLs whose paths hit (or miss)
    the star-group Disallow prefixes, including the conservative
    wildcard-prefix match."""
    from pdf_to_epub_spark.operators import filter_disallowed, robots_rules

    d = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    path = (
        F.when(
            i % 4 == 0,
            F.concat(
                F.lit("/private"), (i % 13).cast("string"),
                F.lit("/p"), i.cast("string"), F.lit(".html"),
            ),
        )
        .when(i % 4 == 1, F.concat(F.lit("/ok/p"), i.cast("string"), F.lit(".html")))
        .when(
            i % 4 == 2,
            F.concat(F.lit("/only"), (i % 13).cast("string"), F.lit("/x")),
        )
        .otherwise(F.concat(F.lit("/tmp"), (i % 13).cast("string"), F.lit("zz")))
    )
    url = F.concat(
        F.lit("https://sub"), (i % 7).cast("string"),
        F.lit(".site"), (i % 13).cast("string"),
        F.lit(".example"), path,
    )
    pages = d.select("doc_id", url.alias("url"))
    d13 = d.select((i % 13).alias("r")).distinct()
    rules = robots_rules(_robots_fixture(d13))
    return filter_disallowed(pages, rules).select("doc_id", "url")


def _anchor_pages(d: DataFrame) -> DataFrame:
    """Deterministic anchor-text pages: a tag-wrapped double-spaced
    external anchor, a relative local anchor, a dropped mailto and a
    dropped empty/image anchor per doc."""
    i = F.col("doc_id")
    url = F.concat(
        F.lit("https://sub"), (i % 7).cast("string"),
        F.lit(".site"), (i % 13).cast("string"),
        F.lit(".example/a/page"), i.cast("string"), F.lit(".html"),
    )
    html = F.encode(
        F.concat(
            F.lit('<html><body><a href="https://t'), (i % 3).cast("string"),
            F.lit(".example/x"), (i % 5).cast("string"),
            F.lit('"><b>Guide  '), (i % 4).cast("string"),
            F.lit('</b></a><a href="/p'), i.cast("string"),
            F.lit('">Local '), (i % 2).cast("string"),
            F.lit('</a><a href="mailto:a@b.c">m</a>'),
            F.lit('<a href="https://t0.example/empty"> <img src="x"> </a>'),
            F.lit("</body></html>"),
        ),
        "UTF-8",
    )
    return d.select(url.alias("url"), html.alias("html"))


def _q_anchor_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text extraction: (url, target, anchor) with inner tags
    stripped, whitespace collapsed, empty/mailto anchors dropped and
    relative targets resolved (operators/urls.py extract_anchor_texts)."""
    from pdf_to_epub_spark.operators import extract_anchor_texts

    d = _t(spark, sf_dir, "documents").select("doc_id")
    return extract_anchor_texts(_anchor_pages(d)).select(
        "url", "target", "anchor"
    )


def _q_top_anchors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-target-domain top-2 anchor texts (count desc, lexical ties) —
    the aggregated web-IR signal over the same deterministic anchor
    pages."""
    from pdf_to_epub_spark.operators import (
        extract_anchor_texts,
        top_anchors_per_domain,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id")
    return top_anchors_per_domain(
        extract_anchor_texts(_anchor_pages(d)), k=2
    ).select("domain", "anchor", "n_refs", F.col("rank").cast("long").alias("rank"))


def _q_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Publisher-declared URL dedup: every 3k+1 page declares page 3k as
    canonical (collapses onto it), every 3k+2 page declares one shared
    external canonical (the lexically-smallest member represents the
    cluster), 3k pages stand alone."""
    from pdf_to_epub_spark.operators import canonical_dedup

    d = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    url = F.concat(F.lit("https://d.example/p"), i.cast("string"))
    canon = (
        F.when(
            i % 3 == 1,
            F.concat(
                F.lit('<link rel="canonical" href="https://d.example/p'),
                (i - 1).cast("string"), F.lit('">'),
            ),
        )
        .when(
            i % 3 == 2,
            F.lit('<link rel="canonical" href="https://x.example/shared">'),
        )
        .otherwise(F.lit(""))
    )
    html = F.encode(
        F.concat(F.lit("<html><head>"), canon, F.lit("</head><body>x</body></html>")),
        "UTF-8",
    )
    pages = d.select("doc_id", url.alias("url"), html.alias("html"))
    return canonical_dedup(pages).select("doc_id", "url")


def _q_sitemap_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap scan over deterministic XML: even docs are urlsets (one
    plain and one CDATA loc), odd docs are sitemapindexes (one child
    sitemap loc) — the frontier-seeding walk, JVM-side."""
    from pdf_to_epub_spark.operators import extract_sitemap_urls

    d = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    urlset = F.concat(
        F.lit('<?xml version="1.0"?><urlset><url><loc> https://s'),
        (i % 3).cast("string"), F.lit(".example/u"), i.cast("string"),
        F.lit(" </loc></url><url><loc><![CDATA[https://s"),
        (i % 3).cast("string"), F.lit(".example/c"), i.cast("string"),
        F.lit("]]></loc></url></urlset>"),
    )
    index = F.concat(
        F.lit('<?xml version="1.0"?><sitemapindex><sitemap><loc>'),
        F.lit("https://s"), (i % 3).cast("string"),
        F.lit(".example/child"), i.cast("string"),
        F.lit(".xml</loc></sitemap></sitemapindex>"),
    )
    xml = F.encode(F.when(i % 2 == 0, urlset).otherwise(index), "UTF-8")
    sitemaps = d.select(
        F.concat(
            F.lit("https://s"), (i % 3).cast("string"),
            F.lit(".example/sm"), i.cast("string"), F.lit(".xml"),
        ).alias("url"),
        xml.alias("xml"),
    )
    return extract_sitemap_urls(sitemaps).select("url", "loc", "is_index")


def _q_crawl_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed next-wave frontier over the shared link pages:
    outlinks → canonicalized distinct targets → minus the (even-doc ext)
    crawled set → per-domain cap of 5 in lexical order."""
    from pdf_to_epub_spark.operators import crawl_frontier

    d = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    pages = _link_pages(d, extra_anchors=True)
    crawled = d.where(i % 2 == 0).select(
        F.concat(
            F.lit("https://ext"), (i % 5).cast("string"),
            F.lit(".example.org/x"), i.cast("string"),
        ).alias("url")
    )
    return crawl_frontier(pages, crawled, per_domain_limit=5).select(
        "domain", "target", F.col("rank").cast("long").alias("rank")
    )


def _q_recrawl_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two deterministic crawls: every 11th page
    vanishes, every 5th changes text, every 13th gains a new sibling —
    the re-crawl scheduler's added/removed/changed/unchanged statuses."""
    from pdf_to_epub_spark.operators import recrawl_diff

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    i = F.col("doc_id")
    url = F.concat(F.lit("https://d.example/p"), i.cast("string"))
    old = d.select(url.alias("url"), "text")
    changed = F.when(i % 5 == 0, F.concat(F.col("text"), F.lit("X"))).otherwise(
        F.col("text")
    )
    new = (
        d.where(i % 11 != 0)
        .select(url.alias("url"), changed.alias("text"))
        .unionByName(
            d.where(i % 13 == 0).select(
                F.concat(F.lit("https://d.example/new"), i.cast("string")).alias(
                    "url"
                ),
                "text",
            )
        )
    )
    return recrawl_diff(old, new).select("url", "status")


def _q_crawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The politeness-aware fetch plan over the composed frontier: the
    Crawl-delay domains (r%3==1 in the robots fixture) pace at 2 s, all
    others at the 1 s default — eta_s = (rank−1)·delay."""
    from pdf_to_epub_spark.operators import (
        crawl_frontier,
        crawl_schedule,
        robots_rules,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    pages = _link_pages(d, extra_anchors=True)
    crawled = d.where(i % 2 == 0).select(
        F.concat(
            F.lit("https://ext"), (i % 5).cast("string"),
            F.lit(".example.org/x"), i.cast("string"),
        ).alias("url")
    )
    frontier = crawl_frontier(pages, crawled, per_domain_limit=5)
    d13 = d.select((i % 13).alias("r")).distinct()
    rules = robots_rules(_robots_fixture(d13))
    return crawl_schedule(frontier, rules).select(
        "domain",
        "target",
        F.col("rank").cast("long").alias("rank"),
        F.round("eta_s", 6).alias("eta_s"),
    )


def _q_url_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-shape quality signals over deterministically-dirty URLs
    (hyphened hosts, digit-heavy paths, variable-depth paths, optional
    query strings); the oracle recomputes every feature with DuckDB's own
    string functions over the same constructed URL — an independent
    implementation, not a closed form."""
    from pdf_to_epub_spark.operators import url_quality_features

    d = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    url = F.concat(
        F.lit("https://"),
        F.when(i % 3 == 0, F.lit("my-spam-")).otherwise(F.lit("s")),
        F.lit("site"), (i % 13).cast("string"), F.lit(".example"),
        F.when(i % 4 == 0, F.concat(F.lit("/a/b"), i.cast("string"))).otherwise(
            F.lit("/p")
        ),
        F.lit("/page"), i.cast("string"), F.lit(".html"),
        F.when(i % 5 == 0, F.lit("?x=1&utm_source=9&y=22")).otherwise(F.lit("")),
    )
    return url_quality_features(d.select("doc_id", url.alias("url"))).select(
        "doc_id", "url_len", "host_len", "host_hyphens", "path_depth",
        "n_digits", "digit_ratio", "n_params",
    )


def _q_term_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index over the documents table: one row per (term, doc)
    with the term frequency — the retrieval-side companion to the dedup
    shingle index (operators/ir.py; one (term, doc)-keyed shuffle)."""
    from pdf_to_epub_spark.operators import term_postings

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return term_postings(d).select("term", "doc_id", "tf")


def _q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Lucene idf variant, k1=1.2 b=0.75) for the
    query {spark, window, merge}: top-25 docs by rounded score.  The
    oracle replays the full math — df, avgdl, idf, per-term weight —
    in DuckDB SQL; ranking uses the ROUNDED score + doc_id so the k-cut
    is engine-reproducible."""
    from pdf_to_epub_spark.operators import bm25_topk

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bm25_topk(d, ["spark", "window", "merge"], k=25)


def _q_tfidf_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed TF-IDF weights per (term, doc) over the full postings
    table — (1+ln tf)·ln((1+N)/(1+df)), 6-dp rounded."""
    from pdf_to_epub_spark.operators import tfidf_weights

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return tfidf_weights(d).select("term", "doc_id", "tf", "df", "tfidf")


def _q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-token phrase retrieval over text with residue-planted
    phrases (full phrase, 2/3 prefix, none).  The Spark plan is the
    positional-postings adjacency-join chain; the oracle is an
    INDEPENDENT algorithm — a boundary-anchored regex over the raw
    text — so agreement is cross-algorithm, not replay."""
    from pdf_to_epub_spark.operators import phrase_search

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    i = F.col("doc_id")
    txt = F.concat(
        F.substring("text", 1, 120),
        F.when(i % 5 == 0, F.lit(" spark window merge end"))
        .when(i % 5 == 1, F.lit(" spark window only"))
        .otherwise(F.lit(" filler")),
    )
    return phrase_search(
        d.select("doc_id", txt.alias("text")), ["spark", "window", "merge"]
    ).select("doc_id")


def _q_boolean_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean retrieval (spark AND window AND NOT slow) as posting-list
    set algebra (intersect/except on slim id sets); the oracle checks
    token membership per document directly."""
    from pdf_to_epub_spark.operators import boolean_search

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return boolean_search(d, ["spark", "window"], ["slow"]).select("doc_id")


def _q_proximity_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proximity retrieval (ir.proximity_search): docs where 'spark' and
    'window' co-occur within 12 token positions, plus the min distance —
    zero-shuffle array algebra vs an independent positional self-join
    oracle."""
    from pdf_to_epub_spark.operators.ir import proximity_search

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return proximity_search(d, "spark", "window", window=12)


def _q_update_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance for a daily re-crawl: even docs form
    yesterday's index, odd docs are new, every fourth doc is re-crawled
    with truncated text (delete + re-add) — the final index must equal a
    from-scratch build over the logical corpus, which is exactly what
    the oracle computes."""
    from pdf_to_epub_spark.operators import term_postings, update_postings

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    evens = d.filter(F.col("doc_id") % 2 == 0)
    old = term_postings(evens)
    recrawl = d.filter(F.col("doc_id") % 4 == 0).select(
        "doc_id", F.substring("text", 1, 100).alias("text")
    )
    news = (
        d.filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", "text")
        .unionByName(recrawl)
    )
    deleted = d.filter(F.col("doc_id") % 4 == 0).select("doc_id")
    return update_postings(old, news, deleted).select("term", "doc_id", "tf")


def _q_keyword_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KWIC snippet (25 chars context each side of the first whole-token
    'merge') per document, NULL when absent — the same lookaround-free
    regex runs under Java and RE2."""
    from pdf_to_epub_spark.operators import keyword_snippets

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return keyword_snippets(d, "merge", width=25).select(
        "doc_id", "snippet"
    )


def _q_dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram of the transitive near-dup components —
    the audit a dedup run ships with (how much mass sits in how-big
    clusters); oracled against the recursive-CTE true components."""
    from pdf_to_epub_spark.operators import (
        connected_components,
        minhash_candidate_pairs,
    )

    corpus = mutated_recrawl(spark, sf_dir)
    pairs = minhash_candidate_pairs(
        corpus, k=3, num_hashes=32, bands=8, jaccard_threshold=0.7
    )
    comps = connected_components(
        pairs.select("id_a", "id_b"), corpus.select("doc_id")
    )
    return (
        comps.groupBy("component")
        .agg(F.count(F.lit(1)).cast("long").alias("size"))
        .groupBy("size")
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
    )


def _q_script_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode script-mix signal over deterministically multilingual text
    (residue-selected Cyrillic/Greek/CJK snippets appended to the Latin
    base) — counts, Latin share, and the fixed-precedence dominant
    label, all replayed by the oracle with the same literal ranges."""
    from pdf_to_epub_spark.operators import script_ratios

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    i = F.col("doc_id")
    txt = F.concat(
        F.substring("text", 1, 30),
        F.when(i % 4 == 0, F.lit(" привет мир здравствуй"))
        .when(i % 4 == 1, F.lit(" γειά σου κόσμε"))
        .when(i % 4 == 2, F.lit(" 你好世界再见"))
        .otherwise(F.lit(" plain")),
        F.when(i % 8 == 2, F.lit(" 漢字漢字漢字漢字漢字漢字漢字漢字漢字漢字漢字漢字漢字漢字"))
        .otherwise(F.lit("")),
    )
    return script_ratios(d.select("doc_id", txt.alias("text"))).select(
        "doc_id", "n_latin", "n_cyrillic", "n_greek", "n_cjk",
        "latin_ratio", "dominant_script",
    )


def _q_event_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-hour rollup of the events table keyed
    (bucket, event_type) — epoch-arithmetic windows, no timezone
    dependence."""
    from pdf_to_epub_spark.operators import hourly_rollup

    e = _t(spark, sf_dir, "events")
    return hourly_rollup(e).select(
        "bucket_epoch", "event_type", "n_events", "sum_value", "avg_value"
    )


def _q_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining (PMI over adjacent word pairs, min_count=5)
    over the documents table; the oracle replays bigram construction via
    generate_series indexing and the exact division/multiplication
    order."""
    from pdf_to_epub_spark.operators import bigram_pmi

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bigram_pmi(d, min_count=5).select("w1", "w2", "c_ab", "pmi")


def _q_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-5 terms by corpus frequency with deterministic
    tie-break (count desc, term asc) — the group-wise top-k pattern
    windowed over the aggregated vocabulary table."""
    from pdf_to_epub_spark.operators import top_terms

    d = _t(spark, sf_dir, "documents").select("lang", "text")
    return top_terms(d, group_col="lang", k=5).select(
        "lang", "term", "n", "rank"
    )


def _q_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compression-ratio quality signal over residue-deterministic
    text (repeated prose + run-length junk, 13 classes) — the one
    pandas_udf quality signal; the oracle is a pure-Python zlib replay
    of the 13 classes joined back on doc_id % 13."""
    from pdf_to_epub_spark.operators import compression_ratio

    d = _t(spark, sf_dir, "documents").select("doc_id")
    txt = F.concat(
        F.expr(
            "repeat('lorem ipsum dolor sit amet ',"
            " cast(doc_id % 13 as int) + 1)"
        ),
        F.expr("repeat('ab', 10 * cast(doc_id % 13 as int))"),
        F.lit(" tail "),
        (F.col("doc_id") % 13).cast("string"),
    )
    return compression_ratio(d.select("doc_id", txt.alias("text"))).select(
        "doc_id", "compression_ratio"
    )


def _compression_oracle() -> str:
    """Golden VALUES: the 13 residue-class ratios computed by the same
    pure-Python zlib call the pandas_udf makes."""
    import zlib

    vals = []
    for r in range(13):
        t = (
            "lorem ipsum dolor sit amet " * (r + 1)
            + "ab" * (10 * r)
            + " tail "
            + str(r)
        )
        raw = t.encode("utf-8")
        vals.append(f"({r}, {round(len(zlib.compress(raw, 6)) / len(raw), 6)!r})")
    rows = ",\n            ".join(vals)
    return f"""
        WITH golden(r, ratio) AS (VALUES
            {rows})
        SELECT d.doc_id, g.ratio::DOUBLE AS compression_ratio
        FROM documents d JOIN golden g ON d.doc_id % 13 = g.r
    """


def _q_corpus_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level corpus profile (leaf / per-lang / grand total) in one
    ROLLUP aggregate — three report levels for one shuffle."""
    from pdf_to_epub_spark.operators import corpus_rollup

    d = _t(spark, sf_dir, "documents").select("lang", "source", "n_chars")
    return corpus_rollup(d).select(
        "lang", "source", "gid", "n_docs", "total_chars", "avg_chars"
    )


def _q_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation stats over deterministically-punctuated text
    (fragments of the document joined by './!/?' terminators, residue-
    varied tails) — the RE2-portable segmentation replayed in DuckDB via
    list_transform/list_filter."""
    from pdf_to_epub_spark.operators import sentence_stats

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    i = F.col("doc_id")
    txt = F.concat(
        F.substring("text", 1, 40), F.lit(". "),
        F.substring("text", 41, 60), F.lit("! "),
        F.substring("text", 101, 50),
        F.when(i % 3 == 0, F.lit("? Short tail.")).otherwise(F.lit("...")),
    )
    return sentence_stats(d.select("doc_id", txt.alias("text"))).select(
        "doc_id", "n_sentences", "avg_sentence_chars",
        "max_sentence_chars", "short_sentence_ratio",
    )


def _q_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-global exact paragraph dedup over docs carrying a shared
    boilerplate header, a unique body paragraph, and a 7-way shared
    footer — the header survives once, each footer 7 times fewer, every
    body paragraph always."""
    from pdf_to_epub_spark.operators import dedup_paragraphs

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    i = F.col("doc_id")
    txt = F.concat_ws(
        "\n\n",
        F.lit("Shared boilerplate header unit"),
        F.concat(F.substring("text", 1, 80), F.lit(" tail "), i.cast("string")),
        F.concat(F.lit("Footer block "), (i % 7).cast("string")),
    )
    return dedup_paragraphs(d.select("doc_id", txt.alias("text"))).select(
        "doc_id", "text", "n_paras", "n_kept"
    )


def _q_html_outline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heading outline (h1–h6 in document order) over deterministic pages
    exercising mixed case, nested inline tags, attribute-bearing open
    tags, and whitespace-bearing close tags."""
    from pdf_to_epub_spark.operators import extract_headings

    d = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    html = F.encode(
        F.concat(
            F.lit('<html><body><h1 class="t">Doc '), i.cast("string"),
            F.lit("</h1>"),
            F.when(
                i % 3 == 0,
                F.concat(
                    F.lit("<h2> Intro <em>"), i.cast("string"),
                    F.lit("</em></h2><p>xx</p><h2>Methods</h2>"),
                ),
            )
            .when(i % 3 == 1, F.lit("<H2>Only</H2>"))
            .otherwise(F.lit("")),
            F.when(
                i % 4 == 0,
                F.concat(F.lit("<h3>Deep "), (i % 5).cast("string"),
                         F.lit("</h3 >")),
            ).otherwise(F.lit("")),
            F.lit("</body></html>"),
        ),
        "UTF-8",
    )
    return extract_headings(d.select("doc_id", html.alias("html"))).select(
        "doc_id", "pos", "level", "heading"
    )


def _q_html_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML table extraction (tables → rows → joined cell texts) over
    deterministic pages with th/td mixes, inline markup in cells,
    attribute-bearing tr/td tags, variable row counts, and a second
    table on every fourth page."""
    from pdf_to_epub_spark.operators import extract_tables

    d = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    r1 = F.concat(
        F.lit("<tr><td>a"), i.cast("string"),
        F.lit("</td><td><b>bold</b> "), (i % 9).cast("string"),
        F.lit("</td></tr>"),
    )
    r2 = F.lit("<tr ><td>x</td><td>y</td></tr>")
    r3 = F.concat(
        F.lit("<tr><td colspan=2>wide "), (i % 4).cast("string"),
        F.lit("</td></tr>"),
    )
    html = F.encode(
        F.concat(
            F.lit('<html><body><table id="t">'),
            F.lit("<tr><th>Name</th><th> Value </th></tr>"),
            r1,
            F.when(i % 3 >= 1, r2).otherwise(F.lit("")),
            F.when(i % 3 == 2, r3).otherwise(F.lit("")),
            F.lit("</table>"),
            F.when(
                i % 4 == 0, F.lit("<table><tr><td>z</td></tr></table >")
            ).otherwise(F.lit("")),
            F.lit("</body></html>"),
        ),
        "UTF-8",
    )
    return extract_tables(d.select("doc_id", html.alias("html"))).select(
        "doc_id", "table_id", "row_id", "n_cells", "cells"
    )


def _q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-registrable-domain corpus stats over deterministically-built
    urls (7 subdomains × 13 domains) — the quota/filter input table."""
    from pdf_to_epub_spark.operators import domain_stats

    doc_id = F.col("doc_id")
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    url = F.concat(
        F.lit("http://sub"), (doc_id % 7).cast("string"),
        F.lit(".site"), (doc_id % 13).cast("string"),
        F.lit(".com/p/"), doc_id.cast("string"),
    )
    return domain_stats(d.select(url.alias("url"), "text")).select(
        "domain", F.col("n_docs").cast("long").alias("n_docs"), "total_chars"
    )


def _q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization over deterministically-built dirty URLs (mixed
    host case, default ports, tracking params, unsorted queries,
    fragments); every rule is replayed by the DuckDB oracle — RE2-portable
    patterns by construction (operators/urls.py)."""
    from pdf_to_epub_spark.operators import canonicalize_urls

    doc_id = F.col("doc_id")
    d = _t(spark, sf_dir, "documents").select("doc_id")
    url = F.concat(
        F.lit("HTTP://Example.COM"),
        F.when(doc_id % 2 == 0, F.lit(":80")).otherwise(F.lit("")),
        F.lit("/Path/"),
        doc_id.cast("string"),
        F.when(doc_id % 3 == 0, F.lit("?utm_source=feed&b=2&a=1"))
        .when(doc_id % 3 == 1, F.lit("?z=9&a=1&fbclid=XYZ"))
        .otherwise(F.lit("")),
        F.when(doc_id % 5 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    return canonicalize_urls(d.select("doc_id", url.alias("url"))).select(
        "doc_id", "canon_url"
    )


def _q_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused pre-training quality gate: Gopher + line-dup signals in
    codegen column algebra and the top-bigram coverage in a vectorized
    Arrow batch — ZERO shuffles (plan-pinned in tests).  The oracle
    replays the relational composition (gopher ⋈ repetition) in DuckDB,
    so the per-row histogram path is verified against the explode/groupBy
    algebra term-for-term."""
    _ship_package(spark)
    from pdf_to_epub_spark.operators import quality_gate

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = quality_gate(d, id_col="doc_id", min_words=20, max_words=100_000)
    return out.select(
        "doc_id", "keep", "dup_line_ratio", "dup_line_char_ratio",
        "top_bigram_char_ratio", "keep_all",
    )


def _q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition filters over documents: duplicate-line fractions
    (count + char mass) and top-2-gram char coverage; the bigram leg is the
    explode → groupBy → window path (linear, unlike the O(len²) in-array
    count), recomputed relationally by the oracle."""
    from pdf_to_epub_spark.operators import repetition_signals

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return repetition_signals(d)


def _q_incremental_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-recrawl near-dup: yesterday's run left a signature store for
    the original documents; today's batch (the mutated copies, found
    pending by the resume anti-join shape) gets signatures computed ONLY
    for itself, appended to the store, and LSH-joined new-vs-all.  Output
    must equal the batch minhash_pairs run restricted to pairs touching a
    new id (old–old near-dups were yesterday's output); the oracle is the
    brute-force shingle-Jaccard set under the same restriction."""
    import tempfile

    from pdf_to_epub_spark.operators import (
        incremental_near_dup_pairs,
        minhash_signatures,
    )

    corpus = mutated_recrawl(spark, sf_dir)
    old = corpus.where(F.col("doc_id") < 1_000_000)
    store = tempfile.mkdtemp(prefix="sigstore_") + "/signatures"
    minhash_signatures(old, k=3, num_hashes=32).write.parquet(store)
    pending = corpus.where(F.col("doc_id") >= 1_000_000).select("doc_id")
    return incremental_near_dup_pairs(
        corpus, pending, store, k=3, num_hashes=32, bands=8,
        jaccard_threshold=0.7,
    ).select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


def _q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clustering: connected components (iterative
    min-label propagation) over the verified MinHash pair graph — every
    doc labeled with the smallest id reachable through any pair chain
    (singletons keep their own id).  The oracle recomputes true components
    from the brute-force pair set with a recursive CTE, so the iterative
    algorithm is hash-checked, not rows-only."""
    from pdf_to_epub_spark.operators import (
        connected_components,
        minhash_candidate_pairs,
    )

    corpus = mutated_recrawl(spark, sf_dir)
    pairs = minhash_candidate_pairs(
        corpus, k=3, num_hashes=32, bands=8, jaccard_threshold=0.7
    )
    return connected_components(
        pairs.select("id_a", "id_b"), corpus.select("doc_id")
    )


def _q_dedup_near_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate REMOVAL end-to-end: the mutated-recrawl corpus after
    drop_near_duplicates must keep exactly the ids that never appear as
    the higher id of a true near-dup pair (greedy keep-lowest policy) —
    the oracle recomputes the survivor set from brute-force shingle
    Jaccard."""
    from pdf_to_epub_spark.operators import drop_near_duplicates

    kept = drop_near_duplicates(
        mutated_recrawl(spark, sf_dir),
        k=3, num_hashes=32, bands=8, jaccard_threshold=0.7,
    )
    return kept.select("doc_id")


def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with the md5-based 60-bit token hash so the
    whole fingerprint pipeline is reproducible in the DuckDB oracle.  The
    banding is pigeonhole-exact for Hamming ≤ max_hamming BELOW the
    operator's max_bucket cap, so the output must equal the oracle's
    brute-force all-pairs set — an exact oracle, not a recall assertion.
    The exactness precondition is that no 16-bit band value is shared by
    > 4096 documents, which holds by orders of magnitude at every driver
    scale (≤ 10⁴ docs); if a future corpus ever tripped it the capped
    operator would under-emit vs the brute-force oracle and this row
    would fail loudly rather than drift.  (The scale path keeps the
    faster xxhash64 default; same operator, same plan shape.)"""
    from pdf_to_epub_spark.operators import md5_hash60, simhash_near_pairs

    return simhash_near_pairs(
        mutated_recrawl(spark, sf_dir), max_hamming=3, token_hash=md5_hash60
    ).select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


def _q_ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table hyperplane LSH top-k (bits=4 × 12 tables ⇒ recall@10 ≈
    0.90 on this uniform-random corpus — ANN's worst case; the candidate
    union covers ~53% of it, the recall/scan-fraction trade the table
    count controls.  Audited against the brute-force oracle by
    tests/test_training_ops.py)."""
    from pdf_to_epub_spark.operators import lsh_topk

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = e.where("vec_id < 5").select(F.col("vec_id").alias("query_id"), "embedding")
    return lsh_topk(e, q, dim=64, k=10, bits=4, n_tables=12)


def _q_embedding_near_dups_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed embedding near-dup — the SCALE path (the all-pairs
    `embedding_near_pairs` is its sf-small verification form).  Construction
    with guaranteed recall: the corpus is unioned with positively-scaled
    copies (×1.001), whose hyperplane signatures are bit-identical to the
    originals (sign(v·r) is scale-invariant), so every true pair (cosine=1)
    shares every bucket deterministically; natural pairs top out at ~0.51
    cosine on this corpus, far below the 0.99 threshold."""
    from pdf_to_epub_spark.operators import embedding_near_duplicates

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    scaled = e.select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.001)).alias("embedding"),
    )
    return embedding_near_duplicates(
        e.union(scaled), dim=64, threshold=0.99, bits=10
    )


def _q_asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (custom operator — Spark has no native one): for each
    event, the customer's most recent order at event time.  Implemented as
    the single-shuffle union-sort-window construction; oracle uses DuckDB's
    native ASOF JOIN."""
    from pdf_to_epub_spark.operators.asof import asof_join

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    joined = asof_join(
        e, o,
        key_left="user_id", key_right="o_custkey",
        time_left="ts", time_right="o_orderdate",
        value_cols=["o_orderkey"],
    )
    return joined.select("event_id", "o_orderkey")


def _q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (lag + conditional cumsum)."""
    from pdf_to_epub_spark.operators.asof import sessionize

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    out = sessionize(e, gap_seconds=3600, order_tiebreak="event_id")
    return out.select("event_id", F.col("session_id").cast("long").alias("session_id"))


def _q_example_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/O3 truncated example sampling: keep the first ≤5 examples per
    group (reference keeps ≤5 header-block examples per log,
    Step1_ocr_cleanup_v11.py:184-191) — slice(sort_array(collect_list))."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.concat_ws(
            ",",
            F.slice(F.sort_array(F.collect_list(F.col("event_id"))), 1, 5),
        ).alias("first_ids"),
        F.count("*").alias("n_events"),
    )


def _q_shard_merge_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/S7/S8 lossless roundtrip: split each document into span-addressed
    Document-AI-style JSON shards, parse with from_json, slice spans, merge
    in shard order — merged length must equal the original text length
    (which is exactly what the DuckDB oracle computes independently)."""
    from pyspark.sql import functions as FF

    from pdf_to_epub_spark.sources.shards import (
        make_shards_from_documents,
        merge_shards,
        parse_shard_json,
        shard_text_plain,
    )

    docs = _t(spark, sf_dir, "documents").select(
        FF.col("doc_id"), FF.col("text")
    )
    shards = make_shards_from_documents(
        docs.withColumnRenamed("doc_id", "url"), n_shards=4
    )
    parsed = parse_shard_json(shards).withColumn(
        "shard_text", shard_text_plain(F.col("shard"))
    )
    merged = merge_shards(parsed)
    return merged.select(
        F.col("url").cast("long").alias("doc_id"),
        F.length("text").cast("long").alias("merged_len"),
    )


def _q_shard_pagebreak_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 page-break-aware span scan: each synthesized shard carries one
    page covering its whole text, so the jq-parity extractor emits
    shard_text + sentinel per shard and the merged length is exactly
    len(text) + n_shards · len(sentinel) — pure arithmetic for the
    oracle."""
    from pdf_to_epub_spark.sources.shards import (
        make_shards_from_documents,
        merge_shards,
        parse_shard_json,
        shard_text_with_pagebreaks,
    )

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id"), F.col("text")
    )
    shards = make_shards_from_documents(
        docs.withColumnRenamed("doc_id", "url"), n_shards=4
    )
    parsed = parse_shard_json(shards).withColumn(
        "shard_text", shard_text_with_pagebreaks(F.col("shard"))
    )
    merged = merge_shards(parsed)
    return merged.select(
        F.col("url").cast("long").alias("doc_id"),
        F.length("text").cast("long").alias("merged_len"),
    )


def _q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode: binary payload + typed metadata → features via
    Arrow-batched mapInPandas.  Decode is REAL where the stdlib suffices
    (BMP pixels, WAV PCM, GIF block walk, PNG/JPEG headers, MP3 frame
    walk, MP4 box walk); ID3/ftyp wrappers around junk surface as honest
    ``unsupported`` (audio/video payload codecs absent in this image).
    Oracle: the corpus is deterministic, so expected features are computed
    once by the same pure codecs and inlined as a VALUES golden
    (_media_features_oracle); the Spark side exercises the JVM sniff +
    Arrow batch path end-to-end against it."""
    _ship_package(spark)
    from pdf_to_epub_spark.operators.multimodal import (
        extract_media_features,
        make_media_corpus,
    )

    media = spark.createDataFrame(
        make_media_corpus(200),
        "media_id long, url string, media_type string, payload binary",
    )
    feats = extract_media_features(media, salt_partitions=8)
    return feats.select(
        "media_id", "media_type", "container", "n_bytes", "width", "height",
        "n_frames", "status",
    )


def _q_dup_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-substring spans (Lee et al. substring-level dedup):
    maximal token intervals covered by corpus-repeated 8-grams over the
    mutated-recrawl corpus — each doc's surviving prefix is an exact
    duplicate of its recrawl partner, so spans must recover it."""
    from pdf_to_epub_spark.operators import duplicate_ngram_spans

    return duplicate_ngram_spans(
        mutated_recrawl(spark, sf_dir), id_col="doc_id", k=8
    ).select("doc_id", "span_start", "span_end", "n_tokens")


def _q_masked_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Actionable substring dedup: documents rebuilt with their duplicated
    spans removed (case-preserving token rebuild, hash-compared)."""
    from pdf_to_epub_spark.operators import mask_duplicate_spans

    out = mask_duplicate_spans(mutated_recrawl(spark, sf_dir), id_col="doc_id", k=8)
    return out.select(
        "doc_id", F.md5(F.col("text")).alias("masked_md5"), "n_masked_tokens"
    )


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted-index pre-join."""
    from pdf_to_epub_spark.operators import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        mutated_recrawl(spark, sf_dir), k=4, threshold=0.8
    ).select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


def _q_pdf_extract_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF/layout-parse surface, oracled end-to-end: each documents row is
    rendered into a real PDF (sources/pdf.make_pdf_bytes — FlateDecode
    content streams, xref, page tree) whose per-page blocks are emitted in
    a doc-seeded SCRAMBLED content order; the parse side inflates the
    streams, walks the BT/ET text operators, and the reading-order stage
    must reconstruct the layout from (page, y, x) coordinates and classify
    blocks by font size.  The oracle recomputes the expected reading-order
    lines relationally from the raw text — so a parser that trusts content
    order, mis-tracks Td, or drops a page fails the hash."""
    _ship_package(spark)
    from pdf_to_epub_spark.sources.pdf import (
        blocks_in_reading_order,
        documents_as_pdfs,
        parse_pdf_payloads,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text")
    )
    blocks = blocks_in_reading_order(parse_pdf_payloads(documents_as_pdfs(docs)))
    return blocks.select(
        "doc_id",
        F.col("block_id").cast("long").alias("block_id"),
        F.col("page").cast("long").alias("page"),
        "block_type",
        "text",
    )


def _q_binary_decode_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-source surface, oracled end-to-end: the documents table is
    wrapped into ``html: binary`` pages JVM-side (exact replica of
    sources/synth.wrap_html), decoded back through the Arrow-batched pandas
    UDF, and run through the full extraction — per-url output hashes must
    equal the reference-pipeline goldens, proving the binary decode path is
    byte-transparent."""
    _ship_package(spark)
    from pdf_to_epub_spark.operators import (
        assemble_documents,
        decode_binary_pages,
        extract_documents,
    )

    docs = _docs_as_pages(_t(spark, sf_dir, "documents"))
    body = _html_escape_expr(F.col("text"))
    page = F.concat(
        F.lit("<html><head><title>"), F.col("url"),
        F.lit("</title></head><body><pre>"), body,
        F.lit("</pre></body></html>"),
    )
    pages = docs.select(
        "url", "warc_ts", "lang", F.encode(page, "UTF-8").alias("html")
    )
    decoded = decode_binary_pages(pages)
    asm = assemble_documents(extract_documents(decoded))
    return asm.select(
        "url",
        F.sha2(F.encode("assembled_text", "UTF-8"), 256).alias("text_sha"),
        F.length("assembled_text").cast("long").alias("n_chars"),
    )


def _q_ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k: coarse-quantizer cells + nprobe probing
    (the second ANN scale path alongside the LSH buckets)."""
    from pdf_to_epub_spark.operators import ivf_topk

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = e.where("vec_id < 5").select(F.col("vec_id").alias("query_id"), "embedding")
    return ivf_topk(e, q, k=10, n_centroids=16, nprobe=10)


def _q_extraction_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extraction-quality eval harness (operators/evaluate.py
    `token_overlap_eval`): a NAIVE tag-strip extractor over the synthetic
    boilerplate pages is scored against the ground-truth main content —
    recall stays 1.0 (stripping never loses article tokens) while
    precision drops to the boilerplate fraction, which is exactly the gap
    the link-density classifier closes (`html_boilerplate_extract` is
    byte-perfect on the same pages).  The oracle rebuilds the page, the
    strip, and the multiset P/R/F1 relationally."""
    from pdf_to_epub_spark.operators import token_overlap_eval

    d = _t(spark, sf_dir, "documents")
    pair = d.select(
        "doc_id",
        F.regexp_replace(_boilerplate_page_expr(), "<[^>]*>", " ").alias(
            "pred"
        ),
        F.concat(
            F.lit("Document\n"), F.coalesce(F.col("text"), F.lit(""))
        ).alias("gold"),
    )
    return token_overlap_eval(pair)


def _q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-BPE-merge pair statistics (textstats.bpe_pair_counts):
    within-word adjacent character pairs weighted by corpus word
    frequency, overlapping occurrences counted separately — all symbol
    work on the vocabulary table, never the corpus."""
    from pdf_to_epub_spark.operators import bpe_pair_counts

    return bpe_pair_counts(
        _t(spark, sf_dir, "documents"), min_weight=5
    )


def _q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first 8 learned BPE merges (textstats.bpe_learn_merges) — an
    iterative distributed algorithm: per round one vocabulary-sized pair
    aggregation, a 1-row argmax collect, and a greedy HOF rewrite of the
    symbol arrays.  The oracle is an independent pure-Python Sennrich
    replay over the same parquet (golden-VALUES pattern)."""
    from pdf_to_epub_spark.operators import bpe_learn_merges

    return bpe_learn_merges(
        _t(spark, sf_dir, "documents"), n_merges=8, min_weight=2
    )


def _q_jsonld_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-LD structured-data mining (urls.extract_jsonld): pages carry
    an Article block, every 5th a second BreadcrumbList block, every 7th
    a MALFORMED block — typed fields must parse out via the real JSON
    parser and the bad block must yield NULLs, not errors.  The oracle
    replays block extraction and uses DuckDB's JSON parser behind a
    json_valid guard (its extract raises where Spark's returns null)."""
    from pdf_to_epub_spark.operators import extract_jsonld

    d = _t(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    day = F.lpad(((F.col("doc_id") % 28) + 1).cast("string"), 2, "0")
    article = F.concat(
        F.lit('{"@type":"Article","name":"Document '), sid,
        F.lit('","datePublished":"2025-01-'), day, F.lit('"}'),
    )
    crumbs = F.when(
        (F.col("doc_id") % 5) == 0,
        F.concat(
            F.lit('<script type="application/ld+json">'
                  '{"@type":"BreadcrumbList","name":"crumbs '),
            sid, F.lit('"}</script>'),
        ),
    ).otherwise(F.lit(""))
    bad = F.when(
        (F.col("doc_id") % 7) == 3,
        F.lit('<script type="application/ld+json">{oops not json'
              "</script>"),
    ).otherwise(F.lit(""))
    html = F.concat(
        F.lit('<html><head><script type="application/ld+json">'),
        article,
        F.lit("</script>"), crumbs, bad,
        F.lit("</head><body>x</body></html>"),
    )
    pages = d.select(
        F.concat(F.lit("doc://"), sid).alias("url"),
        html.cast("binary").alias("html"),
    )
    return extract_jsonld(pages)


def _q_license_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """License routing (textstats.license_signals): deterministic grant/
    reservation footers are appended by doc_id residue; the conservative
    class rule (any reservation wins) must replay.  The oracle composes
    the SAME pattern tuple the operator uses (imported, not retyped) so
    the two sides cannot drift."""
    from pdf_to_epub_spark.operators import license_signals

    d = _t(spark, sf_dir, "documents")
    footer = (
        F.when(
            (F.col("doc_id") % 6) == 0,
            F.lit(" Licensed under Creative Commons Attribution 4.0."),
        )
        .when(
            (F.col("doc_id") % 6) == 1,
            F.lit(" All Rights Reserved. Copyright 2021 Site."),
        )
        .when(
            (F.col("doc_id") % 6) == 2,
            F.lit(" Released into the Public Domain (CC0)."),
        )
        .when(
            (F.col("doc_id") % 6) == 3,
            F.lit(" Shared as CC-BY-SA. (c) 2020 Someone."),
        )
        .otherwise(F.lit(""))
    )
    docs = d.select(
        "doc_id",
        F.concat(F.coalesce(F.col("text"), F.lit("")), footer).alias("text"),
    )
    return license_signals(docs)


def _q_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease (textstats.flesch_reading_ease) over raw
    documents; counts and the two ratio terms replay exactly in RE2
    with the mirrored division order."""
    from pdf_to_epub_spark.operators import flesch_reading_ease

    d = _t(spark, sf_dir, "documents")
    return flesch_reading_ease(d.select("doc_id", "text"))


def _q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding outlier z-scores (similarity.embedding_outliers)
    over the embeddings table's natural label clusters; the oracle
    replays centroid, distance, and moments relationally with the same
    naive-moment formulas (no builtin stddev on either side)."""
    from pdf_to_epub_spark.operators import embedding_outliers

    e = _t(spark, sf_dir, "embeddings")
    return embedding_outliers(e)


# Deterministic corruption tails for the encoding/OCR signal queries —
# built from escapes (never typed literals: the artifact bytes include
# NBSP and C1 controls).  The oracle builders splice the SAME constants
# into the SQL, so the bytes cannot drift between engines.
_MOJI_TAIL = " Caf\u00c3\u00a9 d\u00c3\u00a9j\u00c3\u00a0 vu \u00e2\u20ac\u2122na\u00c3\u00afve"
_OCR_TAIL = "\nthe exam-\nple con-\ntinued w1th c0nfusi0n b q\nab\n"


def _q_bitext_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (similarity.bitext_margin_mine): even
    vec_ids play the source language, odd the target; top-1 target per
    source at margin ≥ 1.02 with k=4 neighborhoods.  Integer micro-unit
    cosine sums make the margins replay hash-exactly in SQL."""
    from pdf_to_epub_spark.operators import bitext_margin_mine

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    return bitext_margin_mine(
        e.where(F.col("vec_id") % 2 == 0),
        e.where(F.col("vec_id") % 2 == 1),
        k=4,
        threshold=1.02,
    )


def _q_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle (sampling.training_shards): salted
    md5-60 hash → shard assignment + in-shard position, 16 shards; the
    oracle replays the hash and the per-shard rank as one window."""
    from pdf_to_epub_spark.operators import training_shards

    d = _t(spark, sf_dir, "documents")
    return training_shards(d, n_shards=16, salt="epoch0")
