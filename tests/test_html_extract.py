"""HTML main-content extraction (extractlib/htmlblocks.py + the Spark
operator): tag-prior and link-density classification, span tiling, error
isolation, and the Spark roundtrip against the synthetic-page ground truth.
"""

from __future__ import annotations

import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

from pdf_to_epub_spark.extractlib.htmlblocks import (
    classify_blocks,
    extract_html_document,
    parse_blocks,
)
from pdf_to_epub_spark.sources.synth import (
    expected_main_content,
    make_boilerplate_page,
    make_document_text,
)


def test_tag_prior_drops_chrome():
    html = (
        "<html><body>"
        "<nav><a href='/'>Home</a> <a href='/x'>X</a></nav>"
        "<header><p>site banner</p></header>"
        "<h2>Real Title</h2>"
        "<p>Real content paragraph with several words in it.</p>"
        "<aside><p>sidebar junk</p></aside>"
        "<footer><p>copyright</p></footer>"
        "</body></html>"
    )
    blocks, counters = classify_blocks(parse_blocks(html))
    assert [b.block_type for b in blocks] == ["heading", "paragraph"]
    assert blocks[0].text == "Real Title\n"
    assert counters["html.dropped_tag_prior"] == 4


def test_link_density_rule():
    html = (
        "<body>"
        "<div><a href='/a'>Buy</a> <a href='/b'>Now</a></div>"  # ~all link
        "<p>Plain prose here with a tiny <a href='/c'>link</a> inside "
        "a much longer run of ordinary text that dominates.</p>"
        "</body>"
    )
    blocks, counters = classify_blocks(parse_blocks(html))
    assert len(blocks) == 1 and blocks[0].block_type == "paragraph"
    assert counters["html.dropped_link_density"] == 1
    assert counters["html.link_chars"] > 0


def test_script_style_title_suppressed():
    html = (
        "<html><head><title>never me</title>"
        "<style>p { color: red }</style>"
        "<script>var x = 'nor me';</script></head>"
        "<body><p>only me</p></body></html>"
    )
    blocks, _ = classify_blocks(parse_blocks(html))
    assert [b.text for b in blocks] == ["only me\n"]


def test_min_words_suppression():
    html = "<body><p>tiny</p><h3>Short Head</h3><p>" + "word " * 30 + "</p></body>"
    blocks, counters = classify_blocks(parse_blocks(html), min_words=5)
    # headings are exempt from the word floor
    assert [b.block_type for b in blocks] == ["heading", "paragraph"]
    assert counters["html.dropped_short"] == 1


def test_spans_tile_and_reassemble():
    page = make_boilerplate_page(3, "doc://3", make_document_text(3, seed=42))
    res = extract_html_document(page)
    assert res.status == "ok"
    assert "".join(b.text for b in res.blocks) == res.text
    offset = 0
    for b in res.blocks:
        assert b.span_start == offset
        assert res.text[b.span_start:b.span_end] == b.text
        offset = b.span_end
    assert offset == len(res.text)


def test_misnesting_tolerated():
    html = "<body><p>one <b>two</p><p>three</b> four</p></body>"
    blocks, _ = classify_blocks(parse_blocks(html))
    assert [b.text for b in blocks] == ["one two\n", "three four\n"]


def test_error_isolation():
    big = b"<p>" + b"x" * 10 + b"</p>"
    res = extract_html_document(big, max_doc_bytes=5)
    assert res.status == "quarantined" and res.blocks == []
    assert extract_html_document(None).status == "error"
    # undecodable bytes are replaced, never fatal
    res = extract_html_document(b"<p>ok \xff\xfe body text</p>")
    assert res.status == "ok" and len(res.blocks) == 1


def test_ground_truth_roundtrip_corpus():
    for i in range(8):
        text = make_document_text(i, seed=9)
        res = extract_html_document(make_boilerplate_page(i, f"doc://{i}", text))
        assert res.status == "ok"
        assert res.text == expected_main_content(i, text), f"doc {i}"
        assert res.counters["html.headings"] == 1


def test_spark_operator_roundtrip(spark):
    from pyspark.sql import functions as F

    from pdf_to_epub_spark.operators import (
        assemble_documents,
        blocks_table,
        extract_html_documents,
    )

    rows = []
    for i in range(40):
        text = make_document_text(i, seed=21)
        rows.append(
            (f"doc://{i}", make_boilerplate_page(i, f"doc://{i}", text), "en",
             expected_main_content(i, text))
        )
    # an empty page (status ok, zero blocks) and a null one (status error)
    # must be dropped by both assembly input forms
    edge = [("doc://empty", b"", "en", None), ("doc://null", None, "en", None)]
    df = spark.createDataFrame(
        rows + edge, "url string, html binary, lang string, expected string"
    ).withColumn("warc_ts", F.to_timestamp(F.lit("2025-01-01 00:00:00")))

    extracted = extract_html_documents(df, salt_partitions=4).localCheckpoint()
    statuses = {
        r["url"]: (r["status"], r["n_blocks"])
        for r in extracted.where(F.col("url").isin("doc://empty", "doc://null"))
        .collect()
    }
    assert statuses == {"doc://empty": ("ok", 0), "doc://null": ("error", 0)}
    asm = assemble_documents(extracted)
    plan = asm._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Generate" not in plan, plan
    by_url = {r["url"]: r.asDict(recursive=True) for r in asm.collect()}
    assert by_url == {
        r["url"]: r.asDict(recursive=True)
        for r in assemble_documents(blocks_table(extracted)).collect()
    }
    joined = asm.join(df.select("url", "expected"), "url")
    bad = joined.where(F.col("assembled_text") != F.col("expected")).count()
    assert bad == 0
    assert asm.count() == 40
    # counters ride through the extracted schema
    ctr = extracted.select(F.explode("counters").alias("k", "v"))
    keys = {r["k"] for r in ctr.select("k").distinct().collect()}
    assert "html.dropped_tag_prior" in keys and "html.paragraphs" in keys
    # doc_hash is the SHA-256 of the stored page bytes (the resume identity)
    import hashlib

    hashes = extracted.select("url", "doc_hash").collect()
    assert dict(hashes) == {
        u: hashlib.sha256(h).hexdigest() if h is not None else None
        for u, h, *_ in rows + edge
    }


def test_numwords_classifier_rule():
    """The Boilerpipe NumWords/LinkDensity rule (Kohlschütter et al., WSDM
    2010): short link-free boilerplate fragments drop on context, short
    prose inside a dense neighborhood survives, link-heavy neighbors raise
    the word-count bar."""
    from pdf_to_epub_spark.extractlib.htmlblocks import (
        RawBlock,
        numwords_is_content,
    )

    prose = lambda n: RawBlock("p", "word " * n, 0, False)  # noqa: E731
    linky = RawBlock("p", "x " * 9, 25, False)  # link_density > 0.556
    # isolated short fragment (copyright line) → boilerplate
    assert not numwords_is_content(None, RawBlock("p", "Copyright 2025", 0, False), None)
    # the same fragment after a dense paragraph (prev words > 4) → content
    assert numwords_is_content(prose(20), RawBlock("p", "Short reply here.", 0, False), None)
    # link-heavy previous block raises the bar to > 40 words
    assert not numwords_is_content(linky, prose(20), None)
    assert numwords_is_content(linky, prose(41), None)
    # link-dense current block is always boilerplate
    assert not numwords_is_content(prose(20), linky, prose(20))


def test_numwords_mode_end_to_end():
    html = (
        "<body>"
        "<h2>Title Of The Piece</h2>"
        "<p>" + "word " * 30 + "</p>"
        "<p>Posted in: misc</p>"          # short, isolated after dense? prev dense keeps it
        "<div><a href='/a'>share</a> <a href='/b'>tweet</a></div>"
        "<p>" + "prose " * 25 + "</p>"
        "</body>"
    )
    blocks, counters = classify_blocks(parse_blocks(html), mode="numwords")
    texts = [b.text for b in blocks]
    assert texts[0] == "Title Of The Piece\n"
    assert not any("share" in t for t in texts)  # link-dense div dropped
    # a dangling heading with no kept content after it is dropped
    blocks2, _ = classify_blocks(
        parse_blocks("<body><h2>Orphan Head</h2><div><a href='/x'>only links</a></div></body>"),
        mode="numwords",
    )
    assert blocks2 == []
    # spans still tile
    offset = 0
    for b in blocks:
        assert b.span_start == offset
        offset = b.span_end


def test_fuzz_html_invariants():
    """Randomized (seeded) HTML torture: arbitrary nesting, misnesting,
    unclosed tags, entities, junk attributes — the extractor must never
    crash, must keep the span-tiling invariant, must never leak
    script/style/suppressed text, and must never keep a block whose link
    density exceeds the threshold (density mode)."""
    import random

    from pdf_to_epub_spark.extractlib.htmlblocks import (
        LINK_DENSITY_MAX,
        classify_blocks,
        parse_blocks,
    )

    tags = ["p", "div", "span", "b", "li", "ul", "h2", "td", "table",
            "nav", "footer", "aside", "script", "style", "a", "article"]
    words = ["alpha", "beta", "gamma", "&amp;", "&lt;x&gt;", "Página",
             "naïve", "42", "—", "SECRET_SCRIPT", "..."]

    for seed in range(60):
        rng = random.Random(seed)
        parts = ["<body>"]
        open_stack = []
        for _ in range(rng.randint(5, 60)):
            r = rng.random()
            if r < 0.35:
                t = rng.choice(tags)
                attr = ' href="/x"' if t == "a" else (' class="c"' if r < 0.1 else "")
                parts.append(f"<{t}{attr}>")
                open_stack.append(t)
            elif r < 0.6 and open_stack:
                # sometimes close the wrong tag (misnesting)
                t = open_stack.pop() if rng.random() < 0.8 else rng.choice(tags)
                parts.append(f"</{t}>")
            else:
                parts.append(" ".join(rng.choices(words, k=rng.randint(1, 12))))
        parts.append("</body>")
        html = "".join(parts)

        raw = parse_blocks(html)
        # script/style content never reaches any raw block UNLESS the
        # generator emitted the word as plain text outside those tags —
        # approximate by checking blocks flushed while suppressed: parser
        # guarantees it structurally, so just assert no crash + features sane
        for b in raw:
            assert 0.0 <= b.link_density <= 1.0 + 1e-9
            assert b.link_chars <= len(b.text)

        for mode in ("density", "numwords"):
            blocks, counters = classify_blocks(raw, mode=mode)
            joined = "".join(b.text for b in blocks)
            offset = 0
            for b in blocks:
                assert b.span_start == offset
                assert joined[b.span_start:b.span_end] == b.text
                offset = b.span_end
            assert counters["html.blocks_total"] == len(raw)
        dens_blocks, _ = classify_blocks(raw, mode="density")
        kept_texts = {b.text[:-1] for b in dens_blocks}
        for rb in raw:
            if rb.link_density > LINK_DENSITY_MAX:
                assert rb.text not in kept_texts


def test_realistic_blog_page():
    """Handcrafted blog-shaped page: chrome, share bars, related-posts and
    comment-meta junk must vanish; title, byline-free prose and a quote
    survive (numwords mode)."""
    html = (
        '<html><head><title>My Blog - A Post</title>'
        '<style>.x{color:red}</style></head><body>'
        '<header><div><a href="/">My Blog</a> <a href="/about">About</a> '
        '<a href="/rss">RSS</a></div></header>'
        '<nav><ul><li><a href="/t/spark">spark</a></li>'
        '<li><a href="/t/data">data</a></li></ul></nav>'
        '<article>'
        '<h1>Why We Moved The Pipeline To Spark</h1>'
        '<p>When our crawl corpus crossed a hundred terabytes the nightly '
        'batch stopped finishing, and every ad-hoc fix made the DAG harder '
        'to reason about than the one before it.</p>'
        '<div class="share"><a href="/tw">Tweet</a> <a href="/fb">Share</a> '
        '<a href="/hn">Upvote</a></div>'
        # NB: this paragraph sits right after a link-dense share bar, which
        # raises the NumWords bar to >40 words (prev.linkDensity > 0.556) —
        # it must be long enough to clear it, exactly as the published rule
        # prescribes.
        '<p>The rewrite started with the smallest job we had, a '
        'deduplication pass, because it touched every row and nothing '
        'downstream depended on its internals, and from there we worked '
        'outward one stage at a time, porting each transformation only '
        'after its predecessor matched the legacy output byte for byte '
        'on the full regression corpus.</p>'
        '<blockquote>Declare the plan, let the optimizer schedule it, and '
        'measure before believing anything.</blockquote>'
        '<p>Six weeks later the same hardware finished in four hours.</p>'
        '</article>'
        '<aside><h3>Related</h3><ul><li><a href="/p/1">Scaling lessons</a>'
        '</li><li><a href="/p/2">Parquet tips</a></li></ul></aside>'
        '<footer><p>(c) 2025 myblog.example - <a href="/legal">legal</a>'
        '</p></footer></body></html>'
    )
    blocks, _ = classify_blocks(parse_blocks(html), mode="numwords")
    texts = [b.text.strip() for b in blocks]
    assert texts[0] == "Why We Moved The Pipeline To Spark"
    assert [b.block_type for b in blocks][0] == "heading"
    assert any(t.startswith("When our crawl corpus") for t in texts)
    assert any(t.startswith("The rewrite started") for t in texts)
    assert any(t.startswith("Declare the plan") for t in texts)
    assert any(t.startswith("Six weeks later") for t in texts)
    joined = " ".join(texts)
    for junk in ("Tweet", "Upvote", "Related", "RSS", "legal", "About",
                 "Scaling lessons", "color:red", "My Blog - A Post"):
        assert junk not in joined, junk


def test_realistic_reference_page():
    """Wiki-shaped page: infobox-ish link table and edit links drop; body
    paragraphs and section heading survive (density mode — link-light
    tables of prose would survive too, which is correct for wikis)."""
    html = (
        '<html><body>'
        '<div id="siteSub"><a href="/wiki/Main">Main page</a> '
        '<a href="/wiki/Random">Random</a> <a href="/wiki/Help">Help</a></div>'
        '<h1>Common Crawl</h1>'
        '<table class="infobox"><tr><td><a href="/wiki/Foundation">'
        'Foundation</a></td><td><a href="/wiki/2007">2007</a></td></tr>'
        '</table>'
        '<p>Common Crawl is a nonprofit organization that crawls the web '
        'and freely provides its archives and datasets to the public.</p>'
        '<h2>History</h2>'
        '<p>The corpus contains petabytes of data collected over more than '
        'a decade of web crawling, released in monthly snapshots.</p>'
        '</body></html>'
    )
    blocks, _ = classify_blocks(parse_blocks(html), mode="density")
    texts = [b.text.strip() for b in blocks]
    assert "Common Crawl" in texts[0]
    assert any(t.startswith("Common Crawl is a nonprofit") for t in texts)
    assert any(t == "History" for t in texts)
    assert any(t.startswith("The corpus contains petabytes") for t in texts)
    joined = " ".join(texts)
    for junk in ("Main page", "Random", "Foundation", "2007"):
        assert junk not in joined, junk


def test_empty_document_page():
    """A page built from an empty document keeps only the heading (the
    oracle's zero-lines CASE branch)."""
    res = extract_html_document(make_boilerplate_page(5, "doc://5", ""))
    assert res.status == "ok"
    assert res.text == "Document 5\n"
    assert [b.block_type for b in res.blocks] == ["heading"]


def test_html_blocks_to_epub_sink(spark):
    """HTML-mode blocks flow into the EPUB sink unchanged (same block
    schema): the produced zip is a valid deterministic EPUB with the
    heading in the TOC."""
    import io
    import zipfile

    from pyspark.sql import functions as F

    from pdf_to_epub_spark.export import epub_bytes
    from pdf_to_epub_spark.operators import (
        assemble_documents,
        extract_html_documents,
    )

    text = make_document_text(2, seed=33)
    df = spark.createDataFrame(
        [("doc://2", make_boilerplate_page(2, "doc://2", text), "en")],
        "url string, html binary, lang string",
    ).withColumn("warc_ts", F.to_timestamp(F.lit("2025-01-01 00:00:00")))
    asm = assemble_documents(extract_html_documents(df)).collect()[0]
    payload = epub_bytes(
        [b.asDict() for b in asm["blocks"]], title="doc://2", lang="en"
    )
    z = zipfile.ZipFile(io.BytesIO(payload))
    names = z.namelist()
    assert names[0] == "mimetype"
    nav = z.read("OEBPS/nav.xhtml").decode("utf-8")
    assert "Document 2" in nav
    opf = z.read("OEBPS/content.opf").decode("utf-8")
    assert "dcterms:modified" in opf
    # deterministic bytes
    assert payload == epub_bytes(
        [b.asDict() for b in asm["blocks"]], title="doc://2", lang="en"
    )


def test_charset_sniffing_paths():
    """CC pages arrive in many charsets: BOMs, meta declarations (incl.
    http-equiv), strict-utf8, and the cp1252 fallback for undeclared
    legacy bytes must all decode; the charset used lands in counters."""
    from pdf_to_epub_spark.extractlib.htmlblocks import (
        extract_html_document,
        sniff_decode,
    )

    ru = "<html><head><meta charset='windows-1251'></head><body><p>Привет мир тест</p></body></html>"
    text, cs = sniff_decode(ru.encode("cp1251"))
    assert cs == "cp1251" and "Привет" in text
    jp = ('<html><head><meta http-equiv="Content-Type" '
          'content="text/html; charset=Shift_JIS"></head>'
          "<body><p>日本語のページです</p></body></html>")
    text, cs = sniff_decode(jp.encode("shift_jis"))
    assert cs == "shift_jis" and "日本語" in text
    # undeclared cp1252 smart quotes: utf-8 strict fails, fallback maps them
    text, cs = sniff_decode("café “smart quotes”".encode("cp1252"))
    assert cs == "cp1252" and "“smart quotes”" in text
    # declared-but-unknown charset: ladder falls through, page still decodes
    text, cs = sniff_decode(b"<meta charset='x-bogus-enc'><p>still works</p>")
    assert "still works" in text
    # a declared charset with stray mojibake bytes stays that charset
    text, cs = sniff_decode(
        "<meta charset='utf-8'><p>ok</p>".encode() + b"\xff\xfe\xfa"
    )
    assert cs == "utf-8" and "ok" in text
    # codecs.lookup-resolvable NON-TEXT codec (hex/base64/zlib): must fall
    # through the ladder, not raise LookupError out of the decode
    text, cs = sniff_decode(b"<meta charset='hex'><p>hex trap</p>")
    assert cs in ("utf-8", "cp1252") and "hex trap" in text
    # charset= inside an unrelated attribute value must NOT win
    desc = ('<html><head><meta name="description" '
            'content="how to set charset=koi8-r in html">'
            "<body>plain utf-8 “text”</body></html>")
    text, cs = sniff_decode(desc.encode("utf-8"))
    assert cs == "utf-8" and "“text”" in text
    # commented-out declaration loses to the live one
    text, cs = sniff_decode(
        b"<!-- <meta charset='koi8-r'> --><meta charset='windows-1251'>"
        + "<p>Привет</p>".encode("cp1251")
    )
    assert cs == "cp1251" and "Привет" in text
    # reversed http-equiv attribute order (content first) still resolves
    text, cs = sniff_decode(
        ('<meta content="text/html; charset=Shift_JIS" '
         'http-equiv="Content-Type"><p>日本語</p>').encode("shift_jis")
    )
    assert cs == "shift_jis" and "日本語" in text
    # bytearray input (the Spark binary column shape) works unchanged
    text, cs = sniff_decode(bytearray(ru.encode("cp1251")))
    assert cs == "cp1251" and "Привет" in text

    res = extract_html_document(ru.encode("cp1251"))
    assert res.status == "ok"
    assert "Привет мир тест" in res.text
    assert res.counters.get("charset.cp1251") == 1


def test_charset_sniffing_review_fixes():
    """Round-4 review pins: charset attribute in any position (HTML5
    allows it) still detected; a comment left open past the prescan
    window can't resurrect a dead declaration."""
    from pdf_to_epub_spark.extractlib.htmlblocks import sniff_decode

    text, cs = sniff_decode(
        '<meta id="x" charset="windows-1251"><p>Привет</p>'.encode("cp1251")
    )
    assert cs == "cp1251" and "Привет" in text
    # opener inside the window, '-->' beyond it: the commented-out
    # declaration must not win (page body is utf-8)
    page = (
        b"<!-- legacy header <meta charset='koi8-r'> "
        + b"x" * 5000
        + b" --><meta charset='utf-8'>"
        + "<p>ok “q”</p>".encode("utf-8")
    )
    text, cs = sniff_decode(page)
    assert cs in ("utf-8", "cp1252") and "ok" in text
    assert "“q”" in text


# ---------------------------------------------------------------------------
# Image segmentation (north_star: heading/paragraph/IMAGE)
# ---------------------------------------------------------------------------


def test_parse_image_refs_order_attrs_and_boilerplate():
    from pdf_to_epub_spark.extractlib.htmlblocks import parse_image_refs

    page = (
        '<html><body><nav><img src="/logo.png" alt="logo"></nav>'
        "<p>one</p>"
        '<img src="a.jpg" alt=" padded ">'
        '<figure><img src="/fig.png"></figure>'          # no alt
        '<img alt="no src">'                             # no src
        '<img src="dup1.png" src="dup2.png" alt="x" alt="y">'  # first wins
        '<img src="self.png" alt="self-closed"/>'        # startend tag
        '<footer><img src="b.png" alt="badge"></footer>'
        '<script>var s = \'<img src="ghost.png">\';</script>'
        "</body></html>"
    )
    refs = parse_image_refs(page)
    # the script-embedded img IS parsed by html.parser (script content is
    # CDATA-ish but the tokenizer still sees the tag only via handle_data —
    # verify it is NOT emitted: html.parser treats <script> content as raw
    # text, so no ghost tag).
    assert [r.src for r in refs] == [
        "/logo.png", "a.jpg", "/fig.png", "", "dup1.png", "self.png", "b.png"
    ]
    assert [r.seq for r in refs] == list(range(7))
    assert [r.alt for r in refs] == [
        "logo", "padded", "", "no src", "x", "self-closed", "badge"
    ]
    assert [r.boilerplate for r in refs] == [
        True, False, False, False, False, False, True
    ]
    # bytes input goes through sniff_decode
    assert parse_image_refs(page.encode("utf-8"))[0].src == "/logo.png"


def test_image_caption_pairs_operator(spark):
    from pdf_to_epub_spark.operators import image_caption_pairs

    rows = [
        (
            "http://ex.org/a/page.html",
            (
                '<html><body><nav><img src="/logo.png" alt="logo"></nav>'
                '<p>text</p><img src="pic.jpg" alt="A cat">'
                '<img src="//cdn.ex.org/c.png" alt="proto-relative">'
                '<img src="http://other.org/d.png" alt="absolute">'
                '<img src="data:image/gif;base64,AA" alt="inline">'
                '<img src="" alt="empty src">'
                '<img src="file:///etc/passwd.png" alt="local">'
                '<img src="ftp://mirror/x.png" alt="ftp">'
                "</body></html>"
            ).encode("utf-8"),
        )
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    got = {
        (r.seq, r.img_url, r.caption)
        for r in image_caption_pairs(pages).collect()
    }
    # logo dropped (boilerplate); data:, empty, file:, ftp: dropped (the
    # scheme allowlist — a non-http scheme must NOT resolve into a
    # fabricated "http://host/dir/file:///…" fetch target);
    # relative/origin/protocol-relative/absolute all resolve
    assert got == {
        (1, "http://ex.org/a/pic.jpg", "A cat"),
        (2, "http://cdn.ex.org/c.png", "proto-relative"),
        (3, "http://other.org/d.png", "absolute"),
    }


def test_image_manifest_error_isolation(spark):
    """NULL / oversized / unparseable pages contribute zero manifest rows
    instead of killing the job."""
    from pdf_to_epub_spark.operators import extract_image_refs

    rows = [
        ("http://ex.org/null", None),
        ("http://ex.org/ok", b'<img src="/a.png" alt="a">'),
        ("http://ex.org/garbage", b"\x00\xff<not html"),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    got = [(r.url, r.src) for r in extract_image_refs(pages).collect()]
    assert got == [("http://ex.org/ok", "/a.png")]


def test_image_manifest_to_media_features_composition(spark):
    """End-to-end multimodal leg: pages → (image_url, caption) manifest →
    (simulated fetch: deterministic BMP bytes per image_url) →
    extract_media_features.  The fetch itself needs a network a cluster
    job would have; everything around it — manifest extraction, the
    join shape, container sniff, decode — runs for real."""
    from pyspark.sql import functions as F

    from pdf_to_epub_spark.functions.mediacodec import make_bmp
    from pdf_to_epub_spark.operators import image_caption_pairs
    from pdf_to_epub_spark.operators.multimodal import extract_media_features

    pages = spark.createDataFrame(
        [
            (
                "http://ex.org/p1",
                (
                    '<html><body><p>x</p><img src="/a.bmp" alt="one">'
                    '<img src="/b.bmp" alt="two"></body></html>'
                ).encode(),
            ),
            (
                "http://ex.org/p2",
                '<html><body><img src="/c.bmp" alt="three"></body></html>'.encode(),
            ),
        ],
        "url string, html binary",
    )
    manifest = image_caption_pairs(pages)

    # deterministic "fetched" payloads: width varies per image basename
    def fake_fetch(img_url: str) -> bytes:
        w = 2 + (ord(img_url.rsplit("/", 1)[1][0]) - ord("a"))
        return make_bmp(w, 2, lambda x, y: (10 * x, 10 * y, 0))

    rows = [
        (i, r.img_url, r.caption, fake_fetch(r.img_url))
        for i, r in enumerate(sorted(manifest.collect(), key=lambda r: r.img_url))
    ]
    media = spark.createDataFrame(
        rows, "media_id long, url string, caption string, payload binary"
    ).withColumn("media_type", F.lit("image"))
    feats = {
        (r.url, r.width, r.height, r.status)
        for r in extract_media_features(media).collect()
    }
    assert feats == {
        ("http://ex.org/a.bmp", 2, 2, "ok"),
        ("http://ex.org/b.bmp", 3, 2, "ok"),
        ("http://ex.org/c.bmp", 4, 2, "ok"),
    }


# --------------------------------------------------------------------------
# Readability mode (session 14): top-candidate container selection
# --------------------------------------------------------------------------


_READABILITY_PAGE = b"""<html><head><title>t</title></head><body>
<nav><p>Home | About | Contact, with, many, commas, all, over</p></nav>
<div id=side><p>Short link list</p><a href=x>click</a></div>
<div id=main>
  <h2>The Heading</h2>
  <p>This is the first long paragraph of real content, with commas, and
it goes on for a while to pass the character bar easily.</p>
  <p>Second paragraph of honest article prose, also long enough, with a
comma or two, to score additional candidate points.</p>
</div>
<div id=comments><p>short</p><p>meh</p></div>
</body></html>"""


def test_readability_picks_top_candidate():
    from pdf_to_epub_spark.extractlib.htmlblocks import (
        extract_html_document,
    )

    r = extract_html_document(_READABILITY_PAGE, mode="readability")
    assert r.status == "ok"
    texts = [b.text for b in r.blocks]
    # winner subtree: heading + the two long paragraphs
    assert any(b.block_type == "heading" for b in r.blocks)
    assert any("first long paragraph" in t for t in texts)
    assert any("Second paragraph" in t for t in texts)
    # nav is prior-stripped; losing sibling containers are excluded
    assert not any("Home | About" in t for t in texts)
    assert not any("Short link list" in t for t in texts)
    assert not any("meh" in t for t in texts)
    # blocks tile the assembled text (the assembly invariant)
    assert "".join(texts) == r.text
    for b in r.blocks:
        assert r.text[b.span_start:b.span_end] == b.text
    assert r.counters["readability.candidates"] >= 2


def test_readability_cleans_link_dense_children():
    from pdf_to_epub_spark.extractlib.htmlblocks import (
        extract_html_document,
    )

    # the ad div lives INSIDE the winning container: subtree membership
    # keeps it, cleanConditionally must throw it out
    page = (
        b"<html><body><div id=a>"
        b"<p>A long opening paragraph, with some commas, easily past the"
        b" twenty-five character bar.</p>"
        b'<div class=ad><a href="/buy">Buy now</a> <a href="/p">Promo</a></div>'
        b"<p>A second long paragraph of content, still inside the winning"
        b" container, with more commas.</p>"
        b"</div></body></html>"
    )
    r = extract_html_document(page, mode="readability")
    texts = [b.text for b in r.blocks]
    assert not any("Buy now" in t for t in texts)
    assert r.counters["readability.cleaned"] == 1
    assert len([t for t in texts if "paragraph" in t]) == 2


def test_readability_no_prose_extracts_empty():
    from pdf_to_epub_spark.extractlib.htmlblocks import (
        extract_html_document,
    )

    r = extract_html_document(
        b"<html><body><ul><li>a</li><li>b</li></ul>"
        b"<div><p>short one</p></div></body></html>",
        mode="readability",
    )
    assert r.status == "ok" and r.blocks == [] and r.text == ""
    assert r.counters["readability.candidates"] == 0


def test_readability_grandparent_half_points():
    from pdf_to_epub_spark.extractlib.htmlblocks import (
        _ContainerParser,
        readability_blocks,
    )

    # two child divs each with one scoring paragraph: neither child
    # outscores the parent (which collects both half-point shares plus
    # nothing direct); parent wins -> BOTH paragraphs kept
    page = (
        "<html><body><div id=article>"
        "<div><p>First sub-section paragraph, long enough, with a comma"
        " for an extra point here.</p></div>"
        "<div><p>Second sub-section paragraph, also long enough, with a"
        " comma of its own too.</p></div>"
        "</div></body></html>"
    )
    p = _ContainerParser()
    p.feed(page)
    p.close()
    p._flush()
    kept, counters = readability_blocks(p.blocks, p.chains)
    texts = [b.text for b in kept]
    assert any("First sub-section" in t for t in texts)
    assert any("Second sub-section" in t for t in texts)
