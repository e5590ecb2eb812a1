"""The core distributed operator: documents → cleaned text + typed blocks.

Spark-first design notes (what holds at 100 TB / 1000 executors):

* **No shuffle in the extract itself.**  The transform is document-local, so
  it runs as ``mapInArrow`` over whatever partitioning the scan produced —
  a narrow stage fused with the parquet scan.  The only optional shuffle is
  an explicit url-hash ``repartition`` to break WARC-capture skew *before*
  the CPU-heavy stage, so stragglers are bounded by doc size, not by
  capture-order clustering.
* **Arrow-batched, no per-row Python at the API layer.**  One Python worker
  per core receives column batches; regexes are compiled once per worker at
  import time (extractlib module constants).
* **Fixed per-task worker cost**: before each task a reused worker would
  re-read every zip-import directory (pyspark.zip, a ``--py-files`` zip);
  importing the package stops that for unchanged archives (``_pyworker``).
* **doc_hash computed JVM-side** (``resume.doc_hash_column``) so the
  binary column never crosses into Python unless the caller asks for
  binary decode.
* **Error isolation**: a failing/oversized doc becomes a quarantine row
  (status column), mirroring the reference's per-shard ``continue``
  (`/root/reference/ocr-processing/merge_one_book.py:78-80`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from pdf_to_epub_spark.sources._arrow import map_rows, record_batch

from .resume import doc_hash_column, resume_payload_col

BLOCK_SCHEMA = StructType(
    [
        StructField("block_id", LongType()),
        StructField("block_type", StringType()),
        StructField("text", StringType()),
        StructField("span_start", LongType()),
        StructField("span_end", LongType()),
    ]
)

EXTRACTED_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("lang", StringType()),
        StructField("doc_hash", StringType()),
        StructField("status", StringType()),
        StructField("error", StringType()),
        StructField("text", StringType()),
        StructField("n_chars", LongType()),
        StructField("n_blocks", IntegerType()),
        StructField("blocks", ArrayType(BLOCK_SCHEMA)),
        StructField("counters", MapType(StringType(), LongType())),
    ]
)

# The seven columns the stage computes; the first four pass through.
_COMPUTED_SCHEMA = StructType(EXTRACTED_SCHEMA.fields[4:])


def _result_batches_arrow(fn):
    """mapInArrow worker factory: run ``fn(value) -> ExtractResult`` over
    the ``payload`` column of each batch (OCR mode: stage1→2→3 over the
    text; HTML/PDF mode: parse+classify over the raw bytes).

    ``url, warc_ts, lang, doc_hash`` stay the Arrow arrays Spark sent: a
    ``TimestampType`` value that round-trips through Python comes back
    shifted under a non-UTC session time zone.  The computed columns are
    built by ``record_batch``; a ``Block`` is a tuple in ``BLOCK_SCHEMA``
    order, so it is a ``blocks`` struct as is."""

    def gen(batches):
        import pyarrow as pa

        names = EXTRACTED_SCHEMA.fieldNames()
        for rb in batches:
            rows = []
            for payload in rb.column("payload").to_pylist():
                r = fn(payload)
                # counters values must be ints (a bool is rejected by the
                # int64 map): _flatten_counters casts bools, and every other
                # producer counts with len/sum/+= 1
                rows.append(
                    (r.status, r.error, r.text, len(r.text), len(r.blocks),
                     r.blocks, r.counters)
                )
            computed = record_batch(rows, _COMPUTED_SCHEMA)
            yield pa.RecordBatch.from_arrays(
                [*(rb.column(c) for c in names[:4]), *computed.columns],
                names=names,
            )

    return gen


def extract_documents(
    docs: DataFrame,
    text_col: str = "text",
    salt_partitions: int | None = None,
    max_doc_chars: int = 50_000_000,
) -> DataFrame:
    """documents(url, warc_ts, html, text, lang) → extracted rows.

    ``salt_partitions``: explicit url-hash repartition width.  At cluster
    scale pass ~2-4× the executor-core count (or rely on an Iceberg
    ``bucket(N, url)`` layout and skip this); ``None`` keeps scan
    partitioning (no shuffle).
    """
    import functools

    from pdf_to_epub_spark.extractlib.pipeline import extract_document

    fn = functools.partial(extract_document, max_doc_chars=max_doc_chars)
    hash_col = resume_payload_col(docs.columns, text_col)
    return _extract_stage(docs, hash_col, text_col, fn, salt_partitions)


def _extract_stage(
    docs: DataFrame,
    hash_col: str,
    payload_col: str,
    fn,
    salt_partitions: int | None,
) -> DataFrame:
    """The one plan shape of every extraction mode: narrow scan → optional
    url-hash salt → one Arrow-batched Python stage running ``fn`` per
    document.  ``doc_hash`` is ``hash_col`` hashed JVM-side; only
    ``payload_col`` (as ``payload``) and the pass-through url/warc_ts/lang
    columns cross into Python, so OCR mode never ships a page's ``html``."""
    narrowed = docs.select(
        F.col("url"),
        F.col("warc_ts"),
        F.col("lang"),
        doc_hash_column(hash_col).alias("doc_hash"),
        F.col(payload_col).alias("payload"),
    )
    if salt_partitions:
        narrowed = narrowed.repartition(salt_partitions, F.xxhash64("url"))
    return narrowed.mapInArrow(_result_batches_arrow(fn), EXTRACTED_SCHEMA)


def extract_html_documents(
    docs: DataFrame,
    html_col: str = "html",
    salt_partitions: int | None = None,
    min_words: int = 0,
    mode: str = "density",
) -> DataFrame:
    """pages(url, warc_ts, html, lang) → extracted rows via the HTML
    main-content mode (tag-aware block segmentation + link-density
    boilerplate classification, extractlib/htmlblocks.py) — the north_star's
    Boilerpipe-style DOM surface.  Same plan shape as the OCR mode: narrow
    scan → optional url-hash salt → one Arrow-batched Python stage; the
    binary column goes to Python (it must be parsed), but nothing else
    does."""
    import functools

    from pdf_to_epub_spark.extractlib.htmlblocks import extract_html_document

    fn = functools.partial(extract_html_document, min_words=min_words, mode=mode)
    return _extract_stage(docs, html_col, html_col, fn, salt_partitions)


def extract_pdf_document(raw, heading_min_size: float = 14.0):
    """One PDF payload → ExtractResult: parse the content streams,
    reconstruct reading order from coordinates (page asc, y desc, x asc),
    classify blocks by font size, and tile the assembled text with spans —
    the same per-document contract as the OCR and HTML modes, so the PDF
    path plugs into the identical assembly/metrics/resume wiring."""
    from pdf_to_epub_spark.extractlib.blocks import Block
    from pdf_to_epub_spark.extractlib.pipeline import ExtractResult
    from pdf_to_epub_spark.sources.pdf import UnsupportedPdf, extract_pdf_blocks

    if raw is None:
        return ExtractResult("", [], {}, status="error", error="null payload")
    try:
        parsed = extract_pdf_blocks(bytes(raw))
    except UnsupportedPdf as exc:
        return ExtractResult(
            "", [], {}, status="unsupported", error=str(exc)[:500]
        )
    except Exception as exc:  # noqa: BLE001 — quarantine, don't kill the task
        return ExtractResult("", [], {}, status="error", error=repr(exc)[:500])
    ordered = sorted(parsed, key=lambda b: (b[0], -b[2], b[1]))
    blocks: list[Block] = []
    offset = 0
    headings = 0
    for i, (_page, _x, _y, size, text) in enumerate(ordered):
        btype = "heading" if size >= heading_min_size else "paragraph"
        headings += btype == "heading"
        # blocks TILE the assembled text, separator included (the same
        # contract as segment_blocks) so assemble_documents' exact
        # concatenation reproduces the document byte-for-byte
        piece = text if i == len(ordered) - 1 else text + "\n"
        blocks.append(Block(i, btype, piece, offset, offset + len(piece)))
        offset += len(piece)
    full = "".join(b.text for b in blocks)
    counters = {
        "pdf.pages": (max(b[0] for b in parsed) + 1) if parsed else 0,
        "pdf.blocks": len(blocks),
        "pdf.headings": headings,
    }
    return ExtractResult(full, blocks, counters)


def extract_pdf_documents(
    docs: DataFrame,
    pdf_col: str = "html",
    salt_partitions: int | None = None,
    heading_min_size: float = 14.0,
) -> DataFrame:
    """pages(url, warc_ts, html=PDF bytes, lang) → extracted rows via the
    PDF/layout mode (sources/pdf.py parser + per-doc reading-order
    reconstruction).  Same plan shape as the OCR/HTML modes: narrow scan →
    optional url-hash salt → ONE Arrow-batched Python stage; the
    reading-order sort happens per document inside the worker, so it adds
    no shuffle.  ``pdf_col`` is both the hashed identity and the payload
    that crosses into Python."""
    import functools

    fn = functools.partial(extract_pdf_document, heading_min_size=heading_min_size)
    return _extract_stage(docs, pdf_col, pdf_col, fn, salt_partitions)


def blocks_table(extracted: DataFrame) -> DataFrame:
    """Explode to the per-row output contract
    ``(url, block_id, block_type, text, span_start, span_end)``."""
    return (
        extracted.where(F.col("status") == "ok")
        .select("url", F.explode("blocks").alias("b"))
        .select(
            "url",
            F.col("b.block_id").alias("block_id"),
            F.col("b.block_type").alias("block_type"),
            F.col("b.text").alias("text"),
            F.col("b.span_start").alias("span_start"),
            F.col("b.span_end").alias("span_end"),
        )
    )


IMAGE_REFS_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("seq", IntegerType()),
        StructField("src", StringType()),
        StructField("alt", StringType()),
        StructField("boilerplate", BooleanType()),
    ]
)


def extract_image_refs(
    pages: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """pages → one row per ``<img>``: reading-order ``seq``, raw ``src``,
    ``alt`` text, and the tag-prior ``boilerplate`` flag (inside
    nav/header/footer/aside or a suppressed subtree → chrome, not
    content) — the IMAGE leg of the north_star's heading/paragraph/image
    segmentation, sharing the tag-stack classifier and charset sniffing
    of the HTML main-content mode (extractlib/htmlblocks.py).

    Plan shape matches the other binary extraction modes: narrow
    (url, html) projection → one Arrow-batched Python stage; src
    resolution and all downstream filtering stay JVM-side (see
    :func:`image_caption_pairs`).  Error isolation mirrors the sibling
    modes' contract: a NULL, oversized (> ``max_page_bytes``), or
    unparseable page contributes zero manifest rows instead of killing
    the task — a manifest has no status column to quarantine into, and
    one bad crawl row must never fail the job."""
    from pdf_to_epub_spark.extractlib.htmlblocks import parse_image_refs

    max_page_bytes = 50_000_000

    def refs(url, html):
        if html is None or len(html) > max_page_bytes:
            return ()
        try:
            found = parse_image_refs(html)
        except Exception:
            return ()
        return [(url, r.seq, r.src, r.alt, r.boilerplate) for r in found]

    return map_rows(pages, [url_col, html_col], IMAGE_REFS_SCHEMA, refs)


def image_caption_pairs(
    pages: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    content_only: bool = True,
) -> DataFrame:
    """The multimodal training-data manifest: ``(url, seq, img_url,
    caption)`` for every fetchable content image — the (image, caption)
    pair extraction a CLIP-style image-text pipeline runs over a crawl
    before the actual image fetch/decode (operators/multimodal.py takes
    over from the fetched bytes).  Chrome images (the boilerplate flag:
    logos, badges, nav art) are dropped by default; src resolution is the
    crawler href resolution shared with outlink/anchor extraction
    (operators/urls.py), which also drops fragments and non-fetchable
    schemes (javascript:/mailto:/data:/tel:)."""
    from pdf_to_epub_spark.operators.urls import _keepable_href, _resolve_href

    refs = extract_image_refs(pages, html_col, url_col)
    if content_only:
        refs = refs.where(~F.col("boilerplate"))
    src = F.col("src")
    # Scheme allowlist, not just the 4-scheme denylist: an unrecognized
    # scheme (file:, ftp:, blob:, about:) slips past _keepable_href and
    # _resolve_href's otherwise-branch would fabricate
    # "http://host/dir/file:///…" — a URL a downstream fetcher would
    # actually request.  Fetchable = absolute http(s), or no scheme at
    # all (relative / origin / protocol-relative forms, which resolve
    # against the http(s) page URL).
    fetchable = src.rlike(r"^(?i)https?://") | ~src.rlike(
        r"^[A-Za-z][A-Za-z0-9+.\-]*:"
    )
    return refs.where(_keepable_href(src) & fetchable).select(
        "url",
        "seq",
        _resolve_href(src, F.col("url")).alias("img_url"),
        F.col("alt").alias("caption"),
    )


def decode_binary_pages(docs: DataFrame, html_col: str = "html") -> DataFrame:
    """Binary-source decode surface: html bytes → text column.

    Analog of the reference's RTF decode
    (`/root/reference/text-processing/legacy/Step1_ocr_cleanup_v7.py:89-104`)
    — an Arrow-batched scalar pandas UDF, never row-at-a-time Python.
    """
    from pdf_to_epub_spark.functions.udfs import decode_html_udf

    return docs.withColumn("text", decode_html_udf(F.col(html_col)))


# HTML/XML tag spellings matched byte-exactly after BOM/whitespace strip
# (shared by the JVM when-chain AND the py replica — full case folding on
# raw bytes isn't worth the decode hazard; these cover the spec-canonical
# and lowercase forms seen in crawls).  Zip subtypes are told apart by
# the FIRST member's name at the fixed local-header offset 30 (EPUB
# mandates mimetype-first-STORED, so its name AND content sit at known
# offsets; OOXML convention puts [Content_Types].xml first).
_HTML_PREFIXES = (
    b"<!DOCTYPE html", b"<!DOCTYPE HTML", b"<!doctype html",
    b"<html", b"<HTML",
)
_XML_PREFIX = b"<?xml"


def sniff_document(payload_col: str = "payload") -> F.Column:
    """JVM-side document-container detection on the binary prefix —
    the front-door router that dispatches a mixed crawl store to the
    right source parser (pdf / epub / docx-ooxml / zip / rtf / gzip /
    html / xml / text / binary / empty) without a byte of Python.
    Keep :func:`py_sniff_document` (the oracle replica) bit-for-bit in
    sync.  HTML/XML tags are matched after stripping leading ASCII
    whitespace (and a UTF-8 BOM); anything undetected but
    printable-ASCII in its first 64 bytes is ``text``."""
    raw = F.col(payload_col)
    hex_all = F.hex(F.substring(raw, 1, 256))
    # strip a UTF-8 BOM then leading ASCII whitespace, on the hex string
    # (pairs of hex digits == bytes, so the regexes stay byte-aligned)
    hex_body = F.regexp_replace(
        F.regexp_replace(hex_all, "^EFBBBF", ""),
        "^(09|0A|0D|20)+", "",
    )

    def starts(b: bytes) -> F.Column:
        return F.hex(F.substring(raw, 1, len(b))) == b.hex().upper()

    def body_starts(b: bytes) -> F.Column:
        return hex_body.startswith(b.hex().upper())

    zip_name = F.substring(raw, 31, 19)  # first local-header name field
    printable = F.hex(F.substring(raw, 1, 64)).rlike(
        "^(09|0A|0D|[2-6][0-9A-F]|7[0-9A-E])*$"
    )
    cases = (
        F.when(raw.isNull() | (F.length(raw) == 0), F.lit("empty"))
        .when(starts(b"%PDF-"), F.lit("pdf"))
        .when(
            starts(b"PK\x03\x04")
            & (F.substring(raw, 31, 8) == F.lit(b"mimetype"))
            & (F.substring(raw, 39, 20) == F.lit(b"application/epub+zip")),
            F.lit("epub"),
        )
        .when(
            starts(b"PK\x03\x04")
            & (zip_name == F.lit(b"[Content_Types].xml")),
            F.lit("ooxml"),
        )
        .when(starts(b"PK\x03\x04"), F.lit("zip"))
        .when(starts(b"{\\rtf"), F.lit("rtf"))
        .when(starts(b"\x1f\x8b"), F.lit("gzip"))
    )
    for p in _HTML_PREFIXES:
        cases = cases.when(body_starts(p), F.lit("html"))
    return (
        cases.when(body_starts(_XML_PREFIX), F.lit("xml"))
        .when(printable, F.lit("text"))
        .otherwise(F.lit("binary"))
    )


def py_sniff_document(raw: bytes | None) -> str:
    """Pure-Python replica of :func:`sniff_document` for golden-oracle
    construction — same order, same fixed zip offsets, same 64-byte
    printable window."""
    if not raw:
        return "empty"
    if raw.startswith(b"%PDF-"):
        return "pdf"
    if raw.startswith(b"PK\x03\x04"):
        if raw[30:38] == b"mimetype" and raw[38:58] == b"application/epub+zip":
            return "epub"
        if raw[30:49] == b"[Content_Types].xml":
            return "ooxml"
        return "zip"
    if raw.startswith(b"{\\rtf"):
        return "rtf"
    if raw.startswith(b"\x1f\x8b"):
        return "gzip"
    body = raw[:256]
    if body.startswith(b"\xef\xbb\xbf"):
        body = body[3:]
    body = body.lstrip(b"\t\n\r ")
    for p in _HTML_PREFIXES:
        if body.startswith(p):
            return "html"
    if body.startswith(_XML_PREFIX):
        return "xml"
    if all(b in (9, 10, 13) or 0x20 <= b <= 0x7E for b in raw[:64]):
        return "text"
    return "binary"


def route_payloads(
    docs: DataFrame, payload_col: str = "payload"
) -> DataFrame:
    """Adds ``detected`` (see :func:`sniff_document`) — the dispatch key
    a mixed-container ingest partitions on before handing each slice to
    its source parser.  Pure column algebra on the binary prefix: no
    shuffle, no Python, scales with input splits."""
    return docs.withColumn("detected", sniff_document(payload_col))
