"""DOCX source: minimal-OOXML writer + REAL WordprocessingML extraction.

The reference converts office-ish documents into chapter-structured EPUB
(SURVEY §2 S4/S11 — the RTF legacy source is the same "one more office
container" surface); this module adds the modern equivalent as a pure
distributed source, stdlib-only like sources/pdf.py and sources/warc.py:

* a spec-shaped ``.docx`` writer — a real ZIP package with
  ``[Content_Types].xml``, ``_rels/.rels`` and ``word/document.xml``
  (WordprocessingML: ``w:p`` paragraphs, ``w:pPr/w:pStyle`` paragraph
  styles, ``w:r`` runs, ``w:t xml:space="preserve"`` text, ``w:tab``,
  XML entity escaping), runs deliberately SPLIT mid-word at fixed
  positions the way real exporters fragment them, so the parser must
  reassemble text across run boundaries;
* a parser that opens the ZIP, walks ``document.xml`` in document order
  and emits one row per paragraph block: ``(block_id, block_type,
  text)`` with headings recognised from ``w:pStyle`` — run
  concatenation, entity unescape, tab/break materialisation.

Scope (honest): text + paragraph styles only — no tables, numbering,
images, footnotes, or themes; encrypted/other containers raise
:class:`UnsupportedDocx`.  Same "structure real, codec out of scope"
line the PDF and media modules draw.

Scale shape: both directions are narrow Arrow-batched maps — no shuffle;
a 100 TB corpus of docx payloads parses embarrassingly parallel, and the
downstream assembly reuses the HTML/PDF block pipeline unchanged.
"""

from __future__ import annotations

import io
import zipfile
from xml.etree import ElementTree
from xml.sax.saxutils import escape

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pdf_to_epub_spark.export import _zip_entry
from pdf_to_epub_spark.sources._arrow import (
    isolated,
    map_rows,
    render_documents,
)

W_NS = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"


class UnsupportedDocx(Exception):
    """Raised for payloads this parser cannot genuinely handle (not a
    ZIP, no ``word/document.xml``, malformed XML)."""


# ---------------------------------------------------------------------------
# Deterministic block derivation (shared spec between writer and oracle)
# ---------------------------------------------------------------------------

PARA_TOKENS = 40       # tokens per body paragraph
HEADING_EVERY = 6      # a heading opens every 6th paragraph chunk
TAB_EVERY = 4          # every 4th body paragraph opens with a hard tab


def doc_blocks(doc_id: int, text: str) -> list[tuple[str, str]]:
    """The deterministic ``(style, text)`` block list a document renders
    to — the shared contract between :func:`make_docx_bytes`, the parser
    tests, and the driver's DuckDB oracle (which replays this rule
    relationally from the raw text).

    * tokens (``str.split``) group into chunks of ``PARA_TOKENS``;
    * every ``HEADING_EVERY``-th chunk is preceded by a ``Heading1``
      paragraph ``"Section {doc_id}.{k} — R&D <draft>"`` (the entity-bait
      characters are the point: they must XML-escape and round-trip);
    * every ``TAB_EVERY``-th body chunk opens with a hard tab;
    * an empty document still yields its opening heading (block lists are
      never empty, matching the never-vanish contract of the other
      sources).
    """
    toks = (text or "").split()
    n_chunks = (len(toks) + PARA_TOKENS - 1) // PARA_TOKENS
    blocks: list[tuple[str, str]] = []
    for k in range(max(n_chunks, 1)):
        if k % HEADING_EVERY == 0:
            blocks.append(
                (
                    "Heading1",
                    f"Section {doc_id}.{k // HEADING_EVERY} — R&D <draft>",
                )
            )
        if k < n_chunks:
            body = " ".join(toks[k * PARA_TOKENS : (k + 1) * PARA_TOKENS])
            if k % TAB_EVERY == 0:
                body = "\t" + body
            blocks.append(("BodyText", body))
    return blocks


# ---------------------------------------------------------------------------
# Writer
# ---------------------------------------------------------------------------

_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType='
    '"application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/word/document.xml" ContentType='
    '"application/vnd.openxmlformats-officedocument.wordprocessingml.'
    'document.main+xml"/>'
    "</Types>"
)

_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns='
    '"http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
    'officeDocument/2006/relationships/officeDocument" '
    'Target="word/document.xml"/>'
    "</Relationships>"
)

RUN_SPLIT = 7  # split paragraph text into runs of 7 chars (mid-word on purpose)


def _para_xml(style: str, text: str) -> str:
    """One ``w:p``: style in ``w:pPr``, text fragmented into short runs
    (``xml:space="preserve"`` so boundary spaces survive), a leading tab
    rendered as the ``w:tab`` element — the shapes real exporters emit."""
    parts = [f'<w:p><w:pPr><w:pStyle w:val="{style}"/></w:pPr>']
    if text.startswith("\t"):
        parts.append("<w:r><w:tab/></w:r>")
        text = text[1:]
    for at in range(0, len(text), RUN_SPLIT):
        chunk = escape(text[at : at + RUN_SPLIT])
        parts.append(f'<w:r><w:t xml:space="preserve">{chunk}</w:t></w:r>')
    parts.append("</w:p>")
    return "".join(parts)


def make_docx_bytes(doc_id: int, text: str) -> bytes:
    """Render a document's deterministic block list (:func:`doc_blocks`)
    into a structurally honest ``.docx`` ZIP package."""
    paras = "".join(_para_xml(style, t) for style, t in doc_blocks(doc_id, text))
    document = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<w:document xmlns:w="{W_NS}"><w:body>{paras}</w:body></w:document>'
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for name, part in (
            ("[Content_Types].xml", _CONTENT_TYPES),
            ("_rels/.rels", _RELS),
            ("word/document.xml", document),
        ):
            zf.writestr(
                _zip_entry(name), part, compress_type=zipfile.ZIP_DEFLATED
            )
    return buf.getvalue()


# ---------------------------------------------------------------------------
# Parser
# ---------------------------------------------------------------------------

def extract_docx_blocks(raw: bytes) -> list[tuple[str, str]]:
    """``.docx`` bytes → ordered ``(style, text)`` paragraph blocks.

    Does the genuine WordprocessingML work: ZIP open, ``document.xml``
    parse, per-paragraph ``w:pPr/w:pStyle`` lookup, run concatenation
    across fragmented ``w:r`` elements, ``w:tab``/``w:br``/``w:cr``
    materialisation, and XML entity unescape (free via the XML parser).
    Raises :class:`UnsupportedDocx` for non-ZIP payloads, packages with
    no ``word/document.xml``, or malformed XML.
    """
    try:
        zf = zipfile.ZipFile(io.BytesIO(raw))
    except (zipfile.BadZipFile, OSError) as exc:
        raise UnsupportedDocx("not a ZIP package") from exc
    with zf:
        try:
            doc_xml = zf.read("word/document.xml")
        except KeyError as exc:
            raise UnsupportedDocx("no word/document.xml part") from exc
    try:
        root = ElementTree.fromstring(doc_xml)
    except ElementTree.ParseError as exc:
        raise UnsupportedDocx("malformed document.xml") from exc

    blocks: list[tuple[str, str]] = []
    for p in root.iter(f"{{{W_NS}}}p"):
        style_el = p.find(f"{{{W_NS}}}pPr/{{{W_NS}}}pStyle")
        style = style_el.get(f"{{{W_NS}}}val", "") if style_el is not None else ""
        pieces: list[str] = []
        for el in p.iter():
            tag = el.tag.rsplit("}", 1)[-1]
            if tag == "t":
                pieces.append(el.text or "")
            elif tag == "tab":
                pieces.append("\t")
            elif tag in ("br", "cr"):
                pieces.append("\n")
        blocks.append((style, "".join(pieces)))
    return blocks


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------

DOCX_BLOCK_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("block_id", IntegerType()),
        StructField("block_type", StringType()),
        StructField("text", StringType()),
        StructField("status", StringType()),
    ]
)


def documents_as_docx(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """documents → ``(doc_id, docx: binary)``, Arrow-batched, no shuffle."""
    return render_documents(
        docs, id_col, text_col, "docx", BinaryType(), make_docx_bytes
    )


def parse_docx_payloads(
    df: DataFrame, payload_col: str = "docx", id_col: str = "doc_id"
) -> DataFrame:
    """``(id, docx: binary)`` rows → one row per paragraph block in
    document order, Arrow-batched and narrow (no shuffle).  Headings are
    classified from the ``Heading<N>`` style family; every input doc
    yields at least one row (``status='unsupported'`` / ``'error'`` /
    ``'empty'`` markers — error isolation, never a task failure and never
    a silently vanished document; same contract as sources/pdf.py)."""

    def blocks(doc_id, raw):
        for seq, (style, text) in enumerate(extract_docx_blocks(raw), 1):
            kind = "heading" if style.startswith("Heading") else "para"
            yield doc_id, seq, kind, text, "ok"

    return map_rows(
        df,
        [id_col, payload_col],
        DOCX_BLOCK_SCHEMA,
        isolated(blocks, UnsupportedDocx, "empty", DOCX_BLOCK_SCHEMA),
    )


def docx_chapters(blocks: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Chapter assembly over parsed docx blocks — the same
    heading-opens-a-chapter rollup the reference's EPUB spine builds
    (SURVEY §2 A2), expressed as a running heading count + groupBy.

    One shuffle on the doc id; the cumulative window is per-document so
    skew is bounded by document size, and only slim (id, chapter, len)
    columns plus the heading title ride into the aggregation.

    Returns ``(doc_id, chapter_id, title, n_paras, n_chars)`` —
    ``n_chars`` counts body-paragraph characters only.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(id_col)
        .orderBy("block_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_heading = (F.col("block_type") == "heading").cast("long")
    numbered = blocks.where(F.col("status") == "ok").withColumn(
        "chapter_id", F.sum(is_heading).over(w)
    )
    return numbered.groupBy(id_col, "chapter_id").agg(
        F.max(
            F.when(F.col("block_type") == "heading", F.col("text"))
        ).alias("title"),
        F.sum((F.col("block_type") == "para").cast("long")).alias("n_paras"),
        F.sum(
            F.when(
                F.col("block_type") == "para", F.length("text")
            ).otherwise(F.lit(0))
        ).alias("n_chars"),
    )
