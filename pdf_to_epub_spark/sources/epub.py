"""EPUB3 source — the inverse of the export sink (`export.epub_bytes`),
completing the round trip the reference names itself after
(`/root/reference/pdf_to_epub.sh` produces EPUBs; re-ingesting them is
how a curation pipeline audits or recovers already-published output).

Parses the standard container subset: ``META-INF/container.xml`` →
rootfile lookup, the OPF package (Dublin Core metadata, manifest href
table, spine order, hrefs resolved relative to the OPF directory), and
per-chapter XHTML reduced to its first heading plus ``<p>`` paragraph
texts (tags stripped, entities unescaped — the exact inverse of
`_chapter_xhtml`'s minimal &<> escaping, and tolerant of attributes and
nested inline markup in wild files).

Pure stdlib (zipfile + ElementTree for the XML-proper parts, regex for
the wild-HTML chapter bodies — chapter files in real EPUBs are often
not well-formed XML, so ET would reject what a reader renders fine).
"""

from __future__ import annotations

import html
import io
import posixpath
import re
import urllib.parse
import xml.etree.ElementTree as ET
import zipfile

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pdf_to_epub_spark.sources._arrow import isolated, map_rows

_NS_CONTAINER = {"c": "urn:oasis:names:tc:opendocument:xmlns:container"}
_NS_OPF = {
    "o": "http://www.idpf.org/2007/opf",
    "dc": "http://purl.org/dc/elements/1.1/",
}

_HEADING_RE = re.compile(r"<h([1-6])\b[^>]*>(.*?)</h\1>", re.S | re.I)
_PARA_RE = re.compile(r"<p\b[^>]*>(.*?)</p>", re.S | re.I)
# HTML5-faithful tag spans: '<' + ASCII letter (or '</', '<!--') starts
# a tag token, exactly as browsers tokenize — so '<n and j>' strips like
# an unknown element, while literal '<' before space/digit/'=' survives
_TAG_RE = re.compile(r"</?[A-Za-z][^>]*>|<!--.*?-->", re.S)


class UnsupportedEpub(ValueError):
    """Raised when the zip is not an EPUB this parser understands."""


# per-member decompressed-read ceiling: a crafted zip bomb otherwise
# inflates to executor-OOM, which the never-a-task-failure isolation
# cannot catch (OOM kills the process, not the except block)
_MAX_MEMBER_BYTES = 64 * 1024 * 1024


def _read_member(zf: zipfile.ZipFile, name: str) -> bytes:
    """Bounded read of one zip member; `UnsupportedEpub` past the cap
    (checked on the actual decompressed stream, not the forgeable
    central-directory size)."""
    with zf.open(name) as fh:
        data = fh.read(_MAX_MEMBER_BYTES + 1)
    if len(data) > _MAX_MEMBER_BYTES:
        raise UnsupportedEpub(f"member {name!r} exceeds read cap")
    return data


def _clean(fragment: str) -> str:
    """Inline-markup strip + entity unescape + whitespace collapse —
    the inverse of `_chapter_xhtml`'s ``<p>{escape(p)}</p>`` render
    (paragraph text was already single-spaced by `_paragraphs`)."""
    return " ".join(html.unescape(_TAG_RE.sub("", fragment)).split())


def parse_epub_bytes(data: bytes) -> dict:
    """EPUB zip → ``{title, author, lang, identifier, chapters:[{idx,
    href, heading, paras}]}`` in spine order.  Raises `UnsupportedEpub`
    on a non-EPUB zip (missing container/rootfile/OPF) and lets
    ``zipfile.BadZipFile`` escape for non-zip bytes — callers running
    inside a Spark task wrap both (see `parse_epub_payloads`)."""
    zf = zipfile.ZipFile(io.BytesIO(data))
    names = set(zf.namelist())
    if "META-INF/container.xml" not in names:
        raise UnsupportedEpub("no META-INF/container.xml")
    try:
        container = ET.fromstring(_read_member(zf, "META-INF/container.xml"))
    except ET.ParseError as e:  # pragma: no cover - malformed container
        raise UnsupportedEpub(f"bad container.xml: {e}") from e
    rootfile = container.find(".//c:rootfile", _NS_CONTAINER)
    if rootfile is None or "full-path" not in rootfile.attrib:
        raise UnsupportedEpub("container.xml has no rootfile")
    opf_path = rootfile.attrib["full-path"]
    if opf_path not in names:
        raise UnsupportedEpub(f"rootfile {opf_path!r} missing from zip")
    try:
        opf = ET.fromstring(_read_member(zf, opf_path))
    except ET.ParseError as e:
        raise UnsupportedEpub(f"bad OPF: {e}") from e
    opf_dir = posixpath.dirname(opf_path)

    def meta(tag: str) -> str:
        el = opf.find(f"o:metadata/dc:{tag}", _NS_OPF)
        return (el.text or "") if el is not None else ""

    manifest: dict[str, tuple[str, str]] = {}
    nav_ids = set()
    for item in opf.findall("o:manifest/o:item", _NS_OPF):
        iid = item.attrib.get("id", "")
        manifest[iid] = (
            item.attrib.get("href", ""),
            item.attrib.get("media-type", ""),
        )
        if "nav" in item.attrib.get("properties", "").split():
            nav_ids.add(iid)

    chapters = []
    idx = 0
    for ref in opf.findall("o:spine/o:itemref", _NS_OPF):
        idref = ref.attrib.get("idref", "")
        if idref in nav_ids or idref not in manifest:
            continue
        href, media = manifest[idref]
        if media and "xhtml" not in media and "html" not in media:
            continue
        # hrefs are IRIs: drop any #fragment and URL-decode (%20 etc.)
        # before the zip-name lookup — wild files use both
        target = urllib.parse.unquote(href.split("#", 1)[0])
        full = posixpath.join(opf_dir, target) if opf_dir else target
        full = posixpath.normpath(full)
        if full not in names:
            continue
        body = _read_member(zf, full).decode("utf-8", errors="replace")
        m = _HEADING_RE.search(body)
        heading = _clean(m.group(2)) if m else ""
        paras = [p for p in (_clean(x) for x in _PARA_RE.findall(body)) if p]
        idx += 1
        chapters.append(
            {"idx": idx, "href": href, "heading": heading, "paras": paras}
        )
    return {
        "title": meta("title"),
        "author": meta("creator"),
        "lang": meta("language"),
        "identifier": meta("identifier"),
        "chapters": chapters,
    }


EPUB_CHAPTER_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("chapter_idx", IntegerType()),
        StructField("heading", StringType()),
        StructField("text", StringType()),
        StructField("n_paras", IntegerType()),
        StructField("status", StringType()),
    ]
)


def parse_epub_payloads(
    df: DataFrame, payload_col: str = "epub", id_col: str = "doc_id"
) -> DataFrame:
    """``(id, epub: binary)`` rows → one row per spine chapter in
    reading order (``chapter_idx``, first heading, newline-joined
    paragraph text, paragraph count), Arrow-batched and narrow — no
    shuffle; at 10¹² docs this is a pure map stage over however the
    EPUB store is partitioned.  Error isolation follows the
    sources/docx.py contract: a broken zip / non-EPUB payload yields a
    single ``status='error'`` / ``'unsupported'`` marker row, an EPUB
    with no chapters yields ``'empty'`` — never a task failure, never a
    silently vanished document.

    The id column passes through under its own name and type (url
    strings work as well as long ids): the output schema's id field is
    the input's, and every output column is typed from that schema."""
    id_field = df.select(id_col).schema.fields[0]
    out_schema = StructType(
        [StructField(id_field.name, id_field.dataType)]
        + EPUB_CHAPTER_SCHEMA.fields[1:]
    )

    def chapters(doc_id, raw):
        for ch in parse_epub_bytes(raw)["chapters"]:
            paras = ch["paras"]
            text = "\n".join(paras)
            yield doc_id, ch["idx"], ch["heading"], text, len(paras), "ok"

    return map_rows(
        df,
        [id_col, payload_col],
        out_schema,
        isolated(chapters, UnsupportedEpub, "empty", out_schema),
    )
