"""EPUB export utility — the binary sink at the end of the pipeline.

The distributed query ends at the assembled-document table; packaging a
document as an EPUB zip is a per-row local export (driver side or
``foreachPartition``), mirroring the reference's pandoc-free builder
(`/root/reference/text-processing/legacy/Step4_create_epub.py:39-155`):
chapters split at ``CHAPTER <ROMAN>`` headings, one XHTML per chapter,
chapters-only nav TOC, OPF manifest + spine, and the zip layout rule that
``mimetype`` is the first entry, stored uncompressed
(`/root/reference/pdf_to_epub.sh:439-449`).

Deterministic: identifiers derive from the document url hash — no uuid/now.
"""

from __future__ import annotations

import hashlib
import io
import zipfile

from .extractlib.blocks import Block, chapter_struct
from .extractlib.markdownize import html_escape

_CONTAINER_XML = (
    '<?xml version="1.0" encoding="UTF-8"?>\n'
    '<container version="1.0" xmlns="urn:oasis:names:tc:opendocument:xmlns:container">\n'
    "  <rootfiles>\n"
    '    <rootfile full-path="OEBPS/content.opf" media-type="application/oebps-package+xml"/>\n'
    "  </rootfiles>\n"
    "</container>\n"
)

_CSS = (
    "body{font-family:serif;line-height:1.4}"
    "h1{page-break-before:always;text-align:center}"
    "p{margin:0;text-indent:1.2em}"
)


def _zip_entry(name: str) -> zipfile.ZipInfo:
    """A zip member header with a fixed date: ``writestr`` with a bare
    name stamps the wall-clock time, and retries and re-runs must
    reproduce an EPUB or ``.docx`` bit-for-bit (matches the fixed
    ``dcterms:modified`` of the OPF).  A bare ``ZipInfo`` is STORED, so
    callers pass ``compress_type``."""
    zi = zipfile.ZipInfo(name, date_time=(2020, 1, 1, 0, 0, 0))
    # bare ZipInfo leaves external_attr 0 (mode 000 on unix
    # extractors); mirror writestr's bare-name default
    zi.external_attr = 0o600 << 16
    return zi


def _paragraphs(blocks: list[dict]) -> list[str]:
    out = []
    for b in blocks:
        if b["block_type"] not in ("paragraph", "title", "volume"):
            continue
        text = " ".join(b["text"].split())
        if text:
            out.append(text)
    return out


def _chapter_xhtml(idx: int, title: str, paras: list[str], lang: str) -> str:
    body = "\n".join(f"<p>{html_escape(p)}</p>" for p in paras)
    return (
        '<?xml version="1.0" encoding="utf-8"?>\n<!DOCTYPE html>\n'
        f'<html xmlns="http://www.w3.org/1999/xhtml" xml:lang="{lang}" lang="{lang}">\n'
        f"<head>\n<meta charset=\"utf-8\"/>\n<title>{html_escape(title)}</title>\n"
        '<link rel="stylesheet" type="text/css" href="../Styles/style.css"/>\n</head>\n'
        f'<body>\n<h1 id="h{idx}">{html_escape(title)}</h1>\n{body}\n</body>\n</html>\n'
    )


def epub_bytes(
    blocks: list[Block] | list[dict],
    title: str = "Untitled",
    author: str = "",
    lang: str = "en",
    url: str = "",
) -> bytes:
    """Assemble a minimal, valid EPUB3 zip from a document's blocks."""
    dicts = [
        b._asdict() if isinstance(b, Block) else dict(b) for b in blocks
    ]
    doc = chapter_struct([Block(**d) for d in dicts])
    pub_id = "urn:sha256:" + hashlib.sha256(url.encode("utf-8")).hexdigest()[:32]

    chapters: list[tuple[str, list[str]]] = []
    if doc["front_matter"]:
        paras = _paragraphs(doc["front_matter"])
        if paras:
            chapters.append(("Front Matter", paras))
    for ch in doc["chapters"]:
        chapters.append((ch["heading"], _paragraphs(ch["blocks"])))
    if not chapters:
        chapters.append(("Body", _paragraphs(dicts)))

    manifest = ['<item id="nav" href="nav.xhtml" media-type="application/xhtml+xml" properties="nav"/>']
    spine = []
    files: dict[str, str] = {}
    nav_items = []
    for i, (ch_title, paras) in enumerate(chapters, start=1):
        fn = f"Text/chap_{i:03d}.xhtml"
        files[f"OEBPS/{fn}"] = _chapter_xhtml(i, ch_title, paras, lang)
        manifest.append(
            f'<item id="chap{i}" href="{fn}" media-type="application/xhtml+xml"/>'
        )
        spine.append(f'<itemref idref="chap{i}"/>')
        nav_items.append(f'<li><a href="{fn}#h{i}">{html_escape(ch_title)}</a></li>')

    manifest.append('<item id="css" href="Styles/style.css" media-type="text/css"/>')
    files["OEBPS/Styles/style.css"] = _CSS
    files["OEBPS/nav.xhtml"] = (
        '<?xml version="1.0" encoding="utf-8"?>\n<!DOCTYPE html>\n'
        '<html xmlns="http://www.w3.org/1999/xhtml" xmlns:epub="http://www.idpf.org/2007/ops">\n'
        "<head><meta charset=\"utf-8\"/><title>Contents</title></head>\n"
        '<body>\n<nav epub:type="toc" id="toc">\n<h1>Contents</h1>\n<ol>\n'
        + "\n".join(nav_items)
        + "\n</ol>\n</nav>\n</body>\n</html>\n"
    )
    files["OEBPS/content.opf"] = (
        "<?xml version='1.0' encoding='utf-8'?>\n"
        '<package xmlns="http://www.idpf.org/2007/opf" unique-identifier="pub-id" version="3.0">\n'
        '  <metadata xmlns:dc="http://purl.org/dc/elements/1.1/">\n'
        f'    <dc:identifier id="pub-id">{pub_id}</dc:identifier>\n'
        f"    <dc:title>{html_escape(title)}</dc:title>\n"
        f"    <dc:creator>{html_escape(author)}</dc:creator>\n"
        f"    <dc:language>{html_escape(lang)}</dc:language>\n"
        # EPUB3 requires dcterms:modified; fixed timestamp keeps the zip
        # byte-deterministic (same rationale as the fixed zip entry dates).
        '    <meta property="dcterms:modified">2020-01-01T00:00:00Z</meta>\n'
        "  </metadata>\n"
        f"  <manifest>\n    {chr(10).join(manifest)}\n  </manifest>\n"
        f"  <spine>\n    {chr(10).join(spine)}\n  </spine>\n"
        "</package>\n"
    )

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        # EPUB spec: mimetype first, STORED (uncompressed)
        z.writestr(_zip_entry("mimetype"), "application/epub+zip", compress_type=zipfile.ZIP_STORED)
        z.writestr(_zip_entry("META-INF/container.xml"), _CONTAINER_XML, compress_type=zipfile.ZIP_DEFLATED)
        for name, content in files.items():
            z.writestr(_zip_entry(name), content, compress_type=zipfile.ZIP_DEFLATED)
    return buf.getvalue()


def export_partition(rows, out_dir: str) -> None:
    """``foreachPartition`` helper: write one .epub per assembled-document
    row (expects columns url, blocks, and optionally lang)."""
    import pathlib

    out = pathlib.Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    for row in rows:
        name = hashlib.sha256(row["url"].encode("utf-8")).hexdigest()[:16]
        payload = epub_bytes(
            [b.asDict() if hasattr(b, "asDict") else b for b in row["blocks"]],
            title=row["url"],
            lang=row["lang"] if "lang" in row else "en",
            url=row["url"],
        )
        (out / f"{name}.epub").write_bytes(payload)
