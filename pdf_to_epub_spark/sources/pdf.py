"""PDF source: minimal-PDF writer + REAL content-stream text extraction.

The north-star transform names "PDF/layout parse" alongside the HTML path:
this module is that path, pure-stdlib like sources/warc.py — a
spec-correct PDF 1.4 writer (objects, FlateDecode content streams, xref
table) and a parser that does the genuine work a layout pass needs:

* object scan + stream inflate (``/FlateDecode`` via zlib),
* page-tree walk in ``/Kids`` order,
* content-stream tokenization of the text operators (``BT/ET``, ``Tf``,
  ``Td/TD/Tm``, ``Tj/TJ``, ``'``), literal + hex string forms with escape
  handling,
* per-block (x, y, font-size, text) emission in CONTENT order — which is
  NOT reading order: real-world PDF generators emit blocks in arbitrary
  z/content order, so reconstruction (sort by page, -y, x) is a separate,
  testable stage (operators side), exactly like the reference pipeline's
  shard merge-in-reading-order (SURVEY §2 S8).

Scope (honest): text extraction only — no font/CMap decoding (strings are
byte-decoded latin-1, or UTF-16BE behind the spec's BOM-prefixed Unicode
form, which the writer emits for non-latin text), no rotation matrices beyond
``Tm`` translation, no encryption (``/Encrypt`` raises
:class:`UnsupportedPdf`), no image XObjects.  That is the same
"structure real, codec out of scope" line sources/warc.py and
functions/mediacodec.py draw.
"""

from __future__ import annotations

import io
import random
import re
import zlib
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pdf_to_epub_spark.sources._arrow import (
    isolated,
    map_rows,
    render_documents,
)


class UnsupportedPdf(Exception):
    """Raised for PDFs this parser cannot genuinely handle (encrypted,
    non-Flate filters, no page tree)."""


# ---------------------------------------------------------------------------
# Writer
# ---------------------------------------------------------------------------

def _string_token(s: str) -> bytes:
    """A PDF string token for ``s``: an escaped literal when latin-1
    suffices, else a BOM-prefixed UTF-16BE hex string (the spec's Unicode
    text-string form) — so non-latin content (bullets, CJK) round-trips
    instead of degrading to '?'."""
    try:
        b = (
            s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
        ).encode("latin-1")
        return b"(" + b + b")"
    except UnicodeEncodeError:
        return b"<FEFF" + s.encode("utf-16-be").hex().upper().encode("ascii") + b">"


def _outline_bodies(
    outline: list[tuple[int, str, int]],
    page_ids: list[int],
    root_id: int,
) -> list[bytes]:
    """Object bodies for the /Outlines tree: the root dict followed by one
    item per outline row (object ids ``root_id .. root_id + len``).
    Parents come from the classic level-stack walk over the document-order
    sequence; Count is the open descendant count (all nodes open)."""
    n = len(outline)
    ids = [root_id + 1 + j for j in range(n)]
    parents: list[int] = []
    stack: list[int] = []  # outline indices
    for j, (lvl, _t, _p) in enumerate(outline):
        while stack and outline[stack[-1]][0] >= lvl:
            stack.pop()
        parents.append(ids[stack[-1]] if stack else root_id)
        stack.append(j)
    kids: dict[int, list[int]] = {}
    for j in range(n):
        kids.setdefault(parents[j], []).append(j)

    def descendants(pid: int) -> int:
        return sum(1 + descendants(ids[j]) for j in kids.get(pid, []))

    bodies = [
        b"<< /Type /Outlines /First %d 0 R /Last %d 0 R /Count %d >>"
        % (ids[kids[root_id][0]], ids[kids[root_id][-1]], n)
    ]
    for j, (lvl, title, page_idx) in enumerate(outline):
        if not 0 <= page_idx < len(page_ids):
            raise ValueError(f"outline dest page {page_idx} out of range")
        sibs = kids[parents[j]]
        at = sibs.index(j)
        parts = [
            b"<< /Title " + _string_token(title),
            b"/Parent %d 0 R" % parents[j],
            b"/Dest [%d 0 R /XYZ 0 792 0]" % page_ids[page_idx],
        ]
        if at > 0:
            parts.append(b"/Prev %d 0 R" % ids[sibs[at - 1]])
        if at + 1 < len(sibs):
            parts.append(b"/Next %d 0 R" % ids[sibs[at + 1]])
        ch = kids.get(ids[j])
        if ch:
            parts.append(
                b"/First %d 0 R /Last %d 0 R /Count %d"
                % (ids[ch[0]], ids[ch[-1]], descendants(ids[j]))
            )
        bodies.append(b" ".join(parts) + b" >>")
    return bodies


def make_pdf_bytes(
    pages: list[list[tuple[float, float, float, str]]],
    outline: list[tuple[int, str, int]] | None = None,
) -> bytes:
    """Serialize pages of (x, y, font_size, text) blocks as a valid PDF 1.4
    file: catalog → page tree → per-page FlateDecode content streams, one
    ``BT/Tf/Td/Tj/ET`` group per block, correct xref offsets.  Blocks are
    written in the LIST order given (pass a scrambled list to exercise
    reading-order reconstruction downstream).

    ``outline`` — optional document bookmarks as ``(level, title,
    page_index)`` rows in document order (nesting implied by the level
    sequence, levels start at 0): emitted as the spec's /Outlines tree
    (First/Last/Prev/Next/Parent/Count, /Dest [page /XYZ]).  ``None``
    keeps the output byte-identical to the pre-outline writer."""
    objs: list[bytes] = []  # 1-indexed

    def add(body: bytes) -> int:
        objs.append(body)
        return len(objs)

    n_pages = len(pages)
    font_id = 3 + 2 * n_pages
    page_ids = [3 + 2 * i for i in range(n_pages)]
    if outline:
        root_id = font_id + 1
        add(
            b"<< /Type /Catalog /Pages 2 0 R /Outlines %d 0 R >>" % root_id
        )  # 1
    else:
        add(b"<< /Type /Catalog /Pages 2 0 R >>")  # 1
    kids = b" ".join(b"%d 0 R" % p for p in page_ids)
    add(
        b"<< /Type /Pages /Kids [" + kids + b"] /Count %d >>" % n_pages
    )  # 2
    for i, blocks in enumerate(pages):
        content = io.BytesIO()
        for x, y, size, text in blocks:
            content.write(
                b"BT /F1 %s Tf %s %s Td %s Tj ET\n"
                % (
                    (b"%g" % size),
                    (b"%g" % x),
                    (b"%g" % y),
                    _string_token(text),
                )
            )
        stream = zlib.compress(content.getvalue())
        page_id = add(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 %d 0 R >> >> /Contents %d 0 R >>"
            % (font_id, page_ids[i] + 1)
        )
        assert page_id == page_ids[i]
        add(
            b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(stream)
            + stream
            + b"\nendstream"
        )
    add(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    if outline:
        for body in _outline_bodies(outline, page_ids, font_id + 1):
            add(body)

    out = io.BytesIO()
    out.write(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(out.tell())
        out.write(b"%d 0 obj\n" % i + body + b"\nendobj\n")
    xref_at = out.tell()
    out.write(b"xref\n0 %d\n" % (len(objs) + 1))
    out.write(b"0000000000 65535 f \n")
    for off in offsets:
        out.write(b"%010d 00000 n \n" % off)
    out.write(
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, xref_at)
    )
    return out.getvalue()


# ---------------------------------------------------------------------------
# Parser
# ---------------------------------------------------------------------------

_OBJ_RE = re.compile(rb"(\d+)\s+\d+\s+obj\b")
_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R\b")
_NUM = rb"[+-]?(?:\d+\.?\d*|\.\d+)"
_NUM_RE = re.compile(_NUM)
_WS_RE = re.compile(rb"\s")
_TOKEN_RE = re.compile(
    rb"\((?:[^()\\]|\\.)*\)"      # literal string
    rb"|<[0-9A-Fa-f\s]*>"          # hex string
    rb"|\[|\]"
    rb"|" + _NUM +
    rb"|/[^\s/\[\]()<>{}%]*"
    rb"|[A-Za-z'\"*]+"
)


def _xref_offsets(raw: bytes) -> dict[int, int]:
    """Object id → byte offset from the LAST classic xref table (the
    spec's lookup path; also the only robust one — a byte scan can match
    object/endobj keywords inside compressed stream data)."""
    sx = raw.rfind(b"startxref")
    if sx == -1:
        return {}
    m = re.match(rb"startxref\s+(\d+)", raw[sx:])
    if not m:
        return {}
    pos = int(m.group(1))
    if raw[pos : pos + 4] != b"xref":
        return {}
    offsets: dict[int, int] = {}
    pos += 4
    while True:
        sub = re.match(rb"\s*(\d+)\s+(\d+)\s*[\r\n]+", raw[pos : pos + 64])
        if not sub:
            break
        start, count = int(sub.group(1)), int(sub.group(2))
        pos += sub.end()
        for i in range(count):
            entry = raw[pos : pos + 20]
            em = re.match(rb"(\d{10})\s+\d{5}\s+([nf])", entry)
            if not em:
                return {}
            if em.group(2) == b"n":
                offsets[start + i] = int(em.group(1))
            pos += 20
    return offsets


def _parse_object_at(
    raw: bytes, off: int
) -> tuple[int, bytes, bytes | None, int] | None:
    """Parse one ``N 0 obj`` at a byte offset → (id, body, stream|None,
    end_offset — first byte past the object, for scan resumption).
    Stream extent comes from ``/Length`` when present (exact — trailing
    EOL trimming would corrupt zlib data ending in 0x0A/0x0D); otherwise
    from the next ``endstream``."""
    m = _OBJ_RE.match(raw, off)
    if not m:
        return None
    s = raw.find(b"stream", m.end())
    endobj = raw.find(b"endobj", m.end())
    if s == -1 or (endobj != -1 and endobj < s):
        if endobj == -1:
            return None
        return int(m.group(1)), raw[m.end() : endobj], None, endobj + 6
    head = raw[m.end() : s]
    data_start = s + len(b"stream")
    if raw[data_start : data_start + 2] == b"\r\n":
        data_start += 2
    elif raw[data_start : data_start + 1] in (b"\n", b"\r"):
        data_start += 1
    # direct /Length only: "/Length 9 0 R" is an indirect reference whose
    # number is an OBJECT id, not a byte count — treating it as one
    # truncates the stream (garbled text or a spurious zlib failure).
    # Indirect lengths fall back to the endstream scan.
    # (?!\d) pins the number's end first — without it backtracking shrinks
    # \d+ ("99" → "9") until the not-a-reference lookahead passes
    mlen = re.search(rb"/Length\s+(\d+)(?!\d)(?!\s+\d+\s+R)", head)
    if mlen:
        data_end = data_start + int(mlen.group(1))
    else:
        data_end = raw.find(b"endstream", data_start)
        if data_end == -1:
            return None
        if raw[data_end - 1 : data_end] == b"\n":
            data_end -= 1
        if raw[data_end - 1 : data_end] == b"\r":
            data_end -= 1
    data = raw[data_start:data_end]
    if b"/FlateDecode" in head:
        try:
            data = zlib.decompress(data)
        except zlib.error as exc:
            raise UnsupportedPdf(f"bad FlateDecode stream: {exc}") from exc
    elif b"/Filter" in head:
        raise UnsupportedPdf("non-Flate stream filter")
    tail = raw.find(b"endobj", data_end)
    return int(m.group(1)), head, data, (len(raw) if tail == -1 else tail + 6)


def _parse_objects(raw: bytes) -> dict[int, tuple[bytes, bytes | None]]:
    """object id → (dict/body bytes, inflated stream bytes or None).
    xref-driven when the table is intact; a forward object scan otherwise
    (truncated or rewritten-in-place files)."""
    objects: dict[int, tuple[bytes, bytes | None]] = {}
    offsets = _xref_offsets(raw)
    if offsets:
        for _num, off in sorted(offsets.items()):
            parsed = _parse_object_at(raw, off)
            if parsed:
                objects[parsed[0]] = (parsed[1], parsed[2])
    if not objects:
        pos = 0
        while True:
            m = _OBJ_RE.search(raw, pos)
            if not m:
                break
            parsed = _parse_object_at(raw, m.start())
            if parsed is None:
                pos = m.end()
                continue
            objects.setdefault(parsed[0], (parsed[1], parsed[2]))
            # resume past the object's true extent so the scan cannot
            # re-match keywords inside its compressed stream bytes
            pos = parsed[3]
    if not objects:
        raise UnsupportedPdf("no PDF objects found")
    return objects


_ESC_MAP = {
    ord("n"): b"\n", ord("r"): b"\r", ord("t"): b"\t",
    ord("b"): b"\b", ord("f"): b"\f",
    ord("("): b"(", ord(")"): b")", ord("\\"): b"\\",
}


def _unescape_literal(tok: bytes) -> str:
    # Fast path (r6, measured ~25% of parse wall): no backslash means no
    # escape to process — decode the body directly instead of walking it
    # byte-by-byte through a BytesIO.
    if 0x5C not in tok:
        return _decode_pdf_string(tok[1:-1])
    out = io.BytesIO()
    i = 1
    end = len(tok) - 1
    while i < end:
        c = tok[i]
        if c == 0x5C and i + 1 < end:  # backslash
            n = tok[i + 1]
            mapped = _ESC_MAP.get(n)
            if mapped is not None:
                out.write(mapped)
                i += 2
                continue
            if 0x30 <= n <= 0x37:  # octal escape, up to 3 digits
                j = i + 1
                oct_digits = b""
                while j < end and len(oct_digits) < 3 and 0x30 <= tok[j] <= 0x37:
                    oct_digits += bytes([tok[j]])
                    j += 1
                out.write(bytes([int(oct_digits, 8) & 0xFF]))
                i = j
                continue
            i += 1  # lone backslash: PDF spec says drop it
            continue
        out.write(bytes([c]))
        i += 1
    return _decode_pdf_string(out.getvalue())


def _decode_pdf_string(bs: bytes) -> str:
    """PDF text-string semantics: a UTF-16BE BOM selects Unicode, anything
    else is byte-decoded (latin-1 covers PDFDocEncoding's printable
    range)."""
    if bs[:2] == b"\xfe\xff":
        return bs[2:].decode("utf-16-be", "replace")
    return bs.decode("latin-1")


def _num(operand, default: float) -> float:
    """Numeric operand or ``default`` for a malformed stack entry."""
    try:
        return float(operand)
    except (TypeError, ValueError):
        return default


def _iter_text_ops(content: bytes) -> Iterator[tuple[float, float, float, str]]:
    """Walk one content stream's text operators → (x, y, size, text) per
    shown string, in CONTENT order.  Tracks ``Tf`` size, ``Td/TD`` line
    moves (relative to the current line start), ``Tm`` translation, and
    both ``Tj`` and array-``TJ`` shows."""
    size = 0.0
    x = y = 0.0
    in_text = False
    stack: list = []  # bytes operands + decoded str string tokens
    pending_strings: list[str] = []
    in_array = False
    for m in _TOKEN_RE.finditer(content):
        tok = m.group(0)
        if tok == b"[":
            in_array = True
            pending_strings = []
            continue
        if tok == b"]":
            in_array = False
            stack.append(b"]")  # marker so TJ sees its operand
            continue
        if tok.startswith(b"("):
            s = _unescape_literal(tok)
            if in_array:
                pending_strings.append(s)
            else:
                stack.append(s)  # decoded str rides the stack directly
            continue
        if tok.startswith(b"<"):
            hexs = _WS_RE.sub(b"", tok[1:-1])
            if len(hexs) % 2:
                hexs += b"0"
            s = _decode_pdf_string(bytes.fromhex(hexs.decode("ascii")))
            if in_array:
                pending_strings.append(s)
            else:
                stack.append(s)
            continue
        if _NUM_RE.fullmatch(tok):
            stack.append(tok)
            continue
        if tok.startswith(b"/"):
            stack.append(tok)
            continue
        # operator.  Operand conversion via _num: a malformed sequence
        # (e.g. "BT (a) 5 Td") must skip the op, not raise ValueError out
        # of the generator and kill the task.
        if tok == b"BT":
            in_text, x, y = True, 0.0, 0.0
        elif tok == b"ET":
            in_text = False
        elif tok == b"Tf" and len(stack) >= 1:
            size = _num(stack[-1], size)
        elif tok in (b"Td", b"TD") and len(stack) >= 2:
            x += _num(stack[-2], 0.0)
            y += _num(stack[-1], 0.0)
        elif tok == b"Tm" and len(stack) >= 6:
            x, y = _num(stack[-2], x), _num(stack[-1], y)
        elif tok == b"Tj" and in_text and stack and isinstance(stack[-1], str):
            yield x, y, size, stack[-1]
        elif tok == b"'" and in_text and stack and isinstance(stack[-1], str):
            yield x, y, size, stack[-1]
        elif tok == b"TJ" and in_text and pending_strings:
            # kerning numbers between strings are positioning-only; the
            # shown text is the concatenation
            yield x, y, size, "".join(pending_strings)
            pending_strings = []
        stack.clear()
    return


def extract_pdf_blocks(raw: bytes) -> list[tuple[int, float, float, float, str]]:
    """One PDF's bytes → (page_idx, x, y, font_size, text) rows in content
    order.  Pages come from the ``/Kids`` array of the page tree; each
    page's ``/Contents`` — a single stream ref or an ARRAY of refs (the
    spec treats the concatenation as one stream; generators commonly split
    a page across streams) — is inflated and walked in array order."""
    if b"/Encrypt" in raw[-2048:] or b"/Encrypt" in raw[:2048]:
        raise UnsupportedPdf("encrypted PDF")
    objects = _parse_objects(raw)
    pages_obj = None
    for body, _ in objects.values():
        if b"/Type" in body and b"/Pages" in body and b"/Kids" in body:
            pages_obj = body
            break
    if pages_obj is None:
        raise UnsupportedPdf("no page tree")
    kids_src = pages_obj[pages_obj.find(b"/Kids") :]
    kid_ids = [int(g) for g in _REF_RE.findall(kids_src)]
    rows: list[tuple[int, float, float, float, str]] = []
    for page_idx, kid in enumerate(kid_ids):
        if kid not in objects:
            continue
        body, _ = objects[kid]
        cm = re.search(
            rb"/Contents\s*(?:(\d+)\s+\d+\s+R|\[((?:\s*\d+\s+\d+\s+R)+)\s*\])",
            body,
        )
        if not cm:
            continue
        if cm.group(1) is not None:
            content_ids = [int(cm.group(1))]
        else:
            content_ids = [int(g) for g in _REF_RE.findall(cm.group(2))]
        # the concatenation is ONE stream: operator state (Tf size, text
        # position) carries across the boundary, so join before walking
        content = b"\n".join(
            objects[cid][1]
            for cid in content_ids
            if cid in objects and objects[cid][1] is not None
        )
        for x, y, size, text in _iter_text_ops(content):
            rows.append((page_idx, x, y, size, text))
    return rows


# ---------------------------------------------------------------------------
# Spark source
# ---------------------------------------------------------------------------

PDF_BLOCK_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("seq", IntegerType()),
        StructField("page", IntegerType()),
        StructField("x", DoubleType()),
        StructField("y", DoubleType()),
        StructField("font_size", DoubleType()),
        StructField("text", StringType()),
        StructField("status", StringType()),
    ]
)


def parse_pdf_payloads(
    df: DataFrame, payload_col: str = "pdf", id_col: str = "doc_id"
) -> DataFrame:
    """(id, pdf: binary) rows → one row per text block (with its content-
    order ``seq`` — the reading-order sort's deterministic tiebreaker),
    Arrow-batched and narrow (no shuffle).  Every input doc yields at
    least one row: undecodable payloads a ``status='unsupported'`` row,
    decode crashes a ``status='error'`` row, and a valid but textless PDF
    (blank pages) a ``status='empty'`` row — error isolation, never a
    task failure and never a silently vanished document (the contract
    every container parser shares through ``sources/_arrow.isolated``)."""

    def blocks(doc_id, raw):
        for seq, block in enumerate(extract_pdf_blocks(raw)):
            yield doc_id, seq, *block, "ok"

    return map_rows(
        df,
        [id_col, payload_col],
        PDF_BLOCK_SCHEMA,
        isolated(blocks, UnsupportedPdf, "empty", PDF_BLOCK_SCHEMA),
    )


def blocks_in_reading_order(
    blocks: DataFrame,
    heading_min_size: float = 14.0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Layout reconstruction, Spark-side: content-order blocks → reading
    order (page asc, y desc, x asc — top-to-bottom, left-to-right) with a
    per-doc ``block_id`` and a font-size block classification.  One
    shuffle on the doc id; the window is per-document, so skew is bounded
    by the largest single PDF, not the corpus."""
    from pyspark.sql.window import Window

    # seq (content order) breaks coordinate ties deterministically —
    # consecutive shows at one position (Tj Tj) would otherwise get
    # partition-order-dependent block_ids; matches the Python-side stable
    # sorted() in extract_pdf_document
    w = Window.partitionBy(id_col).orderBy(
        F.asc("page"), F.desc("y"), F.asc("x"), F.asc("seq")
    )
    return (
        blocks.where(F.col("status") == "ok")
        .withColumn("block_id", F.row_number().over(w) - F.lit(1))
        .withColumn(
            "block_type",
            F.when(F.col("font_size") >= heading_min_size, F.lit("heading"))
            .otherwise(F.lit("paragraph")),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic corpus mapping (documents table → per-doc PDF)
# ---------------------------------------------------------------------------

WORDS_PER_LINE = 8
LINES_PER_PAGE = 6


def doc_to_pdf(doc_id: int, text: str) -> bytes:
    """Deterministic documents-table row → PDF bytes: a size-18 title
    block ("Document <id>") then the text re-flowed into
    ``WORDS_PER_LINE``-word, size-11 lines, ``LINES_PER_PAGE`` blocks per
    page at descending y.  Within every page the blocks are emitted in a
    doc_id-seeded SHUFFLED content order — real generators emit blocks in
    arbitrary order, so a parser that trusts content order is wrong; the
    reading-order stage must recover the layout from coordinates.  The
    whole mapping is replayable in SQL (words → 1-based line windows), so
    the round-trip is oracle-checkable end-to-end."""
    return make_pdf_bytes(_doc_pages(doc_id, text))


def _doc_pages(
    doc_id: int, text: str
) -> list[list[tuple[float, float, float, str]]]:
    """The deterministic page/block layout behind doc_to_pdf (shared with
    the outlined variant)."""
    words = text.split(" ") if text else []
    lines = ["Document %d" % doc_id] + [
        " ".join(words[i : i + WORDS_PER_LINE])
        for i in range(0, len(words), WORDS_PER_LINE)
    ]
    pages: list[list[tuple[float, float, float, str]]] = []
    for p0 in range(0, len(lines), LINES_PER_PAGE):
        chunk = lines[p0 : p0 + LINES_PER_PAGE]
        blocks = [
            (72.0, 720.0 - 40.0 * r, 18.0 if p0 + r == 0 else 11.0, line)
            for r, line in enumerate(chunk)
        ]
        rng = random.Random((doc_id << 8) ^ (p0 // LINES_PER_PAGE))
        rng.shuffle(blocks)
        pages.append(blocks)
    return pages


def documents_as_pdfs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """documents → (doc_id, pdf: binary), Arrow-batched."""
    return render_documents(
        docs, id_col, text_col, "pdf", BinaryType(), doc_to_pdf
    )


# ---------------------------------------------------------------------------
# Outline (/Outlines bookmark tree) extraction
# ---------------------------------------------------------------------------

_STRING_TOK_RE = re.compile(rb"\((?:[^()\\]|\\.)*\)|<[0-9A-Fa-f\s]*>")


def _title_after(body: bytes) -> str | None:
    """Decode the string token following ``/Title`` (literal or hex)."""
    at = body.find(b"/Title")
    if at == -1:
        return None
    m = _STRING_TOK_RE.search(body, at + 6)
    if not m:
        return None
    tok = m.group(0)
    if tok.startswith(b"("):
        return _unescape_literal(tok)
    hx = re.sub(rb"\s", b"", tok[1:-1])
    if len(hx) % 2:
        hx += b"0"
    return _decode_pdf_string(bytes.fromhex(hx.decode("ascii")))


def _ref_after(body: bytes, key: bytes) -> int | None:
    m = re.search(re.escape(key) + rb"\s+(\d+)\s+\d+\s+R", body)
    return int(m.group(1)) if m else None


def extract_pdf_outline(raw: bytes) -> list[tuple[int, str, int | None]]:
    """Walk the document's /Outlines bookmark tree → ``(level, title,
    page_index)`` rows in document order (depth-first, siblings by
    /Next) — the PDF-native table of contents the chapter-assembly stage
    wants BEFORE falling back to font-size heading heuristics.  Returns
    ``[]`` when the file carries no outline; page_index is None for items
    whose /Dest is missing or doesn't resolve to a page.  Cycle-guarded
    (malformed /Next loops terminate, visited items are skipped)."""
    objects = _parse_objects(raw)
    catalog = next(
        (
            body
            for body, _s in objects.values()
            if re.search(rb"/Type\s*/Catalog\b", body)
        ),
        None,
    )
    if catalog is None:
        return []
    root_id = _ref_after(catalog, b"/Outlines")
    if root_id is None or root_id not in objects:
        return []
    pages_body = next(
        (
            body
            for body, _s in objects.values()
            if re.search(rb"/Type\s*/Pages\b", body)
        ),
        None,
    )
    page_index: dict[int, int] = {}
    if pages_body is not None:
        mk = re.search(rb"/Kids\s*\[(.*?)\]", pages_body, re.S)
        if mk:
            for i, pm in enumerate(_REF_RE.finditer(mk.group(1))):
                page_index[int(pm.group(1))] = i

    out: list[tuple[int, str, int | None]] = []
    seen: set[int] = set()
    # explicit stack, not recursion — a deep (or maliciously nested)
    # /First chain must not hit Python's recursion limit mid-executor
    stack: list[tuple[int | None, int]] = [
        (_ref_after(objects[root_id][0], b"/First"), 0)
    ]
    while stack:
        item_id, level = stack.pop()
        if item_id is None or item_id in seen or len(out) >= 100000:
            continue
        seen.add(item_id)
        entry = objects.get(item_id)
        if entry is None:
            continue
        body = entry[0]
        title = _title_after(body)
        dest = re.search(rb"/Dest\s*\[\s*(\d+)\s+\d+\s+R", body)
        page = page_index.get(int(dest.group(1))) if dest else None
        out.append((level, title or "", page))
        # push the sibling below the child so the child chain (and all
        # its descendants) emits first — depth-first document order
        stack.append((_ref_after(body, b"/Next"), level))
        first = _ref_after(body, b"/First")
        if first is not None:
            stack.append((first, level + 1))
    return out


PDF_OUTLINE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("seq", IntegerType()),
        StructField("level", IntegerType()),
        StructField("title", StringType()),
        StructField("page", IntegerType()),
        StructField("status", StringType()),
    ]
)


def parse_pdf_outlines(
    df: DataFrame, payload_col: str = "pdf", id_col: str = "doc_id"
) -> DataFrame:
    """(id, pdf: binary) rows → one row per outline/bookmark entry with
    its document-order ``seq`` and nesting ``level`` — Arrow-batched,
    narrow, no shuffle.  Error isolation mirrors parse_pdf_payloads:
    undecodable payloads yield a ``status='unsupported'`` marker row,
    crashes ``'error'``, an outline-less file ``'none'`` — every input
    doc is accounted for."""

    def entries(doc_id, raw):
        for seq, entry in enumerate(extract_pdf_outline(raw)):
            yield doc_id, seq, *entry, "ok"

    return map_rows(
        df,
        [id_col, payload_col],
        PDF_OUTLINE_SCHEMA,
        isolated(entries, UnsupportedPdf, "none", PDF_OUTLINE_SCHEMA),
    )


def doc_outline(
    doc_id: int, text: str, part_stride: int = 1
) -> list[tuple[int, str, int]]:
    """Deterministic bookmark synth for a documents-table row: a level-0
    root entry on page 0, a level-1 "Part p" every ``part_stride`` pages
    from page 1, and (stride-1 layouts only) a level-2 "Detail p" under
    every even Part — replayable in SQL from the word count alone (same
    page math as doc_to_pdf).  ``part_stride > 1`` makes chapters span
    page RANGES, which is what the chapter-assembly join wants to
    exercise."""
    words = text.split(" ") if text else []
    n_lines = 1 + (len(words) + WORDS_PER_LINE - 1) // WORDS_PER_LINE
    n_pages = (n_lines + LINES_PER_PAGE - 1) // LINES_PER_PAGE
    entries = [(0, "Document %d" % doc_id, 0)]
    for p in range(1, n_pages, part_stride):
        entries.append((1, "Part %d" % p, p))
        if part_stride == 1 and p % 2 == 0:
            entries.append((2, "Detail %d" % p, p))
    return entries


def documents_as_outlined_pdfs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    part_stride: int = 1,
) -> DataFrame:
    """documents → (doc_id, pdf: binary) with the synthesized /Outlines
    tree attached, Arrow-batched."""

    def make(doc_id, text):
        return make_pdf_bytes(
            _doc_pages(doc_id, text), doc_outline(doc_id, text, part_stride)
        )

    return render_documents(docs, id_col, text_col, "pdf", BinaryType(), make)


# ---------------------------------------------------------------------------
# Two-column layout + column-aware reading order
# ---------------------------------------------------------------------------

LINES_PER_COL = 6
X_LEFT = 72.0
X_RIGHT = 320.0


def _doc_pages_two_column(
    doc_id: int, text: str
) -> list[list[tuple[float, float, float, str]]]:
    """Two-column page layout: lines flow DOWN the left column, then
    DOWN the right column, then to the next page (``LINES_PER_COL``
    rows per column) — the journal/paper layout whose reading order a
    naive (page, y desc, x) sort gets wrong, because it interleaves the
    columns row-by-row.  Blocks are emitted in doc-seeded shuffled
    content order per page, like :func:`_doc_pages`."""
    words = text.split(" ") if text else []
    lines = ["Document %d" % doc_id] + [
        " ".join(words[i : i + WORDS_PER_LINE])
        for i in range(0, len(words), WORDS_PER_LINE)
    ]
    per_page = 2 * LINES_PER_COL
    pages: list[list[tuple[float, float, float, str]]] = []
    for p0 in range(0, len(lines), per_page):
        chunk = lines[p0 : p0 + per_page]
        blocks = []
        for r, line in enumerate(chunk):
            x = X_LEFT if r < LINES_PER_COL else X_RIGHT
            y = 720.0 - 40.0 * (r % LINES_PER_COL)
            size = 18.0 if p0 + r == 0 else 11.0
            blocks.append((x, y, size, line))
        rng = random.Random((doc_id << 8) ^ (p0 // per_page) ^ 0x2C01)
        rng.shuffle(blocks)
        pages.append(blocks)
    return pages


def documents_as_two_column_pdfs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """documents → (doc_id, pdf: binary) in the two-column layout,
    Arrow-batched."""

    def make(doc_id, text):
        return make_pdf_bytes(_doc_pages_two_column(doc_id, text))

    return render_documents(docs, id_col, text_col, "pdf", BinaryType(), make)


def blocks_in_column_order(
    blocks: DataFrame,
    heading_min_size: float = 14.0,
    min_column_gap: float = 100.0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Column-aware reading-order reconstruction: per (doc, page), if
    the x spread of the page's blocks is at least ``min_column_gap``
    points the page is treated as two-column and split at the x
    midpoint; reading order is then (page asc, column asc, y desc,
    x asc, seq asc) — left column top-to-bottom, then right column —
    which degrades gracefully to the single-column order on pages with
    no spread.  A plain (page, y, x) sort row-interleaves the columns;
    this is the layout-analysis step newspaper/journal PDFs need
    (cf. the reference's reading-order shard merge, SURVEY §2 S8).

    Two per-doc-bounded windows (page stats, then the order), both
    keyed by the doc id — skew bounded by the largest single PDF.
    """
    from pyspark.sql.window import Window

    pg = Window.partitionBy(id_col, "page")
    spread = F.max("x").over(pg) - F.min("x").over(pg)
    midpoint = (F.max("x").over(pg) + F.min("x").over(pg)) / 2
    col = (
        F.when(
            (spread >= min_column_gap) & (F.col("x") >= midpoint), F.lit(1)
        )
        .otherwise(F.lit(0))
        .cast("int")
    )
    ordered = Window.partitionBy(id_col).orderBy(
        F.asc("page"), F.asc("column"), F.desc("y"), F.asc("x"), F.asc("seq")
    )
    return (
        blocks.where(F.col("status") == "ok")
        .withColumn("column", col)
        .withColumn("block_id", F.row_number().over(ordered) - F.lit(1))
        .withColumn(
            "block_type",
            F.when(F.col("font_size") >= heading_min_size, F.lit("heading"))
            .otherwise(F.lit("paragraph")),
        )
    )
