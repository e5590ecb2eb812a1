"""HTML main-content extraction: tag-aware block segmentation with
text-density / link-density boilerplate classification (à la Boilerpipe,
Kohlschütter et al., WSDM 2010 — see PAPERS.md).

This is the second extraction mode next to the OCR-text pipeline
(extractlib/pipeline.py): the `north_star` names "DOM/block classification
(text-density + link-density heuristics)" over Common-Crawl-style
``html: binary`` pages.  The reference repo itself has no HTML input
(it consumes OCR text — `/root/reference/readme.md`), so there is no
byte-parity CLI to mirror; correctness is pinned by the deterministic
page-construction oracle in __spark_entry__ (`html_boilerplate_extract`)
and the ground-truth fixtures in tests/test_html_extract.py.

Design, per block:

* ``link_density``  = chars inside <a> / total chars — boilerplate if > 1/3
  (Boilerpipe's classic threshold).
* tag prior         — anything inside <nav>/<header>/<footer>/<aside>
  (or <script>/<style>/<noscript>/<template>, whose text is suppressed
  entirely) is boilerplate regardless of density.
* ``min_words``     — optional Boilerpipe-style short-block suppression
  (0 = off; the oracled query keeps it off so the expected content is a
  pure function of the input).

Kept blocks tile the assembled document exactly like the OCR mode: each
block's text ends with ``\\n`` and spans index the concatenation, so
``"".join(b.text) == assembled_text`` (the same reassembly invariant the
Spark assembly projection relies on), and blocks_table /
assemble_documents work unchanged on either mode's output.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from html.parser import HTMLParser

from .blocks import Block
from .pipeline import ExtractResult

# Block-level elements: closing one flushes the current text run.
_NONBLANK_RE = re.compile(r"[^ \t\r\n]")

BLOCK_TAGS = frozenset(
    "p div h1 h2 h3 h4 h5 h6 li td th caption article section blockquote "
    "pre nav header footer aside main figure figcaption table ul ol tr "
    "body title".split()
)
HEADING_TAGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})
# Tag prior: subtrees that are boilerplate by construction.
BOILERPLATE_TAGS = frozenset({"nav", "header", "footer", "aside"})
# Subtrees whose text is not document text at all.
SUPPRESS_TAGS = frozenset({"script", "style", "noscript", "template", "title"})
# Void elements never get a closing tag.
_VOID = frozenset(
    "area base br col embed hr img input link meta source track wbr".split()
)

LINK_DENSITY_MAX = 1.0 / 3.0


@dataclass
class RawBlock:
    """One flushed text run with its classification features."""

    tag: str            # innermost block tag when the run was flushed
    text: str
    link_chars: int
    boilerplate_ancestor: bool

    @property
    def link_density(self) -> float:
        return self.link_chars / len(self.text) if self.text else 0.0

    @property
    def n_words(self) -> int:
        return len(self.text.split())

    @property
    def text_density(self) -> float:
        """Words per 80-char wrapped line (Kohlschütter et al.'s block
        text density): line count = ceil(len/80) over the trimmed run."""
        lines = max(1, -(-len(self.text.strip()) // 80))
        return self.n_words / lines


class _BlockParser(HTMLParser):
    """Stream HTML into RawBlocks: text accumulates into the innermost open
    block element and flushes when any block boundary opens or closes."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[RawBlock] = []
        self._stack: list[str] = []
        self._buf: list[str] = []
        self._link_chars = 0
        self._anchor_depth = 0
        self._suppress_depth = 0

    # -- helpers ----------------------------------------------------------
    def _innermost_block(self) -> str:
        for tag in reversed(self._stack):
            if tag in BLOCK_TAGS:
                return tag
        return "body"

    def _in_boilerplate(self) -> bool:
        return any(t in BOILERPLATE_TAGS for t in self._stack)

    def _flush(self) -> None:
        text = "".join(self._buf)
        # Non-blank test aligned with synth.NONBLANK_PATTERN ('[^ \t\r]' per
        # line, so '[^ \t\r\n]' over the multi-line buffer): Python strip()
        # would also eat NBSP/\f/\v, which the per-line classifier counts as
        # content — the construction oracle and the parser must share one
        # blankness definition.  (Precompiled — this runs once per text
        # node; the module-level re.search paid a cache lookup per call.)
        if _NONBLANK_RE.search(text):
            self.blocks.append(
                RawBlock(
                    tag=self._innermost_block(),
                    text=text,
                    link_chars=self._link_chars,
                    boilerplate_ancestor=self._in_boilerplate(),
                )
            )
        self._buf = []
        self._link_chars = 0

    # -- HTMLParser hooks --------------------------------------------------
    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _VOID:
            return
        if tag in BLOCK_TAGS:
            self._flush()
        if tag in SUPPRESS_TAGS:
            self._suppress_depth += 1
        if tag == "a":
            self._anchor_depth += 1
        self._stack.append(tag)

    def handle_endtag(self, tag: str) -> None:
        if tag in _VOID:
            return
        if tag in BLOCK_TAGS:
            self._flush()
        # tolerate mis-nesting: pop to the matching open tag if present
        if tag in self._stack:
            while self._stack:
                popped = self._stack.pop()
                if popped in SUPPRESS_TAGS:
                    self._suppress_depth -= 1
                if popped == "a":
                    self._anchor_depth -= 1
                if popped == tag:
                    break

    def handle_data(self, data: str) -> None:
        if self._suppress_depth or not data:
            return
        self._buf.append(data)
        if self._anchor_depth:
            self._link_chars += len(data)


def parse_blocks(html: str) -> list[RawBlock]:
    """HTML string → raw text blocks with link/ancestor features."""
    p = _BlockParser()
    p.feed(html)
    p.close()
    p._flush()
    return p.blocks


@dataclass
class ImageRef:
    """One ``<img>`` in document order, classified with the same tag
    prior the text blocks get (north_star: heading/paragraph/IMAGE
    segmentation)."""

    seq: int            # 0-based position among the page's images
    src: str            # raw src attribute ('' if absent)
    alt: str            # alt text — the (image, caption) pair's caption
    boilerplate: bool   # inside nav/header/footer/aside or a suppressed
    #                     subtree → chrome (logos, badges), not content


class _ImageParser(_BlockParser):
    """Block parser that also collects <img> references.  Images are
    void elements the text parser skips entirely; here each one is
    recorded with the boilerplate classification of its enclosing tag
    stack.  Duplicate attributes keep the FIRST occurrence (browser
    behavior), and ``<img …/>`` start-end tags funnel through
    handle_starttag via HTMLParser's default handle_startendtag."""

    def __init__(self) -> None:
        super().__init__()
        self.images: list[ImageRef] = []

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag == "img":
            first: dict[str, str] = {}
            for k, v in attrs:
                if k not in first and v is not None:
                    first[k] = v
            self.images.append(
                ImageRef(
                    seq=len(self.images),
                    src=first.get("src", "").strip(),
                    alt=first.get("alt", "").strip(),
                    boilerplate=self._in_boilerplate()
                    or self._suppress_depth > 0,
                )
            )
            return
        super().handle_starttag(tag, attrs)


def parse_image_refs(html: bytes | str) -> list[ImageRef]:
    """HTML page → its ``<img>`` references in reading order, charset
    resolution shared with the main-content mode (sniff_decode)."""
    if isinstance(html, (bytes, bytearray)):
        html, _ = sniff_decode(html)
    p = _ImageParser()
    p.feed(html)
    p.close()
    return p.images


def numwords_is_content(
    prev: RawBlock | None, curr: RawBlock, nxt: RawBlock | None
) -> bool:
    """The classic NumWords/LinkDensity decision rule (Kohlschütter,
    Fankhauser & Nejdl, "Boilerplate Detection using Shallow Text
    Features", WSDM 2010 — the densitometric classifier trained on
    GoogleTrends-2008): context-sensitive word-count thresholds that keep
    short prose when its neighbors are dense and drop link-light
    boilerplate fragments the bare density rule cannot see."""
    if curr.link_density > 0.333333:
        return False
    prev_ld = prev.link_density if prev is not None else 0.0
    prev_w = prev.n_words if prev is not None else 0
    next_w = nxt.n_words if nxt is not None else 0
    if prev_ld <= 0.555556:
        return curr.n_words > 16 or next_w > 15 or prev_w > 4
    return curr.n_words > 40 or next_w > 17


def classify_blocks(
    raw: list[RawBlock],
    min_words: int = 0,
    link_density_max: float = LINK_DENSITY_MAX,
    mode: str = "density",
) -> tuple[list[Block], dict[str, int]]:
    """RawBlocks → kept content Blocks (tiling span model) + counters.

    ``mode='density'`` — pure link-density threshold (+ tag prior): the
    fully deterministic rule the construction oracle replays in SQL.
    ``mode='numwords'`` — the Boilerpipe NumWords rule (above) on top of
    the tag prior: better on real pages with short link-free boilerplate
    (copyright lines, timestamps); headings are exempt, as in Boilerpipe's
    TitleMatch handling, when they precede kept content."""
    if mode not in ("density", "numwords"):
        raise ValueError(f"unknown classify mode {mode!r}")
    counters = {
        "html.blocks_total": len(raw),
        "html.dropped_tag_prior": 0,
        "html.dropped_link_density": 0,
        "html.dropped_short": 0,
        "html.link_chars": sum(b.link_chars for b in raw),
        "html.headings": 0,
        "html.paragraphs": 0,
    }
    cand: list[RawBlock] = []
    for b in raw:
        if b.boilerplate_ancestor:
            counters["html.dropped_tag_prior"] += 1
        else:
            cand.append(b)

    decisions: list[bool] = []
    for i, b in enumerate(cand):
        is_heading = b.tag in HEADING_TAGS
        if mode == "numwords" and not is_heading:
            prev = cand[i - 1] if i > 0 else None
            nxt = cand[i + 1] if i + 1 < len(cand) else None
            if not numwords_is_content(prev, b, nxt):
                counters["html.dropped_link_density"] += 1
                decisions.append(False)
                continue
        elif b.link_density > link_density_max:
            counters["html.dropped_link_density"] += 1
            decisions.append(False)
            continue
        if min_words and not is_heading and b.n_words < min_words:
            counters["html.dropped_short"] += 1
            decisions.append(False)
            continue
        decisions.append(True)

    if mode == "numwords":
        # heading exemption only holds when the heading introduces kept
        # content: drop a heading with no kept block after it.
        for i, b in enumerate(cand):
            if decisions[i] and b.tag in HEADING_TAGS:
                if not any(decisions[i + 1:]):
                    decisions[i] = False
                    counters["html.dropped_link_density"] += 1

    kept: list[Block] = []
    offset = 0
    for b, keep in zip(cand, decisions):
        if not keep:
            continue
        is_heading = b.tag in HEADING_TAGS
        counters["html.headings" if is_heading else "html.paragraphs"] += 1
        text = b.text + "\n"
        kept.append(
            Block(
                block_id=len(kept),
                block_type="heading" if is_heading else "paragraph",
                text=text,
                span_start=offset,
                span_end=offset + len(text),
            )
        )
        offset += len(text)
    return kept, counters


# --------------------------------------------------------------------------
# Readability-style top-candidate extraction (the third mode)
# --------------------------------------------------------------------------

# Candidate containers Readability scores — block parents of prose.
CONTAINER_TAGS = frozenset(
    {"div", "article", "section", "main", "td", "blockquote", "body"}
)
# Prose elements that contribute points to their container.
_PROSE_TAGS = frozenset({"p", "pre", "blockquote"})
_READABILITY_MIN_CHARS = 25


class _ContainerParser(_BlockParser):
    """Block parser that also records, for every flushed block, the chain
    of open CONTAINER element ids (document order) — the candidate set
    the Readability scorer ranks.  Id 0 is the implicit root, so every
    chain is non-empty and a page with no container markup still has one
    candidate."""

    def __init__(self) -> None:
        super().__init__()
        self._cstack: list[int] = [0]
        self._next_cid = 1
        self.chains: list[tuple[int, ...]] = []

    def _flush(self) -> None:
        n_before = len(self.blocks)
        super()._flush()
        if len(self.blocks) > n_before:
            self.chains.append(tuple(self._cstack))

    def handle_starttag(self, tag: str, attrs) -> None:
        super().handle_starttag(tag, attrs)
        if tag in CONTAINER_TAGS and tag not in _VOID:
            self._cstack.append(self._next_cid)
            self._next_cid += 1

    def handle_endtag(self, tag: str) -> None:
        # count containers the super pop will close (mis-nesting included:
        # it pops to the matching open tag), then drop their ids — the
        # flush inside super() still sees the pre-pop chain.
        n_close = 0
        if tag in self._stack:
            idx = len(self._stack) - 1 - self._stack[::-1].index(tag)
            n_close = sum(
                1 for t in self._stack[idx:] if t in CONTAINER_TAGS
            )
        super().handle_endtag(tag)
        for _ in range(n_close):
            if len(self._cstack) > 1:
                self._cstack.pop()


def readability_blocks(
    raw: list[RawBlock],
    chains: list[tuple[int, ...]],
    min_chars: int = _READABILITY_MIN_CHARS,
    link_density_max: float = LINK_DENSITY_MAX,
) -> tuple[list[Block], dict[str, int]]:
    """Readability-style top-candidate selection (arc90's readability.js
    scoring core, simplified to its deterministic skeleton): every prose
    block of ≥ ``min_chars`` stripped chars scores
    ``1 + commas + min(len/100, 3)`` points for its innermost container
    and half points for the grandparent; each candidate's total is then
    scaled by ``1 − link_density`` over its DIRECT blocks; the top
    candidate's whole subtree becomes the document (sibling-appending
    and class-weight heuristics are deliberately out — they key on
    attributes this parser ignores).

    All-integer arithmetic: points are doubled so the half-point is
    exact, the link-density scale rides as the rational
    ``pts2·(chars−link)/chars``, and candidates compare by
    cross-multiplication — no float enters the argmax, so ties
    (resolved to the EARLIEST container) are engine-stable."""
    counters = {
        "html.blocks_total": len(raw),
        "readability.candidates": 0,
        "readability.prose_scored": 0,
        "readability.cleaned": 0,
        "html.dropped_tag_prior": 0,
        "html.headings": 0,
        "html.paragraphs": 0,
    }
    pts2: dict[int, int] = {}
    direct_chars: dict[int, int] = {}
    direct_link: dict[int, int] = {}
    for b, chain in zip(raw, chains):
        if b.boilerplate_ancestor:
            counters["html.dropped_tag_prior"] += 1
            continue
        cid = chain[-1]
        direct_chars[cid] = direct_chars.get(cid, 0) + len(b.text)
        direct_link[cid] = direct_link.get(cid, 0) + b.link_chars
        # explicit edge-whitespace set, matching the construction
        # oracle's trim(' '||\t||\r||\n) — Python str.strip() would
        # also eat NBSP/\f/\v and diverge (the one-blankness-rule
        # caveat at _flush applies here too)
        t = b.text.strip(" \t\r\n")
        if b.tag not in _PROSE_TAGS or len(t) < min_chars:
            continue
        counters["readability.prose_scored"] += 1
        p2 = 2 * (1 + t.count(",") + min(len(t) // 100, 3))
        pts2[cid] = pts2.get(cid, 0) + p2
        if len(chain) >= 2:
            gp = chain[-2]
            pts2[gp] = pts2.get(gp, 0) + p2 // 2
    counters["readability.candidates"] = len(pts2)
    if not pts2:
        return [], counters

    def _frac(cid: int) -> tuple[int, int]:
        ch = max(direct_chars.get(cid, 0), 1)
        keep = ch - min(direct_link.get(cid, 0), ch)
        return pts2[cid] * keep, ch

    winner = None
    for cid in sorted(pts2):
        if winner is None:
            winner = cid
            continue
        an, ad = _frac(cid)
        bn, bd = _frac(winner)
        if an * bd > bn * ad:  # strict: earliest container wins ties
            winner = cid

    kept: list[Block] = []
    offset = 0
    for b, chain in zip(raw, chains):
        if b.boilerplate_ancestor or winner not in chain:
            continue
        # readability.js's cleanConditionally skeleton: link-dense nodes
        # inside the winning subtree are chrome (ad/share widgets), out.
        if b.link_density > link_density_max:
            counters["readability.cleaned"] += 1
            continue
        is_heading = b.tag in HEADING_TAGS
        counters["html.headings" if is_heading else "html.paragraphs"] += 1
        text = b.text + "\n"
        kept.append(
            Block(
                block_id=len(kept),
                block_type="heading" if is_heading else "paragraph",
                text=text,
                span_start=offset,
                span_end=offset + len(text),
            )
        )
        offset += len(text)
    return kept, counters


# IANA names browsers see in the wild → Python codecs; unknown names fall
# back through the utf-8-strict → cp1252 ladder below.  latin-1/ascii map
# to cp1252 deliberately: that is what browsers actually do (WHATWG).
_CHARSET_ALIASES = {
    "utf8": "utf-8", "utf-8": "utf-8",
    "latin1": "cp1252", "latin-1": "cp1252", "iso-8859-1": "cp1252",
    "us-ascii": "cp1252", "ascii": "cp1252", "windows-1252": "cp1252",
    "cp1252": "cp1252", "iso-8859-15": "iso-8859-15",
    "windows-1251": "cp1251", "cp1251": "cp1251", "koi8-r": "koi8-r",
    "shift_jis": "shift_jis", "shift-jis": "shift_jis", "sjis": "shift_jis",
    "euc-jp": "euc_jp", "euc-kr": "euc_kr",
    "gb2312": "gb18030", "gbk": "gb18030", "gb18030": "gb18030",
    "big5": "big5", "utf-16": "utf-16", "utf-16le": "utf-16-le",
    "utf-16be": "utf-16-be",
}

# two declaration forms, attribute-anchored so charset= inside an
# unrelated content value (a description meta, prose about charsets)
# cannot match: the HTML5 <meta charset=...> form — any attribute order,
# but ONLY in tags without a content= attribute (a content-bearing meta
# is either http-equiv, handled below, or an unrelated meta whose value
# could embed the word charset=) — and the legacy http-equiv
# Content-Type form (lookahead pins http-equiv to the SAME tag)
_META_CHARSET5_RE = re.compile(
    rb"""<meta(?![^>]*?\scontent\s*=)[^>]*?\scharset\s*=\s*["']?([A-Za-z0-9_.:-]+)""",
    re.IGNORECASE,
)
_META_CHARSET_EQUIV_RE = re.compile(
    rb"""<meta(?=[^>]*?http-equiv\s*=\s*["']?content-type)"""
    rb"""[^>]*?charset\s*=\s*["']?([A-Za-z0-9_.:-]+)""",
    re.IGNORECASE | re.DOTALL,
)
_HTML_COMMENT_RE = re.compile(rb"<!--.*?-->", re.DOTALL)
# a comment whose '-->' lies beyond the prescan cut: everything from the
# unmatched opener is dead text, drop it (only unterminated openers
# remain after _HTML_COMMENT_RE ran)
_HTML_COMMENT_OPEN_RE = re.compile(rb"<!--.*$", re.DOTALL)


def sniff_decode(html: bytes | bytearray) -> tuple[str, str]:
    """Bytes → (text, charset actually used), the browser resolution
    order a Common-Crawl page needs: BOM first, then a ``<meta charset>``
    / ``http-equiv`` declaration in the first 4 KB (WHATWG prescan),
    then strict UTF-8, then the cp1252 fallback (the web's de-facto
    latin-1 — real pages declared latin-1 routinely carry 0x93-0x94
    smart quotes that only cp1252 maps).  Errors in the chosen codec
    degrade with replacement rather than cascading to the fallback: a
    declared charset with a few mojibake bytes is still that charset."""
    if html[:3] == b"\xef\xbb\xbf":
        return html[3:].decode("utf-8", "replace"), "utf-8"
    if html[:2] == b"\xff\xfe":
        return html[2:].decode("utf-16-le", "replace"), "utf-16-le"
    if html[:2] == b"\xfe\xff":
        return html[2:].decode("utf-16-be", "replace"), "utf-16-be"
    # commented-out declarations must not win over the live one
    head = _HTML_COMMENT_RE.sub(b"", bytes(html[:4096]))
    head = _HTML_COMMENT_OPEN_RE.sub(b"", head)
    m = _META_CHARSET5_RE.search(head) or _META_CHARSET_EQUIV_RE.search(head)
    if m:
        declared = m.group(1).decode("ascii", "ignore").lower()
        codec = _CHARSET_ALIASES.get(declared)
        if codec is None:
            # codecs.lookup, not a probe decode: b"".decode() fast-paths
            # empty input and never validates the codec name; reject
            # resolvable NON-TEXT codecs (hex, base64, zlib) that would
            # raise out of the "replace" decode below
            import codecs as _codecs

            try:
                info = _codecs.lookup(declared)
                codec = info.name if getattr(
                    info, "_is_text_encoding", True
                ) else None
            except LookupError:
                codec = None
        if codec is not None:
            return html.decode(codec, "replace"), codec
    try:
        return html.decode("utf-8"), "utf-8"
    except UnicodeDecodeError:
        return html.decode("cp1252", "replace"), "cp1252"


def extract_html_document(
    html: bytes | str,
    min_words: int = 0,
    link_density_max: float = LINK_DENSITY_MAX,
    mode: str = "density",
    max_doc_bytes: int = 50_000_000,
) -> ExtractResult:
    """One HTML page → main-content blocks + counters (quarantining errors
    exactly like the OCR-mode extract_document)."""
    if html is None:
        return ExtractResult("", [], {}, status="error", error="null html")
    if len(html) > max_doc_bytes:
        return ExtractResult(
            "", [], {"quarantined_bytes": len(html)},
            status="quarantined", error=f"page exceeds {max_doc_bytes} bytes",
        )
    try:
        if isinstance(html, (bytes, bytearray)):
            raw_html, charset = sniff_decode(html)
        else:
            raw_html, charset = html, "str"
        if mode == "readability":
            if min_words:
                raise ValueError(
                    "min_words does not apply to mode='readability' "
                    "(container scoring has its own min_chars gate)"
                )
            p = _ContainerParser()
            p.feed(raw_html)
            p.close()
            p._flush()
            blocks, counters = readability_blocks(
                p.blocks, p.chains, link_density_max=link_density_max
            )
        else:
            blocks, counters = classify_blocks(
                parse_blocks(raw_html),
                min_words=min_words,
                link_density_max=link_density_max,
                mode=mode,
            )
        text = "".join(b.text for b in blocks)
        counters[f"charset.{charset}"] = 1
        return ExtractResult(text, blocks, counters)
    except Exception as exc:  # noqa: BLE001 — quarantine, don't kill the task
        return ExtractResult("", [], {}, status="error", error=repr(exc)[:500])
