"""Block segmentation — the engine's per-row output contract.

Splits a fully-transformed (stage-3) document string into ordered, typed,
span-addressed blocks::

    (block_id, block_type, text, span_start, span_end)

with ``block_type ∈ {title, volume, heading, paragraph, hr, page_break}``.

Span model: the blocks *tile* the stage-3 string — ``span_start`` of block 0
is 0, each block runs up to the next block's start (inter-block blank lines
belong to the preceding block), and ``text`` is the exact slice
``stage3[span_start:span_end]``.  Therefore the reassembly invariant is

    "".join(b.text for b in blocks) == stage3_text        (byte-for-byte)

which is the `north_rule`'s "byte-identical extracted text per url"
contract, and what `tests/test_fuzz_parity.py` / `tests/test_spark_pipeline.py` enforce.  The span-slice model
itself follows the reference's textAnchor segments
(`/root/reference/ocr-processing/batch_ocr_with_page_breaks.py:176-193`);
the block taxonomy follows the structuring/EPUB stages
(`/root/reference/text-processing/Step3_structuring_v1.py:44-58,88-160`,
`Step4_epub_v10.py:18-27,78-92`).
"""

from __future__ import annotations

import re
from typing import NamedTuple

_HEADING_LINE = re.compile(r"^CHAPTER\s+[IVXLCDM]+$")
_VOLUME_LINE = re.compile(r"^VOLUME\s+[0-9IVXLCDM]+$", re.IGNORECASE)
_HAS_LOWER = re.compile(r"[a-zà-öø-ÿ]")


class Block(NamedTuple):
    block_id: int
    block_type: str
    text: str
    span_start: int
    span_end: int


def segment_blocks(stage3_text: str) -> list[Block]:
    """Tile the stage-3 string into typed blocks (see module docstring).

    Classification rules:
    * a line that is exactly a form feed               → ``page_break``
    * a line ``CHAPTER <ROMAN>`` (ALL-CAPS)            → ``heading``
    * a line ``---``                                   → ``hr``
    * the first non-blank line, when it matches
      ``VOLUME <N|ROMAN>`` case-insensitively          → ``volume``
    * the first non-blank, non-marker line before the
      first heading, when ALL-CAPS (no lowercase) and
      at least 4 chars                                 → ``title``
    * any other maximal run of non-blank lines         → ``paragraph``
    """
    if stage3_text == "":
        return []

    # Single walk: char offsets tracked inline; each line stripped ONCE
    # per flavor and the marker tests inlined on those strings.  The
    # page-break test runs on the line stripped of spaces/tabs only
    # (``str.strip()`` eats the form feed itself); the CHAPTER regex only
    # runs behind a prefix test, so ordinary content lines never enter
    # the regex engine.
    starts: list[tuple[int, str]] = []  # (char offset, block_type)
    in_paragraph = False
    seen_marker = False
    front_matter_only = True  # only volume/title blocks seen so far

    start = 0
    for line in stage3_text.split("\n"):
        nxt = start + len(line) + 1
        st_tab = line.strip(" \t")
        # all-space/tab lines cannot contain \f (strip removes only
        # edge spaces/tabs), so the old `and "\f" not in line` guard is
        # implied by the equality
        if st_tab == "":
            in_paragraph = False
            start = nxt
            continue
        stripped = line.strip()
        if st_tab == "\f":
            marker = "page_break"
        elif stripped.startswith("CHAPTER") and _HEADING_LINE.match(stripped):
            marker = "heading"
        elif stripped == "---":
            marker = "hr"
        else:
            marker = None
        if marker is not None:
            starts.append((start, marker))
            seen_marker = True
            front_matter_only = False
            in_paragraph = False
            start = nxt
            continue
        if not in_paragraph:
            if front_matter_only and _VOLUME_LINE.match(stripped):
                btype = "volume"
            elif (
                front_matter_only
                and not seen_marker
                and len(stripped) >= 4
                and not _HAS_LOWER.search(stripped)
            ):
                btype = "title"
            else:
                btype = "paragraph"
                front_matter_only = False
            starts.append((start, btype))
            in_paragraph = True
        start = nxt

    if not starts:
        # Whole string is blank: a single paragraph block covering it.
        return [Block(0, "paragraph", stage3_text, 0, len(stage3_text))]

    blocks: list[Block] = []
    n = len(stage3_text)
    for i, (start, btype) in enumerate(starts):
        span_start = 0 if i == 0 else start
        span_end = starts[i + 1][0] if i + 1 < len(starts) else n
        blocks.append(
            Block(i, btype, stage3_text[span_start:span_end], span_start, span_end)
        )
    return blocks


def reassemble(blocks: list[Block]) -> str:
    """Inverse of :func:`segment_blocks` — exact byte reassembly."""
    return "".join(b.text for b in sorted(blocks, key=lambda b: b.block_id))


def chapter_struct(blocks: list[Block]) -> dict:
    """Chapter-assembly aggregation (the reference's EPUB spine/TOC logic,
    `legacy/Step4_create_epub.py:41-55,105-143`): front matter before the
    first heading, then one chapter per ``heading`` block."""
    volume = None
    title = None
    chapters: list[dict] = []
    current: dict | None = None
    front: list[dict] = []

    for b in blocks:
        entry = {"block_id": b.block_id, "block_type": b.block_type, "text": b.text}
        if b.block_type == "volume" and volume is None:
            volume = b.text.strip()
        if b.block_type == "title" and title is None:
            title = b.text.strip()
        if b.block_type == "heading":
            current = {"heading": b.text.strip(), "blocks": []}
            chapters.append(current)
            continue
        if current is None:
            front.append(entry)
        else:
            current["blocks"].append(entry)

    return {
        "title": title,
        "volume": volume,
        "front_matter": front,
        "chapters": chapters,
        "toc": [c["heading"] for c in chapters],
    }
