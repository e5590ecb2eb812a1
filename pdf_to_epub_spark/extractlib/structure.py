"""Stage 3 — chapter structuring.

Byte-parity reimplementation of the reference pipeline's third stage
(`/root/reference/text-processing/Step3_structuring_v1.py`):

* pass 0 — promote inline ``CHAPTER <ROMAN>`` markers to their own block and
  force exactly two newlines after the numeral (reference :28-41),
* pass 1 — insert a form-feed page break before every chapter heading
  (reference :44-58),
* pass 2 — inside each chapter span, insert a ``---`` horizontal rule before
  the first ALL-CAPS opener token (A1), backing up over a preceding open
  quote (reference :61-160).

Pure ``str -> (str, counters)`` functions; document-local by construction
(chapter spans are char-offset windows, not line windows), hence these run
inside the per-document pandas UDF.
"""

from __future__ import annotations

import re

ROMAN = r"[IVXLCDM]+"
# The reference patterns anchor on a line start ((?m)^ / (?<!^)(?<!\n)),
# which makes re try every position of the text.  Here they lead with the
# literal "CHAPTER" (found at memchr speed) and test the line start right
# after it: (?<![^\n]CHAPTER) holds exactly where (?m)^ holds before it —
# at the text start or after "\n" — and (?<=[^\n]CHAPTER) exactly where
# it does not.
_AT_LINE_START = r"(?<![^\n]CHAPTER)"
CHAPTER_HEADING = re.compile(rf"(CHAPTER){_AT_LINE_START}\s+({ROMAN})\b")
HR_MARK = "---"
PAGE_BREAK_CHAR = "\f"
ALLCAPS_TOKEN = re.compile(r"\b[A-Z]{2,}\b")
_OPENING_QUOTES = "\"“”"
_A2_WINDOW = 60
_A2_MARGIN = 10
_LONE_I_OR_A = re.compile(r"\b[IA]\b")

_INLINE_CHAPTER = re.compile(r"CHAPTER(?<=[^\n]CHAPTER)\s+[IVXLCDM]+\b")
_CHAPTER_LINE_TAIL = re.compile(
    rf"(?m)(CHAPTER{_AT_LINE_START}\s+[IVXLCDM]+)\b[ \t]*(.*)$"
)
_PURE_ROMAN = re.compile(r"[IVXLCDM]+")


def _roman_only(token: str) -> bool:
    return bool(_PURE_ROMAN.fullmatch(token))


def _ineligible_opener(token: str) -> bool:
    return token == "CHAPTER" or _roman_only(token)


# --------------------------------------------------------------------------
# Pass 3.0 — inline chapter-marker normalization (reference :28-41)
# --------------------------------------------------------------------------

def promote_inline_chapter_markers(text: str, counters: dict) -> str:
    if "CHAPTER" not in text:  # both patterns require the literal marker
        counters["inline_chapter_promoted"] = 0
        counters["newline_after_roman_normalized"] = 0
        return text
    text, promoted = _INLINE_CHAPTER.subn(r"\n\n\g<0>", text)

    def two_newlines_after(m: re.Match) -> str:
        head = m.group(1)
        rest = m.group(2).rstrip()
        return f"{head}\n\n{rest}" if rest else f"{head}\n\n"

    text, normalized = _CHAPTER_LINE_TAIL.subn(two_newlines_after, text)
    counters["inline_chapter_promoted"] = promoted
    counters["newline_after_roman_normalized"] = normalized
    return text


# --------------------------------------------------------------------------
# Pass 3.1 — page break before each chapter heading (reference :44-58)
# --------------------------------------------------------------------------

def insert_pagebreak_before_chapters(text: str, counters: dict) -> str:
    pieces: list[str] = []
    cursor = 0
    breaks = 0
    for m in CHAPTER_HEADING.finditer(text):
        pieces.append(text[cursor : m.start()])
        pieces.append(PAGE_BREAK_CHAR + "\n")
        breaks += 1
        line_end = text.find("\n", m.end())
        if line_end == -1:
            line_end = len(text)
        pieces.append(text[m.start() : line_end])
        cursor = line_end
    pieces.append(text[cursor:])
    counters["pagebreaks"] = breaks
    counters["hr_after_heading"] = 0
    return "".join(pieces)


# --------------------------------------------------------------------------
# Pass 3.2 — HR before the chapter's first ALL-CAPS opener (reference :61-160)
# --------------------------------------------------------------------------

def chapter_spans(text: str) -> list[tuple[int, int, re.Match]]:
    """(start, end, heading-match) for each region between chapter headings."""
    heads = list(CHAPTER_HEADING.finditer(text))
    spans = []
    for i, m in enumerate(heads):
        end = heads[i + 1].start() if i + 1 < len(heads) else len(text)
        spans.append((m.start(), end, m))
    return spans


def _hr_insertion_point(block: str, a1_start: int) -> int:
    i = a1_start
    if i > 1 and block[i - 1] == " " and block[i - 2] in _OPENING_QUOTES:
        return i - 2
    if i > 0 and block[i - 1] in _OPENING_QUOTES:
        return i - 1
    return i


def _confirm_opener(block: str, a1: re.Match) -> tuple[bool, bool]:
    """A2 confirmation: a second ALL-CAPS token within 60 chars after A1, or
    a lone I/A within a ±10-char margin (reference :76-85)."""
    window = block[a1.end() : a1.end() + _A2_WINDOW]
    if ALLCAPS_TOKEN.search(window):
        return True, False
    left = max(0, a1.start() - _A2_MARGIN)
    right = min(len(block), a1.end() + _A2_MARGIN)
    if _LONE_I_OR_A.search(block[left:right]):
        return True, True
    return False, False


def insert_hr_before_chapter_openers(text: str, counters: dict) -> str:
    spans = chapter_spans(text)
    inserted = 0
    confirmed = 0
    via_single = 0
    before_quote = 0

    pieces: list[str] = []
    cursor = 0
    for start, end, m in spans:
        pieces.append(text[cursor:start])
        block = text[start:end]

        scan_from = m.end() - start
        a1 = None
        for cand in ALLCAPS_TOKEN.finditer(block, scan_from):
            if not _ineligible_opener(cand.group(0)):
                a1 = cand
                break

        if a1:
            has_a2, used_single = _confirm_opener(block, a1)
            if has_a2:
                confirmed += 1
                if used_single:
                    via_single += 1
            at = _hr_insertion_point(block, a1.start())
            if at < a1.start():
                before_quote += 1
            block = block[:at] + "\n\n" + HR_MARK + "\n" + block[at:]
            inserted += 1

        pieces.append(block)
        cursor = end

    pieces.append(text[cursor:])
    counters["chapters_processed"] = len(spans)
    counters["insertions_before_A1"] = inserted
    counters["A2_detected_total"] = confirmed
    counters["A2_via_single_letter"] = via_single
    counters["inserted_before_quote"] = before_quote
    return "".join(pieces)


# --------------------------------------------------------------------------
# Stage driver (order from reference Step3_structuring_v1.py:170-175)
# --------------------------------------------------------------------------

def run_stage3(text: str, counters: dict | None = None) -> str:
    if counters is None:
        counters = {}
    text = promote_inline_chapter_markers(text, counters)
    text = insert_pagebreak_before_chapters(text, counters)
    text = insert_hr_before_chapter_openers(text, counters)
    return text
