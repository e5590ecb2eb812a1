"""Stage 1 — boilerplate (running head/footer) removal.

Byte-parity reimplementation of the reference pipeline's first stage
(`/root/reference/text-processing/Step1_ocr_cleanup_v11.py`).  The pass
order and every regex are the contract:

* header/footer block removal     (reference Step1_ocr_cleanup_v11.py:65-192)
* in-word mojibake repair         (reference Step1_ocr_cleanup_v11.py:7-27)
* protected-heading preservation  (reference Step1_ocr_cleanup_v11.py:30-54)

All functions are pure ``str -> str`` (plus a counters dict) so they can be
driven from an Arrow-batched pandas UDF on executors.  None of them touch
the filesystem or wall clock.
"""

from __future__ import annotations

import bisect
import itertools
import re
from typing import Iterable

# --------------------------------------------------------------------------
# Pass 1a: running-head / footer block removal
# (reference Step1_ocr_cleanup_v11.py:65-192)
# --------------------------------------------------------------------------

# Anchor vocabulary: a block must mention the volume or the series title
# to be considered.
_ANCHOR_EITHER = re.compile(r"(?i)\bvolume\b|\bhistory\s+of\s+my\s+life\b")
_INLINE_CHAPTER = re.compile(r"(?i)\bchapter\b")

# Header-ish line shapes, matched against stripped lines.  The reference
# tests ^\s*X\s*$ for a bullet, a punctuation run, a quote run and a page
# number; on a stripped line that is a fullmatch of X, and the quote class
# is a subset of the punctuation class, so two alternations cover all four.
_BULLET_PUNCT_OR_NUMBER = re.compile(
    r'[•·]|[\.,;:!?—–\-\"“”„‟’\']+|(?:\d{1,4}|[IVXLCDM]+)\.?'
)
_PUNCT_OR_NUMBER = re.compile(r'[\.,;:!?—–\-\"“”„‟’\']+|(?:\d{1,4}|[IVXLCDM]+)\.?')

# A real (protected) chapter heading, in strict ALL-CAPS form.
_ALLCAPS_CHAPTER = re.compile(r"^\s*CHAPTER\s+(?:[IVXLCDM]+|[A-Z0-9]+)\s*$")

# Case-insensitive chapter heading used to locate the *first* real heading,
# tolerating trailing superscript footnote marks.
_CHAPTER_ANYCASE = re.compile(
    r"^\s*chapter\s+[ivxlcdm]+[.¹²³⁰-⁹˚]*\s*$",
    re.IGNORECASE,
)

_LOWERCASE_LETTER = re.compile(r"[a-zà-öø-ÿ]")
_SENTENCE_SHAPE = re.compile(r"[A-Za-z].*[\.!?;:]\s*$")
_WORD = re.compile(r"[A-Za-zÀ-ÖØ-öø-ÿ]+")


def normalize_newlines(text: str) -> str:
    """Universal-newline normalization: every reference CLI reads its
    input in text mode (Step1_ocr_cleanup_v11.py:201 `read_text(...)`), so
    \\r\\n and lone \\r become \\n BEFORE any pass runs.  The two-replace
    idiom is equivalent to Python's universal-newline decoding for every
    \\r / \\r\\n interleaving.  Shared by `run_stage1` and the legacy
    pipeline entry so the text-mode emulation lives in exactly one place."""
    if "\r" in text:
        text = text.replace("\r\n", "\n").replace("\r", "\n")
    return text


# Chars that sre's IGNORECASE table matches against a letter of "volume",
# "history" or "chapter" besides the ASCII letters themselves (exhaustive
# sweep over all of Unicode), and the line breaks that do not survive a
# Latin-1 encode, each mapped to a one-char stand-in.  "\x0b" stands in for
# a break because, unlike "\n", it never pairs with a preceding "\r".
_FOLD_FIXES = (("İ", "i"), ("ı", "i"), ("ſ", "s"), ("\u2028", "\x0b"), ("\u2029", "\x0b"))
# str.splitlines() boundaries other than "\n" itself.
LINE_BREAKS = ("\r", "\x0b", "\x0c", "\x1c", "\x1d", "\x1e", "\x85", "\u2028", "\u2029")


def _fold_for_anchors(text: str) -> str:
    """``text`` with every char that sre's IGNORECASE matches against a
    letter of "volume", "history" or "chapter" turned into that letter,
    same length and same line breaks — so `(?i)\\bvolume\\b` and friends can
    only match where the fold holds the plain lowercase word.  (str.casefold
    is NOT enough: sre matches `i` against ı, which casefold keeps, and
    against İ, which it turns into two chars.)  Everything else maps to
    itself, or to "?" outside Latin-1; a bytes pass does the ASCII lowering
    at a fraction of casefold's per-char cost."""
    if text.isascii():
        return text.lower()
    for ch, to in _FOLD_FIXES:
        if ch in text:
            text = text.replace(ch, to)
    return text.encode("latin-1", "replace").lower().decode("latin-1")


def _lines_holding(text: str, words: tuple[str, ...]) -> set[int]:
    """Indexes, in ``text.splitlines()``, of the lines holding any of
    ``words`` (which hold no line break)."""
    hits = []
    for word in words:
        i = text.find(word)
        while i != -1:
            hits.append(i)
            i = text.find(word, i + 1)
    if not hits:
        return set()
    hits.sort()
    if any(sep in text for sep in LINE_BREAKS):
        ends = list(itertools.accumulate(map(len, text.splitlines(True))))
        return {bisect.bisect_right(ends, p) for p in hits}
    found = set()
    line = prev = 0
    for p in hits:
        line += text.count("\n", prev, p)
        prev = p
        found.add(line)
    return found


def _first_protected_heading(lines: list[str], candidates: Iterable[int]) -> int | None:
    """Index of the first case-insensitive ``chapter <roman>`` own-line,
    trying only ``candidates`` (sorted indexes of the lines that can
    match)."""
    for idx in candidates:
        if _CHAPTER_ANYCASE.match(lines[idx].strip()):
            return idx
    return None


def strip_running_heads(
    text: str, counters: dict, protect_chapter_heading: bool = True
) -> str:
    """Delete header/footer blocks anchored on Volume / series-title lines.

    Region growing is strictly sequential per document (grow, absorb up to
    three dangling punct/number lines, boundary body check, protected-heading
    split, overlap merge) — which is why the whole document rides inside one
    pandas-UDF row rather than being exploded into per-line Spark rows.

    ``protect_chapter_heading=False`` reproduces the legacy v10 behavior
    byte-for-byte (reference Step1_ocr_cleanup_v10.py is exactly v11 minus
    the protected-heading logic; `diff` confirms nothing else changed) —
    the T26-adjacent variant the SURVEY scoped as legacy.
    """
    # Fold prescreen: `(?i)\bvolume\b` / `(?i)\bhistory\s+of\s+my\s+life\b`
    # can only match where the folded text contains the contiguous literal
    # "volume" / "history" (and `(?i)\bchapter\b` only where it holds
    # "chapter"); false positives just fall through to the regex.
    folded = _fold_for_anchors(text)
    if "volume" not in folded and "history" not in folded:
        counters.setdefault("header_footer_blocks_removed", 0)
        return text

    lines = text.splitlines()
    n = len(lines)
    anchor_lines = _lines_holding(folded, ("volume", "history"))
    chapter_lines = _lines_holding(folded, ("chapter",))
    protected = (
        _first_protected_heading(lines, sorted(chapter_lines))
        if protect_chapter_heading
        else None
    )

    # _ALLCAPS_CHAPTER needs the literal "CHAPTER": test that first.
    def allcaps_chapter(s: str) -> bool:
        return "CHAPTER" in s and _ALLCAPS_CHAPTER.match(s) is not None

    def headerish(idx: int) -> bool:
        if protected is not None and idx == protected:
            return False
        s = lines[idx].strip()
        if s == "":
            return True
        if _BULLET_PUNCT_OR_NUMBER.fullmatch(s):
            return True
        if idx in anchor_lines and _ANCHOR_EITHER.search(s):
            return True
        if idx in chapter_lines and _INLINE_CHAPTER.search(s) and not allcaps_chapter(s):
            return True
        return False

    def bodyish(idx: int) -> bool:
        s = lines[idx].strip()
        if s == "":
            return False
        if allcaps_chapter(s):
            return True
        if _LOWERCASE_LETTER.search(s):
            return True
        if _SENTENCE_SHAPE.search(s):
            return True
        return len(_WORD.findall(s)) >= 2

    ranges: list[tuple[int, int]] = []
    claimed: set[int] = set()

    for i in sorted(anchor_lines):
        if i in claimed:
            continue
        if not _ANCHOR_EITHER.search(lines[i]):
            continue

        lo = i
        while (
            lo - 1 >= 0
            and (lo - 1 != protected)
            and headerish(lo - 1)
            and not allcaps_chapter(lines[lo - 1].strip())
        ):
            lo -= 1
        hi = i
        while (
            hi + 1 < n
            and (hi + 1 != protected)
            and headerish(hi + 1)
            and not allcaps_chapter(lines[hi + 1].strip())
        ):
            hi += 1

        # Absorb up to three dangling punct / numeric / quote lines on
        # either side of the grown block.
        k = lo - 1
        taken = 0
        while k >= 0 and taken < 3:
            s = lines[k].strip()
            if s and k != protected and _PUNCT_OR_NUMBER.fullmatch(s):
                lo = k
                taken += 1
                k -= 1
                continue
            break
        k = hi + 1
        taken = 0
        while k < n and taken < 3:
            s = lines[k].strip()
            if s and k != protected and _PUNCT_OR_NUMBER.fullmatch(s):
                hi = k
                taken += 1
                k += 1
                continue
            break

        # Boundary sanity: the block must touch a document edge or abut a
        # body line on at least one side (checked before the protect-split).
        lo_ok = (lo == 0) or (lo - 1 >= 0 and bodyish(lo - 1))
        hi_ok = (hi == n - 1) or (hi + 1 < n and bodyish(hi + 1))

        if protected is not None and lo <= protected <= hi:
            if protected - lo > hi - protected:
                lo = protected + 1
            else:
                hi = protected - 1

        if lo <= hi and (lo_ok or hi_ok):
            ranges.append((lo, hi))
            for k in range(lo, hi + 1):
                claimed.add(k)

    if not ranges:
        counters.setdefault("header_footer_blocks_removed", 0)
        return text

    ranges.sort()
    merged: list[tuple[int, int]] = []
    cur_lo, cur_hi = ranges[0]
    for lo, hi in ranges[1:]:
        if lo <= cur_hi + 1:
            cur_hi = max(cur_hi, hi)
        else:
            merged.append((cur_lo, cur_hi))
            cur_lo, cur_hi = lo, hi
    merged.append((cur_lo, cur_hi))

    kept: list[str] = []
    samples: list[str] = []
    prev = 0
    for lo, hi in merged:
        kept += lines[prev:lo]
        prev = hi + 1
        samples.append("\n".join(lines[lo : hi + 1])[:200])
    kept += lines[prev:]

    counters["header_footer_blocks_removed"] = len(merged)
    if protected is not None:
        counters["protected_first_chapter_idx"] = protected
    if samples:
        counters["header_footer_examples"] = samples[:5]
    return "\n".join(kept)


# --------------------------------------------------------------------------
# Pass 1b: in-word UTF-8→Latin-1 mojibake repair
# (reference Step1_ocr_cleanup_v11.py:7-27)
# --------------------------------------------------------------------------

# Ordered replacement pairs, applied only inside word tokens.  NB: the
# second character of every key lies outside the token charset below, so at
# stage 1 this pass is effectively inert — that quirk is part of the
# contract and must not be "fixed" (the real mojibake sweep happens in
# stage 2, reference Step2_formatting_v14.py:327-342).
_STAGE1_MOJIBAKE: tuple[tuple[str, str], ...] = (
    ("Ã©", "é"), ("Ã¨", "è"), ("Ãª", "ê"), ("Ã«", "ë"),
    ("Ã ", "à"), ("Ã¢", "â"), ("Ã¤", "ä"),
    ("Ã¹", "ù"), ("Ã»", "û"), ("Ã¼", "ü"),
    ("Ã®", "î"), ("Ã¯", "ï"),
    ("Ã´", "ô"), ("Ã¶", "ö"),
    ("Ã‡", "Ç"), ("Ã§", "ç"),
    ("Ã‰", "É"), ("Ãˆ", "È"), ("ÃŠ", "Ê"), ("Ã‹", "Ë"),
    ("Ã€", "À"), ("Ã‚", "Â"), ("Ã„", "Ä"),
    ("Ã™", "Ù"), ("Ã›", "Û"), ("Ãœ", "Ü"),
    ("ÃŽ", "Î"), ("Ã", "Ï"),
    ("Ã”", "Ô"), ("Ã–", "Ö"),
)

_WORD_TOKEN_WITH_MOJIBAKE = re.compile(
    r"[A-Za-zÀ-ÖØ-öø-ÿ'’-]*Ã[A-Za-zÀ-ÖØ-öø-ÿ'’-]*"
)


def repair_word_mojibake(text: str) -> str:
    """Apply the ordered mojibake pairs inside word tokens only.

    This pass is the identity on EVERY input, provably: a match of
    ``_WORD_TOKEN_WITH_MOJIBAKE`` consists solely of token-class chars
    (``A-Za-zÀ-ÖØ-öø-ÿ'’-``), and the second character of every
    ``_STAGE1_MOJIBAKE`` key (©¨ª« ¢¤¹»¼®¯´¶‡§‰ˆŠ‹€‚„™›œŽ U+008F ”–)
    lies outside that class — so no key can ever occur inside a matched
    token and the replace loop never fires.  The reference has the same
    quirk (see the table comment above); the pass is kept as an explicit
    no-op rather than deleted so the stage layout mirrors the reference,
    and :func:`_repair_word_mojibake_regex` preserves the literal form for
    the differential test in tests/test_fuzz_parity.py.
    """
    return text


def _repair_word_mojibake_regex(text: str) -> str:
    """The literal regex form of the pass (reference semantics verbatim);
    used only by the identity-proof differential test."""
    if "Ã" not in text:
        return text

    def mend(match: re.Match) -> str:
        token = match.group(0)
        for bad, good in _STAGE1_MOJIBAKE:
            token = token.replace(bad, good)
        return token

    return _WORD_TOKEN_WITH_MOJIBAKE.sub(mend, text)


# --------------------------------------------------------------------------
# Pass 1c: preservation rule
# (reference Step1_ocr_cleanup_v11.py:30-54)
# --------------------------------------------------------------------------


def _reinsert_at_top(text: str, line: str) -> str:
    lines = text.splitlines()
    i = 0
    while i < len(lines) and lines[i].strip() == "":
        i += 1
    lines[i:i] = ["", line, ""]
    return "\n".join(lines)


# The reference's (?m)^\s*CHAPTER\s+(?:[IVXLCDM]+|[A-Z0-9]+)\s*$ and
# (?m)^\s*Volume\s+\S.*$, from their literal on: a (?m)^\s* head makes re
# try every position of the text, while the literal is found at memchr
# speed and the head is checked on the few lines that hold it.
_CHAPTER_LINE_TAIL = re.compile(r"(?m)\s+(?:[IVXLCDM]+|[A-Z0-9]+)\s*$")
_VOLUME_LINE_TAIL = re.compile(r"\s+\S.*")


def _line_head_is_blank(text: str, i: int) -> bool:
    r"""Whether only whitespace precedes ``text[i]`` since the last "\n"
    (where a (?m)^\s* can start and still reach ``i``)."""
    head = text[text.rfind("\n", 0, i) + 1 : i]
    return not head or head.isspace()


def _first_line_match(text: str, literal: str, tail: re.Pattern) -> str | None:
    r"""== m.group(0).strip() for the first match of (?m)^\s*<literal><tail>
    (None when there is none).  Matches start at a line start, so the first
    one belongs to the first occurrence of the literal that has only
    whitespace before it on its line and a tail match after it."""
    i = text.find(literal)
    while i != -1:
        if _line_head_is_blank(text, i):
            m = tail.match(text, i + len(literal))
            if m:
                return text[i : m.end()].strip()
        i = text.find(literal, i + 1)
    return None


def _has_own_line(text: str, line: str) -> bool:
    r"""== re.search(r"(?m)^\s*" + re.escape(line) + r"\s*$", text) is not
    None: some occurrence of ``line`` has only whitespace before it since
    the last "\n" and only whitespace after it up to the next one."""
    i = text.find(line)
    while i != -1:
        j = i + len(line)
        end = text.find("\n", j)
        tail = text[j:] if end == -1 else text[j:end]
        if (not tail or tail.isspace()) and _line_head_is_blank(text, i):
            return True
        i = text.find(line, i + 1)
    return False


def reinstate_protected_lines(text: str, original_text: str) -> str:
    """If cleanup dropped the first ALL-CAPS chapter heading or the first
    ``Volume …`` line of the *original* document, put it back at the top."""
    heading = _first_line_match(original_text, "CHAPTER", _CHAPTER_LINE_TAIL)
    if heading is not None and not _has_own_line(text, heading):
        text = _reinsert_at_top(text, heading)

    vol = _first_line_match(original_text, "Volume", _VOLUME_LINE_TAIL)
    if vol is not None and not _has_own_line(text, vol):
        text = _reinsert_at_top(text, vol)

    return text


# --------------------------------------------------------------------------
# Stage driver
# --------------------------------------------------------------------------

def run_stage1(
    text: str,
    counters: dict | None = None,
    protect_chapter_heading: bool = True,
) -> str:
    """Full stage 1 in reference order (Step1_ocr_cleanup_v11.py:204-207).

    ``protect_chapter_heading=False`` is the legacy v10 pipeline
    byte-for-byte (same pass order; Step1_ocr_cleanup_v10.py:185-187 —
    v10 differs from v11 only by the protected-heading logic)."""
    if counters is None:
        counters = {}
    # Normalize BEFORE `original` is captured: the reference's reinstate
    # compares against the post-read (already normalized) text.  Without
    # this, a \r surviving into strip_running_heads changes which
    # anchor/absorb rules fire and the reinserted block keeps raw CRs.
    text = normalize_newlines(text)
    original = text
    text = strip_running_heads(text, counters, protect_chapter_heading)
    text = repair_word_mojibake(text)
    text = reinstate_protected_lines(text, original)
    return text
