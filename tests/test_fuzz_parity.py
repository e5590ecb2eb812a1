"""Differential fuzzing: random OCR-ish texts through our transform vs the
reference CLIs, byte-compared.  Catches parity divergences the structured
fixtures miss (odd whitespace shapes, unicode edge cases, pathological
quote/number layouts).

Deterministic (derandomized hypothesis profile) and bounded (subprocess per
example is expensive — the example budget is small but the generator is
dense in reference-relevant phenomena).
"""

from __future__ import annotations

import pathlib
import subprocess
import sys

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

from pdf_to_epub_spark.extractlib import (  # noqa: E402
    reassemble,
    segment_blocks,
    transform_text,
)

REF = pathlib.Path("/root/reference/text-processing")

# Alphabet dense in the phenomena the passes react to.
_TOKENS = st.sampled_from(
    [
        "word", "Volume", "VOLUME 3", "History of My Life", "CHAPTER",
        "Hıstory of My Life", "Hİstory of My Lİfe", "VOLUMİ", "volumı 3",
        "CHAPTER IV", "chapter ix", "12", "345", "1760", "2nd",
        "100 ducats", "•", "·", '"', "''", "' \"", "”", "“", "â", "â€¢",
        "Ã©", "Ã‚", "Â", "so-\nlong", "­\n", "Mr.", "!", "?", "I", "A",
        "THE END", "...", ",", ";", "\f", "¹", "²",
        "He said.", '"Quoted speech." "More speech."', "page",
    ]
)
_SEPS = st.sampled_from(
    [" ", "  ", "\n", "\n\n", "\n\n\n", "\t", " \n ", "\r\n", "\r", "\r\r"]
)


@st.composite
def ocr_texts(draw):
    n = draw(st.integers(min_value=0, max_value=60))
    parts = []
    for _ in range(n):
        parts.append(draw(_TOKENS))
        parts.append(draw(_SEPS))
    return "".join(parts)


def _reference_stage3(text: str, tmp: pathlib.Path) -> str:
    inp = tmp / "in.txt"
    inp.write_text(text, encoding="utf-8")
    s1, s2, s3 = tmp / "s1.txt", tmp / "s2.txt", tmp / "s3.txt"
    for script, a, b in (
        ("Step1_ocr_cleanup_v11.py", inp, s1),
        ("Step2_formatting_v14.py", s1, s2),
        ("Step3_structuring_v1.py", s2, s3),
    ):
        subprocess.run(
            [sys.executable, str(REF / script), str(a), str(b)],
            check=True, capture_output=True,
        )
    return s3.read_text(encoding="utf-8")


@pytest.mark.skipif(not REF.exists(), reason="reference not available")
@settings(
    max_examples=75,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(text=ocr_texts())
def test_differential_parity(text: str) -> None:
    import tempfile

    got, _ = transform_text(text)
    with tempfile.TemporaryDirectory() as tmp:
        expected = _reference_stage3(text, pathlib.Path(tmp))
    assert got == expected

    blocks = segment_blocks(got)
    assert reassemble(blocks) == got
    for i, b in enumerate(blocks):
        assert b.block_id == i
        assert got[b.span_start : b.span_end] == b.text


@settings(max_examples=100, deadline=None, derandomize=True)
@given(text=st.text(max_size=400))
def test_arbitrary_unicode_never_crashes(text: str) -> None:
    """Pure robustness: any unicode input transforms and re-tiles exactly."""
    got, counters = transform_text(text)
    blocks = segment_blocks(got)
    assert reassemble(blocks) == got


# ---------------------------------------------------------------------------
# Fast-path vs regex differential: formatting.py replaces five hot regex
# passes with literal-anchored str.find loops.  Each helper must be
# byte-identical to the regex it documents, on inputs dense in the exact
# phenomena the scanners branch on (whitespace-run shapes, consumed-tail
# adjacency, excluded-class boundaries).
# ---------------------------------------------------------------------------

from pdf_to_epub_spark.extractlib import formatting as _fmt  # noqa: E402

# Dense in: newline runs, hyphen wraps (upper/lower tails, chained), space
# and tab runs, punctuation after whitespace, mid-sentence break shapes
# (excluded group-1 chars, ws-inside-run group-1 candidates, latin-1 tails).
_FASTPATH_ATOMS = st.sampled_from(
    [
        "a", "b", "Z", "é", "à", "ö", "ø", "ÿ", "×", "÷", ".", "!", "?",
        ";", ":", ")", '"', ",", " ", "  ", "\t", "\t ", "\n", "\n\n",
        "\n\n\n", "\n\n\n\n", "-\n", "a-\nb", "a-\nB", "-\n-\n", "x-\ny-\nz",
        " \n\n ", "\n \n", "\x0b", "\xa0", " ,", "  .", "\n;", "\t!",
        "word", "Mr.", "\r\n",
    ]
)


@st.composite
def fastpath_texts(draw):
    n = draw(st.integers(min_value=0, max_value=40))
    return "".join(draw(_FASTPATH_ATOMS) for _ in range(n))


@settings(max_examples=300, deadline=None, derandomize=True)
@given(text=fastpath_texts())
def test_fastpath_differential(text: str) -> None:
    """Each literal-anchored fast path == the regex pass it replaced."""
    assert _fmt._collapse_blank_runs(text) == _fmt._BLANK_RUN.sub("\n\n", text)
    assert _fmt._dehyphenate_wraps(text) == _fmt._HYPHEN_WRAP.sub(
        _fmt._join_hyphen_wrap, text
    )
    assert _fmt._collapse_space_runs(text) == _fmt._SPACE_RUN.sub(" ", text)
    assert _fmt._strip_space_before_punct(text) == _fmt._SPACE_BEFORE_PUNCT.sub(
        r"\1", text
    )
    got_txt, got_n = _fmt._collapse_midsentence(text)
    exp_txt, exp_n = _fmt._MID_SENTENCE_BREAK.subn(r"\1 \2", text)
    assert (got_txt, got_n) == (exp_txt, exp_n)


@settings(max_examples=150, deadline=None, derandomize=True)
@given(text=st.text(max_size=300))
def test_fastpath_differential_arbitrary_unicode(text: str) -> None:
    """Same five equivalences on arbitrary unicode (ws classes beyond ASCII)."""
    assert _fmt._collapse_blank_runs(text) == _fmt._BLANK_RUN.sub("\n\n", text)
    assert _fmt._dehyphenate_wraps(text) == _fmt._HYPHEN_WRAP.sub(
        _fmt._join_hyphen_wrap, text
    )
    assert _fmt._collapse_space_runs(text) == _fmt._SPACE_RUN.sub(" ", text)
    assert _fmt._strip_space_before_punct(text) == _fmt._SPACE_BEFORE_PUNCT.sub(
        r"\1", text
    )
    got = _fmt._collapse_midsentence(text)
    assert got == _fmt._MID_SENTENCE_BREAK.subn(r"\1 \2", text)


from pdf_to_epub_spark.extractlib import cleanup as _cln  # noqa: E402

_MOJIBAKE_ATOMS = st.sampled_from(
    ["Ã©", "Ã‚", "Ã", "word", "ÃƒÂ©", "l'Ã©tÃ©", " ", "\n", "Ã-Ã", "'’-"]
)


@settings(max_examples=200, deadline=None, derandomize=True)
@given(
    text=st.one_of(
        st.text(max_size=200),
        st.lists(_MOJIBAKE_ATOMS, max_size=30).map("".join),
    )
)
def test_repair_word_mojibake_identity_proof(text: str) -> None:
    """repair_word_mojibake is a proven no-op: the literal regex form
    (reference semantics) never changes any input, because every mojibake
    key contains a char outside the word-token class."""
    assert _cln._repair_word_mojibake_regex(text) == text
    assert _cln.repair_word_mojibake(text) == text


# ---------------------------------------------------------------------------
# sre-IGNORECASE vs casefold prescreen: the Turkish dotless/dotted I repros.
# re matches (?i)i against U+0131 (folds to itself) and U+0130 (folds to
# "i"+U+0307); a plain-casefold substring screen misses both, so
# strip_running_heads must fold them back to "i" before screening.
# ---------------------------------------------------------------------------

_TURKISH_I_DOCS = [
    "hıstory of my life\nVOL I\n\nBody text here follows.",
    "Hİstory of my life\n12\n\nBody text here follows.",
    "before\nvolumı II\n\nAfter body line.",
    "before\nVOLUMİ II\n\nAfter body line.",
    # universal-newline repros: the reference CLIs read in text mode, so
    # \r\n and lone \r are \n before Step 1 — the reinserted protected
    # block must not keep raw CRs nor change anchor/absorb decisions.
    'word Volume\n\' "\nVolume\r\n12 VOLUMİ ',
    "word Volume\n' \"\nVolume\r\n12 VOLUME ",
    "a\rb\rVolume\r12\r\rBody text here.",
]


@pytest.mark.skipif(not REF.exists(), reason="reference not available")
@pytest.mark.parametrize("text", _TURKISH_I_DOCS)
def test_turkish_i_prescreen_differential(text: str) -> None:
    """Pinned reference-CLI differential for the prescreen fix: inputs where
    (?i)history/(?i)volume match via sre's i≡ı/İ equivalences but a naive
    casefold substring screen returns early."""
    import tempfile

    got, _ = transform_text(text)
    with tempfile.TemporaryDirectory() as tmp:
        expected = _reference_stage3(text, pathlib.Path(tmp))
    assert got == expected


# ---------------------------------------------------------------------------
# Gated and rewritten passes vs their original bodies.  Stages 1-3 skip
# passes behind exact no-op gates and run hot passes as reshaped patterns
# (literal-led, possessive, whole-text).  The original pass bodies below are
# kept ONLY as oracles: every new pass must return the same text and write
# the same counters, in the same order, as the body it replaced — on
# arbitrary unicode and on text dense in what the gates and rewrites branch
# on (quotes, apostrophes, digits, mojibake, line-break kinds, money terms).
# Names: _o1_* stage 1 (cleanup.py), _o2_* stage 2 (formatting.py), _o3_*
# stage 3 (structure.py); helpers this change left untouched are imported.
# ---------------------------------------------------------------------------

import re  # noqa: E402

from pdf_to_epub_spark.extractlib import structure as _stc  # noqa: E402
from pdf_to_epub_spark.extractlib.cleanup import _reinsert_at_top  # noqa: E402
from pdf_to_epub_spark.extractlib.formatting import (  # noqa: E402
    _PARA_SENTINEL,
    _PBRK_SENTINEL,
    _SPACE_BEFORE_PUNCT,
    ARTIFACT_TOKENS,
    DEFAULT_MONEY_TERMS,
    MOJIBAKE_PAIRS,
    PROPER_NOUN_PAIRS,
    QUOTE_SHAPES,
    _collapse_blank_runs,
    _collapse_space_runs,
    _dehyphenate_wraps,
)
from pdf_to_epub_spark.extractlib.structure import (  # noqa: E402
    ALLCAPS_TOKEN,
    HR_MARK,
    PAGE_BREAK_CHAR,
    ROMAN,
    _confirm_opener,
    _hr_insertion_point,
    _ineligible_opener,
)


_o1_ANCHOR_EITHER = re.compile(r"(?i)\bvolume\b|\bhistory\s+of\s+my\s+life\b")
_o1_INLINE_CHAPTER = re.compile(r"(?i)\bchapter\b")
_o1_BULLET_LINE = re.compile(r"^\s*[•·]\s*$")
_o1_PUNCT_LINE = re.compile(r'^\s*[\.,;:!?—–\-\"“”„‟’\']+\s*$')
_o1_QUOTE_LINE = re.compile(r'^\s*[\"\'“”„‟’]+\s*$')
_o1_NUMERIC_LINE = re.compile(r"^\s*(?:\d{1,4}|[IVXLCDM]+)\.?\s*$")
_o1_ALLCAPS_CHAPTER = re.compile(r"^\s*CHAPTER\s+(?:[IVXLCDM]+|[A-Z0-9]+)\s*$")
_o1_CHAPTER_ANYCASE = re.compile(
    r"^\s*chapter\s+[ivxlcdm]+[.¹²³⁰-⁹˚]*\s*$",
    re.IGNORECASE,
)
_o1_LOWERCASE_LETTER = re.compile(r"[a-zà-öø-ÿ]")
_o1_SENTENCE_SHAPE = re.compile(r"[A-Za-z].*[\.!?;:]\s*$")
_o1_WORD = re.compile(r"[A-Za-zÀ-ÖØ-öø-ÿ]+")


def _o1_first_protected_heading(lines: list[str]) -> int | None:
    """Index of the first case-insensitive ``chapter <roman>`` own-line."""
    for idx, raw in enumerate(lines):
        if _o1_CHAPTER_ANYCASE.match(raw.strip()):
            return idx
    return None


def _o1_strip_running_heads(
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
    # Casefold prescreen: `(?i)\bvolume\b` / `(?i)\bhistory\s+of\s+my\s+life\b`
    # can only match where the folded text contains the contiguous literal
    # "volume" / "history".  str.casefold alone is NOT sufficient for re's
    # IGNORECASE table: sre matches `i` against dotless ı (U+0131, folds to
    # itself) and dotted İ (U+0130, folds to "i"+U+0307, breaking
    # contiguity) — so fold those two back to plain "i".  With that, an
    # exhaustive sweep over all of Unicode shows every char sre-matches
    # against an anchor letter folds to exactly that letter; false
    # positives just fall through to the regex.  Neither replacement nor
    # casefold introduces/removes line breaks, so folded_lines below stays
    # 1:1 with lines.
    folded = text.casefold().replace("ı", "i").replace("̇", "")
    if "volume" not in folded and "history" not in folded:
        counters.setdefault("header_footer_blocks_removed", 0)
        return text

    lines = text.splitlines()
    n = len(lines)
    protected = (
        _o1_first_protected_heading(lines) if protect_chapter_heading else None
    )
    folded_lines = folded.splitlines()

    def headerish(idx: int) -> bool:
        if protected is not None and idx == protected:
            return False
        s = lines[idx].strip()
        if s == "":
            return True
        if _o1_BULLET_LINE.match(s) or _o1_PUNCT_LINE.match(s) or _o1_QUOTE_LINE.match(s):
            return True
        if _o1_NUMERIC_LINE.match(s):
            return True
        if _o1_ANCHOR_EITHER.search(s):
            return True
        if _o1_INLINE_CHAPTER.search(s) and not _o1_ALLCAPS_CHAPTER.match(s):
            return True
        return False

    def bodyish(idx: int) -> bool:
        s = lines[idx].strip()
        if s == "":
            return False
        if _o1_ALLCAPS_CHAPTER.match(s):
            return True
        if _o1_LOWERCASE_LETTER.search(s):
            return True
        if _o1_SENTENCE_SHAPE.search(s):
            return True
        return len(_o1_WORD.findall(s)) >= 2

    ranges: list[tuple[int, int]] = []
    claimed: set[int] = set()

    for i in range(n):
        if i in claimed:
            continue
        # Same casefold prescreen, per line (memchr-speed `in` vs a
        # char-at-a-time alternation scan); casefold is char-wise so
        # folded_lines aligns 1:1 with lines.
        low = folded_lines[i]
        if "volume" not in low and "history" not in low:
            continue
        raw = lines[i]
        if not _o1_ANCHOR_EITHER.search(raw):
            continue

        lo = i
        while (
            lo - 1 >= 0
            and (lo - 1 != protected)
            and headerish(lo - 1)
            and not _o1_ALLCAPS_CHAPTER.match(lines[lo - 1].strip())
        ):
            lo -= 1
        hi = i
        while (
            hi + 1 < n
            and (hi + 1 != protected)
            and headerish(hi + 1)
            and not _o1_ALLCAPS_CHAPTER.match(lines[hi + 1].strip())
        ):
            hi += 1

        # Absorb up to three dangling punct / numeric / quote lines on
        # either side of the grown block.
        k = lo - 1
        taken = 0
        while k >= 0 and taken < 3:
            s = lines[k].strip()
            if s and (k != protected) and (
                _o1_NUMERIC_LINE.match(s) or _o1_PUNCT_LINE.match(s) or _o1_QUOTE_LINE.match(s)
            ):
                lo = k
                taken += 1
                k -= 1
                continue
            break
        k = hi + 1
        taken = 0
        while k < n and taken < 3:
            s = lines[k].strip()
            if s and (k != protected) and (
                _o1_NUMERIC_LINE.match(s) or _o1_PUNCT_LINE.match(s) or _o1_QUOTE_LINE.match(s)
            ):
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

    doomed: set[int] = set()
    samples: list[str] = []
    for lo, hi in merged:
        doomed.update(range(lo, hi + 1))
        samples.append("\n".join(lines[lo : hi + 1])[:200])

    counters["header_footer_blocks_removed"] = len(merged)
    if protected is not None:
        counters["protected_first_chapter_idx"] = protected
    if samples:
        counters["header_footer_examples"] = samples[:5]
    return "\n".join(ln for idx, ln in enumerate(lines) if idx not in doomed)


_o1_CHAPTER_LINE_MULTI = re.compile(r"(?m)^\s*CHAPTER\s+(?:[IVXLCDM]+|[A-Z0-9]+)\s*$")
_o1_VOLUME_LINE_MULTI = re.compile(r"(?m)^\s*Volume\s+\S.*$")


def _o1_reinstate_protected_lines(text: str, original_text: str) -> str:
    """If cleanup dropped the first ALL-CAPS chapter heading or the first
    ``Volume …`` line of the *original* document, put it back at the top."""
    m = _o1_CHAPTER_LINE_MULTI.search(original_text)
    if m:
        heading = m.group(0).strip()
        if not re.search(r"(?m)^\s*" + re.escape(heading) + r"\s*$", text):
            text = _reinsert_at_top(text, heading)

    m = _o1_VOLUME_LINE_MULTI.search(original_text)
    if m:
        vol = m.group(0).strip()
        if not re.search(r"(?m)^\s*" + re.escape(vol) + r"\s*$", text):
            text = _reinsert_at_top(text, vol)

    return text


_o2_MULTI_DQUOTE = re.compile(r'"{2,}')
_o2_HAS_DIGIT = re.compile(r"\d")
_o2_ORDINAL = re.compile(r"^\d{1,3}(st|nd|rd|th)$", re.IGNORECASE)
_o2_STANDALONE_NUM = re.compile(
    r'(^|[\s,;:—\-\)\(\[\]“”"\'\xa0])(\d{1,3})(?=($|[\s,;:—\-\)\(\]\[“”"\'\.,!?]))'
)
_o2_AFTER_PUNCT_NUM = re.compile(r"[,:;]\s?(\d{1,3})(?=($|[^\w]))")
_o2_GLUED_NUM = re.compile(r"(?<=[A-Za-zÀ-ÖØ-öø-ÿ]|\.)(\d{1,3})(?=($|[^\w]))")
_o2_QUOTE_THEN_QUOTE = re.compile(r'(")([^"]*?)(")\s+(")')
_o2_STOP_THEN_QUOTE = re.compile(r'([.!?])\s+(")')
_o2_QUOTE_THEN_NARRATION = re.compile(r'("([^"]*[.!?])")\s+([A-ZÀ-Ö])')
_o2_SOFT_PARA = re.compile(r"\n\s*\n")
_o2_STRAY_THEN_OPEN = re.compile(r'^\s*"\s+([“"])(.*)$')
_o2_STRAY_BEFORE_NARRATION = re.compile(r'^\s*(["“])\s+([A-ZÀ-ÖØ-Ý].*)$')
_o2_CLOSE_OPEN_PAIR = re.compile(r'(”|")(\s+)("|“)(?=[A-Za-zÀ-ÖØ-öø-ÿ“])')
_o2_SPACED_QUOTE_PAIR = re.compile(r'(”|")([\xa0 \t]+)("|“)')
_o2_SUPERSCRIPTS = re.compile(r"[¹²³⁰-⁹]")
_o2_INLINE_STOP_APOS_QUOTE = re.compile(r'([\.!\?])(?:\'|’)\s+"')
_o2_LINE_START_QUOTE_APOS = re.compile(r'^\s*" ?(?:\'|’)')
_o2_LINE_END_APOS_QUOTE = re.compile(r'(?:\'|’)\s*"$')
_o2_INLINE_QUOTE_APOS = re.compile(r'" ?(?:\'|’)')
_o2_STOP_APOS_EOL = re.compile(r"[\.!\?]\'\s*$")
_o2_STOP_APOS_EOL_SUB = re.compile(r"([\.!\?])\'\s*$")
_o2_LINE_START_QUOTE_APOS_WS = re.compile(r'^\s*" ?(?:\'|’)\s*')
_o2_SPEAKER_TURN = re.compile(r'([.!?]")\s+(")([A-Z])')
_o2_INNER_SPACE_RUN = re.compile(r"(?<=\S) {2,}(?=\S)")
_o2_MISSING_SPACE_AFTER_STOP = re.compile(r"([.!?])([A-Za-z])")


def _o2_sweep_mojibake_and_artifacts(text: str, counters: dict) -> str:
    by_noun: dict[str, int] = {}
    by_pair: dict[str, int] = {}
    by_artifact: dict[str, int] = {}
    # Byte-safe prechecks: counting an absent token yields 0 and the
    # reference logs only nonzero counts, so skipping a key family whose
    # lead char is absent is the identity.  Lead-char presence is
    # recomputed between families because earlier replacements can CREATE
    # later leads (e.g. "Ã‚" → "Â", "Ã¢" → "â").
    if "Ã" in text:
        for bad, good in PROPER_NOUN_PAIRS:
            c = text.count(bad)
            if c:
                text = text.replace(bad, good)
                by_noun[bad] = c
        for bad, good in MOJIBAKE_PAIRS:
            c = text.count(bad)
            if c:
                text = text.replace(bad, good)
                by_pair[bad] = c
    elif "Â" in text or "Å" in text:
        for bad, good in MOJIBAKE_PAIRS:
            if bad[0] == "Ã":
                continue
            c = text.count(bad)
            if c:
                text = text.replace(bad, good)
                by_pair[bad] = c
    if "â" in text or "Â" in text:
        for token in ARTIFACT_TOKENS:
            c = text.count(token)
            if c:
                text = text.replace(token, "")
                by_artifact[token] = c
    shapes = 0
    if not text.isascii():
        for shape, straight in QUOTE_SHAPES:
            c = text.count(shape)
            if c:
                text = text.replace(shape, straight)
                shapes += c
    if '""' in text:  # pattern requires two adjacent double quotes
        text, collapsed = _o2_MULTI_DQUOTE.subn('"', text)
    else:
        collapsed = 0
    counters["french_fixes"] = {"specific": by_noun, "mojibake": by_pair}
    counters["artifacts_removed"] = by_artifact
    counters["quotes_normalized"] = {
        "variants_to_double": shapes,
        "double_quotes_collapsed": collapsed,
    }
    return text


def _o2_reflow_soft_breaks(text: str, counters: dict) -> str:
    text = text.replace("\r\n", "\n")
    text = _collapse_blank_runs(text)
    text = text.replace("\n\n", _PARA_SENTINEL)
    text = _dehyphenate_wraps(text)
    text = text.replace("\xad\n", "")
    singles = text.count("\n")
    text = text.replace("\n", " ")
    text = text.replace(_PARA_SENTINEL, "\n\n")
    text = _collapse_space_runs(text)
    text = _SPACE_BEFORE_PUNCT.sub(r"\1", text)
    text = _o2_MISSING_SPACE_AFTER_STOP.sub(r"\1 \2", text)
    counters["reflow"] = {"single_newlines_joined": singles}
    return text


def _o2_break_dialogue_paragraphs(text: str, counters: dict) -> str:
    text = text.replace("\r\n", "\n")
    text = _collapse_blank_runs(text)
    text = text.replace("\n\n", _PBRK_SENTINEL)
    if '"' in text:  # all three patterns require a double quote
        text, n_pairs = _o2_QUOTE_THEN_QUOTE.subn(r'\1\2"\n\n"', text)
        text, n_stop = _o2_STOP_THEN_QUOTE.subn(r"\1\n\n\2", text)
        text, n_narr = _o2_QUOTE_THEN_NARRATION.subn(r"\1\n\n\3", text)
    else:
        n_pairs = n_stop = n_narr = 0
    text = text.replace(_PBRK_SENTINEL, "\n\n")
    text = _collapse_blank_runs(text)
    counters["dialogue_paragraphing"] = {
        "between_quotes": n_pairs,
        "before_leading_quote": n_stop,
        "after_quote_to_narration": n_narr,
    }
    return text


def _o2_merge_residual_newlines(text: str, counters: dict) -> str:
    text = text.replace("\r\n", "\n")
    text = _collapse_blank_runs(text)
    text = _o2_SOFT_PARA.sub(_PBRK_SENTINEL, text)
    singles = text.count("\n")
    text = text.replace("\n", " ")
    text = text.replace(_PBRK_SENTINEL, "\n\n")
    text = _collapse_space_runs(text)
    text = _SPACE_BEFORE_PUNCT.sub(r"\1", text)
    text = _o2_MISSING_SPACE_AFTER_STOP.sub(r"\1 \2", text)
    counters["single_newlines_merge"] = {"singles_removed": singles}
    return text


def _o2_close_prev_and_drop_stray_quote(text: str, counters: dict) -> str:
    lines = text.splitlines()
    fixed = 0

    def prev_nonempty(i: int) -> int:
        p = i - 1
        while p >= 0 and lines[p].strip() == "":
            p -= 1
        return p

    for i in range(len(lines)):
        m = _o2_STRAY_THEN_OPEN.match(lines[i])
        if not m:
            continue
        p = prev_nonempty(i)
        if p >= 0:
            closing = "”" if lines[p].lstrip().startswith("“") else '"'
            if not lines[p].rstrip().endswith(("”", '"')):
                lines[p] = lines[p].rstrip() + closing
            lines[i] = m.group(1) + m.group(2)
            fixed += 1
    if fixed:
        counters["leading_quote_space_fixed"] = fixed
    return "\n".join(lines)


def _o2_hoist_stray_quote_to_prev_line(text: str, counters: dict) -> str:
    lines = text.splitlines()
    moved = 0

    def prev_nonempty(i: int) -> int:
        p = i - 1
        while p >= 0 and lines[p].strip() == "":
            p -= 1
        return p

    for i in range(len(lines)):
        m = _o2_STRAY_BEFORE_NARRATION.match(lines[i])
        if not m:
            continue
        p = prev_nonempty(i)
        if p >= 0:
            closing = "”" if lines[p].lstrip().startswith("“") else '"'
            if not lines[p].rstrip().endswith(("”", '"')):
                lines[p] = lines[p].rstrip() + closing
            lines[i] = m.group(2)
            moved += 1
    counters["leading_stray_quote_before_narrative_moved"] = moved
    return "\n".join(lines)


def _o2_split_adjacent_quote_pairs(text: str, counters: dict) -> str:
    hits = 0

    def para_break(m: re.Match) -> str:
        nonlocal hits
        hits += 1
        return f"{m.group(1)}\n\n{m.group(3)}"

    text = _o2_CLOSE_OPEN_PAIR.sub(para_break, text)
    counters["adjacent_quotes_split"] = hits
    return text


def _o2_collapse_spaced_quote_pairs(text: str, counters: dict) -> str:
    text, n = _o2_SPACED_QUOTE_PAIR.subn(lambda m: m.group(3), text)
    if n:
        counters["double_quotes_with_space_collapsed"] = n
    else:
        counters.setdefault("double_quotes_with_space_collapsed", 0)
    return text


def _o2_drop_superscripts(text: str, counters: dict) -> str:
    text, n = _o2_SUPERSCRIPTS.subn("", text)
    counters["superscripts_removed"] = n
    return text


def _o2_money_next_re(money_terms: frozenset[str]) -> re.Pattern:
    # One escape/sort/join + compile per distinct money-term SET, not one
    # per document: the alternation build over the terms is the real
    # per-call cost (re.compile itself caches Patterns), so key the cache
    # on the set and do the whole build inside it.
    money_alt = "|".join(
        sorted(map(re.escape, money_terms), key=len, reverse=True)
    )
    return re.compile(rf"^\s*(?:{money_alt})\b", re.IGNORECASE)


def _o2_strip_footnote_digits(
    text: str, counters: dict, money_terms: frozenset[str] | set[str] = DEFAULT_MONEY_TERMS
) -> str:
    samples: dict[str, list[str]] = {"standalone": [], "after_punct": [], "glued_to_word": []}
    tallies = {"standalone": 0, "after_punct": 0, "glued_to_word": 0}

    money_next = _o2_money_next_re(
        money_terms
        if isinstance(money_terms, frozenset)
        else frozenset(money_terms)
    )

    lines = text.splitlines()
    for idx, line in enumerate(lines):
        # Fast path (byte-safe): every pattern below requires a digit.
        if not _o2_HAS_DIGIT.search(line):
            continue

        def on_standalone(m: re.Match) -> str:
            num = m.group(2)
            trail = m.group(3) or ""
            if _o2_ORDINAL.match(num):
                return m.group(1) + num + trail
            if money_next.search(line[m.end():]):
                return m.group(1) + num + trail
            tallies["standalone"] += 1
            if len(samples["standalone"]) < 10:
                samples["standalone"].append(
                    line[max(0, m.start() - 40) : m.end() + 40].replace("\n", "⏎")
                )
            return m.group(1) + trail

        line = _o2_STANDALONE_NUM.sub(on_standalone, line)

        def on_after_punct(m: re.Match) -> str:
            num = m.group(1)
            if money_next.search(line[m.end():]):
                return m.group(0)
            tallies["after_punct"] += 1
            if len(samples["after_punct"]) < 10:
                samples["after_punct"].append(
                    line[max(0, m.start() - 40) : m.end() + 40].replace("\n", "⏎")
                )
            return m.group(0).replace(num, "")

        line = _o2_AFTER_PUNCT_NUM.sub(on_after_punct, line)

        def on_glued(m: re.Match) -> str:
            num = m.group(1)
            tallies["glued_to_word"] += 1
            if len(samples["glued_to_word"]) < 10:
                samples["glued_to_word"].append(
                    line[max(0, m.start() - 40) : m.end() + 40].replace("\n", "⏎")
                )
            return m.group(0).replace(num, "")

        line = _o2_GLUED_NUM.sub(on_glued, line)
        lines[idx] = line

    counters["footnote_numbers_removed"] = tallies
    for key, vals in samples.items():
        if vals:
            counters[f"footnote_examples_{key}"] = vals
    return "\n".join(lines)


def _o2_mend_quote_apostrophe_artifacts(text: str, counters: dict) -> str:
    lines = text.splitlines()
    moved_up = moved_down = collapsed = inline = 0

    for i, s in enumerate(lines):
        if "'" not in s and "’" not in s:  # pattern requires an apostrophe
            continue
        new_s, n = _o2_INLINE_STOP_APOS_QUOTE.subn(r'\1"\n\n"', s)
        if n:
            lines[i] = new_s
            inline += n

    def balanced(s: str) -> bool:
        return (s.count('"') % 2) == 0

    for i, s in enumerate(lines):
        if '"' not in s:  # pattern requires a double quote
            continue
        if not _o2_LINE_START_QUOTE_APOS.match(s):
            continue
        j = i - 1
        while j >= 0 and lines[j].strip() == "":
            j -= 1
        if j is not None and j >= 0:
            prev = lines[j]
            if prev.lstrip().startswith('"') and not balanced(prev):
                if _o2_STOP_APOS_EOL.search(prev):
                    lines[j] = _o2_STOP_APOS_EOL_SUB.sub(r'\1"', prev)
                else:
                    lines[j] = prev.rstrip() + '"'
                lines[i] = _o2_LINE_START_QUOTE_APOS_WS.sub("", lines[i], count=1)
                moved_up += 1
                continue
        lines[i] = _o2_LINE_START_QUOTE_APOS.sub('"', lines[i], count=1)
        collapsed += 1

    for i, s in enumerate(lines):
        if '"' not in s:  # pattern requires a double quote
            continue
        if not _o2_LINE_END_APOS_QUOTE.search(s.strip()):
            continue
        j = i + 1
        while j < len(lines) and lines[j].strip() == "":
            j += 1
        if j < len(lines) and not lines[j].lstrip().startswith('"'):
            lines[i] = _o2_LINE_END_APOS_QUOTE.sub('"', s.strip())
            lines[j] = '"' + lines[j].lstrip()
            moved_down += 1

    for i, s in enumerate(lines):
        if '"' not in s:  # pattern requires a double quote
            continue
        new_s, n = _o2_INLINE_QUOTE_APOS.subn('"', s)
        if n:
            lines[i] = new_s
            collapsed += n

    counters["quote_artifacts_inline_moves"] = inline
    counters["quote_artifacts_moved_up"] = moved_up
    counters["quote_artifacts_moved_down"] = moved_down
    counters["quote_artifacts_collapsed"] = collapsed
    return "\n".join(lines)


def _o2_split_speaker_turns(text: str, counters: dict) -> str:
    hits = 0

    def para_break(m: re.Match) -> str:
        nonlocal hits
        hits += 1
        return m.group(1) + "\n\n" + m.group(2) + m.group(3)

    text = _o2_SPEAKER_TURN.sub(para_break, text)
    counters.setdefault("dialogue_splits_new_speaker", 0)
    counters["dialogue_splits_new_speaker"] += hits
    return text


def _o2_tidy_intraline_spaces(text: str, counters: dict) -> str:
    total = 0
    out = []
    for line in text.splitlines():
        if "\t" in line:
            line = line.replace("\t", " ")
        if "  " in line:  # pattern requires a 2-space run
            line, n = _o2_INNER_SPACE_RUN.subn(" ", line)
            total += n
        out.append(line)
    counters["intraline_space_runs_normalized"] = total
    return "\n".join(out)


_o3_CHAPTER_HEADING = re.compile(rf"(?m)^(CHAPTER)\s+({ROMAN})\b")
_o3_INLINE_CHAPTER = re.compile(r"(?m)(?<!^)(?<!\n)(CHAPTER\s+(?:[IVXLCDM]+)\b)")
_o3_CHAPTER_LINE_TAIL = re.compile(r"(?m)^(CHAPTER\s+[IVXLCDM]+)\b[ \t]*(.*)$")


def _o3_promote_inline_chapter_markers(text: str, counters: dict) -> str:
    if "CHAPTER" not in text:  # both patterns require the literal marker
        counters["inline_chapter_promoted"] = 0
        counters["newline_after_roman_normalized"] = 0
        return text
    text, promoted = _o3_INLINE_CHAPTER.subn(r"\n\n\1", text)

    def two_newlines_after(m: re.Match) -> str:
        head = m.group(1)
        rest = m.group(2).rstrip()
        return f"{head}\n\n{rest}" if rest else f"{head}\n\n"

    text, normalized = _o3_CHAPTER_LINE_TAIL.subn(two_newlines_after, text)
    counters["inline_chapter_promoted"] = promoted
    counters["newline_after_roman_normalized"] = normalized
    return text


def _o3_insert_pagebreak_before_chapters(text: str, counters: dict) -> str:
    pieces: list[str] = []
    cursor = 0
    breaks = 0
    for m in _o3_CHAPTER_HEADING.finditer(text):
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


def _o3_chapter_spans(text: str) -> list[tuple[int, int, re.Match]]:
    """(start, end, heading-match) for each region between chapter headings."""
    heads = list(_o3_CHAPTER_HEADING.finditer(text))
    spans = []
    for i, m in enumerate(heads):
        end = heads[i + 1].start() if i + 1 < len(heads) else len(text)
        spans.append((m.start(), end, m))
    return spans


def _o3_insert_hr_before_chapter_openers(text: str, counters: dict) -> str:
    spans = _o3_chapter_spans(text)
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


_o2_LONE_QUOTE_FORMS = {'"', '""', "“", "”"}


def _o2_resolve_lone_quote_lines(text: str, counters: dict) -> str:
    lines = text.splitlines()
    removed = appended = 0
    i = 1
    while i < len(lines) - 1:
        if (
            lines[i].strip() == '"'
            and lines[i - 1].strip() == ""
            and lines[i + 1].strip() == ""
        ):
            j = i - 2
            while j >= 0 and lines[j].strip() == "":
                j -= 1
            if j >= 0:
                if lines[j].rstrip().endswith('"'):
                    del lines[i]
                    removed += 1
                    continue
                lines[j] = lines[j] + '"'
                del lines[i]
                appended += 1
                continue
            del lines[i]
            removed += 1
            continue
        i += 1
    text = "\n".join(lines)
    text = _collapse_blank_runs(text)
    counters["lone_quote_lines"] = {"removed": removed, "appended_to_above": appended}
    return text


def _o2_drop_quote_islands(text: str, counters: dict) -> str:
    lines = text.splitlines()
    out: list[str] = []
    i = 0
    removed = 0
    while i < len(lines):
        if (
            i + 2 < len(lines)
            and lines[i].strip() == ""
            and lines[i + 1].strip() in _o2_LONE_QUOTE_FORMS
            and lines[i + 2].strip() == ""
        ):
            if not out or out[-1].strip() != "":
                out.append("")
            removed += 1
            i += 3
            while i < len(lines) and lines[i].strip() == "":
                i += 1
            continue
        out.append(lines[i])
        i += 1
    counters["quote_island_blocks_removed"] = removed
    return "\n".join(out)


def _o2_bare_mojibake_prepass(text: str, counters: dict) -> str:
    text = text.replace("\u00e2\u0080\u00a2", "")
    return text.replace("\u00e2\u0080", '"')


def _o2_collapse_midsentence_breaks(text: str, counters: dict) -> str:
    text, n = _fmt._MID_SENTENCE_BREAK.subn(r"\1 \2", text)
    counters["mid_sentence_breaks_collapsed"] = n
    return text


def _with_money(fn):
    return lambda text, counters: fn(text, counters, DEFAULT_MONEY_TERMS)


# (new pass, original body) for every pass this change gated or rewrote.
_REWRITTEN = {
    "strip_running_heads": (_cln.strip_running_heads, _o1_strip_running_heads),
    "strip_running_heads_v10": (
        lambda t, c: _cln.strip_running_heads(t, c, False),
        lambda t, c: _o1_strip_running_heads(t, c, False),
    ),
    "bare_mojibake_prepass": (_fmt.bare_mojibake_prepass, _o2_bare_mojibake_prepass),
    "sweep_mojibake_and_artifacts": (
        _fmt.sweep_mojibake_and_artifacts,
        _o2_sweep_mojibake_and_artifacts,
    ),
    "reflow_soft_breaks": (_fmt.reflow_soft_breaks, _o2_reflow_soft_breaks),
    "break_dialogue_paragraphs": (
        _fmt.break_dialogue_paragraphs,
        _o2_break_dialogue_paragraphs,
    ),
    "merge_residual_newlines": (
        _fmt.merge_residual_newlines,
        _o2_merge_residual_newlines,
    ),
    "collapse_midsentence_breaks": (
        _fmt.collapse_midsentence_breaks,
        _o2_collapse_midsentence_breaks,
    ),
    "resolve_lone_quote_lines": (
        _fmt.resolve_lone_quote_lines,
        _o2_resolve_lone_quote_lines,
    ),
    "drop_quote_islands": (_fmt.drop_quote_islands, _o2_drop_quote_islands),
    "close_prev_and_drop_stray_quote": (
        _fmt.close_prev_and_drop_stray_quote,
        _o2_close_prev_and_drop_stray_quote,
    ),
    "hoist_stray_quote_to_prev_line": (
        _fmt.hoist_stray_quote_to_prev_line,
        _o2_hoist_stray_quote_to_prev_line,
    ),
    "split_adjacent_quote_pairs": (
        _fmt.split_adjacent_quote_pairs,
        _o2_split_adjacent_quote_pairs,
    ),
    "collapse_spaced_quote_pairs": (
        _fmt.collapse_spaced_quote_pairs,
        _o2_collapse_spaced_quote_pairs,
    ),
    "drop_superscripts": (_fmt.drop_superscripts, _o2_drop_superscripts),
    "strip_footnote_digits": (
        _with_money(_fmt.strip_footnote_digits),
        _with_money(_o2_strip_footnote_digits),
    ),
    "mend_quote_apostrophe_artifacts": (
        _fmt.mend_quote_apostrophe_artifacts,
        _o2_mend_quote_apostrophe_artifacts,
    ),
    "split_speaker_turns": (_fmt.split_speaker_turns, _o2_split_speaker_turns),
    "tidy_intraline_spaces": (_fmt.tidy_intraline_spaces, _o2_tidy_intraline_spaces),
    "promote_inline_chapter_markers": (
        _stc.promote_inline_chapter_markers,
        _o3_promote_inline_chapter_markers,
    ),
    "insert_pagebreak_before_chapters": (
        _stc.insert_pagebreak_before_chapters,
        _o3_insert_pagebreak_before_chapters,
    ),
    "insert_hr_before_chapter_openers": (
        _stc.insert_hr_before_chapter_openers,
        _o3_insert_hr_before_chapter_openers,
    ),
}

# Dense in what the gates and rewrites branch on: quote and apostrophe
# shapes, digit runs (ASCII, non-ASCII decimal, superscript), mojibake keys
# and lead chars, every line-break kind, whitespace kinds, money terms,
# stops, anchor / chapter words (with sre's ı İ ſ case twins) and the
# passes' own sentinel strings.
_GATE_ATOMS = st.sampled_from(
    [
        '"', "'", "’", "“", "”", "«", "»", '" ', ' "',
        '."', '!"', '?"', ".'", "!'", "?’", "' \"", '" \'', "\"'", "''",
        '""', '"""', '"  "', '"\xa0"', '"\t“', "” “", '"A',
        '" He', "“ The",
        "0", "1", "7", "12", "345", "1760", "2nd", "٣", "７", "²",
        "¹", "⁴", ", 3", ":4", "; 56", "word9", ".8", "(1)",
        "Ã©", "Ã‚", "Ã‰", "Ã", "Â«",
        "Â»", "Â", "Å“", "â€¢",
        "â€", "â\u0080", "â\u0080¢",
        "d'UrfÃ©", "ChambÃ©ry", "SociÃ©tÃ©",
        "\r", "\r\n", "\x0b", "\x0c", "\x1c", "\x1e", "\x85", "\u2028", "\u2029",
        "\n", "\n\n", "\n\n\n", " \n ", "\n \n", "\n\n \n\n",
        " ", "  ", "   ", "\t", "\xa0", "\u3000", "\xad\n", "-\n",
        " ducats", " louis d’or", " Crowns", " livres.", " sou",
        "word", "Word", "a", "é", "The", "He", "I", "A", ".", ",", ";", ":",
        "!", "?", "—", "...",
        "CHAPTER", "CHAPTER IV", "CHAPTER\nII", "chapter ix", "Chapter V.",
        "Volume", "Volume 2", "VOLUME 3", "volume", "History of My Life",
        "hıstory of my life", "HİSTORY", "hiſtory of my life", "THE END",
        "MY ARRIVAL", "<<<PBRK>>>", "<<<P>>>", "\f", "•", "·",
    ]
)


@st.composite
def gate_texts(draw):
    n = draw(st.integers(min_value=0, max_value=50))
    text = "".join(draw(_GATE_ATOMS) for _ in range(n))
    return text + draw(st.sampled_from(["", "\n", "\n\n"]))


@st.composite
def short_gate_texts(draw):
    """A few atoms: the corner a gate must see is rarely alone in a long
    text, so short ones reach each gate's edge far more often."""
    n = draw(st.integers(min_value=1, max_value=6))
    return "".join(draw(_GATE_ATOMS) for _ in range(n))


# Known edges of the gates and rewrites, each alone in its text.
_GATE_EDGES = [
    "a<<<PBRK>>>b",  # the merge sentinel, in the input itself
    "a<<<P>>>b",
    "a\n\n \n\nb",  # two "\n\n" in one whitespace run
    "a\n\n\nb",
    "a\n \nb",
    "a\nb",
    "a\r\nb",
    "x,\n12/",  # a punctuation char and digits on different lines
    "x,\t12/",
    "x; 3 crowns",
    ", 3 ducats",
    "word12 more",
    "(1) x",
    "x ٣ y",
    "a.7 b",
    "He paid66.",
    "12\n",
    "  x",  # space runs at a text or line edge
    "  x y",
    "x  y",
    "x  ",
    "a\n  b",
    'x "  "“y',
    '” "“x',
    '"\t“',
    '" "  "',
    '." "Next',
    '.\t"Next',
    "He said.' \"Go\"",
    "\"'x",
    "\" 'x",
    "x'  \"",
    "x\n\" 'Go",
    'a\n\n"\n\nb',  # a lone quote line, a quote island
    'a\n\n ""\t\n\nb',
    '\n"\n',
    'x"\n\n"\n\n"\n\ny',
    '\r"\n\n',  # joined form drops the last, empty line
    'x\n" "y\n\n',
    "hiſtory of my life\n\nBody text here follows.",
    "hıstory of my life\nVOL I\n\nBody text here follows.",
    "Hİstory of my life\n12\n\nBody text here follows.",
    "x\u2028Volume 2\u2028\u2028Body text here.",
    "CHAPTER IV\n",
    "x CHAPTER IV",
    "\nCHAPTER IV text",
    "CHAPTER\nII",
    "Volume 2\nCHAPTER I\n\nBody text.",
    "  Volume   3  \nmore",
    "ÂÂ«",
    "Ã‚«",
    "âÂ¤€¢",
    "\u00e2\u0080\u00a2x\u00e2\u0080y",
]


def _assert_same_pass(name: str, text: str) -> None:
    new, orig = _REWRITTEN[name]
    got_c: dict = {}
    exp_c: dict = {}
    got = new(text, got_c)
    exp = orig(text, exp_c)
    assert got == exp, name
    assert repr(got_c) == repr(exp_c), name  # same keys, values and order


@pytest.mark.parametrize("name", sorted(_REWRITTEN))
@settings(max_examples=150, deadline=None, derandomize=True)
@given(text=gate_texts())
def test_rewritten_pass_matches_original(name: str, text: str) -> None:
    _assert_same_pass(name, text)


@pytest.mark.parametrize("name", sorted(_REWRITTEN))
@settings(max_examples=200, deadline=None, derandomize=True)
@given(text=short_gate_texts())
def test_rewritten_pass_matches_original_short(name: str, text: str) -> None:
    _assert_same_pass(name, text)


@pytest.mark.parametrize("name", sorted(_REWRITTEN))
@pytest.mark.parametrize("text", _GATE_EDGES)
def test_rewritten_pass_matches_original_at_edges(name: str, text: str) -> None:
    _assert_same_pass(name, text)


@pytest.mark.parametrize("name", sorted(_REWRITTEN))
@settings(max_examples=60, deadline=None, derandomize=True)
@given(text=st.text(max_size=200))
def test_rewritten_pass_matches_original_arbitrary_unicode(name: str, text: str) -> None:
    _assert_same_pass(name, text)


@settings(max_examples=150, deadline=None, derandomize=True)
@given(text=gate_texts(), original=gate_texts())
def test_reinstate_protected_lines_matches_original(text: str, original: str) -> None:
    for orig_text in (original, text + original, original + text):
        assert _cln.reinstate_protected_lines(
            text, orig_text
        ) == _o1_reinstate_protected_lines(text, orig_text)


@settings(max_examples=100, deadline=None, derandomize=True)
@given(text=gate_texts())
def test_footnote_money_terms_set_matches_original(text: str) -> None:
    """A caller-supplied money-term set (mutable set, odd terms) takes the
    same path through the cached money pattern as the default."""
    terms = {"crowns", "louis d’or", "sou", "pieces of eight"}
    got_c: dict = {}
    exp_c: dict = {}
    got = _fmt.strip_footnote_digits(text, got_c, terms)
    assert got == _o2_strip_footnote_digits(text, exp_c, terms)
    assert repr(got_c) == repr(exp_c)
