"""Stage 2 — formatting, reflow and dialogue normalization.

Byte-parity reimplementation of the reference pipeline's second stage
(`/root/reference/text-processing/Step2_formatting_v14.py`).  Twenty ordered
passes; the order is load-bearing (e.g. the bare ``â`` → ``"`` pre-pass feeds
the dialogue-quote rules).  Every function is pure ``(str, counters) -> str``.
Counter keys mirror the reference JSON logs for metric parity.
"""

from __future__ import annotations

import functools
import re
import string

from .cleanup import LINE_BREAKS

# --------------------------------------------------------------------------
# Replacement tables (reference Step2_formatting_v14.py:327-344).
# Held as ordered pair tuples because ordering matters: e.g. "Ã‚"→"Â" runs
# before the bare "Â"→"" delete, so a fixed "Ã‚" is subsequently removed.
# --------------------------------------------------------------------------

MOJIBAKE_PAIRS: tuple[tuple[str, str], ...] = (
    # lowercase
    ("Ã ", "à"), ("Ã¢", "â"), ("Ã¤", "ä"), ("Ã¦", "æ"), ("Ã§", "ç"),
    ("Ã©", "é"), ("Ã¨", "è"), ("Ãª", "ê"), ("Ã«", "ë"),
    ("Ã¯", "ï"), ("Ã®", "î"), ("Ã´", "ô"), ("Ã¶", "ö"),
    ("Ã¹", "ù"), ("Ãº", "ú"), ("Ã»", "û"), ("Ã¼", "ü"), ("Å“", "œ"),
    # uppercase
    ("Ã€", "À"), ("Ã‚", "Â"), ("Ã„", "Ä"), ("Ã†", "Æ"), ("Ã‡", "Ç"),
    ("Ã‰", "É"), ("Ãˆ", "È"), ("ÃŠ", "Ê"), ("Ã‹", "Ë"),
    # NB: "Ã" + U+FFFD appears twice in the reference dict literal (values
    # "Í" then "Ï"); dict semantics keep first position / last value, so the
    # effective pair is a single "Ã�" → "Ï" at this slot.
    ("Ã�", "Ï"), ("ÃŽ", "Î"),
    ("Ã”", "Ô"), ("Ã–", "Ö"), ("Ã™", "Ù"), ("Ãš", "Ú"), ("Ã›", "Û"),
    ("Ãœ", "Ü"), ("Å’", "Œ"),
    # common stray
    ("Â«", "«"), ("Â»", "»"), ("Â·", "·"), ("Â°", "°"), ("Â", ""),
)

PROPER_NOUN_PAIRS: tuple[tuple[str, str], ...] = (
    ("d'UrfÃ©", "d'Urfé"), ("UrfÃ©", "Urfé"),
    ("SociÃ©tÃ©", "Société"), ("ASSOCIÃ‰S", "ASSOCIÉS"),
    ("ChambÃ©ry", "Chambéry"),
)

ARTIFACT_TOKENS: tuple[str, ...] = (
    "â€¢", "â€", "Â¤", "Â¸", "Â·", "Â«", "Â»", "Â",
)

QUOTE_SHAPES: tuple[tuple[str, str], ...] = (
    ("“", '"'), ("”", '"'), ("„", '"'), ("‟", '"'), ("〝", '"'), ("〞", '"'),
    ("«", '"'), ("»", '"'), ("‹", '"'), ("›", '"'), ("＂", '"'), ("❝", '"'),
    ("❞", '"'),
)

DEFAULT_MONEY_TERMS: frozenset[str] = frozenset({
    "ducat", "ducats", "louis", "louis-dor", "louis d’or", "zecchini",
    "zecchino", "zecchins", "pistole", "pistoles", "crown", "crowns",
    "guinea", "guineas", "florin", "florins", "livre", "livres", "franc",
    "francs", "dollar", "dollars", "pound", "pounds", "sequins", "sequin",
    "escudo", "escudos", "peso", "pesos", "real", "reals", "reales",
    "maravedi", "maravedis", "écu", "écus", "taler", "talers", "thaler",
    "thalers", "sou", "sous",
})


# --------------------------------------------------------------------------
# Literal-anchored fast paths.  Python's re scans character-by-character; the
# hot full-text patterns below are all anchored on a rare literal substring
# ("\n\n\n", "-\n", "  ", punctuation), so a str.find loop (memchr-speed)
# plus slice rebuilding is 5-15x faster at byte-identical output.  Each
# helper documents the exact pattern it replaces; equivalence is pinned by
# tests/test_parity.py goldens, the reference-CLI differential fuzz suite,
# and test_fastpath_differential in tests/test_fuzz_parity.py (random +
# corpus inputs compared against the original regex form).
#
# Cost model behind the rewrites (CPython 3.11 re; per-char figures from a
# 4-core Xeon VM): a pattern whose first item is a literal is searched at
# memchr speed and only tried where that literal occurs; a pattern that
# starts with a group, an alternation, a lookbehind or a character class is
# tried at EVERY position, ~10 ns/char for an ASCII class and more for \s,
# \d or a non-ASCII class; a lazy
# ``[^"]*?`` costs a step per char, and a greedy class that has to give
# characters back costs one per char again.  So the hot patterns are
# reshaped, never re-specified: a leading class of N literals becomes N
# literal-led patterns applied in turn (only where their matches cannot
# touch each other — each such split says why), a lazy or backtracking
# class that cannot cross its delimiter becomes possessive (``*+``, same
# matches), and per-line ``^``/``$`` patterns run once over the whole text
# in (?m) mode with ``\s`` kept off "\n" (exact once the text is in
# "\n".join(splitlines()) form, see _join_lines).
#
# Gates.  A pass that almost never changes its input starts with an exact
# no-op check: when the check fails, the pass provably returns its input
# (in "\n".join(splitlines()) form if it splits lines) and the skipped body
# writes the same counters it would have written.  Rules for a gate:
#   * it tests a NECESSARY condition of every rewrite the pass can make
#     (false positives just run the full pass; a false negative is a bug);
#   * it uses `in` / str.find / str.count, or a regex that starts with a
#     literal — never `(?m)^\s*...`, an alternation, or a non-ASCII class
#     such as ['’] or a class of line separators: those scan every char and
#     cost about as much as the pass they were meant to skip (a whole-text
#     (?m)^\s*"\s+[“"] probe costs as much as the whole
#     close_prev_and_drop_stray_quote pass it would gate);
#   * single-char `in` is the cheapest probe (memchr); a 2-char needle is
#     already ~1.5 ns/char, so gates prefer a rare single char first.
# Every gated or rewritten pass is pinned against its original body by a
# hypothesis differential in tests/test_fuzz_parity.py.
# --------------------------------------------------------------------------

def _join_lines(text: str) -> str:
    """== "\\n".join(text.splitlines()).  Text with no boundary but "\\n"
    and no trailing "\\n" is already in that form (one memchr per
    boundary char instead of a split and a join)."""
    if text.endswith("\n"):
        return "\n".join(text.splitlines())
    for sep in LINE_BREAKS:
        if sep in text:
            return "\n".join(text.splitlines())
    return text


_ASCII_LETTERS = frozenset(string.ascii_letters)
_WS_PROBE = re.compile(r"\s")
# re's unicode \s class is a fixed, small set of codepoints (29 chars, all
# in the BMP: \t-\r, \x1c-\x1f, space, NEL, NBSP, plus category Zs and the
# two Z[lp] separators — an all-of-Unicode sweep confirms nothing above
# U+3000 matches).  Precompute it once (~20 ms) instead of memoizing per
# input char: an unbounded lru_cache keyed on corpus characters grows with
# every distinct codepoint a long-lived executor ever sees.
_WS_CHARS = frozenset(
    chr(cp) for cp in range(0x10000) if _WS_PROBE.match(chr(cp))
)


def _is_ws(ch: str) -> bool:
    """Exactly re's ``\\s`` membership for one char (unicode semantics)."""
    return ch in _WS_CHARS


def _collapse_blank_runs(text: str) -> str:
    """== _BLANK_RUN.sub("\\n\\n", text)  (r"\\n{3,}" -> two newlines)."""
    i = text.find("\n\n\n")
    if i == -1:
        return text
    out = []
    pos = 0
    n = len(text)
    while i != -1:
        j = i + 3
        while j < n and text[j] == "\n":
            j += 1
        out.append(text[pos:i])
        out.append("\n\n")
        pos = j
        i = text.find("\n\n\n", pos)
    out.append(text[pos:])
    return "".join(out)


def _dehyphenate_wraps(text: str) -> str:
    """== _HYPHEN_WRAP.sub(_join_hyphen_wrap, text): ASCII letter, "-",
    newline, ASCII letter; the newline always goes, the hyphen only when the
    tail letter is lowercase.  Non-overlapping left-to-right consumption is
    replicated with the ``pos`` cursor (a consumed tail letter cannot serve
    as the next match's head — "a-\\nb-\\nc" -> "ab-\\nc")."""
    i = text.find("-\n")
    if i == -1:
        return text
    out = []
    pos = 0
    n = len(text)
    while i != -1:
        h = i - 1
        if (
            h >= pos
            and text[h] in _ASCII_LETTERS
            and i + 2 < n
            and text[i + 2] in _ASCII_LETTERS
        ):
            tail = text[i + 2]
            out.append(text[pos:i])
            if tail.islower():
                out.append(tail)
            else:
                out.append("-")
                out.append(tail)
            pos = i + 3
            i = text.find("-\n", pos)
        else:
            i = text.find("-\n", i + 1)
    out.append(text[pos:])
    return "".join(out)


def _collapse_space_runs(text: str) -> str:
    """== _SPACE_RUN.sub(" ", text)  (r"[ \\t]{2,}" -> one space).  Tabs are
    rare by this point; any tab routes to the regex so mixed runs keep the
    exact class semantics."""
    if "\t" in text:
        return _SPACE_RUN.sub(" ", text)
    i = text.find("  ")
    if i == -1:
        return text
    out = []
    pos = 0
    n = len(text)
    while i != -1:
        j = i + 2
        while j < n and text[j] == " ":
            j += 1
        out.append(text[pos:i])
        out.append(" ")
        pos = j
        i = text.find("  ", pos)
    out.append(text[pos:])
    return "".join(out)


# One literal-led probe per punctuation char: the literal is found at
# memchr speed and the lookbehind checks the char before it, so only
# punctuation preceded by whitespace ever becomes a match object.
_WS_THEN_PUNCT = tuple(
    re.compile(re.escape(p) + r"(?<=\s" + re.escape(p) + ")")
    for p in (",", ".", ";", ":", "?", "!")
)


def _ws_before_punct(text: str) -> list[int]:
    """Positions of every [,.;:?!] char whose left neighbour is \\s."""
    return [m.start() for probe in _WS_THEN_PUNCT for m in probe.finditer(text)]


def _strip_space_before_punct(text: str) -> str:
    """== _SPACE_BEFORE_PUNCT.sub(r"\\1", text)  (r"\\s+([,.;:?!])" -> the
    punctuation char).  Whitespace runs never contain punctuation, so match
    spans are disjoint and original-text candidates are exact."""
    hits = _ws_before_punct(text)
    if not hits:
        return text
    hits.sort()
    out = []
    pos = 0
    for i in hits:
        q = i - 1
        while q > 0 and _is_ws(text[q - 1]):
            q -= 1
        out.append(text[pos:q])
        out.append(text[i])
        pos = i + 1
    out.append(text[pos:])
    return "".join(out)


_MID_G1_EXCLUDED = frozenset('.!?;:)"\n')
_MID_G2_LOWER = frozenset(
    "abcdefghijklmnopqrstuvwxyz"
    + "".join(chr(c) for c in range(0xE0, 0xF7))   # à-ö
    + "".join(chr(c) for c in range(0xF8, 0x100))  # ø-ÿ
)


def _collapse_midsentence(text: str) -> tuple[str, int]:
    """== _MID_SENTENCE_BREAK.subn(r"\\1 \\2", text) for
    r'([^\\.!\\?;:)"\\n])\\s*\\n\\n\\s*([a-zà-öø-ÿ])'.  A match is a maximal
    whitespace run containing an adjacent newline pair, where group 1 is the
    leftmost unconsumed candidate — the char before the run if it is not in
    the excluded class, else the leftmost non-newline whitespace char inside
    the run that still has an adjacent pair after it — and group 2 is the
    first non-whitespace char after the run (must be lowercase latin).
    Replacement is g1 + " " + g2; scanning resumes after g2 (the consumed
    g2 cannot head the next match).  Every branch is pinned against the
    regex by the differential test."""
    k = text.find("\n\n")
    if k == -1:
        return text, 0
    out = []
    pos = 0       # emitted-through cursor
    resume = 0    # regex scan-resume floor for group-1 candidates
    n = len(text)
    count = 0
    while k != -1:
        # maximal whitespace run [a, b) around this adjacent pair
        a = k
        while a > 0 and _is_ws(text[a - 1]):
            a -= 1
        b = k + 2
        while b < n and _is_ws(text[b]):
            b += 1
        if b >= n or text[b] not in _MID_G2_LOWER:
            k = text.find("\n\n", b + 1)
            continue
        # last adjacent pair inside the run bounds group-1 candidates
        q_last = text.rfind("\n\n", a, b)
        p = -1
        g1 = a - 1
        if g1 >= resume and g1 >= 0 and text[g1] not in _MID_G1_EXCLUDED:
            p = g1
        else:
            j = max(a, resume)
            while j < q_last:
                c = text[j]
                if c != "\n" and _is_ws(c):
                    p = j
                    break
                j += 1
        if p == -1:
            # every pair in this run yields the same (a, b, q_last) → same
            # failure; skip to the next run
            k = text.find("\n\n", b + 1)
            continue
        out.append(text[pos:p])
        out.append(text[p])
        out.append(" ")
        out.append(text[b])
        pos = b + 1
        resume = b + 1
        count += 1
        k = text.find("\n\n", b + 1)
    out.append(text[pos:])
    return "".join(out), count


def _break_at_gap(pattern: re.Pattern, text: str) -> tuple[str, int]:
    """== pattern.subn(...) for the dialogue patterns whose replacement
    keeps every char of the match except the whitespace run in group 1,
    which becomes "\\n\\n".  One slice per rewritten gap instead of a
    template expansion per match (re expands group templates in Python);
    a gap that already is "\\n\\n" is counted but left in place."""
    out = []
    pos = 0
    hits = 0
    for m in pattern.finditer(text):
        hits += 1
        if m.group(1) != "\n\n":
            start, end = m.span(1)
            out.append(text[pos:start])
            out.append("\n\n")
            pos = end
    if not out:
        return text, hits
    out.append(text[pos:])
    return "".join(out), hits


# --------------------------------------------------------------------------
# Pass 2.0 — mojibake pre-pass (reference Step2_formatting_v14.py:514-517)
# --------------------------------------------------------------------------

def bare_mojibake_prepass(text: str, counters: dict) -> str:
    """Delete ``â``+U+0080+``¢`` bullet mojibake, then turn ``â``+U+0080
    into a straight double quote so the dialogue passes can see it.  Runs
    before anything else.  NB: the second char of both keys is the
    *invisible* control char U+0080 (double-mojibake), not U+20AC — the
    visible ``â€¢`` artifact is handled later by the artifact sweep."""
    if "\x80" not in text:  # both keys hold U+0080
        return text
    text = text.replace("â¢", "")
    return text.replace("â", '"')


# --------------------------------------------------------------------------
# Pass 2.1 — mojibake maps, artifact sweep, quote normalization
# (reference Step2_formatting_v14.py:346-373)
# --------------------------------------------------------------------------

def _collapse_dquote_runs(text: str) -> tuple[str, int]:
    """== re.subn(r'"{2,}', '"', text): every run of 2+ double quotes
    becomes one."""
    i = text.find('""')
    if i == -1:
        return text, 0
    out = []
    pos = 0
    n = len(text)
    runs = 0
    while i != -1:
        j = i + 2
        while j < n and text[j] == '"':
            j += 1
        out.append(text[pos:i])
        out.append('"')
        runs += 1
        pos = j
        i = text.find('""', pos)
    out.append(text[pos:])
    return "".join(out), runs


def _lead_pairs(text: str, leads: str) -> set[str]:
    """Each lead char of ``leads`` present in ``text``, plus every 2-char
    substring of ``text`` that starts with one."""
    seen = set()
    for lead in leads:
        i = text.find(lead)
        if i != -1:
            seen.add(lead)
        while i != -1:
            seen.add(text[i : i + 2])
            i = text.find(lead, i + 1)
    return seen


# A replacement that yields a lead char or the tail char of a key can
# create an occurrence of a later key ("Ã‚" → "Â" before "Â«"), and so can
# a deletion, which joins its two neighbours.  No replacement removes an
# occurrence of a later key: a key's tail is never a lead, nor a lead a tail.
_KEY_MAKERS = frozenset("ÃÅÂ") | frozenset(bad[1] for bad, _ in MOJIBAKE_PAIRS if bad[1:])


def sweep_mojibake_and_artifacts(text: str, counters: dict) -> str:
    by_noun: dict[str, int] = {}
    by_pair: dict[str, int] = {}
    by_artifact: dict[str, int] = {}
    # Counting an absent key yields 0 and the reference logs only nonzero
    # counts, so skipping a key that cannot occur is the identity.  Every
    # table key starts with Ã, Å, Â or â, and a key of 2+ chars can occur
    # only if its first two chars are a lead pair of the text (one memchr
    # walk per lead instead of a full-text count per key).  Every key
    # shrinks when replaced, so its count is the length lost over the
    # length one replacement loses.
    if "Ã" in text or "Â" in text or "Å" in text:
        seen = _lead_pairs(text, "ÃÅÂ")
        if "Ã©" in seen or "Ã‰" in seen:  # every proper-noun key holds one
            for bad, good in PROPER_NOUN_PAIRS:
                before = len(text)
                text = text.replace(bad, good)
                if len(text) != before:
                    by_noun[bad] = (before - len(text)) // (len(bad) - len(good))
            if by_noun:
                seen = _lead_pairs(text, "ÃÅÂ")
        for bad, good in MOJIBAKE_PAIRS:
            if bad not in seen:  # every key here is 1 or 2 chars
                continue
            before = len(text)
            text = text.replace(bad, good)
            by_pair[bad] = (before - len(text)) // (len(bad) - len(good))
            if not good or good in _KEY_MAKERS:
                seen = _lead_pairs(text, "ÃÅÂ")
    if "â" in text or "Â" in text:
        seen = _lead_pairs(text, "âÂ")
        for token in ARTIFACT_TOKENS:
            if token[:2] not in seen:
                continue
            before = len(text)
            text = text.replace(token, "")
            if len(text) != before:
                by_artifact[token] = (before - len(text)) // len(token)
                seen = _lead_pairs(text, "âÂ")
    shapes = 0
    if not text.isascii():
        for shape, straight in QUOTE_SHAPES:
            if shape in text:
                shapes += text.count(shape)
                text = text.replace(shape, straight)
    text, collapsed = _collapse_dquote_runs(text)
    counters["french_fixes"] = {"specific": by_noun, "mojibake": by_pair}
    counters["artifacts_removed"] = by_artifact
    counters["quotes_normalized"] = {
        "variants_to_double": shapes,
        "double_quotes_collapsed": collapsed,
    }
    return text


# --------------------------------------------------------------------------
# Pass 2.2 — reflow: join soft line breaks, safe dehyphenation
# (reference Step2_formatting_v14.py:375-400)
# --------------------------------------------------------------------------

_HYPHEN_WRAP = re.compile(r"([A-Za-z])-(?:\n)([A-Za-z])")
_SPACE_RUN = re.compile(r"[ \t]{2,}")
_SPACE_BEFORE_PUNCT = re.compile(r"\s+([,.;:?!])")
_BLANK_RUN = re.compile(r"\n{3,}")

_PARA_SENTINEL = "<<<P>>>"
_PBRK_SENTINEL = "<<<PBRK>>>"


def _join_hyphen_wrap(m: re.Match) -> str:
    head, tail = m.group(1), m.group(2)
    if tail and tail[0].isalpha() and tail[0].islower():
        return head + tail
    return head + "-" + tail


# The reference's ([.!?])([A-Za-z]) -> "\1 \2", split per stop char.  A
# match is two chars, a stop then an ASCII letter, so matches of different
# stops never overlap and the inserted space cannot start or end another
# match: the three literal-led subs in turn equal the one class-led sub.
# The letter moves into a lookahead; it is never a stop, so not consuming
# it changes nothing.
_STOP_THEN_LETTER = tuple(
    (re.compile(re.escape(stop) + "(?=[A-Za-z])"), stop + " ") for stop in ".!?"
)


def _space_after_stop(text: str) -> str:
    """== re.sub(r"([.!?])([A-Za-z])", r"\\1 \\2", text)."""
    for probe, spaced in _STOP_THEN_LETTER:
        text = probe.sub(spaced, text)
    return text


def reflow_soft_breaks(text: str, counters: dict) -> str:
    if "\r" in text:
        text = text.replace("\r\n", "\n")
    text = _collapse_blank_runs(text)
    text = text.replace("\n\n", _PARA_SENTINEL)
    text = _dehyphenate_wraps(text)
    if "\xad" in text:
        text = text.replace("\xad\n", "")
    singles = text.count("\n")
    if singles:
        text = text.replace("\n", " ")
    text = text.replace(_PARA_SENTINEL, "\n\n")
    text = _collapse_space_runs(text)
    text = _strip_space_before_punct(text)
    text = _space_after_stop(text)
    counters["reflow"] = {"single_newlines_joined": singles}
    return text


# --------------------------------------------------------------------------
# Pass 2.3 — dialogue paragraphing (reference Step2_formatting_v14.py:402-429)
# --------------------------------------------------------------------------

# The reference patterns, reshaped for speed at identical matches:
# * (")([^"]*?)(")\s+("): [^"] cannot cross a quote, so the lazy group and
#   a possessive one both end at the next quote;
# * ([.!?])\s+(") split per stop char: a match is stop, whitespace, quote,
#   so matches of different stops are disjoint, and the replacement keeps
#   the stop right before its "\n\n" — no split pattern can create or hide
#   a match of another, and the three subs in turn equal the one;
# * ("([^"]*[.!?])")\s+([A-ZÀ-Ö]): the closing quote can only be the next
#   quote, so the group is everything up to it, ending in a stop.
# A possessive \s++ is exact wherever the item after it never matches
# whitespace.
# Group 1 is the whitespace gap that becomes "\n\n" (see _break_at_gap).
_QUOTE_THEN_QUOTE = re.compile(r'"[^"]*+"(\s++)"')
_STOP_THEN_QUOTE = tuple(re.compile(re.escape(stop) + r'(\s++)"') for stop in ".!?")
_QUOTE_THEN_NARRATION = re.compile(r'"[^"]*+(?<=[.!?])"(\s++)[A-ZÀ-Ö]')


def break_dialogue_paragraphs(text: str, counters: dict) -> str:
    if "\r" in text:
        text = text.replace("\r\n", "\n")
    text = _collapse_blank_runs(text)
    text = text.replace("\n\n", _PBRK_SENTINEL)
    n_pairs = n_stop = n_narr = 0
    if '"' in text:  # all three patterns require a double quote
        text, n_pairs = _break_at_gap(_QUOTE_THEN_QUOTE, text)
        for probe in _STOP_THEN_QUOTE:
            text, n = _break_at_gap(probe, text)
            n_stop += n
        text, n_narr = _break_at_gap(_QUOTE_THEN_NARRATION, text)
    text = text.replace(_PBRK_SENTINEL, "\n\n")
    text = _collapse_blank_runs(text)
    counters["dialogue_paragraphing"] = {
        "between_quotes": n_pairs,
        "before_leading_quote": n_stop,
        "after_quote_to_narration": n_narr,
    }
    return text


# --------------------------------------------------------------------------
# Pass 2.4 — merge residual single newlines
# (reference Step2_formatting_v14.py:431-444)
# --------------------------------------------------------------------------

_SOFT_PARA = re.compile(r"\n\s*\n")
# A "\n" with no "\n" beside it, or the first of three "\n" in one
# whitespace run.  No match means every "\n" sits in an "\n\n" pair that
# is alone in its whitespace run — exactly the text _SOFT_PARA maps onto
# itself through the sentinel round trip with no single left to join.
_LOOSE_NEWLINE = re.compile(r"\n(?:(?<!\n\n)(?!\n)|\s*\n\s*\n)")


def merge_residual_newlines(text: str, counters: dict) -> str:
    # Gate: after break_dialogue_paragraphs this pass changes no synthetic
    # doc.  It is the identity when no step can fire: no "\r", no loose
    # newline, no sentinel text of its own, no [ \t] run, no whitespace
    # before [,.;:?!] and no stop glued to a letter.
    if (
        "\r" not in text
        and "\t" not in text
        and _PBRK_SENTINEL not in text
        and not _LOOSE_NEWLINE.search(text)
        and "  " not in text
        and not _ws_before_punct(text)
        and not any(probe.search(text) for probe, _ in _STOP_THEN_LETTER)
    ):
        counters["single_newlines_merge"] = {"singles_removed": 0}
        return text
    text = text.replace("\r\n", "\n")
    text = _collapse_blank_runs(text)
    text = _SOFT_PARA.sub(_PBRK_SENTINEL, text)
    singles = text.count("\n")
    text = text.replace("\n", " ")
    text = text.replace(_PBRK_SENTINEL, "\n\n")
    text = _collapse_space_runs(text)
    text = _strip_space_before_punct(text)
    text = _space_after_stop(text)
    counters["single_newlines_merge"] = {"singles_removed": singles}
    return text


# --------------------------------------------------------------------------
# Pass 2.5 — collapse mid-sentence paragraph breaks
# (reference Step2_formatting_v14.py:447-453)
# --------------------------------------------------------------------------

_MID_SENTENCE_BREAK = re.compile(r'([^\.!\?;:)"\n])\s*\n\n\s*([a-zà-öø-ÿ])')


# Every match has "\n\n", optional whitespace, then its lowercase group 2.
_MID_SENTENCE_GATE = re.compile(r"\n\n\s*[a-zà-öø-ÿ]")


def collapse_midsentence_breaks(text: str, counters: dict) -> str:
    if _MID_SENTENCE_GATE.search(text):
        text, n = _collapse_midsentence(text)
    else:
        n = 0
    counters["mid_sentence_breaks_collapsed"] = n
    return text


# --------------------------------------------------------------------------
# Pass 2.6 — lone quote line fixer (reference Step2_formatting_v14.py:455-478)
# --------------------------------------------------------------------------

# A line that strips to '"' between two other lines: in joined text, "\n",
# line whitespace, '"', line whitespace, "\n".  Every rewrite of the pass
# starts at such a line.
_LONE_QUOTE_LINE = re.compile(r'\n[^\S\n]*"[^\S\n]*\n')


def resolve_lone_quote_lines(text: str, counters: dict) -> str:
    joined = _join_lines(text)  # what the pass returns when idle
    if not _LONE_QUOTE_LINE.search(joined):
        counters["lone_quote_lines"] = {"removed": 0, "appended_to_above": 0}
        return _collapse_blank_runs(joined)
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


# --------------------------------------------------------------------------
# Pass 2.7 — stray leading quote before a real opening quote
# (reference Step2_formatting_v14.py:282-321)
# --------------------------------------------------------------------------

_STRAY_THEN_OPEN = re.compile(r'^\s*"\s+([“"])(.*)$')


# Any line _STRAY_THEN_OPEN matches opens (after whitespace) with '"',
# whitespace, then '“' or '"'.  Line whitespace is never "\n", so a quote
# that closes one line and opens the next ('"\n\n"', every dialogue
# paragraph) is no hit; quote pairs inside a line ('." "') are, and are
# then dropped unless the first quote opens its line.
_STRAY_THEN_OPEN_GATE = re.compile(r'"[^\S\n]+[“"]')


def _opens_line(text: str, probe: re.Pattern) -> bool:
    """Whether a match of ``probe`` starts a line of ``text`` (after
    whitespace).  ``text`` must be in "\\n".join(splitlines()) form."""
    for m in probe.finditer(text):
        i = m.start()
        head = text[text.rfind("\n", 0, i) + 1 : i]
        if not head or head.isspace():
            return True
    return False


def close_prev_and_drop_stray_quote(text: str, counters: dict) -> str:
    joined = _join_lines(text)  # what the pass returns when idle
    if not _opens_line(joined, _STRAY_THEN_OPEN_GATE):  # idle: no counter
        return joined
    lines = text.splitlines()
    fixed = 0

    def prev_nonempty(i: int) -> int:
        p = i - 1
        while p >= 0 and lines[p].strip() == "":
            p -= 1
        return p

    for i in range(len(lines)):
        m = _STRAY_THEN_OPEN.match(lines[i])
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


# --------------------------------------------------------------------------
# Pass 2.8 — stray leading quote before narration
# (reference Step2_formatting_v14.py:253-280)
# --------------------------------------------------------------------------

_STRAY_BEFORE_NARRATION = re.compile(r'^\s*(["“])\s+([A-ZÀ-ÖØ-Ý].*)$')


# Any line _STRAY_BEFORE_NARRATION matches holds '"' or '“', line
# whitespace (never "\n"), then a capital; one literal-led probe per quote.
_STRAY_BEFORE_NARRATION_GATES = (
    re.compile(r'"[^\S\n]+[A-ZÀ-ÖØ-Ý]'),
    re.compile(r"“[^\S\n]+[A-ZÀ-ÖØ-Ý]"),
)


def hoist_stray_quote_to_prev_line(text: str, counters: dict) -> str:
    if not any(gate.search(text) for gate in _STRAY_BEFORE_NARRATION_GATES):
        counters["leading_stray_quote_before_narrative_moved"] = 0
        return _join_lines(text)
    lines = text.splitlines()
    moved = 0

    def prev_nonempty(i: int) -> int:
        p = i - 1
        while p >= 0 and lines[p].strip() == "":
            p -= 1
        return p

    for i in range(len(lines)):
        m = _STRAY_BEFORE_NARRATION.match(lines[i])
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


# --------------------------------------------------------------------------
# Pass 2.9 — split closing-quote/opening-quote pairs to paragraphs
# (reference Step2_formatting_v14.py:226-250)
# --------------------------------------------------------------------------

# The reference's (”|")(\s+)("|“)(?=[A-Za-zÀ-ÖØ-öø-ÿ“]) -> "\1\n\n\3",
# split per lead quote.  The quote after the whitespace is followed by a
# letter or '“', never by whitespace, so it cannot lead a match itself:
# matches never chain or overlap, the "\n\n" put in place of the
# whitespace creates none, and the literal-led subs in turn equal the one
# alternation-led sub.
_CLOSE_OPEN_PAIRS = tuple(
    (lead, re.compile(lead + r'(\s++)["“](?=[A-Za-zÀ-ÖØ-öø-ÿ“])'))
    for lead in ('"', "”")
)


def split_adjacent_quote_pairs(text: str, counters: dict) -> str:
    hits = 0
    for lead, pair in _CLOSE_OPEN_PAIRS:
        if lead in text:
            text, n = _break_at_gap(pair, text)
            hits += n
    counters["adjacent_quotes_split"] = hits
    return text


# --------------------------------------------------------------------------
# Pass 2.10 — collapse space-separated double quotes
# (reference Step2_formatting_v14.py:207-224)
# --------------------------------------------------------------------------

_SPACED_QUOTE_PAIR = re.compile(r'(”|")([  \t]+)("|“)')


# _SPACED_QUOTE_PAIR on text without '”' and '“': both alternations reduce
# to '"', so the pattern is literal-led.  (With curly quotes the quote that
# ends one match may lead the next, so no split is exact there.)
_SPACED_STRAIGHT_PAIR = re.compile(r'"[\xa0 \t]++"')


def collapse_spaced_quote_pairs(text: str, counters: dict) -> str:
    if "”" in text or "“" in text:
        text, n = _SPACED_QUOTE_PAIR.subn(r"\3", text)
    else:
        text, n = _SPACED_STRAIGHT_PAIR.subn('"', text)
    if n:
        counters["double_quotes_with_space_collapsed"] = n
    else:
        counters.setdefault("double_quotes_with_space_collapsed", 0)
    return text


# --------------------------------------------------------------------------
# Pass 2.11 — '' → "  (reference Step2_formatting_v14.py:149-152)
# --------------------------------------------------------------------------

_DOUBLED_SINGLE = re.compile(r"''")


def straighten_doubled_singles(text: str, counters: dict) -> str:
    text, n = _DOUBLED_SINGLE.subn('"', text)
    counters["double_single_to_doublequote"] = n
    return text


# --------------------------------------------------------------------------
# Pass 2.12 — superscript strip (reference Step2_formatting_v14.py:55-59)
# --------------------------------------------------------------------------

# The chars of the reference's [¹²³⁰-⁹] class; deleting them one char
# at a time (memchr probes, nearly always absent) equals the class sub.
_SUPERSCRIPT_CHARS = "¹²³" + "".join(map(chr, range(0x2070, 0x207A)))


def drop_superscripts(text: str, counters: dict) -> str:
    n = 0
    for ch in _SUPERSCRIPT_CHARS:
        if ch in text:
            n += text.count(ch)
            text = text.replace(ch, "")
    counters["superscripts_removed"] = n
    return text


# --------------------------------------------------------------------------
# Pass 2.13 — footnote-number strip with ordinal/money guards
# (reference Step2_formatting_v14.py:61-112)
# --------------------------------------------------------------------------

# The reference applies three per-line patterns to each line in turn.  They
# run here once each over the joined text instead: (?m) makes ^/$ the line
# ends, and where a line's \s could start a match it is kept off "\n"
# ((?!\n) guards); the trailing lookahead classes may keep \s because `$`
# is tried first and wins at every line end.  Line order is kept within
# each kind, so tallies and samples come out in the reference order.
_STANDALONE_NUM = re.compile(
    r'(?m)(^|(?!\n)[\s,;:—\-\)\(\[\]“”"\'\xa0])(\d{1,3})'
    r'(?=($|[\s,;:—\-\)\(\]\[“”"\'\.,!?]))'
)
_AFTER_PUNCT_NUM = re.compile(r"(?m)[,:;](?:(?!\n)\s)?(\d{1,3})(?=($|[^\w]))")
_GLUED_NUM = re.compile(r"(?m)(?<=[A-Za-zÀ-ÖØ-öø-ÿ]|\.)(\d{1,3})(?=($|[^\w]))")
_DIGIT_RUN = re.compile(r"\d+")


@functools.lru_cache(maxsize=8)
def _money_next_re(money_terms: frozenset[str]) -> re.Pattern:
    # One escape/sort/join + compile per distinct money-term SET, not one
    # per document: the alternation build over the terms is the real
    # per-call cost (re.compile itself caches Patterns), so key the cache
    # on the set and do the whole build inside it.  The reference searches
    # ^\s*(?:terms)\b in the rest of the line; this pattern is matched at
    # the match end with the line end as endpos, which is the same test.
    money_alt = "|".join(
        sorted(map(re.escape, money_terms), key=len, reverse=True)
    )
    return re.compile(rf"\s*(?:{money_alt})\b", re.IGNORECASE)


def _digit_runs(text: str) -> list[int]:
    """Sorted start of every maximal run of \\d chars in ``text``."""
    try:
        text.encode("latin-1")
    except UnicodeEncodeError:  # may hold non-ASCII decimal digits
        return [m.start() for m in _DIGIT_RUN.finditer(text)]
    # \d in Latin-1 is exactly 0-9, found at memchr speed.
    hits = []
    for digit in "0123456789":
        i = text.find(digit)
        while i != -1:
            hits.append(i)
            i = text.find(digit, i + 1)
    hits.sort()
    return [p for k, p in enumerate(hits) if not k or hits[k - 1] != p - 1]


# Where a match holding the digit run at r can start (-1: nowhere).  Every
# footnote match spans its lead chars plus exactly one WHOLE digit run of
# 1-3 digits (the lookaheads admit no digit), so it is found by one anchored
# attempt per run instead of a full-text scan from every position.
def _standalone_at(text: str, r: int) -> int:
    return r if r == 0 or text[r - 1] == "\n" else r - 1


def _after_punct_at(text: str, r: int) -> int:
    if r and text[r - 1] in ",:;":
        return r - 1
    if r > 1 and text[r - 2] in ",:;":
        return r - 2
    return -1


def _glued_at(text: str, r: int) -> int:
    return r


def _sub_digit_runs(pattern, at, text: str, runs: list[int], repl):
    """== (pattern.sub(repl, text), digit runs of the result) for the
    footnote patterns above.  A run outside every match shifts with the
    text; a matched run survives only where ``repl`` returns the match text
    as its prefix (the money guard) — otherwise repl returns no digit, so
    no run is created or merged."""
    out = []
    kept = []
    pos = 0
    shift = 0
    for r in runs:
        s = at(text, r)
        m = pattern.match(text, s) if s >= pos else None
        if m is None:
            kept.append(r + shift)
            continue
        rep = repl(m)
        if rep.startswith(m.group()):
            kept.append(r + shift)
        out.append(text[pos:s])
        out.append(rep)
        shift += len(rep) - (m.end() - s)
        pos = m.end()
    if not out:
        return text, runs
    out.append(text[pos:])
    return "".join(out), kept


def strip_footnote_digits(
    text: str, counters: dict, money_terms: frozenset[str] | set[str] = DEFAULT_MONEY_TERMS
) -> str:
    samples: dict[str, list[str]] = {"standalone": [], "after_punct": [], "glued_to_word": []}
    tallies = {"standalone": 0, "after_punct": 0, "glued_to_word": 0}

    money_next = _money_next_re(
        money_terms
        if isinstance(money_terms, frozenset)
        else frozenset(money_terms)
    )

    def money_follows(m: re.Match) -> bool:
        line_end = m.string.find("\n", m.end())
        return money_next.match(
            m.string, m.end(), line_end if line_end != -1 else len(m.string)
        ) is not None

    def note(kind: str, m: re.Match) -> None:
        tallies[kind] += 1
        if len(samples[kind]) < 10:  # +-40 chars of context, inside the line
            t = m.string
            start, end = m.span()
            head = t.rfind("\n", 0, start) + 1
            tail = t.find("\n", end)
            tail = len(t) if tail == -1 else tail
            samples[kind].append(t[max(head, start - 40) : min(tail, end + 40)])

    # The reference also spares an ordinal ("2nd") here, but tests only the
    # digit group, which never holds the suffix: that guard never fires.
    def on_standalone(m: re.Match) -> str:
        trail = m.group(3) or ""
        if money_follows(m):
            return m.group(0) + trail
        note("standalone", m)
        return m.group(1) + trail

    def on_after_punct(m: re.Match) -> str:
        if money_follows(m):
            return m.group(0)
        note("after_punct", m)
        return m.group(0).replace(m.group(1), "")

    def on_glued(m: re.Match) -> str:
        note("glued_to_word", m)
        return ""

    text = _join_lines(text)
    runs = _digit_runs(text)
    if runs:
        text, runs = _sub_digit_runs(_STANDALONE_NUM, _standalone_at, text, runs, on_standalone)
        text, runs = _sub_digit_runs(_AFTER_PUNCT_NUM, _after_punct_at, text, runs, on_after_punct)
        text, runs = _sub_digit_runs(_GLUED_NUM, _glued_at, text, runs, on_glued)

    counters["footnote_numbers_removed"] = tallies
    for key, vals in samples.items():
        if vals:
            counters[f"footnote_examples_{key}"] = vals
    return text


# --------------------------------------------------------------------------
# Pass 2.14 — quote/apostrophe artifact repair
# (reference Step2_formatting_v14.py:154-205)
# --------------------------------------------------------------------------

_INLINE_STOP_APOS_QUOTE = re.compile(r'([\.!\?])(?:\'|’)\s+"')
_LINE_START_QUOTE_APOS = re.compile(r'^\s*" ?(?:\'|’)')
_LINE_END_APOS_QUOTE = re.compile(r'(?:\'|’)\s*"$')
_INLINE_QUOTE_APOS = re.compile(r'" ?(?:\'|’)')
_STOP_APOS_EOL = re.compile(r"[\.!\?]\'\s*$")
_STOP_APOS_EOL_SUB = re.compile(r"([\.!\?])\'\s*$")
_LINE_START_QUOTE_APOS_WS = re.compile(r'^\s*" ?(?:\'|’)\s*')


# Every pattern above holds an apostrophe (' or ’) right after a stop,
# right after '"' or '" ', or followed by optional whitespace and '"'.
# One literal-led probe per apostrophe char covers all of them.
_APOSTROPHE_ARTIFACT_GATES = tuple(
    (apos, re.compile(apos + r'(?:(?<=[.!?"]' + apos + r')|(?<=" ' + apos + r')|\s*")'))
    for apos in ("'", "’")
)


def mend_quote_apostrophe_artifacts(text: str, counters: dict) -> str:
    if not any(
        apos in text and gate.search(text)
        for apos, gate in _APOSTROPHE_ARTIFACT_GATES
    ):
        counters["quote_artifacts_inline_moves"] = 0
        counters["quote_artifacts_moved_up"] = 0
        counters["quote_artifacts_moved_down"] = 0
        counters["quote_artifacts_collapsed"] = 0
        return _join_lines(text)
    lines = text.splitlines()
    moved_up = moved_down = collapsed = inline = 0

    for i, s in enumerate(lines):
        if "'" not in s and "’" not in s:  # pattern requires an apostrophe
            continue
        new_s, n = _INLINE_STOP_APOS_QUOTE.subn(r'\1"\n\n"', s)
        if n:
            lines[i] = new_s
            inline += n

    def balanced(s: str) -> bool:
        return (s.count('"') % 2) == 0

    for i, s in enumerate(lines):
        if '"' not in s:  # pattern requires a double quote
            continue
        if not _LINE_START_QUOTE_APOS.match(s):
            continue
        j = i - 1
        while j >= 0 and lines[j].strip() == "":
            j -= 1
        if j is not None and j >= 0:
            prev = lines[j]
            if prev.lstrip().startswith('"') and not balanced(prev):
                if _STOP_APOS_EOL.search(prev):
                    lines[j] = _STOP_APOS_EOL_SUB.sub(r'\1"', prev)
                else:
                    lines[j] = prev.rstrip() + '"'
                lines[i] = _LINE_START_QUOTE_APOS_WS.sub("", lines[i], count=1)
                moved_up += 1
                continue
        lines[i] = _LINE_START_QUOTE_APOS.sub('"', lines[i], count=1)
        collapsed += 1

    for i, s in enumerate(lines):
        if '"' not in s:  # pattern requires a double quote
            continue
        if not _LINE_END_APOS_QUOTE.search(s.strip()):
            continue
        j = i + 1
        while j < len(lines) and lines[j].strip() == "":
            j += 1
        if j < len(lines) and not lines[j].lstrip().startswith('"'):
            lines[i] = _LINE_END_APOS_QUOTE.sub('"', s.strip())
            lines[j] = '"' + lines[j].lstrip()
            moved_down += 1

    for i, s in enumerate(lines):
        if '"' not in s:  # pattern requires a double quote
            continue
        new_s, n = _INLINE_QUOTE_APOS.subn('"', s)
        if n:
            lines[i] = new_s
            collapsed += n

    counters["quote_artifacts_inline_moves"] = inline
    counters["quote_artifacts_moved_up"] = moved_up
    counters["quote_artifacts_moved_down"] = moved_down
    counters["quote_artifacts_collapsed"] = collapsed
    return "\n".join(lines)


# --------------------------------------------------------------------------
# Pass 2.15 — comma/quote spacing (reference Step2_formatting_v14.py:49-53)
# --------------------------------------------------------------------------

_COMMA_QUOTE_GAP = re.compile(r',\s+"\s')


def normalize_comma_quote_gap(text: str, counters: dict) -> str:
    text, n = _COMMA_QUOTE_GAP.subn('," ', text)
    counters["comma_space_quote_space_normalized"] = n
    return text


# --------------------------------------------------------------------------
# Pass 2.16 — quote-island block removal
# (reference Step2_formatting_v14.py:126-147)
# --------------------------------------------------------------------------

_LONE_QUOTE_FORMS = {'"', '""', "“", "”"}
# The middle line of an island strips to a _LONE_QUOTE_FORMS member and
# sits between two other lines: in joined text, "\n", line whitespace, the
# form, line whitespace, "\n".
_QUOTE_ISLAND_LINE = re.compile(r'\n[^\S\n]*(?:""?|“|”)[^\S\n]*\n')


def drop_quote_islands(text: str, counters: dict) -> str:
    joined = _join_lines(text)  # what the pass returns when idle
    if not _QUOTE_ISLAND_LINE.search(joined):
        counters["quote_island_blocks_removed"] = 0
        return joined
    lines = text.splitlines()
    out: list[str] = []
    i = 0
    removed = 0
    while i < len(lines):
        if (
            i + 2 < len(lines)
            and lines[i].strip() == ""
            and lines[i + 1].strip() in _LONE_QUOTE_FORMS
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


# --------------------------------------------------------------------------
# Pass 2.17 — new-speaker split (reference Step2_formatting_v14.py:483-501)
# --------------------------------------------------------------------------

# The reference's ([.!?]")\s+(")([A-Z]) -> "\1\n\n\2\3", split per stop
# char: a match runs stop, quote, whitespace, quote, capital, so matches of
# different stops are disjoint, and the "\n\n" put in place of the
# whitespace keeps the same stop before it — the three literal-led subs in
# turn equal the one class-led sub.
_SPEAKER_TURNS = tuple(
    re.compile(re.escape(stop) + r'"(\s++)"[A-Z]') for stop in ".!?"
)


def split_speaker_turns(text: str, counters: dict) -> str:
    hits = 0
    if '"' in text:
        for turn in _SPEAKER_TURNS:
            text, n = _break_at_gap(turn, text)
            hits += n
    counters.setdefault("dialogue_splits_new_speaker", 0)
    counters["dialogue_splits_new_speaker"] += hits
    return text


# --------------------------------------------------------------------------
# Pass 2.18 — intraline whitespace (reference Step2_formatting_v14.py:114-124)
# --------------------------------------------------------------------------


def _collapse_inner_space_runs(text: str) -> tuple[str, int]:
    r"""== re.subn(r"(?<=\S) {2,}(?=\S)", " ", line) on every line of joined
    text: a run of 2+ spaces between two non-whitespace chars becomes one
    space.  A run at a line edge touches "\n" or a text edge, so it is
    kept, as the per-line lookarounds keep it."""
    i = text.find("  ")
    if i == -1:
        return text, 0
    out = []
    pos = 0
    n = len(text)
    runs = 0
    while i != -1:
        j = i + 2
        while j < n and text[j] == " ":
            j += 1
        if i and j < n and not _is_ws(text[i - 1]) and not _is_ws(text[j]):
            out.append(text[pos:i])
            out.append(" ")
            pos = j
            runs += 1
        i = text.find("  ", j)
    out.append(text[pos:])
    return "".join(out), runs


def tidy_intraline_spaces(text: str, counters: dict) -> str:
    text = _join_lines(text)
    if "\t" in text:
        text = text.replace("\t", " ")
    text, total = _collapse_inner_space_runs(text)
    counters["intraline_space_runs_normalized"] = total
    return text


# --------------------------------------------------------------------------
# Pass 2.19 — "" collapse (reference Step2_formatting_v14.py:44-47)
# --------------------------------------------------------------------------

_ADJACENT_DQUOTES = re.compile(r'""')


def collapse_adjacent_dquotes(text: str, counters: dict) -> str:
    text, n = _ADJACENT_DQUOTES.subn('"', text)
    counters["double_doublequotes_collapsed"] = counters.get(
        "double_doublequotes_collapsed", 0
    ) + n
    return text


# --------------------------------------------------------------------------
# Stage driver (order from reference Step2_formatting_v14.py:514-547)
# --------------------------------------------------------------------------

def run_stage2(
    text: str,
    counters: dict | None = None,
    money_terms: frozenset[str] | set[str] = DEFAULT_MONEY_TERMS,
    speaker_turn_split: bool = True,
) -> str:
    """Full stage 2 in reference order (Step2_formatting_v14.py:514-547).

    ``speaker_turn_split=False`` is the legacy v13 pipeline byte-for-byte
    (Step2_formatting1_v13.py is exactly v14 minus the
    split_adjacent_dialogue_turns pass — confirmed by diff)."""
    if counters is None:
        counters = {}
    text = bare_mojibake_prepass(text, counters)
    text = sweep_mojibake_and_artifacts(text, counters)
    text = reflow_soft_breaks(text, counters)
    text = break_dialogue_paragraphs(text, counters)
    text = merge_residual_newlines(text, counters)
    text = collapse_midsentence_breaks(text, counters)
    text = resolve_lone_quote_lines(text, counters)
    text = close_prev_and_drop_stray_quote(text, counters)
    text = hoist_stray_quote_to_prev_line(text, counters)
    text = split_adjacent_quote_pairs(text, counters)
    text = collapse_spaced_quote_pairs(text, counters)
    text = straighten_doubled_singles(text, counters)
    text = drop_superscripts(text, counters)
    text = strip_footnote_digits(text, counters, money_terms)
    text = mend_quote_apostrophe_artifacts(text, counters)
    text = normalize_comma_quote_gap(text, counters)
    text = drop_quote_islands(text, counters)
    if speaker_turn_split:
        text = split_speaker_turns(text, counters)
    text = tidy_intraline_spaces(text, counters)
    text = collapse_adjacent_dquotes(text, counters)
    return text
