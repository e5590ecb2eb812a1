"""Legacy-variant operators (reference `text-processing/legacy/Step1_ocr_cleanup_v7.py`).

These document the reference's earlier, richer cleanup surface that SURVEY §2
inventories separately from the v11 main path:

* S11 — RTF byte-stream decode                          (reference :89-104)
* F8  — inline ``Volume … Chapter <tok>`` span kill     (reference :40-61)
* F7  — 5-line windowed running-head detector           (reference :138-198)
* legacy T17 — general footnote-number removal with
  year (1500-2099) and currency guards                  (reference :215-299)

Semantics preserved pass-for-pass.
"""

from __future__ import annotations

import re

from .cleanup import normalize_newlines

# --------------------------------------------------------------------------
# S11 — RTF decode (reference legacy/Step1_ocr_cleanup_v7.py:89-104)
# --------------------------------------------------------------------------

_RTF_HEX = re.compile(r"\\'([0-9a-fA-F]{2})")
_RTF_UNI = re.compile(r"\\u(-?\d+)\??")
_RTF_CONTROL = re.compile(r"\\[A-Za-z]+-?\d* ?")


def rtf_to_text(raw_bytes: bytes) -> str:
    s = raw_bytes.decode("latin-1")

    def from_hex(m: re.Match) -> str:
        return bytes([int(m.group(1), 16)]).decode("cp1252", "replace")

    s = _RTF_HEX.sub(from_hex, s)

    def from_unicode(m: re.Match) -> str:
        num = int(m.group(1))
        if num < 0:
            num += 65536
        try:
            return chr(num)
        except ValueError:
            return ""

    s = _RTF_UNI.sub(from_unicode, s)
    s = s.replace(r"\par", "\n").replace(r"\line", "\n").replace(r"\tab", "    ")
    s = _RTF_CONTROL.sub("", s)
    s = s.replace("{", "").replace("}", "")
    s = s.replace("\r\n", "\n").replace("\r", "\n")
    s = s.replace("\\\n", "\n").replace("\n\\", "\n")
    return s


# --------------------------------------------------------------------------
# F8 — inline Volume…Chapter span removal (reference :40-61)
# --------------------------------------------------------------------------

_VOL_CHAPTER_SPAN = re.compile(
    r"""(?ix)
        Volume
        (?:(?!Chapter).){0,250}?
        Chapter \s+
        (?:[A-Za-z]+ | [IVXLCDM]+ | \d+)
    """,
    re.DOTALL,
)
_LONE_BULLET_LINE = re.compile(r"^(?:[•\-\u2022â€¢]+)\s*$", re.MULTILINE)
_BLANK_RUN3 = re.compile(r"\n{3,}")


def kill_inline_volume_chapter(text: str) -> str:
    text = _VOL_CHAPTER_SPAN.sub("", text)
    text = _LONE_BULLET_LINE.sub("", text)
    return _BLANK_RUN3.sub("\n\n", text)


# --------------------------------------------------------------------------
# F7 — windowed running-head detector (reference :138-198)
# --------------------------------------------------------------------------

_PAGE_NO = re.compile(r"\s*\d{1,4}\s*")
_VOL_WORD = re.compile(
    r"(?i)\bvolume\s+(one|two|three|four|five|six|seven|eight|nine|ten|eleven|twelve|[IVXLCDM]+|[1-9]|1[0-2])\b"
)
_CH_WORD = re.compile(r"(?:Chapter|chapter)")
_FOOTER_TITLE = re.compile(r"(?i)^\s*history\s+of\s+my\s+life\s*$")
_SINGLE_HEAD = re.compile(
    r"^\s*(?:[•â€¢·]\s*)?(?i:volume\s+(?:one|two|three|four|five|six|seven|eight|nine|ten|eleven|twelve|[IVXLCDM]+|[1-9]|1[0-2]))\s+(?:Chapter|chapter)\s+(?:[A-Za-z]+|[IVXLCDM]+|\d+)\s*$"
)
_VOL_SEVEN = re.compile(r"^\s*(?i:volume\s+seven)\s*$")
_CH_TAIL = re.compile(
    r"^\s*([\.,•â€¢·\-\u2010\u2011\u2013\u2014\'\"”’])?\s*(?:Chapter|chapter)\s+[A-Za-z]+\s*$"
)
_INLINE_HEAD = re.compile(
    r"(?i:volume\s+(?:one|two|three|four|five|six|seven|eight|nine|ten|eleven|twelve|[IVXLCDM]+|[1-9]|1[0-2]))\s+(?:Chapter|chapter)\s+(?:[A-Za-z]+|[IVXLCDM]+|\d+)"
)
_DOUBLE_SPACE = re.compile(r" {2,}")

_BULLET_FORMS = ("â€¢", "•", "·", "•")


def windowed_header_strip(text: str, counters: dict) -> str:
    lines = text.split("\n")

    def is_page(line: str) -> bool:
        return _PAGE_NO.fullmatch(line) is not None

    def is_bullet(line: str) -> bool:
        return line.strip() in _BULLET_FORMS

    header_spans: list[tuple[int, int]] = []
    i = 0
    while i < len(lines):
        win = [lines[i + j].strip() if i + j < len(lines) else "" for j in range(5)]
        vi = next((j for j, ln in enumerate(win) if _VOL_WORD.search(ln)), None)
        ci = next((j for j, ln in enumerate(win) if _CH_WORD.search(ln)), None)
        ni = next((j for j, ln in enumerate(win) if is_page(ln)), None)
        if vi is not None and ci is not None and ni is not None:
            lo = i + min(vi, ci, ni)
            hi = i + max(vi, ci, ni)
            block = [lines[k].strip() for k in range(lo, hi + 1)]
            if all(
                _VOL_WORD.search(x) or _CH_WORD.search(x) or is_page(x) or is_bullet(x)
                for x in block
            ):
                header_spans.append((lo, hi))
                i = hi + 1
                continue
        i += 1

    footer_spans = [
        (j, j + 1)
        for j in range(len(lines) - 1)
        if is_page(lines[j]) and _FOOTER_TITLE.search(lines[j + 1])
    ]

    doomed: set[int] = set()
    for lo, hi in header_spans + footer_spans:
        doomed.update(range(lo, hi + 1))
    kept = [ln for idx, ln in enumerate(lines) if idx not in doomed]

    singles = 0
    pass2 = []
    for ln in kept:
        if _SINGLE_HEAD.match(ln):
            singles += 1
            continue
        pass2.append(ln)

    pass3 = []
    skip_next = False
    two_line = 0
    for idx, ln in enumerate(pass2):
        if skip_next:
            skip_next = False
            continue
        if _VOL_SEVEN.match(ln):
            nxt = pass2[idx + 1] if idx + 1 < len(pass2) else ""
            if _CH_TAIL.match(nxt):
                two_line += 1
                skip_next = True
                continue
        pass3.append(ln)

    joined = "\n".join(pass3)
    inline = len(_INLINE_HEAD.findall(joined))
    joined = _INLINE_HEAD.sub("", joined)
    joined = _DOUBLE_SPACE.sub(" ", joined)

    counters["headers_removed"] = len(header_spans) + singles + two_line
    counters["footers_removed"] = len(footer_spans)
    counters["extra_header_line_hits"] = singles
    counters["two_line_header_hits"] = two_line
    counters["inline_header_hits"] = inline
    return joined


# --------------------------------------------------------------------------
# Legacy quote passes (reference :106-136)
# --------------------------------------------------------------------------

# Exact key set incl. double-mojibake forms with U+009C/U+009D/U+FFFD etc.
_LEGACY_QUOTE_VARIANTS: tuple[tuple[str, str], ...] = (
    ("“", '"'), ("”", '"'), ("„", '"'), ("‟", '"'),
    ("〝", '"'), ("〞", '"'), ("«", '"'), ("»", '"'),
    ("‹", '"'), ("›", '"'), ("＂", '"'), ("❝", '"'),
    ("❞", '"'),
    ("â€œ", '"'), ("â€", '"'),
    ("â€", '"'),
    ("Ã¢Â€Âœ", '"'),
    ("Ã¢Â€Â�", '"'),
    ("Ã¢Â€Âž", '"'),
    ("Â«", '"'), ("Â»", '"'),
)


def normalize_double_quotes_legacy(text: str, counters: dict) -> str:
    by_token: dict[str, int] = {}
    for tok, repl in _LEGACY_QUOTE_VARIANTS:
        c = text.count(tok)
        if c:
            text = text.replace(tok, repl)
            by_token[tok] = c
    counters["normalized_double_quotes"] = {
        "total_replacements": sum(by_token.values()),
        "by_token": by_token,
    }
    return text


_MIXED_QUOTES = re.compile(r"""('?\s*"\s*'|'\s*"\s*|"\s*'\s*)""")


def collapse_mixed_quotes_legacy(text: str, counters: dict) -> str:
    counters["collapsed_mixed_quotes"] = len(list(_MIXED_QUOTES.finditer(text)))
    return _MIXED_QUOTES.sub('"', text)


_QUOTE_ONLY_FORMS = {'"', "“", "”"}


def splice_lone_quote_lines_legacy(text: str, counters: dict) -> str:
    lines = text.split("\n")
    count = 0
    i = 0
    while i < len(lines):
        if lines[i].strip() in _QUOTE_ONLY_FORMS:
            if i > 0:
                lines[i - 1] = lines[i - 1] + lines[i].strip()
            del lines[i]
            count += 1
            continue
        i += 1
    counters["spliced_lone_quote_lines"] = count
    return "\n".join(lines)


def remove_superscript_artifacts_legacy(text: str, counters: dict) -> str:
    tokens = ("Â¹", "Â²", "Â³")
    counters["superscript_artifacts_removed"] = sum(text.count(t) for t in tokens)
    for t in tokens:
        text = text.replace(t, "")
    return text


_GLUED_WORD_NUM = re.compile(
    r"(?P<word>[^\W\d_]+(?:-[^\W\d_]+)*)(?P<num>\d{1,3})\b", re.UNICODE
)


def remove_glued_word_numbers_legacy(text: str, counters: dict) -> str:
    matches = 0
    out = []
    last = 0
    for m in _GLUED_WORD_NUM.finditer(text):
        matches += 1
        out.append(text[last : m.start("num")])
        last = m.end("num")
    out.append(text[last:])
    counters["glued_word_numbers_removed"] = matches
    return "".join(out)


# v7's own in-word mojibake fixer: each pair applied over the whole text
# when adjacent to a word char on either side (reference :11-32).
_V7_MOJIBAKE: tuple[tuple[str, str], ...] = (
    ("Ã©", "é"), ("Ã¨", "è"), ("Ãª", "ê"), ("Ã«", "ë"),
    ("Ã ", "à"), ("Ã¢", "â"), ("Ã¤", "ä"),
    ("Ã¬", "ì"), ("Ã­", "í"), ("Ã®", "î"), ("Ã¯", "ï"),
    ("Ã²", "ò"), ("Ã³", "ó"), ("Ã´", "ô"), ("Ã¶", "ö"),
    ("Ã¹", "ù"), ("Ãº", "ú"), ("Ã»", "û"), ("Ã¼", "ü"),
    ("Ã§", "ç"),
    ("Ã‰", "É"), ("Ãˆ", "È"), ("ÃŠ", "Ê"), ("Ã‹", "Ë"),
    ("Ã€", "À"), ("Ã‚", "Â"), ("Ã„", "Ä"),
    ("ÃŒ", "Ì"), ("Ã", "Í"), ("ÃŽ", "Î"), ("Ã", "Ï"),
    ("Ã’", "Ò"), ("Ã“", "Ó"), ("Ã”", "Ô"), ("Ã–", "Ö"),
    ("Ã™", "Ù"), ("Ãš", "Ú"), ("Ã›", "Û"), ("Ãœ", "Ü"),
    ("Ã‡", "Ç"),
)


def repair_word_mojibake_v7(text: str) -> str:
    for bad, good in _V7_MOJIBAKE:
        pat = re.compile(rf"(?:(?<=\w){re.escape(bad)}|{re.escape(bad)}(?=\w))")
        text = pat.sub(good, text)
    return text


def run_legacy_cleanup(text: str, counters: dict | None = None) -> str:
    """Full legacy v7 pass sequence (reference :338-371): v3 cleanup chain
    followed by the v7 in-word mojibake fixer."""
    if counters is None:
        counters = {}
    # The legacy CLIs also read input in text mode, so \r never reaches
    # the passes (cf. run_stage1).
    text = normalize_newlines(text)
    text = kill_inline_volume_chapter(text)
    text = windowed_header_strip(text, counters)
    text = splice_lone_quote_lines_legacy(text, counters)
    text = normalize_double_quotes_legacy(text, counters)
    text = collapse_mixed_quotes_legacy(text, counters)
    text = remove_superscript_artifacts_legacy(text, counters)
    text = remove_glued_word_numbers_legacy(text, counters)
    text = strip_numbers_general(text, counters)
    text = repair_word_mojibake_v7(text)
    return text


# --------------------------------------------------------------------------
# legacy T17 — general number removal with year/currency guards
# (reference :64-87, :215-299)
# --------------------------------------------------------------------------

CURRENCY_WORDS = frozenset(
    """louis livre livres ducat ducats florin florins franc francs crown crowns
    sequin sequins lira lire scudo scudi guilder guilders ecu ecus écus
    pound pounds sterling thaler thalers taler talers paolo paoli soldi sou sous
    pistole pistoles doubloon doubloons""".split()
)
CURRENCY_SYMBOLS = frozenset("£€$₤₣")
_TINY_STOPWORDS = frozenset(
    "a an the of to in on at for per da de di du la le les el il lo un une".split()
)

_FOUR_DIGITS = re.compile(r"\d{4}")
_LETTER_RUN = re.compile(r"[A-Za-zÀ-ÖØ-öø-ÿ]+")


def is_year(num_str: str) -> bool:
    """1500-2099 four-digit guard (reference :74-75)."""
    return bool(_FOUR_DIGITS.fullmatch(num_str)) and 1500 <= int(num_str) <= 2099


def next_word_is_currency(text: str, idx_after_number: int) -> bool:
    i = idx_after_number
    n = len(text)
    while i < n and text[i].isspace():
        i += 1
    if i < n and text[i] in CURRENCY_SYMBOLS:
        return True
    m = _LETTER_RUN.match(text[i:])
    return bool(m) and m.group(0).lower() in CURRENCY_WORDS


_P_AFTER_PUNCT_TIGHT = re.compile(r'(?<=[\.\!\?\)"”’\]\}\);:])(\d{1,3})\b')
_P_AFTER_PUNCT = re.compile(r'(?<=[\.\!\?\)"”’\]\}\);:])\s+(\d{1,3})\b')
_P_AFTER_PUNCT_NL = re.compile(r'(?<=[\.\!\?\)"”’\]\}\);:])\s*\n\s*(\d{1,3})\b')
_P_AFTER_COMMA = re.compile(r",\s*(\d{1,3})\b")
_P_STANDALONE = re.compile(r"^\s*(\d{1,3})\s*$", re.MULTILINE)
_P_WORD_NUM_CTX = re.compile(
    r"(?P<prev>\b[^\W\d_][^\W\d_'\-]{0,}(?:['’][sS])?(?:-[^\W\d_]+)*)\s+(?P<num>\d{1,3})\b(?=\s*(\(|[A-Za-zÀ-ÖØ-öø-ÿ]|,))",
    re.UNICODE,
)
_P_NUM_EOL = re.compile(
    r"(\b[^\W\d_][^\W\d_'\-]*(?:-[^\W\d_]+)*)\s+(\d{1,3})(\s*$)", re.UNICODE | re.MULTILINE
)
_P_PUNCT_QUOTES_TIGHT = re.compile(r"(?<=[\.\!\?\]\}\);:])(?:\s*['\"’”]{0,2})\s*(\d{1,3})\b")
_P_PUNCT_QUOTES = re.compile(r"(?<=[\.\!\?\]\}\);:])(?:\s*['\"’”]{0,2})\s+(\d{1,3})\b")
_DASHES = r"\-–—‑‐"
_P_WORD_NUM_DASH = re.compile(
    rf"(?P<word>\b[^\W\d_][^\W\d_'\-]*(?:-[^\W\d_]+)*)\s+(?P<num>\d{{1,3}})\s*(?P<dash>[{_DASHES}])",
    re.UNICODE,
)
_P_NUM_DASH = re.compile(rf"(?P<num>\d{{1,3}})\s*(?P<dash>[{_DASHES}])")
_CURRENCY_ALT = "|".join(sorted(CURRENCY_WORDS))
_P_NUM_GLUE_CURRENCY = re.compile(
    r"\b(\d{1,3})\b((?:\s+[A-Za-zÀ-ÖØ-öø-ÿ]{1,3}){0,2})\s+\b(" + _CURRENCY_ALT + r")\b",
    re.IGNORECASE,
)
_P_CURRENCY_THEN_NUM = re.compile(
    r"\b(" + _CURRENCY_ALT + r")\b\s+(\d{1,3})\b", re.IGNORECASE
)
_P_LINE_START = re.compile(r"^\s*(\d{1,3})\s+(?=[A-Za-zÀ-ÖØ-öø-ÿ])", re.MULTILINE)
_P_INLINE_BEFORE_LETTER = re.compile(r"(?<=\s)(\d{1,3})(?=\s+[A-Za-zÀ-ÖØ-öø-ÿ])")
_P_BEFORE_PAREN = re.compile(r"(?<=\s)(\d{1,3})(?=\s*\()")
_P_MIXED_QUOTES = re.compile(r"""('?\s*"\s*'|'\s*"\s*|"\s*'\s*)""")
_TIDY_COMMA = re.compile(r",\s+(?=[A-Za-z])")
_TIDY_PUNCT = re.compile(r'([\.\!\?\)"”’\]\}\);:])\s+(?=["A-Za-z])')

_CURRENCY_GUARDED_KEYS = frozenset(
    {
        "after_punct_tight", "after_punct", "after_punct_newline", "after_comma",
        "start_of_line_token", "inline_token_before_letter", "before_parenthesis",
    }
)


def strip_numbers_general(text: str, counters: dict) -> str:
    s = text
    tallies = {
        "after_punct_tight": 0, "after_punct": 0, "after_punct_newline": 0,
        "after_comma": 0, "standalone_line": 0,
        "word_num_ctx": 0, "num_at_eol": 0,
        "punct_opt_quotes_num_tight": 0, "punct_opt_quotes_num": 0,
        "word_num_dash": 0, "num_then_tiny_glue_currency": 0,
        "after_currency_word": 0, "start_of_line_token": 0,
        "inline_token_before_letter": 0, "before_parenthesis": 0,
        "mixed_quotes_collapses_post": 0,
    }

    def delete_group1(s: str, pattern: re.Pattern, key: str) -> str:
        cnt = 0
        out = []
        last = 0
        for m in pattern.finditer(s):
            g = m.group(1)
            if is_year(g):
                continue
            if key in _CURRENCY_GUARDED_KEYS:
                if int(g) >= 100 and next_word_is_currency(s, m.end(1)):
                    continue
            out.append(s[last : m.start(1)])
            last = m.end(1)
            cnt += 1
        out.append(s[last:])
        tallies[key] += cnt
        return "".join(out)

    s = delete_group1(s, _P_AFTER_PUNCT_TIGHT, "after_punct_tight")
    s = delete_group1(s, _P_AFTER_PUNCT, "after_punct")
    s = delete_group1(s, _P_AFTER_PUNCT_NL, "after_punct_newline")
    s = delete_group1(s, _P_AFTER_COMMA, "after_comma")
    s = delete_group1(s, _P_STANDALONE, "standalone_line")
    s = delete_group1(s, _P_WORD_NUM_CTX, "word_num_ctx")
    s = _P_NUM_EOL.sub(
        lambda m: m.group(1) + m.group(3) if not is_year(m.group(2)) else m.group(0), s
    )
    s = delete_group1(s, _P_PUNCT_QUOTES_TIGHT, "punct_opt_quotes_num_tight")
    s = delete_group1(s, _P_PUNCT_QUOTES, "punct_opt_quotes_num")
    s = _P_WORD_NUM_DASH.sub(
        lambda m: " " + m.group("dash") if not is_year(m.group("num")) else m.group(0), s
    )
    s = _P_NUM_DASH.sub(lambda m: " " + m.group("dash"), s)

    def keep_or_drop_before_currency(m: re.Match) -> str:
        num = m.group(1)
        if is_year(num):
            return m.group(0)
        middle = (m.group(2) or "").strip()
        if middle:
            words = [w.lower() for w in re.findall(r"[A-Za-zÀ-ÖØ-öø-ÿ']+", middle)]
            if not all((w in _TINY_STOPWORDS or len(w) <= 3) for w in words):
                return m.group(0)
        return m.group(0).replace(num, "", 1)

    s = _P_NUM_GLUE_CURRENCY.sub(keep_or_drop_before_currency, s)
    s = _P_CURRENCY_THEN_NUM.sub(
        lambda m: m.group(0).replace(m.group(2), "", 1) if not is_year(m.group(2)) else m.group(0),
        s,
    )
    s = delete_group1(s, _P_LINE_START, "start_of_line_token")
    s = delete_group1(s, _P_INLINE_BEFORE_LETTER, "inline_token_before_letter")
    s = delete_group1(s, _P_BEFORE_PAREN, "before_parenthesis")

    s = _TIDY_COMMA.sub(", ", s)
    s = _TIDY_PUNCT.sub(r"\1 ", s)

    tallies["mixed_quotes_collapses_post"] = len(list(_P_MIXED_QUOTES.finditer(s)))
    s = _P_MIXED_QUOTES.sub('"', s)

    counters["number_removals"] = {"deletions": tallies}
    return s
