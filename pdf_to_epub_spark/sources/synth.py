"""Deterministic Common-Crawl-style document synthesizer.

Produces the `input_hint` table shape::

    (url: string, warc_ts: timestamp, html: binary, text: string, lang: string)

seeded and reproducible — no wall clock, no external data.  Every document's
``text`` embeds, with known ground truth, the OCR phenomena the reference
pipeline handles (FIXTURES.md §1): running heads and bare page numbers,
protected ``CHAPTER <ROMAN>`` headings, mojibake tokens, soft line wraps and
hyphenation, dialogue quotes and quote islands, footnote numbers with
ordinal/money/year decoys, all-caps chapter openers, and
``---Page-Break---`` sentinels
(`/root/reference/ocr-processing/batch_ocr_with_page_breaks.py:189`).

``html`` is the raw page bytes: the text wrapped in a minimal HTML shell,
UTF-8 encoded; :func:`decode_html` inverts it exactly (the binary-source
decode surface, analog of the reference's RTF path,
`/root/reference/text-processing/legacy/Step1_ocr_cleanup_v7.py:89-104`).
"""

from __future__ import annotations

import datetime
import random
import re

_LANGS = ("en", "fr", "it", "la", "de", "es")

_WORDS = (
    "the time had come for our hero to leave the city and seek his "
    "fortune elsewhere since every road from here led toward some new "
    "adventure and he was never a man to refuse what chance offered him "
    "in the morning light we walked along the canal while the bells rang "
    "and merchants opened their stalls one after another calling out to "
    "passers-by with great good humour she answered him softly and took "
    "his arm as they crossed the little bridge toward the opera house"
).split()

_FRENCH_MOJI = ("Ã©tÃ©", "prÃªt", "ChambÃ©ry", "SociÃ©tÃ©", "d'UrfÃ©", "Ã§a")
_ARTIFACT_TOKENS = ("â€¢", "Â·", "Â«", "Â»")
_MONEY = ("ducats", "louis", "sequins", "francs", "crowns")
_ROMANS = ("I", "II", "III", "IV", "V", "VI", "VII", "VIII", "IX", "X", "XI", "XII")

_SPEECH = (
    "Where did you see him last",
    "You may be sure I shall not forget it",
    "It is no matter",
    "Come with me and say nothing",
    "I have never heard of such a thing",
    "That is exactly what I told her",
)

_OPENERS = (
    "MY ARRIVAL IN", "THE COUNT AND HIS", "A SUPPER AT THE", "I LEAVE THE",
    "AN OLD FRIEND IN", "THE AFFAIR OF THE",
)

_CITIES = ("VENICE", "PARIS", "GENEVA", "NAPLES", "VIENNA", "LONDON")


def _sentence(rng: random.Random) -> str:
    n = rng.randint(6, 16)
    words = [rng.choice(_WORDS) for _ in range(n)]
    if rng.random() < 0.08:
        words.insert(rng.randrange(len(words)), rng.choice(_FRENCH_MOJI))
    if rng.random() < 0.05:
        words.append(f"{rng.randint(1, 300)} {rng.choice(_MONEY)}")
    if rng.random() < 0.04:
        words.append(f"in {rng.randint(1700, 1790)}")
    s = " ".join(words)
    s = s[0].upper() + s[1:]
    return s + rng.choice((".", ".", ".", "!", "?"))


def _paragraph(rng: random.Random, n_sentences: int | None = None) -> str:
    n = n_sentences or rng.randint(2, 6)
    parts = []
    for _ in range(n):
        if rng.random() < 0.25:
            parts.append(f'"{rng.choice(_SPEECH)}." "{rng.choice(_SPEECH)}."')
        else:
            parts.append(_sentence(rng))
    return " ".join(parts)


def _hard_wrap(rng: random.Random, paragraph: str, width: int = 62) -> list[str]:
    """Wrap to fixed width the way OCR output is wrapped, sometimes breaking
    a word with a trailing hyphen (lowercase continuation → joinable)."""
    out: list[str] = []
    line = ""
    for word in paragraph.split(" "):
        if not line:
            line = word
            continue
        if len(line) + 1 + len(word) <= width:
            line += " " + word
            continue
        if len(word) > 7 and word[:3].isalpha() and word.islower() and rng.random() < 0.18:
            cut = rng.randint(3, len(word) - 3)
            out.append(line + " " + word[:cut] + "-")
            line = word[cut:]
        else:
            out.append(line)
            line = word
    if line:
        out.append(line)
    return out


def _running_head(rng: random.Random, volume_no: int, page_no: int) -> list[str]:
    """A header/footer block in the anchor vocabulary of
    reference Step1_ocr_cleanup_v11.py:76-100."""
    shapes = rng.randrange(4)
    if shapes == 0:
        return [f"Volume {volume_no}", "History of My Life", str(page_no)]
    if shapes == 1:
        return [str(page_no), f"Volume {rng.choice(_ROMANS)}", "•"]
    if shapes == 2:
        return ["History of My Life", f"Volume {volume_no} Chapter {rng.choice(_ROMANS)}", str(page_no)]
    return [f"Volume {volume_no}", rng.choice(_ARTIFACT_TOKENS), str(page_no)]


def make_document_text(doc_index: int, seed: int = 42, n_chapters: int | None = None) -> str:
    """One deterministic OCR-style document (pre-pipeline raw text)."""
    rng = random.Random((seed << 20) ^ doc_index)
    volume_no = 1 + doc_index % 12
    n_chapters = n_chapters or rng.randint(2, 5)
    page_no = rng.randint(3, 40)

    lines: list[str] = []
    if rng.random() < 0.8:
        lines += [f"VOLUME {volume_no}", ""]
    if rng.random() < 0.4:
        # A front-matter title that does NOT match the stage-1 anchor
        # vocabulary, so it survives cleanup (→ `title` block).
        lines += ["MEMOIRS OF A TRAVELLER", ""]
    if rng.random() < 0.6:
        lines += ["HISTORY OF MY LIFE", ""]

    for ch in range(n_chapters):
        lines += ["", f"CHAPTER {_ROMANS[ch]}", ""]
        opener = f"{rng.choice(_OPENERS)} {rng.choice(_CITIES)}"
        first = f"{opener} was not what I had expected, " + _sentence(rng).lower()
        lines += _hard_wrap(rng, first)
        lines.append("")

        n_paras = rng.randint(3, 8)
        for p in range(n_paras):
            para = _paragraph(rng)
            if rng.random() < 0.3:
                para += f" He paid{rng.randint(2, 99)} without a word."
            if rng.random() < 0.3:
                para += f" It cost, {rng.randint(3, 99)} more than expected."
            wrapped = _hard_wrap(rng, para)
            # footnote digits stuck on a line end (standalone shape)
            if rng.random() < 0.25 and wrapped:
                wrapped[-1] += f" {rng.randint(1, 99)}"
            if rng.random() < 0.15:
                wrapped.append(rng.choice(("¹", "²", "³")))
            lines += wrapped
            lines.append("")
            # quote island
            if rng.random() < 0.12:
                lines += ['"', ""]
            # running head mid-chapter (page turn) + page-break sentinel
            if rng.random() < 0.45:
                page_no += 1
                lines += _running_head(rng, volume_no, page_no)
                lines.append("")
                if rng.random() < 0.5:
                    lines += ["---Page-Break---", ""]

    return "\n".join(lines) + "\n"


_WS_RE = re.compile(rb"<[^>]+>")


def wrap_html(text: str, url: str) -> bytes:
    """Minimal HTML shell around the raw text (the ``html: binary`` column)."""
    body = text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    page = (
        f"<html><head><title>{url}</title></head>"
        f"<body><pre>{body}</pre></body></html>"
    )
    return page.encode("utf-8")


def decode_html(html: bytes) -> str:
    """Exact inverse of :func:`wrap_html`: strip the shell, unescape."""
    raw = html.decode("utf-8", errors="ignore")
    m = re.search(r"<pre>(.*)</pre>", raw, flags=re.DOTALL)
    body = m.group(1) if m else re.sub(r"<[^>]+>", "", raw)
    return body.replace("&lt;", "<").replace("&gt;", ">").replace("&amp;", "&")


_EPOCH = datetime.datetime(2025, 1, 1)


def make_documents(n: int, seed: int = 42) -> list[dict]:
    """``n`` deterministic rows of the input_hint schema, as plain dicts.

    Heavy-tailed sizes on purpose (WARC-capture skew): roughly 1 in 40
    documents is ~10× longer than the median, which is what the url-hash
    salting / AQE path has to absorb at scale.
    """
    rows = []
    for i in range(n):
        rng = random.Random((seed << 40) ^ i)
        big = rng.random() < 0.025
        text = make_document_text(i, seed=seed, n_chapters=(10 if big else None))
        url = f"https://crawl.invalid/{seed}/doc-{i:08d}"
        rows.append(
            {
                "url": url,
                "warc_ts": _EPOCH + datetime.timedelta(seconds=i % 864_000),
                "html": wrap_html(text, url),
                "text": text,
                "lang": _LANGS[i % len(_LANGS)],
            }
        )
    return rows


def url_bucket(url: str, n_buckets: int) -> int:
    """Deterministic url-hash bucket — the pyarrow-side emulation of an
    Iceberg ``bucket(N, url)`` table layout (DEPLOYMENT.md §Iceberg).  Any
    stable hash works (readers never recompute it; the layout's value is
    that each file holds a disjoint, skew-free url slice); md5 keeps it
    library-free and reproducible."""
    import hashlib

    return int(hashlib.md5(url.encode("utf-8")).hexdigest()[:15], 16) % n_buckets


def _write_part_files(
    rows: list, schema, path: str, n_files: int, bucket_by_url: bool,
    name_fmt: str,
) -> None:
    """Shared chunk-and-write tail of the corpus writers: one file at
    ``n_files <= 1``, else sequential chunks or (``bucket_by_url``) the
    url-hash bucket layout — file i holds exactly bucket i, so a reader
    may treat file == Iceberg ``bucket(N, url)`` partition.  Empty
    buckets write no file.  ``name_fmt`` preserves each caller's
    historical part naming (cache directories are keyed by content)."""
    import pathlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    if n_files <= 1:
        pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)
        return
    out = pathlib.Path(path)
    out.mkdir(parents=True, exist_ok=True)
    if bucket_by_url:
        chunks: list[list[dict]] = [[] for _ in range(n_files)]
        for r in rows:
            chunks[url_bucket(r["url"], n_files)].append(r)
    else:
        per = (len(rows) + n_files - 1) // n_files
        chunks = [rows[i * per : (i + 1) * per] for i in range(n_files)]
    for i, chunk in enumerate(chunks):
        if chunk:
            pq.write_table(
                pa.Table.from_pylist(chunk, schema=schema),
                out / name_fmt.format(i),
            )


def write_parquet(
    path: str,
    n: int,
    seed: int = 42,
    n_files: int = 1,
    bucket_by_url: bool = False,
) -> None:
    """Materialize a corpus (pyarrow; no Spark needed).

    ``n_files > 1`` writes a directory of part files — the realistic shape
    of a crawl corpus, and what lets the Spark scan parallelize instead of
    treating one jumbo file as a single input split.

    ``bucket_by_url=True`` assigns rows to files by url-hash instead of
    sequential chunks — the on-disk shape of the Iceberg ``bucket(N,
    url)`` layout the 100 TB deployment prescribes, under which extraction
    runs shuffle-free (``salt_partitions=None``): capture skew is already
    dead at the storage layer, so the runtime salt repartition (the
    fallback for unbucketed input) is pure overhead."""
    import pyarrow as pa

    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    rows = make_documents(n, seed)
    _write_part_files(
        rows, schema, path, n_files, bucket_by_url, "part-{:04d}.parquet"
    )


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("out", help="output parquet path")
    ap.add_argument("-n", type=int, default=1000)
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args()
    write_parquet(args.out, args.n, args.seed)
    print(f"wrote {args.n} docs to {args.out}")


# Non-blank line test shared by Python, Spark (rlike) and DuckDB
# (regexp_matches): an explicit class, because Python str.strip(), Java \S
# and RE2 \S disagree on exotic whitespace (NBSP etc.).
NONBLANK_PATTERN = "[^ \t\r]"
_NONBLANK = re.compile(NONBLANK_PATTERN)

_NAV = (
    '<nav><a href="/">Home</a> <a href="/tags">Tags</a> '
    '<a href="/archive">Archive</a></nav>'
)
_AD = '<div class="ad"><a href="/buy">Buy now</a> <a href="/promo">Promo</a></div>'
_ASIDE = '<aside><p>Related: <a href="/r1">one</a> <a href="/r2">two</a></p></aside>'


def make_boilerplate_page(doc_id: int, url: str, text: str) -> bytes:
    """Deterministic Common-Crawl-style page: the document's non-blank lines
    as <p> paragraphs inside realistic boilerplate (nav/header/footer/aside,
    interleaved link-dense ad divs).  The Python twin of the JVM-side
    construction in __spark_entry__._q_html_boilerplate_extract — ground
    truth for the HTML extraction mode is therefore a pure function of
    (doc_id, text): heading 'Document <id>' plus every NONBLANK_PATTERN
    line."""
    esc = text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    lines = [ln for ln in esc.split("\n") if _NONBLANK.search(ln)]
    paras = "".join(
        f"<p>{ln}</p>" + (_AD if i % 4 == 2 else "")
        for i, ln in enumerate(lines)
    )
    page = (
        f"<html><head><title>{url}</title></head><body>"
        f"{_NAV}"
        f"<header><p>Crawl header {doc_id}</p></header>"
        f"<h1>Document {doc_id}</h1>"
        f"{paras}"
        f"{_ASIDE}"
        f"<footer><p>(c) 2025 crawl.invalid {doc_id}</p></footer>"
        "</body></html>"
    )
    return page.encode("utf-8")


def expected_main_content(doc_id: int, text: str) -> str:
    """Ground-truth main content for :func:`make_boilerplate_page`."""
    lines = [ln for ln in text.split("\n") if _NONBLANK.search(ln)]
    return f"Document {doc_id}\n" + "".join(ln + "\n" for ln in lines)
