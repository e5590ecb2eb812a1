"""Output checks for every workload.  Pure Python over collected rows, so
the checks can be tested without Spark.

Each check returns a :class:`Report`: the documents it attempted and, per
failing document, the first reason it failed.  ``error_rate`` is failing
documents over attempted documents.
"""

from __future__ import annotations

import hashlib
import io
import pathlib
import zipfile
from collections import Counter
from dataclasses import dataclass, field


@dataclass
class Report:
    attempted: int = 0
    failures: dict[str, str] = field(default_factory=dict)

    def fail(self, url: str, reason: str) -> None:
        self.failures.setdefault(url, reason)

    def merge(self, other: "Report", label: str) -> None:
        """Add another check's documents; its failures are keyed by label."""
        self.attempted += other.attempted
        for url, reason in other.failures.items():
            self.fail(f"{label}: {url}", reason)

    @property
    def failed(self) -> int:
        return len(self.failures)

    @property
    def error_rate(self) -> float:
        return self.failed / max(self.attempted, 1)


def sha(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def _presence(report: Report, urls: list[str], expected: set[str]) -> set[str]:
    """Flag duplicated, unexpected and missing urls; return the urls
    present exactly once and expected."""
    counts = Counter(urls)
    for url, n in counts.items():
        if n > 1:
            report.fail(url, f"duplicated x{n}")
        elif url not in expected:
            report.fail(url, "unexpected url")
    for url in expected - counts.keys():
        report.fail(url, "missing")
    return {u for u, n in counts.items() if n == 1 and u in expected}


def tiling_error(text: str, blocks: list[dict]) -> str | None:
    """Blocks must tile ``text``: contiguous ``block_id`` from 0, each span
    as long as its block text, spans back to back from 0 to ``len(text)``,
    and the block texts concatenating to ``text``."""
    pos = 0
    for i, b in enumerate(sorted(blocks, key=lambda b: b["block_id"])):
        if b["block_id"] != i:
            return f"block_id {b['block_id']} at position {i}"
        if b["span_start"] != pos:
            return f"block {i} starts at {b['span_start']}, expected {pos}"
        if b["span_end"] - b["span_start"] != len(b["text"]):
            return f"block {i} span length != text length"
        if text[pos : b["span_end"]] != b["text"]:
            return f"block {i} text differs from its span"
        pos = b["span_end"]
    if pos != len(text):
        return f"blocks end at {pos}, text has {len(text)} chars"
    return None


def _same_as_driver(row: dict, extract_document) -> str | None:
    """Compare one assembled document with the driver-side transform."""
    ref = extract_document(row["input_text"])
    if ref.status != "ok" or sha(ref.text) != sha(row["assembled_text"]):
        return "differs from driver-side extract_document"
    got = [(b["block_id"], b["block_type"], b["span_start"], b["span_end"])
           for b in sorted(row["blocks"], key=lambda b: b["block_id"])]
    want = [(b.block_id, b.block_type, b.span_start, b.span_end) for b in ref.blocks]
    return None if got == want else "blocks differ from driver-side segmentation"


def check_assembled(
    rows: list[dict],
    expected: set[str],
    golden_sha: dict[str, str],
    sample: dict[str, str],
    extract_document,
) -> Report:
    """OCR-mode assembled documents ``(url, assembled_text, blocks)``.

    ``golden_sha``: url -> reference text hash.  ``sample``: url -> input
    text of the documents also checked against ``extract_document``."""
    report = Report(attempted=len(expected))
    present = _presence(report, [r["url"] for r in rows], expected)
    for r in rows:
        url = r["url"]
        if url not in present:
            continue
        err = tiling_error(r["assembled_text"], r["blocks"])
        if err:
            report.fail(url, err)
        elif url in golden_sha and sha(r["assembled_text"]) != golden_sha[url]:
            report.fail(url, "text differs from the reference golden")
        elif url in sample:
            err = _same_as_driver(r | {"input_text": sample[url]}, extract_document)
            if err:
                report.fail(url, err)
    return report


def check_html_extract(rows: list[dict], pages: dict[str, dict]) -> Report:
    """Every page's assembled main content against ``expected_main_content``
    (``pages[url]["main_sha"]``)."""
    report = Report(attempted=len(pages))
    present = _presence(report, [r["url"] for r in rows], set(pages))
    for r in rows:
        if r["url"] in present and sha(r["assembled_text"]) != pages[r["url"]]["main_sha"]:
            report.fail(r["url"], "main content differs from expected_main_content")
    return report


def check_ingest(rows: list[dict], truth: dict) -> Report:
    """The ingest corpus ``(url, text, n_email, n_ip, n_phone, split)``:
    exactly the base page of every duplicate group survives, with its PII
    scrubbed and counted, and a split assigned."""
    pages = truth["pages"]
    report = Report(attempted=len(pages))
    survivors = set(truth["survivors"])
    present = _presence(report, [r["url"] for r in rows], survivors)
    for r in rows:
        url = r["url"]
        if url not in present:
            continue
        want = pages[url]
        if sha(r["text"]) != want["clean_sha"]:
            report.fail(url, "scrubbed text differs from expected")
        elif [r["n_email"], r["n_ip"], r["n_phone"]] != want["pii"]:
            report.fail(url, f"pii counts {[r['n_email'], r['n_ip'], r['n_phone']]} != {want['pii']}")
        elif r["split"] not in ("train", "val", "test"):
            report.fail(url, f"bad split {r['split']!r}")
    return report


def epub_error(payload: bytes) -> str | None:
    """A valid EPUB container: a zip whose first entry is an uncompressed
    ``mimetype`` reading ``application/epub+zip``, with the container and
    package documents present."""
    try:
        with zipfile.ZipFile(io.BytesIO(payload)) as z:
            first = z.infolist()[0]
            if first.filename != "mimetype" or first.compress_type != zipfile.ZIP_STORED:
                return "mimetype is not the first, stored entry"
            if z.read("mimetype") != b"application/epub+zip":
                return "wrong mimetype"
            names = set(z.namelist())
            if not {"META-INF/container.xml", "OEBPS/content.opf"} <= names:
                return "container or package document missing"
            if z.testzip() is not None:
                return "corrupt zip member"
    except (zipfile.BadZipFile, IndexError, KeyError):
        return "not a zip"
    return None


def epub_name(url: str) -> str:
    """File name ``export_partition`` gives a document's EPUB."""
    return hashlib.sha256(url.encode("utf-8")).hexdigest()[:16] + ".epub"


def check_recrawl(
    committed: list[dict],
    lineage: list[dict],
    epub_dir: pathlib.Path,
    truth: dict,
    n_batches: int,
    sample: dict[str, str],
    extract_document,
) -> Report:
    """After ``n_batches`` recrawl batches: every unique document committed
    exactly once with status ok, one valid EPUB per new document,
    lineage rows counting every new document, and sampled texts equal to
    the driver-side transform."""
    batches = truth["batches"][:n_batches]
    new = [u for b in batches for u in b["new"]]
    report = Report(attempted=sum(len(b["new"]) + len(b["repeats"]) for b in batches))
    expected = set(truth["precommitted"]) | set(new)
    present = _presence(report, [r["url"] for r in committed], expected)
    by_url = {r["url"]: r for r in committed if r["url"] in present}
    for url in new:
        row = by_url.get(url)
        if row is None:
            continue
        if row["status"] != "ok":
            report.fail(url, f"status {row['status']}")
        elif url in sample and sha(row["text"]) != sha(extract_document(sample[url]).text):
            report.fail(url, "committed text differs from driver-side extract_document")
    files = {p.name: p for p in epub_dir.glob("*.epub")} if epub_dir.is_dir() else {}
    for url in new:
        path = files.pop(epub_name(url), None)
        if path is None:
            report.fail(url, "no EPUB")
        else:
            err = epub_error(path.read_bytes())
            if err:
                report.fail(url, err)
    for name in files:
        report.fail(name, "EPUB for a document that was not new")
    lineage_docs = sum(r["url_count"] for r in lineage)
    if lineage_docs != len(new):
        report.fail("lineage", f"partition_metrics counts {lineage_docs} docs, {len(new)} new")
    return report
