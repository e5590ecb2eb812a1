"""Tests of the benchmark harness itself (not of the program).

    python3 -m pytest perfbench/tests -q

Run from the repository root: the oracle tests call the program's
pure-Python extractor, the generator tests its synthesizer.
"""

from __future__ import annotations

import io
import os
import pathlib
import subprocess
import sys
import time
import zipfile

import pyarrow.parquet as pq
import pytest

BENCH = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(BENCH))
sys.path.insert(0, str(BENCH.parent))

import gen  # noqa: E402
import oracle  # noqa: E402
import procstat  # noqa: E402
from pdf_to_epub_spark.export import epub_bytes  # noqa: E402
from pdf_to_epub_spark.extractlib import extract_document  # noqa: E402
from pdf_to_epub_spark.sources.synth import make_documents  # noqa: E402


@pytest.fixture(scope="module")
def assembled():
    """Assembled rows as the OCR workload collects them, built from the
    driver-side transform, plus the input texts."""
    docs = make_documents(6, seed=5)
    rows = []
    for d in docs:
        res = extract_document(d["text"])
        rows.append(
            {
                "url": d["url"],
                "assembled_text": res.text,
                "blocks": [b._asdict() for b in res.blocks],
            }
        )
    return rows, {d["url"]: d["text"] for d in docs}


def _check(rows, texts):
    return oracle.check_assembled(rows, set(texts), {}, texts, extract_document)


def test_oracle_accepts_correct_rows(assembled):
    rows, texts = assembled
    report = _check(rows, texts)
    assert report.attempted == len(texts)
    assert report.failures == {}


def test_oracle_detects_corrupted_text(assembled):
    rows, texts = assembled
    bad = [dict(r) for r in rows]
    text = bad[2]["assembled_text"]
    bad[2]["assembled_text"] = text[:10] + ("x" if text[10] != "x" else "y") + text[11:]
    report = _check(bad, texts)
    assert set(report.failures) == {bad[2]["url"]}
    assert report.error_rate == pytest.approx(1 / len(texts))


def test_oracle_detects_broken_tiling(assembled):
    rows, texts = assembled
    bad = [dict(r) for r in rows]
    blocks = [dict(b) for b in bad[1]["blocks"]]
    blocks[0]["span_end"] += 1
    bad[1]["blocks"] = blocks
    assert set(_check(bad, texts).failures) == {bad[1]["url"]}


def test_oracle_detects_missing_and_duplicated_rows(assembled):
    rows, texts = assembled
    report = _check(rows[1:] + [rows[3]], texts)
    assert report.failures[rows[0]["url"]] == "missing"
    assert report.failures[rows[3]["url"]].startswith("duplicated")


def test_oracle_detects_golden_mismatch(assembled):
    rows, texts = assembled
    golden = {rows[0]["url"]: oracle.sha(rows[0]["assembled_text"]), rows[1]["url"]: "0" * 64}
    report = oracle.check_assembled(rows, set(texts), golden, {}, extract_document)
    assert set(report.failures) == {rows[1]["url"]}


def test_oracle_detects_wrong_pii_count():
    truth = {
        "pages": {"u1": {"clean_sha": oracle.sha("a <EMAIL>"), "pii": [1, 0, 0]},
                  "u2": {"clean_sha": oracle.sha("b"), "pii": [0, 0, 0]}},
        "survivors": ["u1"],
    }
    good = [{"url": "u1", "text": "a <EMAIL>", "n_email": 1, "n_ip": 0, "n_phone": 0, "split": "train"}]
    assert oracle.check_ingest(good, truth).failures == {}
    bad = [dict(good[0], n_email=2)]
    assert set(oracle.check_ingest(bad, truth).failures) == {"u1"}
    # a dropped duplicate that came back is an unexpected survivor
    extra = good + [{"url": "u2", "text": "b", "n_email": 0, "n_ip": 0, "n_phone": 0, "split": "val"}]
    assert set(oracle.check_ingest(extra, truth).failures) == {"u2"}


def test_epub_check_requires_mimetype_first():
    res = extract_document(make_documents(1, seed=9)[0]["text"])
    good = epub_bytes(res.blocks, url="u")
    assert oracle.epub_error(good) is None
    buf = io.BytesIO()
    with zipfile.ZipFile(io.BytesIO(good)) as src, zipfile.ZipFile(buf, "w") as dst:
        for info in reversed(src.infolist()):
            dst.writestr(info, src.read(info))
    assert oracle.epub_error(buf.getvalue()) is not None
    assert oracle.epub_error(b"not a zip") == "not a zip"


def _table(path: pathlib.Path):
    return pq.read_table(path).sort_by("url")


def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path):
    truths = {}
    for name, seed in (("a", 1), ("b", 1), ("c", 2)):
        truths[name] = gen.gen_html(tmp_path / name, seed, n_base=40)
    assert _table(tmp_path / "a" / "pages").equals(_table(tmp_path / "b" / "pages"))
    assert truths["a"] == truths["b"]
    assert not _table(tmp_path / "a" / "pages").equals(_table(tmp_path / "c" / "pages"))
    assert truths["a"]["pages"] != truths["c"]["pages"]


def test_recrawl_batches_half_committed(tmp_path):
    truth = gen.gen_recrawl(tmp_path, 3, pool_size=20, batch_new=10, n_batches=3)
    seen = set(truth["precommitted"])
    for b in truth["batches"]:
        assert len(b["new"]) == len(b["repeats"]) == 10
        assert set(b["repeats"]) <= seen
        assert not set(b["new"]) & seen
        seen |= set(b["new"])


_WORKER = "import time; x = bytearray(60 << 20); t = time.process_time()\nwhile time.process_time() - t < 0.8: pass"
_DAEMON = (
    "import subprocess, sys, time\n"
    f"ps = [subprocess.Popen([sys.executable, '-c', {_WORKER!r}]) for _ in range(2)]\n"
    "[p.wait() for p in ps]\n"
    "time.sleep(30)\n"
)


def test_sampler_counts_python_workers():
    """A daemon forks two Python workers, like PySpark's worker daemon: the
    sampler sees the workers' memory while they run and keeps their CPU
    time after the daemon reaps them."""
    sampler = procstat.TreeSampler(interval_s=0.05)
    sampler.start()
    cpu0 = sampler.cpu_seconds()
    daemon = subprocess.Popen([sys.executable, "-c", _DAEMON])
    try:
        deadline = time.monotonic() + 20
        while len(procstat.descendants(os.getpid())) < 3 and time.monotonic() < deadline:
            time.sleep(0.01)
        assert len(procstat.descendants(os.getpid())) == 3
        while len(procstat.descendants(os.getpid())) > 1 and time.monotonic() < deadline:
            time.sleep(0.05)
        assert procstat.descendants(os.getpid()) == [daemon.pid]
        cpu_s = sampler.cpu_seconds() - cpu0
        peak_rss = sampler.take_peak()
    finally:
        sampler.stop()
        daemon.kill()
        daemon.wait(timeout=10)
    assert cpu_s >= 1.5
    assert peak_rss >= 2 * (60 << 20)
    assert sampler.take_peak() < peak_rss  # a new peak starts after each take
