"""Seeded input generator for the extraction benchmark.

    python3 perfbench/gen.py --workload ocr_books --seed 3 --out DIR [--trace 1]

Writes the parquet inputs the program reads under ``DIR/<part>/`` and, for
the oracle only, ``DIR/truth.json``.  The same seed gives byte-identical
inputs.  With ``--trace 1`` it also writes the small side inputs the traced
run uses to measure layers that the chosen workload does not exercise, and
the driver-side extractlib sample.

Documents come from the program's own synthesizer
(``pdf_to_epub_spark.sources.synth``); the 1000 reference-goldened test
documents are mixed into ``ocr_books`` from ``perfbench/golden_inputs``.
"""

from __future__ import annotations

import argparse
import datetime
import hashlib
import json
import pathlib
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

HERE = pathlib.Path(__file__).resolve().parent
GOLDEN_INPUTS = ("sf0.001", "sf0.01")

PAGE_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
HTML_PAGE_SCHEMA = pa.schema(
    [f for f in PAGE_SCHEMA if f.name != "text"]
)
# The recrawl workload's committed table: one row per committed document.
COMMITTED_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("doc_hash", pa.string()),
        ("status", pa.string()),
        ("text", pa.string()),
        ("n_chars", pa.int64()),
        ("n_blocks", pa.int32()),
    ]
)

# Sizes.  One ocr_books pass is ~3 s and one html_ingest pass ~5 s at
# local[4]; a recrawl batch is a small job, so the loop sees several.
OCR_SYNTH_DOCS = 1600
OCR_FILES = 4
OCR_SAMPLE = 128
WARMUP_DOCS = 160
HTML_BASE_DOCS = 400
HTML_FILES = 4
RECRAWL_POOL = 400
RECRAWL_BATCH_NEW = 200
RECRAWL_BATCHES = 24
RECRAWL_SAMPLE = 64
EXTRACTLIB_SAMPLE = 1000

_EDIT_WORDS = ("lantern", "harbour", "orchard", "velvet", "compass", "meadow")


def _synth():
    # imported lazily so the CLI can report a missing program cleanly
    from pdf_to_epub_spark.sources import synth

    return synth


def _sub_seed(seed: int, salt: int) -> int:
    """Distinct, reproducible synthesizer seed for one input part."""
    return seed * 1009 + salt


def _write_bucketed(rows: list[dict], schema, out: pathlib.Path, n_files: int) -> None:
    """url-hash bucket layout: file i holds exactly the urls of bucket i."""
    out.mkdir(parents=True, exist_ok=True)
    buckets: list[list[dict]] = [[] for _ in range(n_files)]
    for r in rows:
        buckets[_synth().url_bucket(r["url"], n_files)].append(r)
    for i, chunk in enumerate(buckets):
        if chunk:
            pq.write_table(
                pa.Table.from_pylist(chunk, schema=schema),
                out / f"part-{i:04d}.parquet",
            )


def _write_one(rows: list[dict], schema, out: pathlib.Path) -> None:
    out.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), out / "part-0000.parquet")


def _golden_rows() -> list[dict]:
    """The reference-goldened test documents under unique urls.  The url
    carries the corpus key of ``tests/golden/extraction_golden.parquet``
    (md5 of doc 0's text) so the oracle can look up each golden hash."""
    rows = []
    ts = datetime.datetime(2024, 6, 1)
    for name in GOLDEN_INPUTS:
        tbl = pq.read_table(HERE / "golden_inputs" / f"{name}_documents.parquet")
        docs = tbl.select(["doc_id", "text", "lang"]).to_pylist()
        key = hashlib.md5(
            next(d["text"] for d in docs if d["doc_id"] == 0).encode("utf-8")
        ).hexdigest()
        for d in docs:
            url = f"https://golden.invalid/{key}/doc-{d['doc_id']}"
            rows.append(
                {
                    "url": url,
                    "warc_ts": ts,
                    "html": _synth().wrap_html(d["text"], url),
                    "text": d["text"],
                    "lang": d["lang"],
                }
            )
    return rows


def gen_ocr(out: pathlib.Path, seed: int, n_synth: int = OCR_SYNTH_DOCS) -> dict:
    synth = _synth()
    rng = random.Random(seed)
    docs = synth.make_documents(n_synth, _sub_seed(seed, 1))
    golden = _golden_rows()
    rows = docs + golden
    rng.shuffle(rows)
    _write_bucketed(rows, PAGE_SCHEMA, out / "pages", OCR_FILES)
    warm = synth.make_documents(WARMUP_DOCS, _sub_seed(seed, 10))
    _write_bucketed(warm, PAGE_SCHEMA, out / "warmup", 4)
    return {
        "n_docs": len(rows),
        "golden": [r["url"] for r in golden],
        "sample": sorted(rng.sample([d["url"] for d in docs], min(OCR_SAMPLE, n_synth))),
    }


def _plant_pii(rng: random.Random, text: str, k: int) -> tuple[str, list[tuple[str, str]]]:
    """Insert 1-2 lines carrying an email, an IPv4 and a phone number.
    Returns the new text and the (planted string, placeholder) list."""
    lines = text.split("\n")
    planted: list[tuple[str, str]] = []
    for j in range(rng.randint(1, 2)):
        n = 10 * k + j
        email = f"reader{n}@mail{n % 7}.example.org"
        ip = f"10.{n % 250}.{(n * 7) % 250}.{(n * 13) % 250}"
        phone = f"+1 555 {n % 1000:03d} {n % 10000:04d}"
        pos = rng.randint(1, len(lines) - 1)
        lines.insert(pos, f"Write to {email} or call {phone} from {ip} today.")
        planted += [(email, "<EMAIL>"), (ip, "<IP>"), (phone, "<PHONE>")]
    return "\n".join(lines), planted


def _edit_words(rng: random.Random, text: str, n_edits: int = 3) -> str:
    """Near-duplicate: replace ``n_edits`` words on prose lines."""
    lines = text.split("\n")
    prose = [i for i, ln in enumerate(lines) if len(ln.split(" ")) >= 6]
    for i in rng.sample(prose, n_edits):
        words = lines[i].split(" ")
        words[rng.randrange(len(words))] = rng.choice(_EDIT_WORDS)
        lines[i] = " ".join(words)
    return "\n".join(lines)


def _shingles(text: str, k: int = 5) -> set[tuple[str, ...]]:
    toks = text.lower().split()
    return {tuple(toks[i : i + k]) for i in range(max(len(toks) - k + 1, 1))}


def _jaccard(a: str, b: str) -> float:
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb)


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def gen_html(out: pathlib.Path, seed: int, n_base: int = HTML_BASE_DOCS) -> dict:
    """Boilerplate pages with planted exact duplicates, near duplicates
    (a few words edited) and PII.  Every duplicate group is a base page
    plus 1-2 copies whose urls sort after the base url, so the survivor of
    each group is its base page under the program's keep-lowest-id rule."""
    synth = _synth()
    rng = random.Random(seed)
    docs = synth.make_documents(n_base, _sub_seed(seed, 2))
    n_groups = max(n_base // 20, 2)
    picks = rng.sample(range(n_base), 3 * n_groups)
    exact_src = picks[:n_groups]
    near_src = picks[n_groups : 2 * n_groups]
    pii_src = set(picks[2 * n_groups :])

    rows: list[dict] = []
    pages: dict[str, dict] = {}

    def add(doc_id: int, base: dict, url: str, text: str, planted, kind: str):
        rows.append(
            {
                "url": url,
                "warc_ts": base["warc_ts"],
                "html": synth.make_boilerplate_page(doc_id, url, text),
                "lang": base["lang"],
            }
        )
        main = synth.expected_main_content(doc_id, text)
        clean = main
        for raw, token in planted:
            clean = clean.replace(raw, token)
        pages[url] = {
            "main_sha": _sha(main),
            "clean_sha": _sha(clean),
            "pii": [sum(tok == t for _, tok in planted) for t in ("<EMAIL>", "<IP>", "<PHONE>")],
            "kind": kind,
        }

    near_pairs: list[list[str]] = []
    for i, d in enumerate(docs):
        text, planted = d["text"], []
        if i in pii_src:
            text, planted = _plant_pii(rng, text, i)
        add(i, d, d["url"], text, planted, "base")
        if i in exact_src:
            for j in range(rng.randint(1, 2)):
                add(i, d, f"{d['url']}~exact{j}", text, planted, "exact")
        if i in near_src:
            main = synth.expected_main_content(i, text)
            for j in range(rng.randint(1, 2)):
                edited = _edit_words(rng, text)
                if _jaccard(main, synth.expected_main_content(i, edited)) < 0.85:
                    continue  # too short a doc to stay a clear near duplicate
                url = f"{d['url']}~near{j}"
                add(i, d, url, edited, planted, "near")
                near_pairs.append([d["url"], url])
    rng.shuffle(rows)
    _write_bucketed(rows, HTML_PAGE_SCHEMA, out / "pages", HTML_FILES)
    warm = synth.make_documents(WARMUP_DOCS // 4, _sub_seed(seed, 20))
    warm_rows = [
        {k: r[k] for k in ("url", "warc_ts", "lang")}
        | {"html": synth.make_boilerplate_page(j, r["url"], r["text"])}
        for j, r in enumerate(warm)
    ]
    _write_bucketed(warm_rows, HTML_PAGE_SCHEMA, out / "warmup", 4)
    return {
        "n_docs": len(rows),
        "pages": pages,
        "survivors": sorted(u for u, p in pages.items() if p["kind"] == "base"),
        "near_pairs": near_pairs,
    }


def _recrawl_variant(base: dict, capture: int, idx: int, seed: int) -> dict:
    """A recrawl capture of a pool document: same book, one new trailing
    line, so its content hash (and url) is new."""
    synth = _synth()
    url = f"https://crawl.invalid/{seed}/recrawl-{capture:04d}-{idx:05d}"
    text = base["text"] + f"\nCaptured again in crawl {capture}.\n"
    return {
        "url": url,
        "warc_ts": base["warc_ts"] + datetime.timedelta(days=capture),
        "html": synth.wrap_html(text, url),
        "text": text,
        "lang": base["lang"],
    }


def gen_recrawl(
    out: pathlib.Path,
    seed: int,
    pool_size: int = RECRAWL_POOL,
    batch_new: int = RECRAWL_BATCH_NEW,
    n_batches: int = RECRAWL_BATCHES,
) -> dict:
    """Successive recrawl batches.  Each batch holds ``batch_new`` new
    captures plus as many repeats of documents committed before it (drawn
    from the pre-committed table and earlier batches), shuffled."""
    synth = _synth()
    rng = random.Random(seed)
    pool = synth.make_documents(pool_size, _sub_seed(seed, 3))
    capture = 0
    cursor = 0

    def fresh(n: int) -> list[dict]:
        nonlocal capture, cursor
        capture += 1
        rows = []
        for _ in range(n):
            rows.append(_recrawl_variant(pool[cursor % pool_size], capture, cursor, seed))
            cursor += 1
        return rows

    pre = fresh(batch_new)
    _write_one(
        [
            {"url": r["url"], "doc_hash": hashlib.sha256(r["html"]).hexdigest(), "status": "ok"}
            for r in pre
        ],
        COMMITTED_SCHEMA,
        out / "committed0",
    )
    committed = list(pre)
    batches = []
    for k in range(n_batches):
        new = fresh(batch_new)
        repeats = rng.sample(committed, batch_new)
        rows = new + repeats
        rng.shuffle(rows)
        _write_bucketed(rows, PAGE_SCHEMA, out / "batches" / f"batch-{k:04d}", 4)
        batches.append({"new": [r["url"] for r in new], "repeats": [r["url"] for r in repeats]})
        committed += new
    # half new, half already in committed0: the warm-up batch runs the same
    # skip path as the measured batches
    warm = fresh(batch_new // 4) + rng.sample(pre, batch_new // 4)
    _write_bucketed(warm, PAGE_SCHEMA, out / "warmup", 4)
    new_urls = [u for b in batches for u in b["new"]]
    return {
        "precommitted": [r["url"] for r in pre],
        "batches": batches,
        "sample": sorted(rng.sample(new_urls[: 2 * batch_new], min(RECRAWL_SAMPLE, 2 * batch_new))),
    }


def gen_extractlib_sample(out: pathlib.Path, seed: int) -> None:
    """Driver-side samples for the per-document extractlib timings."""
    synth = _synth()
    docs = synth.make_documents(EXTRACTLIB_SAMPLE, _sub_seed(seed, 4))
    # four files: the scaling probe extracts them as four scan tasks
    _write_bucketed(docs, PAGE_SCHEMA, out / "extractlib_sample", 4)


GENERATORS = {"ocr_books": gen_ocr, "html_ingest": gen_html, "recrawl_publish": gen_recrawl}


def generate(workload: str, seed: int, out: pathlib.Path, trace: bool) -> dict:
    """All inputs of one benchmark run; returns (and writes) the truth."""
    truth = {"workload": workload, "seed": seed}
    truth[workload] = GENERATORS[workload](out / workload, seed)
    if trace:
        # small side inputs for the layers this workload does not run
        if workload != "html_ingest":
            truth["html_ingest"] = gen_html(out / "html_ingest", seed, n_base=60)
        if workload != "recrawl_publish":
            truth["recrawl_publish"] = gen_recrawl(
                out / "recrawl_publish", seed, pool_size=100, batch_new=50, n_batches=2
            )
        gen_extractlib_sample(out, seed)
    (out / "truth.json").write_text(json.dumps(truth))
    return truth


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    args = ap.parse_args(argv)
    sys.path.insert(0, str(pathlib.Path.cwd()))  # the program, run from the repository root
    generate(args.workload, args.seed, pathlib.Path(args.out), bool(args.trace))
    return 0


if __name__ == "__main__":
    sys.exit(main())
