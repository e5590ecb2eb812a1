"""Incremental (availableNow) extraction: process only new files per run."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from pdf_to_epub_spark.sources.synth import make_documents
from pdf_to_epub_spark.streaming import incremental_extract

_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def _write_batch(dirpath, rows, name):
    pq.write_table(pa.Table.from_pylist(rows, schema=_SCHEMA), f"{dirpath}/{name}")


def test_incremental_extract_resumes_from_checkpoint(spark, tmp_path):
    inp = tmp_path / "in"
    outp = tmp_path / "out"
    cp = tmp_path / "cp"
    inp.mkdir()

    rows = make_documents(12, seed=5)
    _write_batch(inp, rows[:7], "batch1.parquet")
    incremental_extract(spark, str(inp), str(outp), str(cp))
    first = spark.read.parquet(str(outp))
    assert first.count() == 7

    # second run with no new files → no new rows
    incremental_extract(spark, str(inp), str(outp), str(cp))
    assert spark.read.parquet(str(outp)).count() == 7

    # new file arrives → only its rows are processed
    _write_batch(inp, rows[7:], "batch2.parquet")
    incremental_extract(spark, str(inp), str(outp), str(cp))
    final = spark.read.parquet(str(outp))
    assert final.count() == 12
    assert final.select("url").distinct().count() == 12
    assert final.where("status = 'ok'").count() == 12


def test_windowed_ingest_rate(spark, tmp_path):
    from pdf_to_epub_spark.streaming import windowed_ingest_rate

    inp = tmp_path / "win_in"
    inp.mkdir()
    _write_batch(inp, make_documents(30, seed=9), "b.parquet")
    q = windowed_ingest_rate(spark, str(inp), window="1 hour", query_name="rates_t")
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM rates_t").collect()
    assert rows
    assert sum(r["pages"] for r in rows) == 30
    assert all(r["chars"] > 0 for r in rows)
    langs = {r["lang"] for r in rows}
    assert langs <= {"en", "fr", "it", "la", "de", "es"}


def test_stateful_first_seen_dedup(spark, tmp_path):
    """applyInPandasWithState: duplicates are suppressed across batches."""
    from pdf_to_epub_spark.streaming.stateful import streaming_first_seen
    from pdf_to_epub_spark.streaming import PAGES_SCHEMA

    inp = tmp_path / "state_in"
    out_cp = tmp_path / "state_cp"
    out_dir = tmp_path / "state_out"
    inp.mkdir()
    rows = make_documents(10, seed=13)

    def run_batch():
        stream = spark.readStream.schema(PAGES_SCHEMA).parquet(str(inp))
        q = (
            streaming_first_seen(stream)
            .writeStream.format("parquet")
            .option("path", str(out_dir))
            .option("checkpointLocation", str(out_cp))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # batch 1: docs 0-6, with doc 0 duplicated under another url
    b1 = rows[:7] + [dict(rows[0], url="https://mirror.invalid/0")]
    _write_batch(inp, b1, "b1.parquet")
    run_batch()
    got1 = spark.read.parquet(str(out_dir)).collect()
    assert len(got1) == 7  # 8 rows, 7 distinct hashes
    dupes = {r["doc_hash"]: r["n_dupes_in_batch"] for r in got1}
    assert sorted(dupes.values()) == [0, 0, 0, 0, 0, 0, 1]

    # batch 2: docs 5-9 (5,6 are re-crawls → suppressed), 7-9 new
    _write_batch(inp, rows[5:], "b2.parquet")
    run_batch()
    got2 = spark.read.parquet(str(out_dir)).collect()
    assert len(got2) == 10  # only the 3 new hashes were appended


def test_first_seen_key_is_the_extraction_doc_hash(spark, tmp_path):
    """A binary page that is not valid UTF-8 (a cp1252 byte) keys
    first-seen dedup on the same ``doc_hash`` that extraction records,
    so streamed first-seen keys join against a committed table."""
    from pdf_to_epub_spark.operators import extract_documents
    from pdf_to_epub_spark.streaming import PAGES_SCHEMA
    from pdf_to_epub_spark.streaming.stateful import streaming_first_seen

    inp = tmp_path / "cp1252_in"
    inp.mkdir()
    row = {"url": "doc://cafe", "warc_ts": None, "html": b"<p>caf\xe9</p>",
           "text": None, "lang": "fr"}
    _write_batch(inp, [row], "b.parquet")
    q = (
        streaming_first_seen(
            spark.readStream.schema(PAGES_SCHEMA).parquet(str(inp)),
            payload_col="html",
        )
        .writeStream.format("memory")
        .queryName("first_seen_cp1252")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    seen = [r.doc_hash for r in spark.table("first_seen_cp1252").collect()]
    docs = spark.read.schema(PAGES_SCHEMA).parquet(str(inp))
    extracted = [r.doc_hash for r in extract_documents(docs).collect()]
    assert len(seen) == 1
    assert seen == extracted


def test_incremental_html_extract(spark, tmp_path):
    """HTML-mode streaming: boilerplate pages arrive incrementally; the
    recovered main content matches ground truth across batches."""
    from pdf_to_epub_spark.sources.synth import (
        expected_main_content,
        make_boilerplate_page,
        make_document_text,
    )

    inp = tmp_path / "hin"
    outp = tmp_path / "hout"
    cp = tmp_path / "hcp"
    inp.mkdir()

    def page_rows(lo, hi):
        rows = []
        for i in range(lo, hi):
            text = make_document_text(i, seed=31)
            rows.append(
                {
                    "url": f"doc://{i}",
                    "warc_ts": None,
                    "html": make_boilerplate_page(i, f"doc://{i}", text),
                    "text": None,
                    "lang": "en",
                }
            )
        return rows

    _write_batch(inp, page_rows(0, 6), "b1.parquet")
    incremental_extract(spark, str(inp), str(outp), str(cp), html_mode=True)
    assert spark.read.parquet(str(outp)).count() == 6

    _write_batch(inp, page_rows(6, 10), "b2.parquet")
    incremental_extract(spark, str(inp), str(outp), str(cp), html_mode=True)
    got = {r["url"]: r["text"] for r in spark.read.parquet(str(outp)).collect()}
    assert len(got) == 10
    for i in range(10):
        expected = expected_main_content(i, make_document_text(i, seed=31))
        assert got[f"doc://{i}"] == expected, f"doc {i}"


def test_streaming_near_dup_pairs(spark, tmp_path):
    """foreachBatch near-dup: batch 1 seeds the signature store; batch 2
    (mutated re-crawl of the same docs under new urls) must pair against
    batch 1 via the store, and a third run with no new files must emit
    nothing new."""
    from pdf_to_epub_spark.streaming import streaming_near_dup_pairs

    inp = tmp_path / "in"
    pairs_out = tmp_path / "pairs"
    cp = tmp_path / "cp"
    store = tmp_path / "sigs"
    inp.mkdir()

    rows = make_documents(10, seed=9)
    _write_batch(inp, rows, "day1.parquet")
    streaming_near_dup_pairs(
        spark, str(inp), str(pairs_out), str(cp), str(store),
        k=3, num_hashes=32, bands=8, jaccard_threshold=0.7,
    )
    day1 = spark.read.parquet(str(pairs_out))
    day1_pairs = {(r["id_a"], r["id_b"]) for r in day1.collect()}

    # day 2: near-dup copies (last word dropped) under distinct urls
    copies = []
    for r in rows:
        c = dict(r)
        c["url"] = r["url"] + "-recrawl"
        c["text"] = r["text"].rsplit(None, 1)[0]
        copies.append(c)
    _write_batch(inp, copies, "day2.parquet")
    streaming_near_dup_pairs(
        spark, str(inp), str(pairs_out), str(cp), str(store),
        k=3, num_hashes=32, bands=8, jaccard_threshold=0.7,
    )
    day2 = spark.read.parquet(str(pairs_out))
    day2_rows = day2.collect()
    day2_count = len(day2_rows)
    got = {(r["id_a"], r["id_b"]) for r in day2_rows}
    for r in rows:
        assert (r["url"], r["url"] + "-recrawl") in got
    # day-2 emissions all touch a day-2 url (old-old pairs only on day 1)
    for a, b in got - day1_pairs:
        assert a.endswith("-recrawl") or b.endswith("-recrawl")

    # signature store holds one row per doc ever seen
    assert spark.read.parquet(str(store)).count() == 20

    # no new files -> no new pairs, store unchanged
    streaming_near_dup_pairs(
        spark, str(inp), str(pairs_out), str(cp), str(store),
        k=3, num_hashes=32, bands=8, jaccard_threshold=0.7,
    )
    assert spark.read.parquet(str(pairs_out)).count() == day2_count
    assert spark.read.parquet(str(store)).count() == 20

    # crash-replay: deleting the last checkpoint commit makes availableNow
    # re-process day 2 (foreachBatch is at-least-once).  The per-batch
    # partition overwrite must rewrite — not duplicate — its pair rows.
    commits = sorted(p for p in (cp / "commits").iterdir() if not p.name.startswith("."))
    commits[-1].unlink()
    crc = commits[-1].with_name(f".{commits[-1].name}.crc")
    if crc.exists():
        crc.unlink()
    streaming_near_dup_pairs(
        spark, str(inp), str(pairs_out), str(cp), str(store),
        k=3, num_hashes=32, bands=8, jaccard_threshold=0.7,
    )
    replayed = spark.read.parquet(str(pairs_out))
    assert replayed.count() == day2_count
    assert {(r["id_a"], r["id_b"]) for r in replayed.collect()} == got


def test_streaming_postings_maintenance(spark, tmp_path):
    """Streamed inverted-index upkeep: day 1 indexes the seed corpus; day
    2 adds new pages AND a re-crawl of an old url with changed text — the
    loaded view must equal a from-scratch index over the logical corpus
    (old minus re-crawled original, plus day 2).  Replaying day 2 (crash
    between sink write and checkpoint commit) must not change the view."""
    import pathlib

    from pdf_to_epub_spark.operators import term_postings
    from pdf_to_epub_spark.streaming import load_postings, streaming_postings

    inp = tmp_path / "in"
    store = tmp_path / "postings"
    cp = tmp_path / "cp"
    inp.mkdir()

    rows = make_documents(8, seed=13)
    _write_batch(inp, rows, "day1.parquet")
    streaming_postings(spark, str(inp), str(store), str(cp))

    # day 2: two new pages + a re-crawl of rows[0] with truncated text
    new = make_documents(2, seed=14)
    for n in new:
        n["url"] = n["url"] + "-day2"
    recrawl = dict(rows[0])
    recrawl["text"] = " ".join(rows[0]["text"].split()[:20])
    _write_batch(inp, new + [recrawl], "day2.parquet")
    streaming_postings(spark, str(inp), str(store), str(cp))

    logical = rows[1:] + new + [recrawl]
    docs = spark.createDataFrame(
        [(r["url"], r["text"]) for r in logical], ["url", "text"]
    )
    exp = {(r.term, r.url, r.tf)
           for r in term_postings(docs, id_col="url").collect()}
    got = {(r.term, r.url, r.tf)
           for r in load_postings(spark, str(store)).collect()}
    assert got == exp

    # crash replay: drop the last checkpoint commit (and its .crc sibling)
    commits = sorted(
        p for p in (pathlib.Path(cp) / "commits").iterdir()
        if not p.name.startswith(".")
    )
    commits[-1].unlink()
    crc = commits[-1].parent / f".{commits[-1].name}.crc"
    if crc.exists():
        crc.unlink()
    streaming_postings(spark, str(inp), str(store), str(cp))
    got2 = {(r.term, r.url, r.tf)
            for r in load_postings(spark, str(store)).collect()}
    assert got2 == exp


def test_stream_stream_interval_join(spark, tmp_path):
    """streaming_page_label_join: labels pair with their page iff
    label_ts lies in [warc_ts, warc_ts + max_lag]; the interval
    predicate (not watermark timing) decides the pair set, and each
    matched pair is emitted exactly once in append mode."""
    import datetime as dt

    from pyspark.sql import functions as F

    from pdf_to_epub_spark.streaming.incremental import (
        LABELS_SCHEMA,
        PAGES_SCHEMA,
        streaming_page_label_join,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    pages_dir, labels_dir = str(tmp_path / "p"), str(tmp_path / "l")
    pages = spark.createDataFrame(
        [
            ("u1", t0, None, "a", "en"),
            ("u2", t0, None, "b", "en"),
            ("u3", t0 + dt.timedelta(minutes=20), None, "c", "en"),
        ],
        PAGES_SCHEMA,
    )
    pages.write.parquet(pages_dir)
    labels = spark.createDataFrame(
        [
            ("u1", "ok", t0 + dt.timedelta(minutes=2)),     # in window
            ("u2", "late", t0 + dt.timedelta(minutes=30)),  # > max_lag: out
            ("u2", "early", t0 - dt.timedelta(minutes=1)),  # before page: out
            ("u3", "ok2", t0 + dt.timedelta(minutes=24)),   # in window
            ("u9", "orphan", t0),                           # no such page
        ],
        LABELS_SCHEMA,
    )
    labels.write.parquet(labels_dir)

    q = streaming_page_label_join(
        spark, pages_dir, labels_dir,
        watermark="10 minutes", max_lag="5 minutes",
        query_name="ssj_test",
    )
    try:
        q.processAllAvailable()
        got = sorted(
            (r.url, r.label)
            for r in spark.sql("SELECT * FROM ssj_test").collect()
        )
    finally:
        q.stop()
    assert got == [("u1", "ok"), ("u3", "ok2")]


def test_stream_stream_join_has_bounded_state_operator(spark, tmp_path):
    """The interval join must run as a real stateful stream-stream join
    (a state operator with buffered rows), not a degenerate batch plan —
    the bounded-state claim's observable half (eviction timing is
    watermark-dependent and deliberately not asserted)."""
    import datetime as dt

    from pdf_to_epub_spark.streaming.incremental import (
        LABELS_SCHEMA,
        PAGES_SCHEMA,
        streaming_page_label_join,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    pages_dir, labels_dir = str(tmp_path / "p"), str(tmp_path / "l")
    spark.createDataFrame(
        [("u1", t0, None, "a", "en")], PAGES_SCHEMA
    ).write.parquet(pages_dir)
    spark.createDataFrame(
        [("u1", "ok", t0 + dt.timedelta(minutes=1))], LABELS_SCHEMA
    ).write.parquet(labels_dir)
    q = streaming_page_label_join(
        spark, pages_dir, labels_dir, query_name="ssj_state_test"
    )
    try:
        q.processAllAvailable()
        prog = q.lastProgress
    finally:
        q.stop()
    ops = prog["stateOperators"]
    assert ops and ops[0]["numRowsTotal"] >= 1
    # Pin the stateful-operator identity when the engine reports a name
    # (Spark 4 always does for stream-stream joins); an empty name would
    # fail loudly rather than slide through on a truthy-list fallback.
    assert "symmetricHashJoin" in ops[0].get("operatorName", "")
