"""sources/docx.py — writer/parser round-trip, robustness, Spark operators."""

from __future__ import annotations

import io
import zipfile

import pytest
from pyspark.sql import functions as F

from pdf_to_epub_spark.sources.docx import (
    UnsupportedDocx,
    doc_blocks,
    documents_as_docx,
    docx_chapters,
    extract_docx_blocks,
    make_docx_bytes,
    parse_docx_payloads,
)

LONG = "alpha beta gamma delta " * 70  # 280 tokens → 7 chunks, 2 headings


def test_roundtrip_long_doc():
    got = extract_docx_blocks(make_docx_bytes(7, LONG))
    assert got == doc_blocks(7, LONG)
    styles = [s for s, _ in got]
    assert styles.count("Heading1") == 2  # chunks 0 and 6
    assert styles.count("BodyText") == 7


def test_bytes_do_not_depend_on_wall_clock(monkeypatch):
    import time

    monkeypatch.setattr(time, "time", lambda: 1_000_000_000.0)
    first = make_docx_bytes(7, LONG)
    monkeypatch.setattr(time, "time", lambda: 1_600_000_000.0)
    assert make_docx_bytes(7, LONG) == first


def test_empty_doc_still_yields_heading():
    got = extract_docx_blocks(make_docx_bytes(3, ""))
    assert got == [("Heading1", "Section 3.0 — R&D <draft>")]


def test_entities_and_tab_roundtrip():
    # heading carries & < > bait; chunk 0 body opens with a hard tab
    blocks = extract_docx_blocks(make_docx_bytes(1, "one two three"))
    assert blocks[0][1] == "Section 1.0 — R&D <draft>"
    assert blocks[1][1] == "\tone two three"


def test_runs_are_fragmented_but_reassemble():
    raw = make_docx_bytes(5, LONG)
    doc_xml = zipfile.ZipFile(io.BytesIO(raw)).read("word/document.xml")
    # the writer must actually fragment (many runs per paragraph) …
    assert doc_xml.count(b"<w:r>") > 100
    # … and escape the entity bait (entities may straddle run boundaries
    # in the original text but each fragment escapes independently)
    assert b"&amp;" in doc_xml and b"&lt;" in doc_xml and b"&gt;" in doc_xml
    assert b"R&D" not in doc_xml
    # yet the parser reassembles byte-identically
    assert extract_docx_blocks(raw) == doc_blocks(5, LONG)


def test_package_structure():
    raw = make_docx_bytes(2, "hello world")
    zf = zipfile.ZipFile(io.BytesIO(raw))
    names = set(zf.namelist())
    assert {"[Content_Types].xml", "_rels/.rels", "word/document.xml"} <= names
    assert b"officedocument.wordprocessingml" in zf.read("[Content_Types].xml")


def test_br_and_cr_materialize_newlines():
    doc = (
        '<?xml version="1.0"?>'
        '<w:document xmlns:w='
        '"http://schemas.openxmlformats.org/wordprocessingml/2006/main">'
        "<w:body><w:p><w:r><w:t>a</w:t><w:br/><w:t>b</w:t><w:cr/>"
        "<w:t>c</w:t></w:r></w:p></w:body></w:document>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("word/document.xml", doc)
    assert extract_docx_blocks(buf.getvalue()) == [("", "a\nb\nc")]


@pytest.mark.parametrize(
    "raw",
    [
        b"not a zip at all",
        b"",
    ],
)
def test_non_zip_raises(raw):
    with pytest.raises(UnsupportedDocx):
        extract_docx_blocks(raw)


def test_zip_without_document_part_raises():
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("other.txt", "x")
    with pytest.raises(UnsupportedDocx):
        extract_docx_blocks(buf.getvalue())


def test_malformed_xml_raises():
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("word/document.xml", "<w:document><unclosed")
    with pytest.raises(UnsupportedDocx):
        extract_docx_blocks(buf.getvalue())


def test_spark_parse_isolates_bad_payloads(spark):
    docs = spark.createDataFrame(
        [(1, LONG), (2, None), (3, "few words here")],
        "doc_id long, text string",
    )
    rendered = documents_as_docx(docs)
    # poison doc 2's payload after rendering
    poisoned = rendered.withColumn(
        "docx",
        F.when(F.col("doc_id") == 2, F.lit(b"garbage")).otherwise(
            F.col("docx")
        ),
    )
    rows = parse_docx_payloads(poisoned).collect()
    by_status = {}
    for r in rows:
        by_status.setdefault(r.status, []).append(r)
    assert {r.doc_id for r in by_status["unsupported"]} == {2}
    ok_ids = {r.doc_id for r in by_status["ok"]}
    assert ok_ids == {1, 3}
    # per-doc block_ids are contiguous from 1 in document order
    d1 = sorted(
        (r.block_id, r.block_type) for r in by_status["ok"] if r.doc_id == 1
    )
    assert d1[0] == (1, "heading")
    assert [b for b, _ in d1] == list(range(1, len(d1) + 1))


def test_spark_chapters_rollup(spark):
    docs = spark.createDataFrame([(9, LONG)], "doc_id long, text string")
    blocks = parse_docx_payloads(documents_as_docx(docs))
    chapters = {r.chapter_id: r for r in docx_chapters(blocks).collect()}
    # 7 chunks → headings at k=0 and k=6 → chapter 1 has 6 paras, ch. 2 has 1
    assert set(chapters) == {1, 2}
    assert chapters[1].title == "Section 9.0 — R&D <draft>"
    assert chapters[1].n_paras == 6
    assert chapters[2].n_paras == 1
    body = doc_blocks(9, LONG)
    want_chars = sum(len(t) for s, t in body[1:7] if s == "BodyText")
    assert chapters[1].n_chars == want_chars
