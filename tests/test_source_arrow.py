"""sources/_arrow.py — the Arrow boundary the source parsers share,
driven with hand-built ``pa.RecordBatch``es and no Spark session.

Each public parser is called on a stand-in frame that records the batch
function it hands to ``mapInArrow``; the tests feed that function
directly, so they cover each parser's own row function and its use of
the helper, not a re-composition of them."""

from __future__ import annotations

import pyarrow as pa
import pytest
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import LongType, StringType, StructField, StructType

from pdf_to_epub_spark.extractlib import htmlblocks
from pdf_to_epub_spark.operators.extract import extract_image_refs
from pdf_to_epub_spark.sources import docx, epub, mbox, pdf, sedump, warc
from pdf_to_epub_spark.sources import wikitext


class _Frame:
    """Stands in for a DataFrame: ``select`` records the column names,
    ``schema`` types the first of them as ``id_type``, ``mapInArrow``
    records the batch function and the output schema."""

    def __init__(self, id_type=LongType()):
        self.id_type = id_type

    def select(self, *cols):
        self.cols = cols
        return self

    @property
    def schema(self):
        return StructType([StructField(self.cols[0], self.id_type)])

    def mapInArrow(self, fn, schema):
        self.fn, self.out_schema = fn, schema
        return self


def _run(parser, columns, id_type=LongType()):
    """Call ``parser`` on a stand-in frame and feed its batch function one
    input batch built from ``columns`` (Arrow arrays in select order);
    returns the frame and the output batches."""
    frame = parser(_Frame(id_type))
    batch = pa.RecordBatch.from_arrays(columns, names=list(frame.cols))
    out = list(frame.fn(iter([batch])))
    for b in out:
        assert b.schema == to_arrow_schema(frame.out_schema)
    return frame, out


def _rows(batches):
    return [row for b in batches for row in b.to_pylist()]


# (public parser, its module, the parse function it calls, the
#  parser's Unsupported* exception, its empty status, an empty result)
STATUS_PARSERS = [
    pytest.param(
        docx.parse_docx_payloads, docx, "extract_docx_blocks",
        docx.UnsupportedDocx, "empty", [], id="docx",
    ),
    pytest.param(
        epub.parse_epub_payloads, epub, "parse_epub_bytes",
        epub.UnsupportedEpub, "empty", {"chapters": []}, id="epub",
    ),
    pytest.param(
        pdf.parse_pdf_payloads, pdf, "extract_pdf_blocks",
        pdf.UnsupportedPdf, "empty", [], id="pdf_blocks",
    ),
    pytest.param(
        pdf.parse_pdf_outlines, pdf, "extract_pdf_outline",
        pdf.UnsupportedPdf, "none", [], id="pdf_outline",
    ),
]


@pytest.mark.parametrize("outcome", ["unsupported", "error", "empty"])
@pytest.mark.parametrize(
    "parser,module,parse,unsupported,empty_status,nothing", STATUS_PARSERS
)
def test_status_parser_marker_rows(
    monkeypatch, outcome, parser, module, parse, unsupported, empty_status,
    nothing,
):
    """The parser's Unsupported* exception, any other exception (a
    ValueError, which UnsupportedEpub subclasses) and an empty result
    each give one marker row with every column but id and status null."""

    def fake(raw):
        if outcome == "unsupported":
            raise unsupported("rejected")
        if outcome == "error":
            raise ValueError("crashed")
        return nothing

    monkeypatch.setattr(module, parse, fake)
    frame, out = _run(parser, [pa.array([7]), pa.array([b"x"])])
    status = empty_status if outcome == "empty" else outcome
    nulls = dict.fromkeys(frame.out_schema.fieldNames())
    assert _rows(out) == [{**nulls, "doc_id": 7, "status": status}]


@pytest.mark.parametrize(
    "parser,module,parse,unsupported,empty_status,nothing", STATUS_PARSERS
)
def test_status_parser_null_payload_parses_as_empty_bytes(
    monkeypatch, parser, module, parse, unsupported, empty_status, nothing,
):
    seen = []
    monkeypatch.setattr(module, parse, lambda raw: seen.append(raw) or nothing)
    _, out = _run(parser, [pa.array([1, 2]), pa.array([None, b"ab"])])
    assert seen == [b"", b"ab"]
    assert [r["status"] for r in _rows(out)] == [empty_status] * 2


# (public parser, its module, the parse function it calls, its result
#  for an empty document)
TEXT_PARSERS = [
    pytest.param(mbox.parse_mbox_payloads, mbox, "parse_mbox", [], id="mbox"),
    pytest.param(
        sedump.parse_sedump_payloads, sedump, "parse_sedump", [], id="sedump"
    ),
    pytest.param(
        wikitext.parse_wikitext_payloads, wikitext, "parse_wikitext",
        ([], []), id="wikitext_blocks",
    ),
    pytest.param(
        wikitext.extract_wikitext_links, wikitext, "parse_wikitext",
        ([], []), id="wikitext_links",
    ),
]


@pytest.mark.parametrize("parser,module,parse,nothing", TEXT_PARSERS)
def test_text_parser_null_payload_parses_as_empty_string(
    monkeypatch, parser, module, parse, nothing
):
    seen = []
    monkeypatch.setattr(module, parse, lambda raw: seen.append(raw) or nothing)
    _, out = _run(parser, [pa.array([1]), pa.array([None], pa.string())])
    assert seen == [""]
    assert _rows(out) == []


def test_ok_rows_keep_each_sources_seq_base():
    """docx, mbox and wikitext count from 1, PDF from 0."""
    _, out = _run(
        docx.parse_docx_payloads,
        [pa.array([3]), pa.array([docx.make_docx_bytes(3, "one two")])],
    )
    got = [(r["block_id"], r["block_type"], r["status"]) for r in _rows(out)]
    assert got == [(1, "heading", "ok"), (2, "para", "ok")]
    _, out = _run(
        pdf.parse_pdf_payloads,
        [pa.array([4]), pa.array([pdf.doc_to_pdf(4, "one two")])],
    )
    assert [r["seq"] for r in _rows(out)] == list(range(len(_rows(out))))
    assert {r["status"] for r in _rows(out)} == {"ok"}
    _, out = _run(
        mbox.parse_mbox_payloads,
        [pa.array([6]), pa.array([mbox.make_mbox(6, "one two " * 60)])],
    )
    ids = [r["msg_id"] for r in _rows(out)]
    assert len(ids) > 1 and ids == list(range(1, len(ids) + 1))
    _, out = _run(
        wikitext.extract_wikitext_links,
        [pa.array([5]), pa.array(["[[A|a]] and [[B]]"])],
    )
    assert _rows(out) == [
        {"doc_id": 5, "link_id": 1, "target": "A", "anchor": "a"},
        {"doc_id": 5, "link_id": 2, "target": "B", "anchor": "B"},
    ]


_ID_BINARY = (pa.int64(), pa.binary())
_ID_STRING = (pa.int64(), pa.string())


@pytest.mark.parametrize(
    "parser,input_types",
    [
        pytest.param(parser, types, id=parser.__name__)
        for parser, types in [
            (docx.parse_docx_payloads, _ID_BINARY),
            (epub.parse_epub_payloads, _ID_BINARY),
            (pdf.parse_pdf_payloads, _ID_BINARY),
            (pdf.parse_pdf_outlines, _ID_BINARY),
            (mbox.parse_mbox_payloads, _ID_STRING),
            (sedump.parse_sedump_payloads, _ID_STRING),
            (wikitext.parse_wikitext_payloads, _ID_STRING),
            (wikitext.extract_wikitext_links, _ID_STRING),
            (warc.parse_warc_contents, (pa.binary(),)),
            (extract_image_refs, (pa.string(), pa.binary())),
        ]
    ],
)
def test_empty_input_batch_gives_typed_zero_row_batch(parser, input_types):
    frame, out = _run(parser, [pa.array([], t) for t in input_types])
    assert len(out) == 1 and out[0].num_rows == 0
    assert out[0].schema == to_arrow_schema(frame.out_schema)


def test_epub_string_id_column_stays_string(monkeypatch):
    monkeypatch.setattr(
        epub,
        "parse_epub_bytes",
        lambda raw: {"chapters": [{"idx": 1, "heading": "H", "paras": ["p"]}]},
    )
    frame, out = _run(
        epub.parse_epub_payloads,
        [pa.array(["u://a", "u://b"]), pa.array([b"x", None])],
        id_type=StringType(),
    )
    assert frame.out_schema.fields[0] == StructField("doc_id", StringType())
    assert out[0].schema.field("doc_id").type == pa.string()
    assert [(r["doc_id"], r["text"]) for r in _rows(out)] == [
        ("u://a", "p"), ("u://b", "p"),
    ]


def test_warc_null_content_gives_no_rows():
    content = warc.build_warc_bytes([("http://a/", "2024-01-01", b"x")])
    _, out = _run(warc.parse_warc_contents, [pa.array([None, content])])
    assert [(r["url"], r["html"]) for r in _rows(out)] == [("http://a/", b"x")]


def test_image_refs_skip_null_oversized_and_unparseable_pages(monkeypatch):
    real, seen = htmlblocks.parse_image_refs, []

    def fake(html):
        seen.append(html)
        if html == b"bad":
            raise ValueError("unparseable")
        return real(html)

    monkeypatch.setattr(htmlblocks, "parse_image_refs", fake)
    ok = b'<img src="/a.png" alt="a">'
    pages = [None, b"<img src='/b.png'>" + b" " * 50_000_000, b"bad", ok]
    _, out = _run(
        extract_image_refs,
        [pa.array(["n", "big", "bad", "ok"]), pa.array(pages, pa.binary())],
    )
    assert seen == [b"bad", ok]
    assert _rows(out) == [
        {"url": "ok", "seq": 0, "src": "/a.png", "alt": "a",
         "boilerplate": False},
    ]
