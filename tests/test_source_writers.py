"""The ten ``documents_as_*`` writers share one Arrow boundary
(`sources/_arrow.render_documents`): each keeps the input id field as it
is, adds one ``string``/``binary`` payload column, renders a null text
as ``make(id, "")`` and writes one row per input document."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StringType, StructField, StructType

from pdf_to_epub_spark.sources import (
    docx,
    ipynb,
    latex,
    mbox,
    pdf,
    sedump,
    unidiff,
    wikitext,
)


def _outlined(doc_id, text):
    return pdf.make_pdf_bytes(
        pdf._doc_pages(doc_id, text), pdf.doc_outline(doc_id, text)
    )


def _two_column(doc_id, text):
    return pdf.make_pdf_bytes(pdf._doc_pages_two_column(doc_id, text))


# (writer, payload column, payload type, what it renders per document)
WRITERS = [
    pytest.param(
        docx.documents_as_docx, "docx", BinaryType(), docx.make_docx_bytes,
        id="docx",
    ),
    pytest.param(
        latex.documents_as_latex, "tex", StringType(), latex.make_latex,
        id="latex",
    ),
    pytest.param(
        mbox.documents_as_mbox, "mbox", StringType(), mbox.make_mbox,
        id="mbox",
    ),
    pytest.param(
        ipynb.documents_as_ipynb, "nb", StringType(), ipynb.make_ipynb,
        id="ipynb",
    ),
    pytest.param(
        sedump.documents_as_sedump, "xml", StringType(), sedump.make_sedump,
        id="sedump",
    ),
    pytest.param(
        wikitext.documents_as_wikitext, "wiki", StringType(),
        wikitext.make_wikitext, id="wikitext",
    ),
    pytest.param(
        unidiff.documents_as_unidiffs, "diff", StringType(),
        unidiff.make_unidiff, id="unidiff",
    ),
    pytest.param(
        pdf.documents_as_pdfs, "pdf", BinaryType(), pdf.doc_to_pdf, id="pdf",
    ),
    pytest.param(
        pdf.documents_as_outlined_pdfs, "pdf", BinaryType(), _outlined,
        id="outlined_pdf",
    ),
    pytest.param(
        pdf.documents_as_two_column_pdfs, "pdf", BinaryType(), _two_column,
        id="two_column_pdf",
    ),
]

TEXTS = [
    (3, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (5, None),
    (8, "lambda mu nu xi omicron pi rho sigma tau"),
]


@pytest.mark.parametrize("id_type", ["long", "string"])
@pytest.mark.parametrize("writer, name, dtype, make", WRITERS)
def test_writer_boundary(spark, writer, name, dtype, make, id_type):
    docs = spark.createDataFrame(TEXTS, "doc_id long, text string").select(
        F.col("doc_id").cast(id_type).alias("doc_id"), "text"
    )
    out = writer(docs)
    assert out.schema == StructType(
        [docs.schema["doc_id"], StructField(name, dtype)]
    )
    rows = out.collect()
    assert len(rows) == len(TEXTS)
    got = {r[0]: r[1] for r in rows}
    for doc_id, text in TEXTS:
        key = doc_id if id_type == "long" else str(doc_id)
        assert got[key] == make(doc_id, text or "")
