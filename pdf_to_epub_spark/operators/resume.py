"""Checkpoint-resume semantics: skip documents already committed.

Spark re-expression of the reference's content-hash resume index
(`/root/reference/pdf_to_epub.sh:162-195`, marker written at
`/root/reference/ocr-processing/merge_one_book.py:102-115`) and its
skip-if-output-exists memoization (`pdf_to_epub.sh:216-219`).

The committed-results table (parquet/Iceberg snapshot) holds ``doc_hash``
per finished document.  Like the reference, which probes its index with
each input's own hash, resuming probes the committed table with the
batch: a semi-join keeps the committed hashes that occur in the batch,
and the batch is anti-joined against that hit set.  In a recrawl loop the
committed side is the large one and keeps growing, so it is only ever
streamed — never aggregated, never a broadcast build side.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# read errors that mean "no snapshot yet": missing path, empty directory
_NOTHING_COMMITTED = frozenset({"PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"})


def resume_payload_col(columns: Iterable[str], text_col: str = "text") -> str:
    """The column whose bytes identify a document for resume: the raw page
    (``html``) whenever the input carries one, else the text column.  This
    is the ``doc_hash`` that `extract_documents` records, so a resume index
    built from its output must be matched on the same column."""
    return "html" if "html" in columns else text_col


def doc_hash_column(payload_col: str) -> Column:
    """SHA-256 of ``payload_col``'s bytes, JVM-side.  A string column is
    hashed as the bytes it stores (a binary cast, not a decode/encode that
    would rewrite malformed UTF-8), so a payload hashes the same as string
    or as binary."""
    return F.sha2(F.col(payload_col).cast("binary"), 256)


def with_doc_hash(docs: DataFrame, payload_col: str = "html") -> DataFrame:
    """SHA-256 content identity, computed JVM-side."""
    return docs.withColumn("doc_hash", doc_hash_column(payload_col))


def pending_documents(
    docs: DataFrame, done: DataFrame, hash_col: str = "doc_hash"
) -> DataFrame:
    """Input minus already-committed rows, keyed on content hash.  Rows
    with a null hash never match, so they stay pending."""
    hits = done.select(hash_col).join(docs.select(hash_col), hash_col, "left_semi")
    return docs.join(hits, hash_col, "left_anti")


def resume_run(
    docs: DataFrame,
    committed_path: str,
    payload_col: str = "html",
) -> DataFrame:
    """Convenience wrapper: hash the input, drop what the committed
    snapshot at ``committed_path`` already holds.  A missing path or an
    empty directory means nothing is committed yet (→ full input); any
    other read error, e.g. an unreadable part file, is raised rather than
    silently recommitting every document."""
    spark = docs.sparkSession
    hashed = with_doc_hash(docs, payload_col)
    try:
        done = spark.read.parquet(committed_path).select("doc_hash")
    except AnalysisException as exc:
        if exc.getCondition() not in _NOTHING_COMMITTED:
            raise
        return hashed
    return pending_documents(hashed, done)
