"""Chapter / document assembly — extracted rows → structured documents.

This is the `north_star`'s required aggregation (reference analog: the
EPUB spine/TOC builder, `/root/reference/text-processing/legacy/
Step4_create_epub.py:41-55,105-143` and ordered shard concat,
`/root/reference/ocr-processing/merge_one_book.py:62-80`).

The extraction worker already emits one row per document with its
``blocks`` array in reading order (every mode numbers ``block_id``
0..n-1 in order), so assembly is one narrow projection of higher-order
functions over that array: no explode, no shuffle, no sort, and one
output document per extracted row — two captures of one url stay two
documents.  Everything is JVM-side Catalyst expressions inside
whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _is_heading(block):
    return block["block_type"] == F.lit("heading")


def assemble_documents(docs: DataFrame) -> DataFrame:
    """Extracted rows (``EXTRACTED_SCHEMA``) → one structured row per
    document with status ``ok`` and at least one block:

    * ``blocks``          — array<struct> in reading order
    * ``assembled_text``  — exact byte reassembly of the stage-3 document
    * ``toc``             — heading texts in order (the EPUB TOC)
    * ``n_chapters`` / ``n_blocks``

    A per-row block table (``blocks_table`` output: no ``blocks``
    column) is first nested by ``groupBy(url)`` + ``array_sort`` on
    ``block_id`` — one shuffle.  Precondition of that form: one extracted
    row per url, because the blocks of two captures of one url would
    interleave by ``block_id`` into one document.
    """
    if "blocks" in docs.columns:
        nested = docs.where((F.col("status") == "ok") & (F.size("blocks") > 0))
    else:
        nested = docs.groupBy("url").agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "block_id", "block_type", "text", "span_start", "span_end"
                    )
                )
            ).alias("blocks")
        )
    return nested.select(
        "url",
        "blocks",
        F.concat_ws("", F.transform("blocks", lambda b: b["text"])).alias(
            "assembled_text"
        ),
        F.transform(
            F.filter("blocks", _is_heading),
            # NB: Spark's trim() strips spaces only; block slices carry
            # trailing newlines/form-feeds, so strip all whitespace.
            lambda b: F.regexp_replace(b["text"], r"^\s+|\s+$", ""),
        ).alias("toc"),
        F.size(F.filter("blocks", _is_heading)).alias("n_chapters"),
        F.size("blocks").alias("n_blocks"),
    )


def ordered_concat(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    out_col: str = "merged",
    sep: str = "",
) -> DataFrame:
    """Generic reading-order reconstruction (operator S8/A1): ordered
    concatenation of shard/segment values per key — the Spark form of the
    reference's lexical shard sort + byte concat
    (`/root/reference/ocr-processing/merge_one_book.py:62-80`)."""
    part = F.struct(
        F.col(order_col).alias("_o"), F.col(value_col).alias("_v")
    )
    return (
        df.groupBy(key_col)
        .agg(F.array_sort(F.collect_list(part)).alias("_parts"))
        .select(
            key_col,
            F.concat_ws(sep, F.transform("_parts", lambda p: p["_v"])).alias(out_col),
        )
    )


def pdf_chapters(
    outline: DataFrame,
    blocks: DataFrame,
    max_level: int = 1,
    id_col: str = "doc_id",
) -> DataFrame:
    """Chapter-structured rollup from the PDF-native TOC: outline rows
    (sources/pdf.py parse_pdf_outlines) at ``level ≤ max_level`` become
    chapter boundaries; every content block (parse_pdf_payloads) is
    assigned to the chapter whose page range contains it.  This is the
    reference's EPUB spine logic (legacy/Step4_create_epub.py TOC →
    chapter files) driven by the document's OWN bookmarks instead of
    font-size heuristics — the preferred path whenever a PDF carries an
    outline.

    Chapter page ranges come from a per-document ``lead`` window over
    the (tiny) chapter table — first_page..next-first−1, the final
    chapter closed by the document's max block page.  The window orders
    by (first_page, seq) so even a NON-monotone bookmark sequence
    yields disjoint ranges; two bookmarks on the same page give the
    earlier one an empty range (last_page < first_page), which is still
    EMITTED with zero blocks (left join), never silently dropped.
    Block assignment is an EQUI join on the doc id with the range as a
    residual filter (hash join, never a nested loop).  Only the chapter
    table rides windows; the block table is touched once.

    Returns ``(doc_id, chapter_seq, title, first_page, last_page,
    n_blocks, n_chars)``.
    """
    from pyspark.sql.window import Window

    ch = outline.where(
        (F.col("status") == "ok") & (F.col("level") <= max_level)
    ).select(
        F.col(id_col).alias("_cid"), "seq", "title",
        F.col("page").alias("first_page"),
    )
    w = Window.partitionBy("_cid").orderBy("first_page", "seq")
    ch = ch.select(
        "_cid", F.col("seq").alias("chapter_seq"), "title", "first_page",
        (F.lead("first_page").over(w) - 1).alias("_next_last"),
    )
    b = blocks.where(F.col("status") == "ok").select(
        F.col(id_col), "page", F.length("text").alias("_chars")
    )
    doc_last = b.groupBy(id_col).agg(F.max("page").alias("_max_page"))
    ch = ch.join(doc_last, ch._cid == doc_last[id_col]).select(
        "_cid", "chapter_seq", "title", "first_page",
        F.coalesce("_next_last", "_max_page").alias("last_page"),
    )
    j = ch.join(
        b,
        (b[id_col] == ch._cid)
        & (b.page >= ch.first_page)
        & (b.page <= ch.last_page),
        "left",
    )
    return (
        j.groupBy("_cid", "chapter_seq", "title", "first_page", "last_page")
        .agg(
            F.count(F.col("page")).cast("long").alias("n_blocks"),
            F.coalesce(F.sum("_chars"), F.lit(0)).cast("long")
            .alias("n_chars"),
        )
        .select(
            F.col("_cid").alias(id_col),
            F.col("chapter_seq").cast("int").alias("chapter_seq"),
            "title", F.col("first_page").cast("int").alias("first_page"),
            F.col("last_page").cast("int").alias("last_page"),
            "n_blocks", "n_chars",
        )
    )
