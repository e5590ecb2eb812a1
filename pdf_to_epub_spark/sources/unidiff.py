"""Unified-diff source: commit-diff rendering + RELATIONAL stats parse.

Code-training pipelines ingest version-control history as unified
diffs (commit-conditioned code models train on (message, diff) pairs,
and diff stats gate what enters the corpus — vendored-blob churn vs
real edits).  The diff grammar is line-regular, so the PARSE side stays
entirely in Catalyst: explode lines, a cumulative ``+++`` count
assigns file sections, prefix classification counts adds/dels/context,
one groupBy per (doc, file) — no UDF, scan-speed at 100 TB with the
only shuffle keyed by the doc id.

The writer is the deterministic fixture half (Python, Arrow-batched):
tokens chunk into 60-token files of 10-token lines; line ``j`` of a
file is a deletion when ``j % 4 == 1``, an addition when ``j % 4 ==
2``, context otherwise — the spec the DuckDB oracle replays in closed
form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from pdf_to_epub_spark.sources._arrow import render_documents

FILE_TOKENS = 60
LINE_TOKENS = 10


def make_unidiff(doc_id: int, text: str) -> str:
    """Render the document's tokens as a multi-file unified diff."""
    toks = (text or "").split()
    out: list[str] = []
    n_files = (len(toks) + FILE_TOKENS - 1) // FILE_TOKENS
    for f in range(n_files):
        chunk = toks[f * FILE_TOKENS : (f + 1) * FILE_TOKENS]
        lines = [
            " ".join(chunk[j * LINE_TOKENS : (j + 1) * LINE_TOKENS])
            for j in range((len(chunk) + LINE_TOKENS - 1) // LINE_TOKENS)
        ]
        n_old = sum(1 for j in range(len(lines)) if j % 4 != 2)
        n_new = sum(1 for j in range(len(lines)) if j % 4 != 1)
        path = f"src/mod_{doc_id}_{f}.py"
        out += [f"--- a/{path}", f"+++ b/{path}", f"@@ -1,{n_old} +1,{n_new} @@"]
        for j, line in enumerate(lines):
            prefix = "-" if j % 4 == 1 else "+" if j % 4 == 2 else " "
            out.append(prefix + line)
    return "\n".join(out)


def documents_as_unidiffs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """documents → ``(doc_id, diff: string)``, Arrow-batched."""
    return render_documents(
        docs, id_col, text_col, "diff", StringType(), make_unidiff
    )


def unidiff_file_stats(
    df: DataFrame, diff_col: str = "diff", id_col: str = "doc_id"
) -> DataFrame:
    """``(id, diff: string)`` → per-file change stats ``(id, file_id,
    path, n_hunks, n_adds, n_dels, n_context)`` — the whole parse in
    relational algebra: line explode, cumulative ``+++`` section
    numbering, prefix classification, one per-(doc, file) rollup.
    ``file_id`` numbers files from 1 in diff order; prelude lines before
    the first ``+++`` (and empty diffs) contribute nothing."""
    lines = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(diff_col), r"\n")).alias("_ln", "_l"),
    )
    w = (
        Window.partitionBy("_id")
        .orderBy("_ln")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    l = F.col("_l")  # noqa: E741
    classified = lines.withColumn(
        "file_id", F.sum(l.startswith("+++ ").cast("long")).over(w)
    )
    is_add = l.startswith("+") & ~l.startswith("+++")
    is_del = l.startswith("-") & ~l.startswith("---")
    out = (
        classified.where(F.col("file_id") >= 1)
        .groupBy("_id", "file_id")
        .agg(
            F.max(
                F.when(l.startswith("+++ b/"), F.substring(l, 7, 1 << 20))
            ).alias("path"),
            F.sum(l.startswith("@@").cast("long")).alias("n_hunks"),
            F.sum(is_add.cast("long")).alias("n_adds"),
            F.sum(is_del.cast("long")).alias("n_dels"),
            F.sum(l.startswith(" ").cast("long")).alias("n_context"),
        )
    )
    return out.select(
        F.col("_id").alias(id_col),
        "file_id",
        "path",
        "n_hunks",
        "n_adds",
        "n_dels",
        "n_context",
    )
