"""LaTeX article source: arXiv-style rendering + RELATIONAL parse.

Scientific-text pipelines ingest LaTeX (arXiv bulk data is the
canonical math/science pre-training source) and need per-section
structure: titles, equation density, citation counts, comment strip.
The grammar is line-regular at the granularity these stats need, so
the PARSE side stays entirely in Catalyst: explode lines, a cumulative
``\\section`` count assigns sections, running begin/end sums mark
equation interiors (a line is inside an equation iff
``cum(\\begin) > cum(\\end)``), and one groupBy per (doc, section)
rolls everything up — no UDF, scan-speed at 100 TB with the only
shuffle keyed by the doc id.

The writer is the deterministic fixture half (Python, Arrow-batched):
tokens chunk into 40-token sections — 3-token title, body in 8-token
lines; body line ``j`` is an equation (3 physical lines) when
``j % 5 == 3``, a ``%`` comment when ``j % 5 == 4``, prose otherwise,
and even-``j`` prose lines carry one ``\\cite{refJ}`` — the spec the
DuckDB oracle replays in closed form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from pdf_to_epub_spark.sources._arrow import render_documents

SEC_TOKENS = 40
TITLE_TOKENS = 3
LINE_TOKENS = 8


def make_latex(doc_id: int, text: str) -> str:
    """Render the document's tokens as a sectioned LaTeX article."""
    toks = (text or "").split()
    out = ["\\documentclass{article}", "\\begin{document}"]
    n_sec = (len(toks) + SEC_TOKENS - 1) // SEC_TOKENS
    for s in range(n_sec):
        chunk = toks[s * SEC_TOKENS : (s + 1) * SEC_TOKENS]
        title = " ".join(chunk[:TITLE_TOKENS])
        body = chunk[TITLE_TOKENS:]
        out.append("\\section{" + title + "}")
        lines = [
            " ".join(body[j * LINE_TOKENS : (j + 1) * LINE_TOKENS])
            for j in range((len(body) + LINE_TOKENS - 1) // LINE_TOKENS)
        ]
        for j, line in enumerate(lines):
            if j % 5 == 3:
                out += ["\\begin{equation}", line + " = 0", "\\end{equation}"]
            elif j % 5 == 4:
                out.append("% " + line)
            elif j % 2 == 0:
                out.append(line + " \\cite{ref" + str(j) + "}")
            else:
                out.append(line)
    out.append("\\end{document}")
    return "\n".join(out)


def documents_as_latex(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """documents → ``(doc_id, tex: string)``, Arrow-batched."""
    return render_documents(
        docs, id_col, text_col, "tex", StringType(), make_latex
    )


def latex_section_stats(
    df: DataFrame, tex_col: str = "tex", id_col: str = "doc_id"
) -> DataFrame:
    """``(id, tex: string)`` → per-section rows ``(id, sec_id, title,
    n_eq, n_comment, n_cite, n_prose_lines)`` — the whole parse in
    relational algebra.  ``sec_id`` numbers sections from 1 in document
    order; preamble lines before the first ``\\section`` contribute
    nothing.  Prose = non-comment, non-command, non-equation-interior
    lines; ``n_cite`` counts ``\\cite{`` occurrences outside comments."""
    lines = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(tex_col), r"\n")).alias("_ln", "_l"),
    )
    w = (
        Window.partitionBy("_id")
        .orderBy("_ln")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    l = F.col("_l")  # noqa: E741
    is_sec = l.startswith("\\section{")
    cum = (
        lines.withColumn("sec_id", F.sum(is_sec.cast("long")).over(w))
        .withColumn(
            "_beg", F.sum((l == "\\begin{equation}").cast("long")).over(w)
        )
        .withColumn(
            "_end", F.sum((l == "\\end{equation}").cast("long")).over(w)
        )
    )
    in_eq_body = (F.col("_beg") > F.col("_end")) & (
        l != "\\begin{equation}"
    )
    is_comment = l.startswith("%")
    is_command = l.startswith("\\")
    prose = ~is_comment & ~is_command & ~in_eq_body
    out = (
        cum.where(F.col("sec_id") >= 1)
        .groupBy("_id", "sec_id")
        .agg(
            F.max(
                F.when(is_sec, F.regexp_extract(l, r"\\section\{(.*)\}", 1))
            ).alias("title"),
            F.sum((l == "\\begin{equation}").cast("long")).alias("n_eq"),
            F.sum(is_comment.cast("long")).alias("n_comment"),
            F.sum(
                F.when(
                    ~is_comment, F.regexp_count(l, F.lit(r"\\cite\{"))
                ).otherwise(F.lit(0))
            ).alias("n_cite"),
            F.sum(prose.cast("long")).alias("n_prose_lines"),
        )
    )
    return out.select(
        F.col("_id").alias(id_col),
        "sec_id",
        "title",
        "n_eq",
        "n_comment",
        "n_cite",
        "n_prose_lines",
    )
