"""Jupyter-notebook source: nbformat-v4 rendering + ``from_json`` parse.

Code-training corpora ingest notebooks as first-class documents
(markdown prose interleaved with executable code — the highest-signal
"explained code" data on the public web).  A notebook is ONE JSON
value, so the idiomatic Spark parse is ``from_json`` with an explicit
schema + ``posexplode(cells)`` — the whole decode stays inside
Catalyst (Jackson on the JVM), zero Python on the parse path, and the
only shuffle downstream is whatever the consumer keys on.

The writer is the deterministic fixture half (Python, Arrow-batched):
tokens chunk into 12-token cells of 4-token source lines; cell ``i``
is a code cell when ``i % 3 == 2`` (with ``execution_count = i + 1``
and a one-line stream output), markdown otherwise — the spec the
DuckDB oracle replays in closed form.  nbformat stores ``source`` as
a list of lines, each but the last newline-terminated, which is why
``concat_ws("", source)`` reassembles the exact cell text.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from pdf_to_epub_spark.sources._arrow import render_documents

CELL_TOKENS = 12
LINE_TOKENS = 4

# Explicit parse schema: permissive on extras (from_json ignores unknown
# fields), strict on what the stats need.
NB_SCHEMA = (
    "STRUCT<cells: ARRAY<STRUCT<cell_type: STRING, execution_count: INT, "
    "source: ARRAY<STRING>>>, nbformat: INT>"
)


def make_ipynb(doc_id: int, text: str) -> str:
    """Render the document's tokens as a minimal nbformat-v4 notebook."""
    toks = (text or "").split()
    cells: list[dict] = []
    n_cells = (len(toks) + CELL_TOKENS - 1) // CELL_TOKENS
    for i in range(n_cells):
        chunk = toks[i * CELL_TOKENS : (i + 1) * CELL_TOKENS]
        lines = [
            " ".join(chunk[j * LINE_TOKENS : (j + 1) * LINE_TOKENS])
            for j in range((len(chunk) + LINE_TOKENS - 1) // LINE_TOKENS)
        ]
        src = [ln + "\n" for ln in lines[:-1]] + [lines[-1]]
        if i % 3 == 2:
            cells.append(
                {
                    "cell_type": "code",
                    "execution_count": i + 1,
                    "metadata": {},
                    "outputs": [
                        {
                            "output_type": "stream",
                            "name": "stdout",
                            "text": [lines[0] + "\n"],
                        }
                    ],
                    "source": src,
                }
            )
        else:
            cells.append(
                {"cell_type": "markdown", "metadata": {}, "source": src}
            )
    nb = {
        "cells": cells,
        "metadata": {"kernelspec": {"language": "python", "name": "python3"}},
        "nbformat": 4,
        "nbformat_minor": 5,
    }
    return json.dumps(nb, separators=(",", ":"), sort_keys=True)


def documents_as_ipynb(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """documents → ``(doc_id, nb: string)``, Arrow-batched."""
    return render_documents(
        docs, id_col, text_col, "nb", StringType(), make_ipynb
    )


def ipynb_cell_stats(
    df: DataFrame, nb_col: str = "nb", id_col: str = "doc_id"
) -> DataFrame:
    """``(id, nb: json string)`` → per-cell rows ``(id, cell_id,
    cell_type, execution_count, n_lines, n_chars)``.  Parse is pure
    Catalyst: ``from_json`` (JVM Jackson) + ``posexplode`` — no UDF.
    ``n_chars`` measures the reassembled source text (lines carry
    their own trailing newlines per nbformat).  Malformed JSON parses
    to NULL and contributes no rows, as does an empty cell list."""
    parsed = df.select(
        F.col(id_col).alias("_id"),
        F.from_json(F.col(nb_col), NB_SCHEMA).alias("_nb"),
    )
    cells = parsed.select(
        "_id", F.posexplode("_nb.cells").alias("_pos", "_c")
    )
    return cells.select(
        F.col("_id").alias(id_col),
        (F.col("_pos") + 1).cast("long").alias("cell_id"),
        F.col("_c.cell_type").alias("cell_type"),
        F.col("_c.execution_count").alias("execution_count"),
        F.size("_c.source").alias("n_lines"),
        F.length(F.concat_ws("", "_c.source")).alias("n_chars"),
    )
