"""MediaWiki wikitext source: deterministic writer + REAL markup parser.

Wikipedia dumps are a canonical training-data source, and their markup
is the same extraction problem the reference solves for OCR text
(SURVEY §2 T-passes): inline furniture (links, emphasis, templates,
refs) must resolve or strip while the content words survive
byte-exactly, and heading lines must classify into a document
structure.  This module is that path, stdlib-only:

* a writer that renders a document's tokens into wikitext with the
  markup real pages have — ``== section ==`` / ``=== sub ===``
  headings, ``[[plain links]]``, ``[[piped|links]]``, ``'''bold'''``
  and ``''italic''`` emphasis, ``{{cite …}}`` templates and
  ``<ref>…</ref>`` footnotes — injected at deterministic token
  positions (the shared spec the DuckDB oracle replays);
* a parser that classifies heading levels, strips templates with
  innermost-first brace matching (nesting-safe), drops refs, resolves
  links to their anchor text, and removes emphasis quotes — returning
  ordered ``(block_type, text)`` blocks plus the link table.

Scale shape: both directions are narrow Arrow-batched maps (no
shuffle); link extraction emits slim (id, target, anchor) rows.  Scope
(honest): paragraph/heading/link/emphasis/template/ref markup only — no
tables, categories, magic words, or transclusion expansion; that is the
"structure real, codec out of scope" line of the other sources.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pdf_to_epub_spark.sources._arrow import map_rows, render_documents

PARA_TOKENS = 30      # tokens per paragraph chunk
HEADING_EVERY = 5     # a heading opens every 5th chunk
TEMPLATE_EVERY = 3    # every 3rd chunk ends with a {{cite}} template
REF_EVERY = 4         # every 4th chunk carries a <ref> after token 0


def _decorate(tok: str, i: int) -> str:
    """Markup for the token at within-chunk position ``i`` — first
    matching rule wins (the shared writer/oracle spec)."""
    if i % 11 == 0:
        return f"[[{tok}]]"
    if i % 11 == 5:
        return f"[[T:{tok}|{tok}]]"
    if i % 7 == 3:
        return f"'''{tok}'''"
    if i % 13 == 2:
        return f"''{tok}''"
    return tok


def doc_wiki_blocks(doc_id: int, text: str) -> list[tuple[str, str]]:
    """The deterministic PLAIN-TEXT block list a document must parse
    back to: tokens chunk into ``PARA_TOKENS``-token paragraphs, every
    ``HEADING_EVERY``-th chunk is preceded by a heading (level
    alternating h2/h3), and markup resolves to the bare tokens.  Empty
    documents still yield their opening heading."""
    toks = (text or "").split()
    n_chunks = (len(toks) + PARA_TOKENS - 1) // PARA_TOKENS
    blocks: list[tuple[str, str]] = []
    for k in range(max(n_chunks, 1)):
        if k % HEADING_EVERY == 0:
            j = k // HEADING_EVERY
            blocks.append(
                ("h2" if j % 2 == 0 else "h3", f"Heading {doc_id}.{j}")
            )
        if k < n_chunks:
            chunk = toks[k * PARA_TOKENS : (k + 1) * PARA_TOKENS]
            blocks.append(("para", " ".join(chunk)))
    return blocks


def make_wikitext(doc_id: int, text: str) -> str:
    """Render the document into wikitext markup (the inverse of
    :func:`parse_wikitext` over :func:`doc_wiki_blocks`)."""
    toks = (text or "").split()
    n_chunks = (len(toks) + PARA_TOKENS - 1) // PARA_TOKENS
    out: list[str] = []
    for k in range(max(n_chunks, 1)):
        if k % HEADING_EVERY == 0:
            j = k // HEADING_EVERY
            eq = "==" if j % 2 == 0 else "==="
            out.append(f"{eq} Heading {doc_id}.{j} {eq}")
        if k < n_chunks:
            chunk = toks[k * PARA_TOKENS : (k + 1) * PARA_TOKENS]
            deco = [_decorate(t, i) for i, t in enumerate(chunk)]
            if k % REF_EVERY == 0:
                deco[0] = deco[0] + f"<ref>note {doc_id}.{k}</ref>"
            para = " ".join(deco)
            if k % TEMPLATE_EVERY == 0:
                para += f" {{{{cite|id={doc_id}-{k}|page={k + 1}}}}}"
            out.append(para)
    return "\n\n".join(out)


_HEADING_RE = re.compile(r"^(={2,6})\s*(.*?)\s*\1$")
_TEMPLATE_RE = re.compile(r"\{\{[^{}]*\}\}")
_REF_RE = re.compile(r"<ref[^>/]*>.*?</ref>|<ref[^>]*/>", re.DOTALL)
_LINK_RE = re.compile(r"\[\[([^|\[\]]*)(?:\|([^\[\]]*))?\]\]")


def parse_wikitext(raw: str) -> tuple[list[tuple[str, str]], list[tuple[str, str]]]:
    """wikitext → (ordered ``(block_type, text)`` blocks, ``(target,
    anchor)`` links in document order).

    * headings: ``^(={2,6}) title \\1$`` → ``h<level>``;
    * templates: innermost-first ``{{…}}`` removal until fixpoint
      (nesting-safe);
    * refs: ``<ref>…</ref>`` and self-closing ``<ref/>`` dropped;
    * links: ``[[a|b]]`` → anchor ``b``, ``[[a]]`` → anchor ``a``
      (targets collected either way);
    * emphasis: ``'''`` then ``''`` quote runs removed;
    * whitespace: paragraphs re-collapse to single-spaced tokens (the
      strips above may leave doubles behind).
    """
    blocks: list[tuple[str, str]] = []
    links: list[tuple[str, str]] = []
    for rawblock in re.split(r"\n\s*\n", raw):
        rawblock = rawblock.strip()
        if not rawblock:
            continue
        m = _HEADING_RE.match(rawblock)
        if m:
            blocks.append((f"h{len(m.group(1))}", m.group(2)))
            continue
        t = rawblock
        while _TEMPLATE_RE.search(t):
            t = _TEMPLATE_RE.sub("", t)
        t = _REF_RE.sub("", t)

        def _link(mm: re.Match) -> str:
            target = mm.group(1)
            anchor = mm.group(2) if mm.group(2) is not None else target
            links.append((target, anchor))
            return anchor

        t = _LINK_RE.sub(_link, t)
        t = t.replace("'''", "").replace("''", "")
        blocks.append(("para", " ".join(t.split())))
    return blocks, links


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------

WIKI_BLOCK_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("block_id", IntegerType()),
        StructField("block_type", StringType()),
        StructField("text", StringType()),
    ]
)

WIKI_LINK_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("link_id", IntegerType()),
        StructField("target", StringType()),
        StructField("anchor", StringType()),
    ]
)


def documents_as_wikitext(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """documents → ``(doc_id, wiki: string)``, Arrow-batched."""
    return render_documents(
        docs, id_col, text_col, "wiki", StringType(), make_wikitext
    )


def parse_wikitext_payloads(
    df: DataFrame, wiki_col: str = "wiki", id_col: str = "doc_id"
) -> DataFrame:
    """``(id, wiki: string)`` → one row per block in document order:
    ``(doc_id, block_id, block_type, text)``; Arrow-batched, narrow."""

    def blocks(doc_id, raw):
        for seq, block in enumerate(parse_wikitext(raw or "")[0], 1):
            yield doc_id, seq, *block

    return map_rows(df, [id_col, wiki_col], WIKI_BLOCK_SCHEMA, blocks)


def extract_wikitext_links(
    df: DataFrame, wiki_col: str = "wiki", id_col: str = "doc_id"
) -> DataFrame:
    """``(id, wiki: string)`` → the link table ``(doc_id, link_id,
    target, anchor)`` in document order; Arrow-batched, narrow — the
    wiki-graph edge list a link-analysis stage consumes."""

    def links(doc_id, raw):
        for seq, link in enumerate(parse_wikitext(raw or "")[1], 1):
            yield doc_id, seq, *link

    return map_rows(df, [id_col, wiki_col], WIKI_LINK_SCHEMA, links)
