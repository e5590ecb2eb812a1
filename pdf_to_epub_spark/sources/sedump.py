"""Stack-Exchange ``Posts.xml`` dump source: writer + parser + Q&A pairing.

Q&A dumps are a canonical SFT-data source whose extraction problem is a
*join*, not a text cleanup: each question (``PostTypeId=1``) must pair
with its best answer (``PostTypeId=2`` rows joined on ``ParentId``,
argmax by ``Score`` with the post-id tiebreak), which is exactly the
reference's correlate-two-derived-streams shape (SURVEY §2.3 J3) plus a
top-1-per-group (§2.6 O2) in dump clothes.

* writer: deterministic dump per document — tokens chunk into 40-token
  posts; post 0 is the question, the rest are answers whose scores
  follow a fixed arithmetic (``(doc_id + 3·m) % 7 − 1``) so the oracle
  can replay them; every body line rides inside ``<p>…</p>`` and every
  body OPENS with ``A & B <c> "m"`` so both escaping layers are always
  exercised — HTML-escaped text inside an XML-escaped attribute
  (``&`` → ``&amp;`` → ``&amp;amp;``), like the real archive.org dumps;
* parser: per ``<row …/>`` element, read the attributes, XML-unescape
  the body attribute, split the ``<p>`` paragraphs, HTML-unescape each
  — recovering byte-identical author text.

Scale shape: both directions are narrow Arrow-batched maps (no
shuffle); the Q&A pairing downstream is one hash join on
(doc_id, parent_id) plus one bounded per-question window — at corpus
scale both shuffle on doc_id only, and answer fan-in per question is
small by construction of real dumps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pdf_to_epub_spark.sources._arrow import map_rows, render_documents

POST_TOKENS = 40   # tokens per post (question or answer)
LINE_TOKENS = 8    # tokens per body line


def _xml_escape(s: str) -> str:
    return (
        s.replace("&", "&amp;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
        .replace('"', "&quot;")
    )


def _xml_unescape(s: str) -> str:
    # reverse order of _xml_escape; &amp; last so &amp;lt; → &lt; stays
    return (
        s.replace("&quot;", '"')
        .replace("&gt;", ">")
        .replace("&lt;", "<")
        .replace("&amp;", "&")
    )


def _score(doc_id: int, m: int) -> int:
    """Deterministic answer score for post ordinal ``m`` (≥1)."""
    return (doc_id + 3 * m) % 7 - 1


def _body_lines(m: int, toks: list[str]) -> list[str]:
    """Clean author lines for post ``m`` (shared writer/oracle spec): an
    escape-bait opener, then the post's tokens 8 per line."""
    chunk = toks[m * POST_TOKENS : (m + 1) * POST_TOKENS]
    lines = [f'A & B <c> "{m}"']
    for at in range(0, len(chunk), LINE_TOKENS):
        lines.append(" ".join(chunk[at : at + LINE_TOKENS]))
    return lines


def _n_posts(toks: list[str]) -> int:
    return max((len(toks) + POST_TOKENS - 1) // POST_TOKENS, 2)


def expected_posts(
    doc_id: int, text: str
) -> list[tuple[int, int, int | None, int | None, int, str | None, str]]:
    """Deterministic ``(post_id, post_type, parent_id, accepted_id,
    score, title, body)`` rows the parser must recover, in dump order."""
    toks = (text or "").split()
    n = _n_posts(toks)
    best = max(range(1, n), key=lambda m: (_score(doc_id, m), -m))
    rows: list[tuple] = []
    for m in range(n):
        body = "\n".join(_body_lines(m, toks))
        if m == 0:
            rows.append(
                (1, 1, None, best + 1, doc_id % 5, f"Question {doc_id}", body)
            )
        else:
            rows.append((m + 1, 2, 1, None, _score(doc_id, m), None, body))
    return rows


def make_sedump(doc_id: int, text: str) -> str:
    """Render the document as a Stack-Exchange ``Posts.xml`` dump: one
    question row + its answer rows, bodies as HTML paragraphs inside
    XML-escaped attributes (the double-escape of the real dumps)."""
    parts = ['<?xml version="1.0" encoding="utf-8"?>', "<posts>"]
    for (
        post_id,
        post_type,
        parent_id,
        accepted_id,
        score,
        title,
        body,
    ) in expected_posts(doc_id, text):
        html = "".join(
            f"<p>{_xml_escape(line)}</p>" for line in body.split("\n")
        )
        attrs = [f'Id="{post_id}"', f'PostTypeId="{post_type}"']
        if accepted_id is not None:
            attrs.append(f'AcceptedAnswerId="{accepted_id}"')
        if parent_id is not None:
            attrs.append(f'ParentId="{parent_id}"')
        attrs.append(f'Score="{score}"')
        if title is not None:
            attrs.append(f'Title="{_xml_escape(title)}"')
        attrs.append(f'Body="{_xml_escape(html)}"')
        parts.append("  <row " + " ".join(attrs) + " />")
    parts.append("</posts>")
    return "\n".join(parts) + "\n"


def parse_sedump(
    raw: str,
) -> list[tuple[int, int, int | None, int | None, int, str | None, str]]:
    """dump text → ordered ``(post_id, post_type, parent_id,
    accepted_id, score, title, body)`` rows.

    Attribute values never contain a raw ``"`` (XML guarantees it), so
    the ``(\\w+)="([^"]*)"`` scan is exact; the body attribute
    XML-unescapes to HTML whose ``<p>`` paragraphs HTML-unescape to the
    author's lines.  Rows missing a Body yield an empty body rather
    than failing; non-``row`` elements are ignored.
    """
    import re

    rows: list[tuple] = []
    for el in re.findall(r"<row\b([^>]*)/>", raw or ""):
        attrs = dict(re.findall(r'(\w+)="([^"]*)"', el))
        html = _xml_unescape(attrs.get("Body", ""))
        lines = [
            _xml_unescape(p)
            for p in re.findall(r"<p>(.*?)</p>", html, flags=re.S)
        ]
        rows.append(
            (
                int(attrs.get("Id", "0")),
                int(attrs.get("PostTypeId", "0")),
                int(attrs["ParentId"]) if "ParentId" in attrs else None,
                int(attrs["AcceptedAnswerId"])
                if "AcceptedAnswerId" in attrs
                else None,
                int(attrs.get("Score", "0")),
                _xml_unescape(attrs["Title"]) if "Title" in attrs else None,
                "\n".join(lines),
            )
        )
    return rows


SEDUMP_POST_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("post_id", IntegerType()),
        StructField("post_type", IntegerType()),
        StructField("parent_id", IntegerType()),
        StructField("accepted_id", IntegerType()),
        StructField("score", IntegerType()),
        StructField("title", StringType()),
        StructField("body", StringType()),
    ]
)


def documents_as_sedump(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """documents → ``(doc_id, xml: string)``, Arrow-batched."""
    return render_documents(
        docs, id_col, text_col, "xml", StringType(), make_sedump
    )


def parse_sedump_payloads(
    df: DataFrame, xml_col: str = "xml", id_col: str = "doc_id"
) -> DataFrame:
    """``(id, xml: string)`` → one row per post in dump order; Arrow-
    batched, narrow (no shuffle)."""

    def posts(doc_id, raw):
        for post in parse_sedump(raw or ""):
            yield doc_id, *post

    return map_rows(df, [id_col, xml_col], SEDUMP_POST_SCHEMA, posts)


def qa_best_answer_pairs(posts: DataFrame) -> DataFrame:
    """Parsed posts → one (prompt, response) SFT pair per question: the
    answer with the highest score (post-id tiebreak), plus the answer
    count and whether the winner matches the question's
    ``AcceptedAnswerId`` (always true for well-formed dumps — carried
    as an end-to-end parse check).

    Scale shape: one hash join on (doc_id, parent_id→post_id) and one
    per-question window over the joined answers; both shuffle on
    doc_id, answer fan-in per question is naturally bounded.
    """
    from pyspark.sql import Window

    q = posts.filter(F.col("post_type") == 1).select(
        "doc_id",
        F.col("post_id").alias("q_post_id"),
        F.col("accepted_id"),
        F.col("title"),
        F.col("body").alias("prompt"),
    )
    a = posts.filter(F.col("post_type") == 2).select(
        "doc_id",
        F.col("parent_id"),
        F.col("post_id").alias("a_post_id"),
        F.col("score"),
        F.col("body").alias("response"),
    )
    joined = q.join(
        a,
        (q["doc_id"] == a["doc_id"]) & (q["q_post_id"] == a["parent_id"]),
    ).select(q["doc_id"], "q_post_id", "accepted_id", "title", "prompt",
             "a_post_id", "score", "response")
    # windows key on (doc_id, q_post_id), not doc_id alone: a dump
    # document carrying several questions must yield one pair PER
    # QUESTION, and n_answers counts that question's answers only
    w = Window.partitionBy("doc_id", "q_post_id").orderBy(
        F.col("score").desc(), F.col("a_post_id").asc()
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_answers",
            F.count(F.lit(1)).over(Window.partitionBy("doc_id", "q_post_id")),
        )
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "title",
            "prompt",
            "response",
            F.col("score").cast("long").alias("best_score"),
            F.col("n_answers").cast("long").alias("n_answers"),
            (F.col("a_post_id") == F.col("accepted_id")).alias(
                "is_accepted"
            ),
        )
    )
