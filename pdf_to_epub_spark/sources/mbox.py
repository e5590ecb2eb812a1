"""mbox email-thread source: writer + parser with the classic cleanups.

Mailing-list archives (LKML, pipermail dumps) are a standard
training-data source whose extraction problem is pure boilerplate
removal — the reference's header/footer strip (SURVEY §2 F3/F7) in
email clothes: per message, the RFC-2822 headers must parse, quoted
reply lines (``> …``) and the signature block (everything below the
``-- `` delimiter) must strip, and mboxo ``>From `` escaping must
reverse, leaving exactly the author's words.

* writer: deterministic thread per document — tokens chunk into
  50-token messages; every reply quotes the previous message's opening
  line and carries a signature block; every body OPENS with a line
  starting ``From `` so the mboxo escape path is always exercised;
* parser: splits on the ``From `` separator line, captures ``Subject:``,
  then per body line applies the one unambiguous rule order — exact
  ``-- `` starts the signature (drop rest), ``>From `` unescapes to
  ``From `` (mboxo), ``>``-prefixed lines are quotes (dropped, counted).

Scale shape: both directions are narrow Arrow-batched maps — no
shuffle; an archive corpus parses embarrassingly parallel and the body
text flows into the shared quality/dedup pipeline unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pdf_to_epub_spark.sources._arrow import map_rows, render_documents

MSG_TOKENS = 50    # tokens per message
LINE_TOKENS = 10   # tokens per body line


def _body_lines(doc_id: int, m: int, toks: list[str]) -> list[str]:
    """The author's clean body lines for message ``m`` (the shared
    writer/oracle spec): a ``From the desk…`` opener (escape bait), then
    the message's tokens wrapped ``LINE_TOKENS`` per line."""
    chunk = toks[m * MSG_TOKENS : (m + 1) * MSG_TOKENS]
    lines = [f"From the desk of user {m}"]
    for at in range(0, len(chunk), LINE_TOKENS):
        lines.append(" ".join(chunk[at : at + LINE_TOKENS]))
    return lines


def expected_messages(doc_id: int, text: str) -> list[tuple[str, int, str]]:
    """Deterministic ``(subject, n_quoted, body)`` per message — what the
    parser must recover.  A tokenless document is a 1-message thread."""
    toks = (text or "").split()
    n_msgs = max((len(toks) + MSG_TOKENS - 1) // MSG_TOKENS, 1)
    out = []
    for m in range(n_msgs):
        subject = f"Thread {doc_id}" if m == 0 else f"Re: Thread {doc_id}"
        out.append((subject, 0 if m == 0 else 1,
                    "\n".join(_body_lines(doc_id, m, toks))))
    return out


def make_mbox(doc_id: int, text: str) -> str:
    """Render the thread as an mboxo archive: ``From `` separator lines,
    minimal headers, quoted-reply + signature boilerplate, and body
    lines starting ``From `` escaped to ``>From ``."""
    toks = (text or "").split()
    n_msgs = max((len(toks) + MSG_TOKENS - 1) // MSG_TOKENS, 1)
    parts: list[str] = []
    prev_opener = None
    for m in range(n_msgs):
        subject = f"Thread {doc_id}" if m == 0 else f"Re: Thread {doc_id}"
        body = _body_lines(doc_id, m, toks)
        rendered: list[str] = []
        if m > 0:
            rendered.append(f"> {prev_opener}")
        for line in body:
            rendered.append(f">{line}" if line.startswith("From ") else line)
        rendered += ["-- ", f"User {m} <user{m}@example.invalid>"]
        parts.append(
            f"From user{m}@example.invalid Thu Jan  1 00:00:0{m % 10} 1970\n"
            f"From: User {m} <user{m}@example.invalid>\n"
            f"Subject: {subject}\n"
            f"Date: Thu, 1 Jan 1970 00:00:0{m % 10} +0000\n"
            "\n" + "\n".join(rendered)
        )
        prev_opener = body[0]
    return "\n".join(parts) + "\n"


MBOX_MSG_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("msg_id", IntegerType()),
        StructField("subject", StringType()),
        StructField("n_quoted", IntegerType()),
        StructField("body", StringType()),
    ]
)


def parse_mbox(raw: str) -> list[tuple[str, int, str]]:
    """mbox text → ordered ``(subject, n_quoted, body)`` messages.

    Rule order per body line (unambiguous by construction of mboxo):
    exact ``-- `` opens the signature → drop the rest of the message;
    ``>From `` unescapes to ``From ``; any other ``>``-prefixed line is
    a quoted reply → dropped and counted.  Messages with no blank line
    after the headers yield an empty body rather than failing.
    """
    msgs: list[tuple[str, int, str]] = []
    current: list[str] | None = None
    for line in raw.split("\n"):
        if line.startswith("From ") and " " in line[5:]:
            if current is not None:
                msgs.append(_finish_message(current))
            current = []
            continue
        if current is not None:
            current.append(line)
    if current is not None:
        msgs.append(_finish_message(current))
    return msgs


def _finish_message(lines: list[str]) -> tuple[str, int, str]:
    subject = ""
    body_at = len(lines)
    for i, line in enumerate(lines):
        if line == "":
            body_at = i + 1
            break
        if line.lower().startswith("subject:"):
            subject = line[8:].strip()
    body: list[str] = []
    n_quoted = 0
    for line in lines[body_at:]:
        if line == "-- ":
            break
        if line.startswith(">From "):
            body.append(line[1:])
        elif line.startswith(">"):
            n_quoted += 1
        else:
            body.append(line)
    # trailing blank lines are separator artifacts, not content
    while body and body[-1] == "":
        body.pop()
    return subject, n_quoted, "\n".join(body)


def documents_as_mbox(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """documents → ``(doc_id, mbox: string)``, Arrow-batched."""
    return render_documents(
        docs, id_col, text_col, "mbox", StringType(), make_mbox
    )


def parse_mbox_payloads(
    df: DataFrame, mbox_col: str = "mbox", id_col: str = "doc_id"
) -> DataFrame:
    """``(id, mbox: string)`` → one row per message in archive order:
    ``(doc_id, msg_id, subject, n_quoted, body)``; Arrow-batched,
    narrow (no shuffle); ``msg_id`` numbers from 1."""

    def messages(doc_id, raw):
        for seq, msg in enumerate(parse_mbox(raw or ""), 1):
            yield doc_id, seq, *msg

    return map_rows(df, [id_col, mbox_col], MBOX_MSG_SCHEMA, messages)
