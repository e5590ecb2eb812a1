"""The Arrow boundary every source parser and writer, and every operator
row stage, shares.

A parser is a row function: one input row's values in, zero or more
output row tuples out, in output-schema column order.  This module turns
such a function into a narrow ``mapInArrow`` stage (no shuffle) and
builds each output batch with column types taken from the output
``StructType`` — the schema a parser declares is the only place its
types are written down.  The operators' row stages (content-defined
chunking, Unicode normalization, bigram-LM scoring, media features and
fingerprints) and the TFRecord reader are row functions on the same
stage, so no caller writes its types twice or meets pandas dtype
inference (a nullable 64-bit hash column inferred as float64).  The
extraction stage (``operators/extract``) builds its computed columns with
`record_batch` and passes its input columns through as Arrow arrays: a
``TimestampType`` column must not round-trip through a row function,
which shifts it by the session time zone when that is not UTC.

A writer (``documents_as_*``) is the inverse: `render_documents` runs
its ``make(doc_id, text)`` per document through the same stage, so the
synthetic payloads the parsers read back are rendered by one boundary
too.

`isolated` adds the per-document error isolation the binary container
parsers promise: a payload the parser rejects, a crash, or an empty
result becomes one marker row (``status`` = ``'unsupported'`` /
``'error'`` / the parser's empty word) with every other column but the
id null — never a task failure, never a silently vanished document.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame
from pyspark.sql.types import DataType, StructField, StructType

RowFn = Callable[..., Iterable[tuple]]


def record_batch(rows: Iterable[tuple], schema: StructType):
    """Row tuples → one Arrow ``RecordBatch`` typed by ``schema``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow)
    return pa.RecordBatch.from_arrays(
        [pa.array(col, f.type) for col, f in zip(columns, arrow)],
        schema=arrow,
    )


def map_rows(
    df: DataFrame, cols: list[str], schema: StructType, rows: RowFn
) -> DataFrame:
    """``df.select(*cols)`` → ``rows(*values)`` per input row, one output
    batch per input batch, as a narrow ``mapInArrow`` stage."""

    def batches(it):
        for b in it:
            values = zip(*(c.to_pylist() for c in b.columns))
            yield record_batch(
                [row for vals in values for row in rows(*vals)], schema
            )

    return df.select(*cols).mapInArrow(batches, schema)


def render_documents(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    name: str,
    dtype: DataType,
    make: Callable[[int, str], object],
) -> DataFrame:
    """documents → ``(id, name: dtype)`` with ``make(int(id), text or "")``
    per row; the id column keeps its input type and nullability."""
    schema = StructType([docs.schema[id_col], StructField(name, dtype)])

    def rows(doc_id, text):
        return [(doc_id, make(int(doc_id), text or ""))]

    return map_rows(docs, [id_col, text_col], schema, rows)


def isolated(
    parse: Callable[[object, bytes], Iterable[tuple]],
    unsupported: type[Exception],
    empty: str,
    schema: StructType,
) -> RowFn:
    """Wrap ``parse(doc_id, raw: bytes)`` as an ``(id, payload: binary)``
    row function that always yields at least one row: ``parse``'s rows,
    or a marker row ``(doc_id, None, …, status)`` whose status is
    ``'unsupported'`` when it raises ``unsupported``, ``'error'`` when it
    raises anything else, and ``empty`` when it yields nothing.  A null
    payload parses as ``b""``."""
    padding = (None,) * (len(schema.fields) - 2)

    def run(doc_id, payload):
        raw = bytes(payload) if payload is not None else b""
        try:
            out = list(parse(doc_id, raw))
        except unsupported:
            status = "unsupported"
        except Exception:  # noqa: BLE001 — isolate, don't kill the task
            status = "error"
        else:
            if out:
                return out
            status = empty
        return [(doc_id, *padding, status)]

    return run
