"""Custom stateful streaming operator: first-seen dedup across micro-batches.

``applyInPandasWithState`` keeps one tiny state cell per content hash, so a
re-crawled page arriving in ANY later micro-batch is suppressed — the
streaming counterpart of the batch resume anti-join (operators/resume.py).
State is per-key and partitioned by the grouping hash, so it scales with
distinct content, not stream length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from pdf_to_epub_spark.operators.resume import doc_hash_column

FIRST_SEEN_SCHEMA = StructType(
    [
        StructField("doc_hash", StringType()),
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("n_dupes_in_batch", LongType()),
    ]
)

_STATE_SCHEMA = StructType([StructField("seen", LongType())])


def _first_seen_fn(key, pdf_iter, state: GroupState):
    import pandas as pd

    rows = list(pdf_iter)
    if state.exists:
        # hash already committed in an earlier batch → emit nothing
        (seen,) = state.get
        state.update((seen + sum(len(p) for p in rows),))
        return iter(())
    pdf = pd.concat(rows, ignore_index=True)
    pdf = pdf.sort_values(["warc_ts", "url"], kind="mergesort")
    first = pdf.iloc[0]
    state.update((len(pdf),))
    out = pd.DataFrame(
        {
            "doc_hash": [key[0]],
            "url": [first["url"]],
            "warc_ts": [first["warc_ts"]],
            "n_dupes_in_batch": [len(pdf) - 1],
        }
    )
    return iter((out,))


def streaming_first_seen(
    pages: DataFrame,
    payload_col: str = "text",
) -> DataFrame:
    """Streaming DataFrame in (url, warc_ts, <payload>) → one row per
    content hash, the first time it is ever seen.

    NULL payloads (schema-legal: html-mode pages before extraction) must
    NOT collapse into one key — sha2(NULL) is NULL, which would suppress
    every later distinct NULL-payload url as a "duplicate".  They key on a
    url-scoped sentinel instead, so re-crawls of the same url dedup while
    distinct urls pass through.  Every other payload keys on
    `resume.doc_hash_column` — the ``doc_hash`` that extraction records —
    so first-seen keys join against a committed table, malformed UTF-8
    included.
    """
    payload = F.col(payload_col)
    hashed = pages.withColumn(
        "doc_hash",
        F.when(
            payload.isNull(),
            F.sha2(
                F.encode(F.concat(F.lit("\x00null\x00"), F.col("url")), "UTF-8"),
                256,
            ),
        ).otherwise(doc_hash_column(payload_col)),
    ).select("doc_hash", "url", "warc_ts")
    return hashed.groupBy("doc_hash").applyInPandasWithState(
        _first_seen_fn,
        FIRST_SEEN_SCHEMA,
        _STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
