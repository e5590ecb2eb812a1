"""Content-defined chunking (CDC) — storage-level dedup for recrawl
snapshots.

Fixed-size chunking breaks on the first byte insertion: every later
chunk shifts and nothing dedups.  CDC places chunk boundaries where a
rolling hash of the LAST 64 BYTES hits a mask condition, so boundaries
re-synchronize right after any local edit — the property that makes
storing N crawl snapshots of the same page cost ~1 snapshot plus the
edits.  This is the gear-hash variant (FastCDC's hash; Xia et al., USENIX
ATC'16 — public algorithm), with a simplified, fully deterministic cut
rule so the pure-Python oracle replay and the vectorized engine cannot
disagree:

    h_i   = sum_{k=0..63} GEAR[b_{i-k}] << k      (mod 2^64)
    cut after byte i  when  (i - start + 1) >= min_size
                      and   (h_i & mask) == 0
    forced cut        when  (i - start + 1) == max_size
    final chunk       = the remainder

``min_size >= 64`` guarantees every tested position has a full 64-byte
window, so the global rolling hash equals a per-chunk fresh-start hash
and chunking is strictly content-local.

Scale design: the chunker is a numpy-vectorized row function on the
package's one Arrow boundary (``sources/_arrow.map_rows``) — the rolling
hash is computed for a whole document with 64 shifted vector adds (no
per-byte Python), candidate positions are sparse (~1/2^avg_bits bytes),
and only the candidate-selection walk is a Python loop over
~n/avg_chunk items.  Downstream dedup is a plain
``groupBy(chunk_hash)`` over slim (hash, len) rows — map-side combine,
one shuffle, no text movement.  At 100 TB the chunk table is the
artifact you persist; re-chunking only the recrawled partition keeps
the daily cost O(batch).

GEAR table: 256 uint64 constants derived from ``md5(bytes([i]))`` —
deterministic, documented, replayable on both sides of the oracle.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from pdf_to_epub_spark.sources._arrow import map_rows


def _gear_table() -> list[int]:
    return [
        int.from_bytes(hashlib.md5(bytes([i])).digest()[:8], "big")
        for i in range(256)
    ]


_GEAR = _gear_table()
_WINDOW = 64


def cdc_boundaries(
    data: bytes, min_size: int = 64, avg_bits: int = 8, max_size: int = 1024
) -> list[int]:
    """Pure-Python reference chunker: returns cut END offsets (exclusive),
    last element always ``len(data)``.  O(n) per-byte loop — this is the
    ORACLE/test implementation; the engine path is the numpy form inside
    :func:`cdc_chunks` (property-tested equal)."""
    if min_size < _WINDOW:
        raise ValueError(f"min_size must be >= {_WINDOW} (full hash window)")
    if max_size <= min_size:
        raise ValueError("max_size must exceed min_size")
    n = len(data)
    if n == 0:
        return []
    mask = (1 << avg_bits) - 1
    cuts = []
    start = 0
    h = 0
    m64 = (1 << 64) - 1
    for i, b in enumerate(data):
        h = ((h << 1) + _GEAR[b]) & m64
        size = i - start + 1
        if (size >= min_size and (h & mask) == 0) or size == max_size:
            cuts.append(i + 1)
            start = i + 1
    if not cuts or cuts[-1] != n:
        cuts.append(n)
    return cuts


def chunk_bytes(
    data: bytes, min_size: int = 64, avg_bits: int = 8, max_size: int = 1024
) -> list[bytes]:
    """Split ``data`` at :func:`cdc_boundaries`."""
    out = []
    start = 0
    for end in cdc_boundaries(data, min_size, avg_bits, max_size):
        out.append(data[start:end])
        start = end
    return out


def _np_boundaries(arr, min_size: int, avg_bits: int, max_size: int):
    """Vectorized boundary computation: 64 shifted uint64 adds build the
    rolling hash for every position at once; only the sparse candidate
    walk is Python."""
    import numpy as np

    n = arr.shape[0]
    if n == 0:
        return []
    gear = _np_gear()
    g = gear[arr]  # uint64 per byte
    acc = np.zeros(n, dtype=np.uint64)
    for k in range(_WINDOW):
        if k >= n:
            break
        if k == 0:
            acc += g
        else:
            acc[k:] += g[:-k] << np.uint64(k)
    mask = np.uint64((1 << avg_bits) - 1)
    cand = np.nonzero((acc & mask) == np.uint64(0))[0]
    cuts = []
    start = 0
    import bisect

    cl = cand.tolist()
    while start < n:
        lo = start + min_size - 1
        hi = start + max_size - 1  # inclusive forced-cut position
        j = bisect.bisect_left(cl, lo)
        if j < len(cl) and cl[j] < hi:
            end = cl[j] + 1
        elif hi < n:
            end = hi + 1
        else:
            end = n
        cuts.append(end)
        start = end
    return cuts


_NP_GEAR = None


def _np_gear():
    global _NP_GEAR
    if _NP_GEAR is None:
        import numpy as np

        _NP_GEAR = np.array(_GEAR, dtype=np.uint64)
    return _NP_GEAR


def cdc_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_size: int = 64,
    avg_bits: int = 8,
    max_size: int = 1024,
) -> DataFrame:
    """Chunk every document's UTF-8 bytes content-defined; returns
    ``(id, chunk_idx, chunk_hash, chunk_bytes)`` rows — slim enough that
    the downstream dedup groupBy never moves text.  Arrow-batched, no
    per-row Python in the hash (numpy vector form; equality with the
    reference loop is property-tested)."""
    import numpy as np

    # same invalid-parameter contract as the reference loop (the numpy
    # path would otherwise silently chunk with a partial hash window)
    if min_size < _WINDOW:
        raise ValueError(f"min_size must be >= {_WINDOW} (full hash window)")
    if max_size <= min_size:
        raise ValueError("max_size must exceed min_size")

    # the id keeps the caller's type (url keys are the natural snapshot key)
    schema = StructType([
        StructField(id_col, df.schema[id_col].dataType),
        StructField("chunk_idx", IntegerType()),
        StructField("chunk_hash", StringType()),
        StructField("chunk_bytes", IntegerType()),
    ])

    def rows(doc_id, text):
        raw = (text or "").encode("utf-8")
        cuts = _np_boundaries(
            np.frombuffer(raw, dtype=np.uint8), min_size, avg_bits, max_size
        )
        return [
            (doc_id, ci, hashlib.md5(raw[start:end]).hexdigest(), end - start)
            for ci, (start, end) in enumerate(zip([0, *cuts], cuts))
        ]

    return map_rows(df, [id_col, text_col], schema, rows)


def chunk_dedup_table(chunks: DataFrame) -> DataFrame:
    """Corpus-level chunk store view: one row per distinct chunk with its
    copy count — ``n_copies``·``chunk_bytes`` vs ``chunk_bytes`` is the
    storage-dedup win.  One shuffle on chunk_hash (slim rows)."""
    return chunks.groupBy("chunk_hash").agg(
        F.first("chunk_bytes").alias("chunk_bytes"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def cdc_dedup_ratio(chunks: DataFrame) -> DataFrame:
    """One-row summary: logical vs deduped bytes and the ratio."""
    t = chunk_dedup_table(chunks)
    return t.agg(
        F.sum(F.col("chunk_bytes").cast("long") * F.col("n_copies")).alias(
            "logical_bytes"
        ),
        F.sum("chunk_bytes").cast("long").alias("stored_bytes"),
        F.round(
            F.sum(F.col("chunk_bytes").cast("long") * F.col("n_copies"))
            / F.sum("chunk_bytes"),
            6,
        ).alias("dedup_ratio"),
    )


def cdc_incremental(
    old_chunks: DataFrame,
    new_docs: DataFrame,
    deleted_ids: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_size: int = 64,
    avg_bits: int = 8,
    max_size: int = 1024,
) -> DataFrame:
    """O(batch) chunk-store maintenance for a recrawl: re-chunk ONLY the
    changed/added documents, subtract the touched documents' old chunk
    references, and emit the net refcount delta per chunk —
    ``(chunk_hash, chunk_bytes, ref_delta)`` with zero-net rows dropped.

    Applying the delta to the prior store (refcount += ref_delta, insert
    unseen hashes, evict refcount 0) reproduces exactly the store a full
    re-chunk of the new corpus would build — pinned by test.  The daily
    cost is O(batch x chunks-per-doc): the untouched corpus is never
    read, the only wide op is one groupBy on chunk_hash over slim
    +1/-1-weighted rows (map-side combined).  ``new_docs`` must contain
    the changed+added documents only (NOT unchanged recrawls — dedupe
    upstream with :func:`pdf_to_epub_spark.operators.delta.delta_encode`
    statuses); ``deleted_ids`` the disappeared keys."""
    probe = new_docs.select(id_col).distinct()  # multi-version batch safe
    if deleted_ids is not None:
        probe = probe.unionByName(deleted_ids.select(id_col)).distinct()
    minus = old_chunks.join(probe, id_col, "left_semi").select(
        "chunk_hash", "chunk_bytes", F.lit(-1).alias("__w")
    )
    plus = cdc_chunks(
        new_docs, id_col, text_col, min_size, avg_bits, max_size
    ).select("chunk_hash", "chunk_bytes", F.lit(1).alias("__w"))
    return (
        plus.unionByName(minus)
        .groupBy("chunk_hash")
        .agg(
            F.min("chunk_bytes").alias("chunk_bytes"),
            F.sum("__w").alias("ref_delta"),
        )
        .where(F.col("ref_delta") != 0)
    )
