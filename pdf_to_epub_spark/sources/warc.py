"""WARC (Web ARChive, ISO 28500) source: the container format Common
Crawl actually ships.

Parser + writer for the subset a text pipeline needs: ``response`` /
``resource`` / ``conversion`` records (the last is WET — Common Crawl's
extracted-text sibling, same container), WARC/1.0 and 1.1, plain or
per-record-gzip-member files (the CC layout — each record its own gzip
member, members concatenated; ``zlib`` decompresses them in sequence).

Scale shape: parsing is a :meth:`mapInArrow` pass over ``(content:
binary)`` rows — one row per WARC file (or file split).  Nothing
shuffles; the output is the page-table rows the rest of the engine
consumes (input_hint schema).  For multi-GB archives, feed paths instead
of contents via :func:`read_warc_paths` — each task streams its file in
constant memory rather than holding the whole archive as one row.

The writer exists so tests and the driver query can round-trip
deterministically without external data: ``build_warc_bytes`` emits a
valid WARC file from (url, date, payload) triples.

Reference parity note: no analog in the reference (it reads exported
page-JSON shards; SURVEY §2 S6-S7) — this is the web-scale source the
north-star input table is loaded from.
"""

from __future__ import annotations

import gzip
import hashlib
import io
import re
from typing import Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StringType, StructField, StructType

from pdf_to_epub_spark.sources._arrow import map_rows, record_batch

RECORD_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_date", StringType()),
        StructField("record_type", StringType()),
        StructField("html", BinaryType()),
    ]
)

_GZIP_MAGIC = b"\x1f\x8b"

# "conversion" is the WET (extracted-text) record type: a WET file is a
# WARC whose payloads are plain text — same container, same parser.
_PAGE_RECORD_TYPES = ("response", "resource", "conversion")


def build_warc_bytes(
    records: Iterable[tuple[str, str, bytes]],
    gzip_members: bool = False,
    with_http_headers: bool = True,
    record_type: str | None = None,
) -> bytes:
    """Serialize (url, iso_date, payload) triples as a WARC file.

    ``with_http_headers`` wraps each payload in a minimal HTTP/1.1
    response block (the CC ``response`` record shape); otherwise records
    are ``resource`` records carrying the raw payload.
    ``record_type="conversion"`` writes CC WET-shape records instead:
    ``WARC-Type: conversion`` with a ``text/plain`` payload and no HTTP
    wrapping (``with_http_headers`` is ignored) — the archive format CC
    ships extracted text in.

    Header-value contract (per ISO 28500): values are whitespace-trimmed
    on parse, so urls/dates must not carry leading/trailing whitespace —
    real urls percent-encode it (property-tested in
    tests/test_property_ops.py)."""
    out = io.BytesIO()
    for url, date, payload in records:
        if record_type == "conversion":
            http = payload
            rtype = b"conversion"
            ctype = b"text/plain"
        elif with_http_headers:
            http = (
                b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                + b"Content-Length: " + str(len(payload)).encode() + b"\r\n\r\n"
                + payload
            )
            rtype = b"response"
            ctype = b"application/http; msgtype=response"
        else:
            http = payload
            rtype = b"resource"
            ctype = b"text/html"
        rec_id = hashlib.md5((url + date).encode()).hexdigest()
        block = (
            b"WARC/1.0\r\n"
            b"WARC-Type: " + rtype + b"\r\n"
            b"WARC-Record-ID: <urn:uuid:" + rec_id.encode() + b">\r\n"
            b"WARC-Target-URI: " + url.encode() + b"\r\n"
            b"WARC-Date: " + date.encode() + b"\r\n"
            b"Content-Type: " + ctype + b"\r\n"
            b"Content-Length: " + str(len(http)).encode() + b"\r\n"
            b"\r\n" + http + b"\r\n\r\n"
        )
        # mtime=0: a gzip member embeds a timestamp; pin it so archive
        # bytes are identical across runs (determinism contract)
        out.write(gzip.compress(block, mtime=0) if gzip_members else block)
    return out.getvalue()


def surt_key(url: str) -> str:
    """SURT (Sort-friendly URI Reordering Transform) key, the CDX sort
    key CC-style indexes use: host labels reversed and comma-joined
    (lowercased, ``www.`` and userinfo/port stripped) + ``)`` + path +
    ``?query``.  Simplified vs. full canonicalization (no %-decoding or
    session-param stripping) but deterministic and order-compatible."""
    import re as _re

    m = _re.match(r"(?i)^[a-z][a-z0-9+.\-]*://([^/?#]*)([^?#]*)(\?[^#]*)?", url)
    if not m:
        return url.lower()
    host, path, query = m.group(1).lower(), m.group(2) or "/", m.group(3) or ""
    host = host.split("@")[-1].partition(":")[0]
    if host.startswith("www."):
        host = host[4:]
    return ",".join(reversed(host.split("."))) + ")" + (path or "/") + query


def _split_gzip_members(data: bytes) -> Iterator[bytes]:
    """Decompress concatenated gzip members (the CC per-record layout)."""
    import zlib

    pos = 0
    while pos < len(data):
        d = zlib.decompressobj(wbits=zlib.MAX_WBITS | 16)
        try:
            member = d.decompress(data[pos:])
        except zlib.error:  # corrupt member (truncated fetch): stop
            break
        yield member
        consumed = len(data) - pos - len(d.unused_data)
        if consumed <= 0:  # corrupt trailer: stop rather than spin
            break
        pos += consumed


def iter_warc_records(
    data: bytes,
) -> Iterator[tuple[str, str, str, bytes]]:
    """Yield (url, warc_date, record_type, payload) from one WARC file's
    bytes; ``response`` records have their HTTP header block stripped so
    the payload is the raw html.  Malformed trailing bytes end iteration
    (a truncated fetch should not kill the task)."""
    if data[:2] == _GZIP_MAGIC:
        chunks: Iterable[bytes] = _split_gzip_members(data)
    else:
        chunks = [data]
    for chunk in chunks:
        pos = 0
        while True:
            start = chunk.find(b"WARC/", pos)
            if start == -1:
                break
            hdr_end = chunk.find(b"\r\n\r\n", start)
            if hdr_end == -1:
                break
            headers: dict[str, str] = {}
            for line in chunk[start:hdr_end].split(b"\r\n")[1:]:
                k, _, v = line.partition(b":")
                headers[k.strip().lower().decode()] = v.strip().decode(
                    "utf-8", "replace"
                )
            try:
                length = int(headers.get("content-length", ""))
            except ValueError:
                break
            body = chunk[hdr_end + 4 : hdr_end + 4 + length]
            pos = hdr_end + 4 + length
            rtype = headers.get("warc-type", "")
            url = headers.get("warc-target-uri", "")
            date = headers.get("warc-date", "")
            if rtype == "response" and body[:5] in (b"HTTP/",):
                http_end = body.find(b"\r\n\r\n")
                if http_end != -1:
                    body = body[http_end + 4 :]
            if rtype in _PAGE_RECORD_TYPES and url:
                yield url, date, rtype, body


def stream_warc_records(
    fobj, chunk_size: int = 1 << 20
) -> Iterator[tuple[str, str, str, bytes]]:
    """Incrementally parse WARC records from a file object in bounded
    memory: raw bytes are read ``chunk_size`` at a time, gzip members are
    decompressed through one rolling ``decompressobj``, and the record
    buffer is compacted after every yield — peak memory is
    O(chunk + largest single record), never O(file).  Semantics (record
    selection, HTTP header stripping, corrupt-tail tolerance) match
    :func:`iter_warc_records` on well-formed input; tests pin the
    equivalence.  On a malformed Content-Length mid-file the two recover
    differently: the bytes form skips to the next gzip member, this one
    rescans from the next record marker (≥ the records the bytes form
    yields).  Caveat of the rescan: when the damaged record's body itself
    contains WARC-shaped text (a crawled page ABOUT warc files, or
    warc-in-warc), records embedded in that one unskippable body can
    surface as top-level records — bounded to the single record whose
    length was lost; an intact Content-Length always skips its body
    whole."""
    import zlib

    head = fobj.read(2)
    gz = head == _GZIP_MAGIC
    d = zlib.decompressobj(wbits=zlib.MAX_WBITS | 16) if gz else None
    buf = bytearray()
    pending: bytes = head
    eof = False

    def pump() -> bool:
        """Move one more chunk into ``buf``; False at (or after) EOF."""
        nonlocal pending, eof, d
        if eof:
            return False
        raw = pending + fobj.read(chunk_size)
        pending = b""
        if not raw:
            eof = True
            return False
        if gz:
            data = raw
            while data:
                try:
                    buf.extend(d.decompress(data))
                except zlib.error:  # corrupt member: drop the tail
                    eof = True
                    return True
                if d.eof:
                    data = d.unused_data
                    d = zlib.decompressobj(wbits=zlib.MAX_WBITS | 16)
                else:
                    data = b""
        else:
            buf.extend(raw)
        return True

    pos = 0
    while True:
        start = buf.find(b"WARC/", pos)
        if start == -1:
            # keep a small tail in case "WARC/" straddles a chunk boundary
            del buf[: max(0, len(buf) - 8)]
            pos = 0
            if not pump():
                return
            continue
        hdr_end = buf.find(b"\r\n\r\n", start)
        if hdr_end == -1:
            del buf[:start]
            pos = 0
            if not pump():
                return
            continue
        headers: dict[str, str] = {}
        for line in bytes(buf[start:hdr_end]).split(b"\r\n")[1:]:
            k, _, v = line.partition(b":")
            headers[k.strip().lower().decode()] = v.strip().decode(
                "utf-8", "replace"
            )
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            # malformed/missing Content-Length mid-file: skip past the bad
            # header block and rescan for the next record marker instead of
            # dropping the whole remaining file (the bytes-form parser
            # recovers at the next gzip member; rescanning from the next
            # "WARC/" is the streaming equivalent and may even recover
            # later records inside the damaged member)
            pos = hdr_end + 4
            continue
        end = hdr_end + 4 + length
        if len(buf) < end:
            del buf[:start]
            hdr_end -= start
            end -= start
            pos = 0
            while len(buf) < end:
                if not pump():
                    return  # truncated record at EOF: drop it
            start = 0
        body = bytes(buf[hdr_end + 4 : end])
        pos = end
        rtype = headers.get("warc-type", "")
        url = headers.get("warc-target-uri", "")
        date = headers.get("warc-date", "")
        if rtype == "response" and body[:5] == b"HTTP/":
            http_end = body.find(b"\r\n\r\n")
            if http_end != -1:
                body = body[http_end + 4 :]
        if rtype in _PAGE_RECORD_TYPES and url:
            yield url, date, rtype, body


def parse_warc_contents(
    df: DataFrame, content_col: str = "content"
) -> DataFrame:
    """One page row per record from ``(content: binary)`` WARC-file rows —
    an Arrow-batched narrow pass, no shuffle."""

    def records(content):
        return iter_warc_records(content) if content is not None else ()

    return map_rows(df, [content_col], RECORD_SCHEMA, records)


def _file_batches(path: str, records_per_batch: int):
    """Stream one archive as RECORD_SCHEMA batches of at most
    ``records_per_batch`` rows — the loop both path readers share
    (read_warc_paths, the DataSource)."""
    rows = []
    with open(path, "rb") as f:
        for rec in stream_warc_records(f):
            rows.append(rec)
            if len(rows) >= records_per_batch:
                yield record_batch(rows, RECORD_SCHEMA)
                rows = []
    if rows:
        yield record_batch(rows, RECORD_SCHEMA)


def read_warc_paths(
    spark: SparkSession,
    paths_df: DataFrame,
    path_col: str = "path",
    records_per_batch: int = 256,
) -> DataFrame:
    """The multi-GB-archive form: each task STREAMS its own file through
    :func:`stream_warc_records` and emits one Arrow batch per
    ``records_per_batch`` records — peak memory is O(chunk + batch), not
    O(archive), so a 1 GB per-record-gzip CC file (~5 GB raw) parses in
    a normally-sized task."""
    def batches(it):
        for b in it:
            for path in b.column(0).to_pylist():
                yield from _file_batches(path, records_per_batch)

    return paths_df.select(F.col(path_col)).mapInArrow(batches, RECORD_SCHEMA)


def read_warc(spark: SparkSession, glob: str) -> DataFrame:
    """Convenience: binaryFile scan -> parse.  Fine for shard-sized
    archives; use :func:`read_warc_paths` when single files exceed what a
    row should hold."""
    files = spark.read.format("binaryFile").load(glob)
    return parse_warc_contents(files, "content")


def load_cdx(spark: SparkSession, out_dir: str) -> DataFrame:
    """``part-*.cdx`` files (``write_warc(..., cdx=True)`` output) → a
    queryable index DataFrame (surt, ts, url, filename, offset, length,
    digest).  One JVM-side text scan + regexp/from_json split — the
    lookup side of the archive random-access contract."""
    lines = spark.read.text(f"{out_dir}/part-*.cdx")
    parsed = F.from_json(
        F.regexp_extract("value", r"^\S+ \d+ (.*)$", 1),
        "url string, filename string, offset long, length long, digest string",
    )
    return lines.select(
        F.regexp_extract("value", r"^(\S+)", 1).alias("surt"),
        F.regexp_extract("value", r"^\S+ (\d+)", 1).alias("ts"),
        parsed.alias("_j"),
    ).select("surt", "ts", "_j.*")


def write_warc(
    df: DataFrame,
    out_dir: str,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    payload_col: str = "html",
    gzip_members: bool = True,
    with_http_headers: bool = False,
    cdx: bool = False,
    wet: bool = False,
) -> None:
    """Distributed WARC sink: each partition serializes its rows as ONE
    CC-layout archive (``part-<partition_id>.warc.gz``, per-record gzip
    members) under ``out_dir`` — the write-side mirror of
    :func:`read_warc_paths`, so a corpus can round-trip through the
    archival format without leaving the engine.  Rows are written in
    url order within each partition (deterministic member order for a
    deterministic partitioning).

    Scope (honest): executors write through Python ``open()``, so
    ``out_dir`` must be a path every executor can reach (local disk in
    local mode, NFS/fuse mounts on a cluster).  An object-store sink
    would route through the Hadoop FS API driver-side or a committer —
    out of scope here; the parquet sinks remain the primary output path,
    this is the interchange/export format.

    Timestamps: ``ts_col`` (timestamp) renders as the WARC-Date UTC
    instant at second precision; null timestamps write the epoch.

    ``cdx=True`` additionally writes a ``part-<pid>.cdx`` sibling per
    archive — CDXJ-style lines ``<surt key> <ts14> <json>`` (json carries
    url/filename/offset/length/sha1-b32 digest), sorted by key, offsets
    measured on the exact bytes written — the random-access index CC
    ships next to its archives (a reader seeks to ``offset``, reads
    ``length`` bytes, gunzips one member).

    ``wet=True`` writes WET archives instead (``part-<pid>.warc.wet.gz``,
    ``WARC-Type: conversion`` / ``text/plain`` records) — point
    ``payload_col`` at the EXTRACTED-TEXT column; this is the CC-standard
    interchange format for the output of exactly this engine's
    extraction stage, and :func:`read_warc_paths` reads it back
    (conversion is a page record type)."""
    import pathlib

    pathlib.Path(out_dir).mkdir(parents=True, exist_ok=True)
    slim = df.select(F.col(url_col), F.col(ts_col), F.col(payload_col))

    def write_partition(rows) -> None:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        recs = _prep_warc_rows(rows)
        if not recs:
            return
        suffix = "warc.wet.gz" if wet else "warc.gz"
        final = pathlib.Path(out_dir) / f"part-{pid:05d}.{suffix}"
        data, cdx_text = _build_partition_archive(
            recs, final.name, gzip_members, with_http_headers, wet, cdx
        )
        # write-then-rename: a retried/speculative task never exposes a
        # half-written archive (rename is atomic on a posix dir); the tmp
        # name carries the task ATTEMPT id so concurrent attempts of the
        # same partition cannot truncate each other mid-write
        tmp = final.with_name(f"{final.name}.{ctx.taskAttemptId()}.inprogress")
        tmp.write_bytes(data)
        tmp.replace(final)
        if cdx:
            idx = final.with_suffix("").with_suffix(".cdx")  # part-N.cdx
            itmp = idx.with_name(f"{idx.name}.{ctx.taskAttemptId()}.inprogress")
            itmp.write_text(cdx_text, encoding="utf-8")
            itmp.replace(idx)

    slim.foreachPartition(write_partition)


def _prep_warc_rows(rows) -> list[tuple[str, str, bytes]]:
    """(url, warc-date, payload-bytes) records from slim sink rows,
    sorted by url (deterministic member order)."""
    import datetime as _dt

    recs = []
    for row in rows:
        ts = row[1]
        # PySpark hands executors NAIVE local-time datetimes; format
        # the UTC instant, not the local wall time with a fake 'Z'
        date = (
            ts.astimezone(_dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")
            if ts is not None
            else "1970-01-01T00:00:00Z"
        )
        payload = row[2]
        if isinstance(payload, str):
            payload = payload.encode("utf-8")
        recs.append((row[0], date, payload or b""))
    recs.sort(key=lambda r: r[0])
    return recs


def _build_partition_archive(
    recs: list[tuple[str, str, bytes]],
    filename: str,
    gzip_members: bool,
    with_http_headers: bool,
    wet: bool,
    cdx: bool,
) -> tuple[bytes, str | None]:
    """One partition's archive bytes (+ CDX index text when requested) —
    shared by the posix sink (`write_warc`) and the Hadoop-FS sink
    (`write_warc_fs`), so both commit byte-identical archives."""
    rtype = "conversion" if wet else None
    if not cdx:
        return (
            build_warc_bytes(
                recs, gzip_members, with_http_headers, record_type=rtype
            ),
            None,
        )
    # build member-at-a-time so each record's (offset, length)
    # on the exact output bytes is known; concatenating
    # per-record builds is byte-identical to the one-shot build
    import base64 as _b64
    import json as _json
    import re as _re

    parts, entries, offset = [], [], 0
    for url, date, payload in recs:
        member = build_warc_bytes(
            [(url, date, payload)], gzip_members, with_http_headers,
            record_type=rtype,
        )
        digest = _b64.b32encode(hashlib.sha1(payload).digest()).decode("ascii")
        entries.append(
            (
                surt_key(url),
                _re.sub(r"[^0-9]", "", date)[:14],
                _json.dumps(
                    {
                        "url": url,
                        "filename": filename,
                        "offset": offset,
                        "length": len(member),
                        "digest": "sha1:" + digest,
                    },
                    sort_keys=True,
                ),
            )
        )
        parts.append(member)
        offset += len(member)
    entries.sort()
    cdx_text = "".join(f"{k} {ts} {js}\n" for k, ts, js in entries)
    return b"".join(parts), cdx_text


def write_warc_fs(
    df: DataFrame,
    out_dir: str,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    payload_col: str = "html",
    gzip_members: bool = True,
    with_http_headers: bool = False,
    cdx: bool = False,
    wet: bool = False,
    staging_dir: str | None = None,
) -> None:
    """Object-store-safe WARC sink — the Hadoop FileSystem-API commit
    path the posix `write_warc` recipe cannot provide (its executors
    write through Python ``open()``, which has no meaning on ``s3a://``
    or ``hdfs://``).  Two phases:

    1. DISTRIBUTED BUILD: each partition serializes its archive bytes
       exactly as `write_warc` does (`_build_partition_archive` — the
       archives are byte-identical between the two sinks) and stages
       them as slim ``(filename, data, cdx)`` parquet rows.  The staging
       write goes through Spark's own parquet committer, so it is safe
       on any supported filesystem with no extra machinery.
    2. DRIVER PROMOTE: the staged rows stream through
       ``toLocalIterator()`` ONE ARCHIVE AT A TIME (driver memory is
       bounded by the largest archive, not the corpus) and each is
       committed via the Hadoop FS API — ``FileSystem.create`` on a
       ``.inprogress`` temp path, then ``rename`` to the final name (the
       same create-then-rename discipline the posix sink uses, expressed
       through the filesystem abstraction that routes to LocalFileSystem
       / HDFS / S3A committers).

    Scope (honest): the promote phase moves every archive's bytes
    through the driver, which is fine for the export/interchange volumes
    this sink exists for; bulk data stays on the parquet sinks.  For a
    fully distributed object-store WARC write you would deploy
    executor-side cloud credentials + a cloud SDK, which this image does
    not carry.  ``staging_dir`` defaults to ``<out_dir>/_staging`` and
    is removed after a successful promote."""
    spark = df.sparkSession
    staging = staging_dir or out_dir.rstrip("/") + "/_staging"
    suffix = "warc.wet.gz" if wet else "warc.gz"
    slim = df.select(F.col(url_col), F.col(ts_col), F.col(payload_col))

    def build(pid: int, rows):
        recs = _prep_warc_rows(rows)
        if not recs:
            return
        filename = f"part-{pid:05d}.{suffix}"
        data, cdx_text = _build_partition_archive(
            recs, filename, gzip_members, with_http_headers, wet, cdx
        )
        yield (filename, bytearray(data), cdx_text)

    from pyspark.sql.types import (
        BinaryType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("filename", StringType()),
            StructField("data", BinaryType()),
            StructField("cdx", StringType()),
        ]
    )
    spark.createDataFrame(
        slim.rdd.mapPartitionsWithIndex(build), schema
    ).write.mode("overwrite").parquet(staging)

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    out_path = jvm.org.apache.hadoop.fs.Path(out_dir)
    fs = out_path.getFileSystem(conf)
    fs.mkdirs(out_path)

    def fs_commit(name: str, payload: bytes) -> None:
        tmp = jvm.org.apache.hadoop.fs.Path(
            out_dir.rstrip("/") + f"/{name}.inprogress"
        )
        final = jvm.org.apache.hadoop.fs.Path(out_dir.rstrip("/") + f"/{name}")
        stream = fs.create(tmp, True)
        try:
            stream.write(bytearray(payload))
        finally:
            stream.close()
        if fs.exists(final):
            fs.delete(final, False)
        if not fs.rename(tmp, final):
            raise IOError(f"Hadoop FS rename failed: {tmp} -> {final}")

    for row in spark.read.parquet(staging).toLocalIterator():
        fs_commit(row.filename, row.data)
        if cdx and row.cdx is not None:
            # same naming as the posix sink's with_suffix dance:
            # part-N.warc.gz -> part-N.cdx, part-N.warc.wet.gz ->
            # part-N.warc.cdx
            fs_commit(
                row.filename.rsplit(".", 2)[0] + ".cdx",
                row.cdx.encode("utf-8"),
            )
    fs.delete(jvm.org.apache.hadoop.fs.Path(staging), True)


# --------------------------------------------------------------------------
# Python DataSource (Spark 4): spark.read.format("warc")
# --------------------------------------------------------------------------


from pyspark.sql.datasource import (  # noqa: E402 — section-local
    DataSource,
    DataSourceReader,
    InputPartition,
)


class WarcDataSource(DataSource):
    """PySpark-4 Python DataSource exposing the streaming WARC parser as
    a first-class format::

        spark.dataSource.register(WarcDataSource)
        df = spark.read.format("warc").load("/crawl/*.warc.gz")

    Planning contract: ONE input partition per archive file — the
    Common-Crawl parallelism unit (CC scales by file count; a segment is
    ~56k files, so the partition count is the file count and executors
    stream files independently).  Each task runs
    :func:`stream_warc_records` (constant-memory: O(chunk + record), the
    multi-GB-archive form) and emits Arrow record batches, so rows never
    round-trip through pickled Python tuples.

    This wraps the SAME parser the oracled `warc_roundtrip` query
    hash-checks; the DataSource layer adds only planning + batching,
    pinned by the round-trip equality test against
    :func:`read_warc_paths` (tests/test_warc.py).

    Filesystem scope: partitions are planned with driver-side
    ``glob.glob`` and read with executor-side ``open()``, so driver and
    executors MUST share a posix filesystem (local mode, or a cluster
    with the archives on NFS/a shared mount).  URI-scheme paths
    (``hdfs://``, ``s3a://``, …) are rejected at planning time rather
    than failing task-side with a confusing ``FileNotFoundError`` —
    for object-store crawls, distribute the paths as a DataFrame and
    use :func:`read_warc_paths` over a Hadoop-FS-mounted path, or
    localize the archives first."""

    @classmethod
    def name(cls) -> str:
        return "warc"

    def schema(self) -> str:
        return RECORD_SCHEMA

    def reader(self, schema) -> "_WarcReader":
        return _WarcReader(self.options)


class _WarcReader(DataSourceReader):
    """One partition per matched file; Arrow-batched streaming read."""

    def __init__(self, options) -> None:
        self._path = options.get("path")
        self._batch = int(options.get("records_per_batch", 256))
        if not self._path:
            raise ValueError("warc datasource requires a load(path)")
        # colon with optional slashes (r5 advice): a single-slash URI
        # like 's3a:/bucket/x' must hit this loud rejection too, not
        # fail later as an empty glob ("no files match").  Windows-style
        # drive letters don't exist on the supported platforms, so any
        # <letters>: prefix is a scheme.
        scheme = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*):", self._path)
        if scheme and scheme.group(1).lower() != "file":
            raise ValueError(
                "warc datasource plans with driver-side glob and reads "
                "with executor-side open(), so it requires a shared "
                f"posix filesystem; got URI scheme {scheme.group(1)!r}. "
                "For object stores, localize the archives or use "
                "read_warc_paths over a mounted path."
            )
        if self._path.lower().startswith(
            "file:"
        ):  # file: URI (also the //-less form) — parse properly:
            # file://host/p would silently become the RELATIVE path
            # "host/p", and file:/p the literal "file:/p".
            from urllib.parse import urlsplit

            parts = urlsplit(self._path)
            if parts.netloc not in ("", "localhost"):
                raise ValueError(
                    "warc datasource reads local paths; file:// URIs "
                    f"with a remote authority are not supported: "
                    f"{self._path!r}"
                )
            self._path = parts.path

    def partitions(self):
        import glob as _glob

        paths = sorted(_glob.glob(self._path))
        if not paths:
            raise FileNotFoundError(
                f"warc datasource: no files match {self._path!r}"
            )
        return [InputPartition(p) for p in paths]

    def read(self, partition):
        yield from _file_batches(partition.value, self._batch)


def register_warc_source(spark: SparkSession) -> None:
    """Register the ``warc`` format on this session (idempotent —
    re-registering the same name just replaces the entry)."""
    spark.dataSource.register(WarcDataSource)
