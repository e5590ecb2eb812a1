"""TFRecord sink/source — the training-shard interchange format.

A TFRecord file is a sequence of framed records (public format,
tensorflow/core/lib/io/record_writer.cc):

    uint64  length          (little-endian)
    uint32  masked_crc32c(length bytes)
    bytes   data[length]
    uint32  masked_crc32c(data)

where ``masked_crc(x) = rotr15(crc32c(x)) + 0xa282ead8 (mod 2^32)``.
Each record payload here is a hand-encoded ``tf.train.Example`` proto
(tensorflow/core/example/{example,feature}.proto):

    Example  { Features features = 1 }
    Features { map<string, Feature> feature = 1 }
    Feature  { oneof kind { BytesList bytes_list = 1;
                            FloatList float_list = 2;
                            Int64List int64_list = 3 } }

with BytesList = repeated bytes (field 1), Float/Int64List = packed
repeated (field 1).  Everything below is pure stdlib — no tensorflow,
no protobuf package — and byte-deterministic: map entries are emitted
in sorted key order, so identical feature dicts always serialize to
identical bytes (proto maps have no canonical order; sorting is OUR
determinism contract, and any conforming reader accepts it).

Scale notes: the writer is a per-partition sink (one shard file per
partition, mirroring :func:`pdf_to_epub_spark.sources.warc.write_warc`);
the reader is constant-memory per file and runs inside Arrow batches.
CRC32C is a table-driven Python loop — correct and honest, but a real
deployment reading petabytes would switch ``verify_crc=False`` after a
sampled integrity pass, or link a native crc32c (noted, not bundled:
no third-party deps in this environment).

Reference parity note: the reference repo (PDF-to-Epub) has no TFRecord
surface; this module is part of the training-data pipeline layer the
build adds on top (SURVEY.md "beyond the reference" scope), alongside
the WARC/WET/CDX and parquet sinks.
"""

from __future__ import annotations

import struct
from typing import Iterable, Iterator

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pdf_to_epub_spark.sources._arrow import map_rows

_CRC32C_POLY = 0x82F63B78  # Castagnoli, reflected


def _make_crc32c_table() -> list[int]:
    table = []
    for n in range(256):
        c = n
        for _ in range(8):
            c = (c >> 1) ^ _CRC32C_POLY if c & 1 else c >> 1
        table.append(c)
    return table


_CRC_TABLE = _make_crc32c_table()


def crc32c(data: bytes) -> int:
    """CRC-32C (Castagnoli) of ``data`` — table-driven, stdlib-only."""
    crc = 0xFFFFFFFF
    tbl = _CRC_TABLE
    for b in data:
        crc = tbl[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


def masked_crc32c(data: bytes) -> int:
    """TFRecord's masked CRC: rotate right 15, add the mask constant."""
    crc = crc32c(data)
    return ((crc >> 15) | ((crc << 17) & 0xFFFFFFFF)) + 0xA282EAD8 & 0xFFFFFFFF


def _varint(n: int) -> bytes:
    """Unsigned LEB128 varint (proto wire format)."""
    if n < 0:
        # proto int64: negatives are 10-byte two's-complement varints
        n &= (1 << 64) - 1
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    val = 0
    while True:
        b = buf[pos]
        pos += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return val, pos
        shift += 7
        if shift > 70:
            raise ValueError("varint too long")


def _ld(field: int, payload: bytes) -> bytes:
    """Length-delimited proto field (wire type 2)."""
    return _varint(field << 3 | 2) + _varint(len(payload)) + payload


def _encode_feature(value) -> bytes:
    """Encode one Feature message from a python value.

    bytes/str -> BytesList (single element); list[bytes|str] -> BytesList;
    int / list[int] -> Int64List (packed); float / list[float] ->
    FloatList (packed float32 — precision loss is the FORMAT's, both
    sides of any oracle must model it).
    """
    if isinstance(value, (bytes, bytearray, str)):
        value = [value]
    elif isinstance(value, (int, float)) and not isinstance(value, bool):
        value = [value]
    if not isinstance(value, (list, tuple)):
        raise TypeError(f"unsupported feature value: {type(value)!r}")
    if len(value) and isinstance(value[0], (bytes, bytearray, str)):
        # bytearray included: Spark 3.x hands BinaryType to Python as
        # bytearray (4.x happens to use bytes)
        items = b"".join(
            _ld(1, v.encode("utf-8") if isinstance(v, str) else bytes(v))
            for v in value
        )
        return _ld(1, items)  # Feature.bytes_list
    if len(value) and isinstance(value[0], float):
        packed = b"".join(struct.pack("<f", v) for v in value)
        return _ld(2, _ld(1, packed))  # Feature.float_list, packed
    # ints (empty lists default to Int64List — a harmless empty kind)
    packed = b"".join(_varint(int(v)) for v in value)
    return _ld(3, _ld(1, packed))  # Feature.int64_list, packed


def encode_example(features: dict) -> bytes:
    """Serialize a feature dict as a ``tf.train.Example`` proto.

    Map entries are written in sorted key order (byte determinism)."""
    entries = b""
    for key in sorted(features):
        entry = _ld(1, key.encode("utf-8")) + _ld(2, _encode_feature(features[key]))
        entries += _ld(1, entry)  # Features.feature map entry
    return _ld(1, entries)  # Example.features


def decode_example(data: bytes) -> dict:
    """Parse a ``tf.train.Example``; returns {name: list-of-values}
    (bytes_list -> list[bytes], int64_list -> list[int], float_list ->
    list[float32-as-python-float])."""
    feats: dict = {}
    pos = 0
    while pos < len(data):
        tag, pos = _read_varint(data, pos)
        if tag >> 3 != 1 or tag & 7 != 2:
            raise ValueError(f"unexpected Example field tag {tag}")
        ln, pos = _read_varint(data, pos)
        _parse_features(data[pos : pos + ln], feats)
        pos += ln
    return feats


def _parse_features(buf: bytes, out: dict) -> None:
    pos = 0
    while pos < len(buf):
        tag, pos = _read_varint(buf, pos)
        if tag >> 3 != 1 or tag & 7 != 2:
            raise ValueError(f"unexpected Features field tag {tag}")
        ln, pos = _read_varint(buf, pos)
        entry = buf[pos : pos + ln]
        pos += ln
        key, feat = None, None
        epos = 0
        while epos < len(entry):
            etag, epos = _read_varint(entry, epos)
            eln, epos = _read_varint(entry, epos)
            val = entry[epos : epos + eln]
            epos += eln
            if etag >> 3 == 1:
                key = val.decode("utf-8")
            else:
                feat = val
        if key is None:
            raise ValueError("map entry without key")
        out[key] = _parse_feature(feat or b"")


def _parse_feature(buf: bytes):
    if not buf:
        return []
    tag, pos = _read_varint(buf, 0)
    kind = tag >> 3
    ln, pos = _read_varint(buf, pos)
    body = buf[pos : pos + ln]
    if kind == 1:  # BytesList
        vals = []
        bpos = 0
        while bpos < len(body):
            btag, bpos = _read_varint(body, bpos)
            if btag != (1 << 3 | 2):
                raise ValueError("bad BytesList tag")
            bln, bpos = _read_varint(body, bpos)
            vals.append(body[bpos : bpos + bln])
            bpos += bln
        return vals
    # inner packed payload (field 1, wire type 2)
    vpos = 0
    vals = []
    while vpos < len(body):
        vtag, vpos = _read_varint(body, vpos)
        if vtag != (1 << 3 | 2):
            raise ValueError("bad packed-list tag")
        vln, vpos = _read_varint(body, vpos)
        packed = body[vpos : vpos + vln]
        vpos += vln
        if kind == 2:  # FloatList
            vals.extend(
                struct.unpack("<f", packed[i : i + 4])[0]
                for i in range(0, len(packed), 4)
            )
        elif kind == 3:  # Int64List
            ppos = 0
            while ppos < len(packed):
                v, ppos = _read_varint(packed, ppos)
                if v >= 1 << 63:
                    v -= 1 << 64
                vals.append(v)
        else:
            raise ValueError(f"unknown Feature kind {kind}")
    return vals


def build_tfrecord_bytes(examples: Iterable[bytes]) -> bytes:
    """Frame serialized Example payloads as one TFRecord file's bytes."""
    out = bytearray()
    len_crc_cache: dict[int, bytes] = {}
    for ex in examples:
        n = len(ex)
        hdr = struct.pack("<Q", n)
        cached = len_crc_cache.get(n)
        if cached is None:
            cached = struct.pack("<I", masked_crc32c(hdr))
            len_crc_cache[n] = cached
        out += hdr
        out += cached
        out += ex
        out += struct.pack("<I", masked_crc32c(ex))
    return bytes(out)


def iter_tfrecord_bytes(data: bytes, verify_crc: bool = True) -> Iterator[bytes]:
    """Yield record payloads from TFRecord file bytes.

    Corrupt CRCs raise ``ValueError`` (integrity is the framing's whole
    point); a clean truncation mid-record also raises — a training-shard
    reader must not silently drop the tail."""
    pos = 0
    n = len(data)
    while pos < n:
        if pos + 12 > n:
            raise ValueError(f"truncated record header at byte {pos}")
        (ln,) = struct.unpack_from("<Q", data, pos)
        (hcrc,) = struct.unpack_from("<I", data, pos + 8)
        hdr = data[pos : pos + 8]
        if verify_crc and masked_crc32c(hdr) != hcrc:
            raise ValueError(f"length CRC mismatch at byte {pos}")
        pos += 12
        if pos + ln + 4 > n:
            raise ValueError(f"truncated record body at byte {pos}")
        body = data[pos : pos + ln]
        (dcrc,) = struct.unpack_from("<I", data, pos + ln)
        if verify_crc and masked_crc32c(body) != dcrc:
            raise ValueError(f"data CRC mismatch at byte {pos}")
        pos += ln + 4
        yield bytes(body)


# ----------------------------------------------------------------- Spark


def write_tfrecords(
    df: DataFrame,
    out_dir: str,
    bytes_cols: tuple[str, ...] = (),
    int_cols: tuple[str, ...] = (),
    float_cols: tuple[str, ...] = (),
    order_col: str | None = None,
) -> None:
    """Distributed TFRecord sink: each partition writes ONE shard file
    ``part-<pid>.tfrecord`` under ``out_dir``.  Same reach contract as
    :func:`warc.write_warc` (executors write via ``open()`` — local disk
    or a shared mount; object stores go through a committer, out of
    scope here).  Rows are serialized in ``order_col`` order within the
    partition when given (deterministic shards for a deterministic
    partitioning)."""
    import pathlib

    pathlib.Path(out_dir).mkdir(parents=True, exist_ok=True)
    cols = [*bytes_cols, *int_cols, *float_cols]
    slim = df.select(*([order_col] if order_col and order_col not in cols else []), *cols)

    def write_partition(rows) -> None:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        mats = list(rows)
        if not mats:
            return
        if order_col is not None:
            mats.sort(key=lambda r: r[order_col])
        exs = []
        for r in mats:
            feats: dict = {}
            for c in bytes_cols:
                v = r[c]
                feats[c] = v if v is not None else b""
            for c in int_cols:
                v = r[c]
                feats[c] = [int(x) for x in v] if isinstance(v, list) else (
                    [] if v is None else [int(v)]
                )
            for c in float_cols:
                v = r[c]
                feats[c] = [float(x) for x in v] if isinstance(v, list) else (
                    [] if v is None else [float(v)]
                )
            exs.append(encode_example(feats))
        final = pathlib.Path(out_dir) / f"part-{pid:05d}.tfrecord"
        tmp = final.with_name(final.name + ".inprogress")
        tmp.write_bytes(build_tfrecord_bytes(exs))
        tmp.replace(final)  # atomic on POSIX: no torn shards on retry

    slim.foreachPartition(write_partition)


def read_tfrecord_paths(spark, path_glob: str) -> DataFrame:
    """Read shard files into a (path, content) frame via Spark's
    binaryFile source (whole-shard granularity — TFRecord has no
    mid-file sync marker, so a shard is the parallelism unit; size
    shards at write time, not read time)."""
    return (
        spark.read.format("binaryFile")
        .load(path_glob)
        .select(F.col("path"), F.col("content"))
    )


def parse_tfrecord_contents(
    files: DataFrame,
    bytes_cols: tuple[str, ...] = (),
    int_cols: tuple[str, ...] = (),
    float_cols: tuple[str, ...] = (),
    content_col: str = "content",
    verify_crc: bool = True,
) -> DataFrame:
    """Parse TFRecord file bytes into typed rows — one output row per
    record, scalar columns for single-valued features plus an
    ``<name>_list`` array column is NOT materialized: int/float features
    come back as ``array`` columns (the format is list-typed; callers
    take ``F.element_at(c, 1)`` for scalars).  bytes features decode to
    string via permissive cast semantics (invalid UTF-8 stays NULL-free:
    we decode with ``errors='replace'`` — web bytes must never throw,
    see PLANS.md on Spark 4 F.decode)."""
    schema = StructType(
        [StructField(c, StringType()) for c in bytes_cols]
        + [StructField(c, ArrayType(LongType())) for c in int_cols]
        + [StructField(c, ArrayType(DoubleType())) for c in float_cols]
    )

    def rows(blob):
        for payload in iter_tfrecord_bytes(bytes(blob), verify_crc):
            feats = decode_example(payload)
            yield (
                *(
                    vs[0].decode("utf-8", errors="replace") if vs else None
                    for vs in (feats.get(c, []) for c in bytes_cols)
                ),
                *(list(feats.get(c, [])) for c in int_cols),
                *([float(v) for v in feats.get(c, [])] for c in float_cols),
            )

    return map_rows(files, [content_col], schema, rows)
