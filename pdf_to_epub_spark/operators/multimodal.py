"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

At corpus scale, media payloads ride as ``binary`` columns next to typed
metadata.  Decode and fingerprinting are row functions on the package's
one Arrow boundary (``sources/_arrow.map_rows``); resize and
frame-sampling plans are JVM-side column algebra.

Decode is REAL where the Python standard library suffices
(functions/mediacodec.py): BMP pixel decode → pooled-luminance embedding,
WAV PCM decode → energy-envelope embedding + duration/RMS, GIF block walk →
exact dims + frame count, PNG/JPEG header parse → dims.  Formats needing
external codecs (MP3 decode, MP4 demux, PNG/JPEG pixel data) surface as
``status='unsupported'`` or ``codec_path='header'`` rows — never a fake
value; the per-row ``meta.codec_path`` records which path produced each
feature (pixels | pcm | blocks | header).

Container sniffing is real and JVM-side: magic-byte detection for
BMP/PNG/JPEG/GIF/RIFF-WAV/MP3/MP4 on the binary prefix — no Python there.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from pdf_to_epub_spark.sources._arrow import map_rows

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("url", StringType()),
        StructField("media_type", StringType()),
        StructField("container", StringType()),
        StructField("n_bytes", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("meta", MapType(StringType(), StringType())),
        StructField("status", StringType()),
    ]
)

_MAGIC = (
    ("png", b"\x89PNG\r\n\x1a\n"),
    ("jpeg", b"\xff\xd8\xff"),
    ("gif", b"GIF8"),
    ("riff", b"RIFF"),
    ("mp3", b"ID3"),
    ("bmp", b"BM"),
)


def sniff_container(payload_col: str = "payload") -> F.Column:
    """JVM-side magic-byte container detection on the binary prefix.
    Keep :func:`py_sniff_container` (the oracle's pure-Python replica)
    bit-for-bit in sync with this when-chain."""
    hexprefix = F.hex(F.substring(F.col(payload_col), 1, 8))
    col = F.lit("unknown")
    cases = None
    for name, magic in _MAGIC:
        cond = hexprefix.startswith(magic.hex().upper())
        cases = F.when(cond, F.lit(name)) if cases is None else cases.when(cond, F.lit(name))
    # bare MPEG frame sync (an ID3-less mp3): 0xFF + top-3-bits-set second
    # byte — hex "FFE0".."FFFF"; cannot collide with jpeg's FFD8 above
    sync = hexprefix.startswith("FFE") | hexprefix.startswith("FFF")
    cases = cases.when(sync, F.lit("mp3"))
    # mp4: 'ftyp' at offset 5 (bytes 5-8 of the box header)
    mp4 = F.hex(F.substring(F.col(payload_col), 5, 4)) == "66747970"
    return cases.when(mp4, F.lit("mp4")).otherwise(col)


def py_sniff_container(raw: bytes) -> str:
    """Pure-Python replica of :func:`sniff_container` for golden-oracle
    construction — same _MAGIC order, same frame-sync and ftyp rules."""
    for name, magic in _MAGIC:
        if raw[: len(magic)] == magic:
            return name
    if len(raw) >= 2 and raw[0] == 0xFF and (raw[1] & 0xE0) == 0xE0:
        return "mp3"
    if raw[4:8] == b"ftyp":
        return "mp4"
    return "unknown"


def decode_media(raw: bytes, container: str) -> dict:
    """One payload → real features, dispatched on the sniffed container.

    Raises :class:`~pdf_to_epub_spark.functions.mediacodec.UnsupportedMedia`
    for anything that cannot be genuinely decoded in this environment."""
    from pdf_to_epub_spark.functions import mediacodec as mc

    if container == "bmp":
        w, h, gray = mc.decode_bmp(raw)
        emb = mc.pooled_embedding(gray, w, h, grid=4)
        mean = round(sum(gray) / len(gray), 2) if gray else 0.0
        return {
            "width": w, "height": h, "n_frames": 1, "embedding": emb,
            "meta": {"codec_path": "pixels", "mean_gray": str(mean)},
        }
    if container == "riff":
        rate, nch, samples = mc.decode_wav(raw)
        rms = (
            (sum(s * s for s in samples) / len(samples)) ** 0.5
            if samples else 0.0
        )
        return {
            "width": rate, "height": 16, "n_frames": len(samples),
            "embedding": mc.energy_envelope(samples, windows=16),
            "meta": {
                "codec_path": "pcm",
                "channels": str(nch),
                "duration_ms": str(round(1000 * len(samples) / rate)),
                "rms": str(round(rms, 1)),
            },
        }
    if container == "gif":
        w, h, nf = mc.gif_info(raw)
        return {
            "width": w, "height": h, "n_frames": nf, "embedding": None,
            "meta": {"codec_path": "blocks"},
        }
    if container == "png":
        w, h = mc.png_dimensions(raw)
        return {
            "width": w, "height": h, "n_frames": 1, "embedding": None,
            "meta": {"codec_path": "header"},
        }
    if container == "jpeg":
        w, h = mc.jpeg_dimensions(raw)
        return {
            "width": w, "height": h, "n_frames": 1, "embedding": None,
            "meta": {"codec_path": "header"},
        }
    if container == "mp3":
        rate, nf, dur_ms, kbps = mc.mp3_info(raw)
        return {
            "width": rate, "height": kbps, "n_frames": nf, "embedding": None,
            "meta": {"codec_path": "frames", "duration_ms": str(dur_ms)},
        }
    if container == "mp4":
        w, h, n_samples, dur_ms = mc.mp4_info(raw)
        return {
            "width": w, "height": h, "n_frames": n_samples, "embedding": None,
            "meta": {"codec_path": "boxes", "duration_ms": str(dur_ms)},
        }
    raise mc.UnsupportedMedia(
        f"container '{container}': no stdlib decoder (needs external codecs)"
    )


def _feature_row(mid, url, mtype, container, payload):
    """One media row → one FEATURE_SCHEMA row; a payload the codecs
    reject or crash on becomes an ``unsupported`` / ``error`` row whose
    ``meta`` keeps the message."""
    from pdf_to_epub_spark.functions.mediacodec import UnsupportedMedia

    raw = bytes(payload) if payload is not None else b""
    head = (mid, url, mtype, container, len(raw))
    try:
        feat = decode_media(raw, container)
    except UnsupportedMedia as exc:
        return [(*head, None, None, None, None,
                 {"error": str(exc)[:120]}, "unsupported")]
    except Exception as exc:  # noqa: BLE001 — quarantine row
        return [(*head, None, None, None, None,
                 {"error": repr(exc)[:120]}, "error")]
    emb = feat["embedding"]
    return [(
        *head, feat["width"], feat["height"], feat["n_frames"],
        [float(x) for x in emb] if emb is not None else None,
        feat["meta"], "ok",
    )]


def extract_media_features(
    media: DataFrame,
    salt_partitions: int | None = None,
) -> DataFrame:
    """media(media_id, url, media_type, payload: binary) → feature rows.

    Container sniffing happens JVM-side before the Python stage; the
    payload column is the only binary crossing into Arrow.  Partitioning
    contract mirrors text extraction: optional url-hash salting, no other
    shuffle.
    """
    df = media.withColumn("container", sniff_container("payload"))
    if salt_partitions:
        df = df.repartition(salt_partitions, F.xxhash64("url"))
    return map_rows(
        df,
        ["media_id", "url", "media_type", "container", "payload"],
        FEATURE_SCHEMA,
        _feature_row,
    )


def frame_sample_plan(
    features: DataFrame, every_nth: int = 24, max_frames: int = 8
) -> DataFrame:
    """Frame-sampling plan for video rows: which frame indices a real
    decoder would extract — JVM-side sequence/slice, no Python."""
    idx = F.slice(
        F.sequence(F.lit(0), F.greatest(F.col("n_frames") - 1, F.lit(0)), F.lit(every_nth)),
        1,
        max_frames,
    )
    return features.where(
        (F.col("media_type") == "video") & (F.col("status") == "ok")
    ).select("media_id", "url", "n_frames", idx.alias("frame_indices"))


def resize_spec(features: DataFrame, target: int = 224) -> DataFrame:
    """Resize plan (shortest side → ``target``, aspect preserved) as column
    algebra; the pixel work would happen in the decode UDF when codecs
    exist."""
    scale = F.lit(target) / F.least("width", "height")
    return features.where(
        (F.col("status") == "ok") & (F.col("media_type") == "image")
    ).select(
        "media_id",
        "width",
        "height",
        F.round(F.col("width") * scale).cast("int").alias("resized_w"),
        F.round(F.col("height") * scale).cast("int").alias("resized_h"),
    )


def make_media_corpus(n: int, seed: int = 7) -> list[dict]:
    """Deterministic media rows with REAL payloads where the stdlib can
    produce them: valid 24-bit BMPs (gradient+noise pixels), PCM WAVs
    (mixed sinusoids), animated GIFs (2-6 frames), PNG/JPEG rows with
    spec-correct headers (dims parseable; pixel data opaque), and MP3/MP4
    rows that exercise the honest ``unsupported`` path."""
    import math
    import random
    import struct
    import zlib

    from pdf_to_epub_spark.functions.mediacodec import make_bmp, make_gif, make_wav

    def png_header_row(rng: random.Random) -> bytes:
        w, h = rng.randint(16, 1024), rng.randint(16, 1024)
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        chunk = b"IHDR" + ihdr
        return (
            b"\x89PNG\r\n\x1a\n"
            + struct.pack(">I", len(ihdr)) + chunk
            + struct.pack(">I", zlib.crc32(chunk) & 0xFFFFFFFF)
            + bytes(rng.getrandbits(8) for _ in range(rng.randint(32, 128)))
        )

    def jpeg_header_row(rng: random.Random) -> bytes:
        w, h = rng.randint(16, 1024), rng.randint(16, 1024)
        app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x02\x00" + b"\x00" * 6
        sof0 = b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, h, w, 1) + b"\x01\x11\x00"
        return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"

    kinds = ("bmp", "wav", "gif", "png", "jpeg", "mp3", "mp4")
    media_type = {
        "bmp": "image", "png": "image", "jpeg": "image",
        "wav": "audio", "mp3": "audio",
        "gif": "video", "mp4": "video",
    }
    rows = []
    for i in range(n):
        rng = random.Random((seed << 16) ^ i)
        kind = kinds[i % len(kinds)]
        if kind == "bmp":
            w, h = rng.randint(16, 40), rng.randint(16, 40)
            gx, gy, noise = rng.randint(1, 7), rng.randint(1, 7), rng.randint(0, 31)
            payload = make_bmp(
                w, h,
                lambda x, y: (
                    (x * gx * 255 // max(w, 1)) & 0xFF,
                    (y * gy * 255 // max(h, 1)) & 0xFF,
                    ((x ^ y) * noise) & 0xFF,
                ),
            )
        elif kind == "wav":
            rate = rng.choice((8000, 16000))
            dur = rng.randint(400, 4000)
            f1, f2 = rng.uniform(100, 900), rng.uniform(900, 3000)
            payload = make_wav(
                [
                    int(9000 * math.sin(2 * math.pi * f1 * t / rate)
                        + 4000 * math.sin(2 * math.pi * f2 * t / rate))
                    for t in range(dur)
                ],
                rate=rate,
            )
        elif kind == "gif":
            w, h = rng.randint(8, 16), rng.randint(8, 16)
            nf = rng.randint(2, 6)
            payload = make_gif(
                w, h,
                [[(x + y + f) % 4 for y in range(h) for x in range(w)]
                 for f in range(nf)],
            )
        elif kind == "png":
            payload = png_header_row(rng)
        elif kind == "jpeg":
            payload = jpeg_header_row(rng)
        elif kind == "mp3":
            if i % 3 == 0:  # genuinely undecodable: ID3 wrapper on junk
                payload = b"ID3\x04\x00" + bytes(
                    rng.getrandbits(8) for _ in range(rng.randint(64, 256))
                )
            else:
                from pdf_to_epub_spark.functions.mediacodec import make_mp3

                rate = rng.choice((32000, 44100, 22050))
                table = (32, 64, 128, 160) if rate != 22050 else (32, 64, 96)
                payload = make_mp3(
                    rng.randint(5, 60), rate=rate,
                    bitrate_kbps=rng.choice(table),
                    with_id3=bool(rng.getrandbits(1)),
                )
        else:  # mp4
            if i % 3 == 0:  # genuinely undecodable: ftyp prefix on junk
                payload = b"\x00\x00\x00\x18ftypmp42" + bytes(
                    rng.getrandbits(8) for _ in range(rng.randint(64, 256))
                )
            else:
                from pdf_to_epub_spark.functions.mediacodec import make_mp4

                payload = make_mp4(
                    rng.randint(500, 600000),
                    width=rng.choice((640, 1280, 1920)),
                    height=rng.choice((360, 720, 1080)),
                    n_samples=rng.randint(10, 5000),
                    mdat_bytes=rng.randint(32, 128),
                )
        rows.append(
            {
                "media_id": i,
                "url": f"https://crawl.invalid/media/{i:06d}",
                "media_type": media_type[kind],
                "payload": payload,
            }
        )
    return rows


FINGERPRINT_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("kind", StringType()),
    StructField("fp", LongType()),
    StructField("status", StringType()),
])


def media_fingerprints(
    media: DataFrame, salt_partitions: int | None = None
) -> DataFrame:
    """Perceptual fingerprints for media near-dup: 8×8 average hash for
    decodable images (BMP pixels), 16×4-bit energy-envelope hash for
    decodable audio (WAV PCM) — both resize/re-encode tolerant, both
    64-bit so downstream banding shares one code path with SimHash.
    Header-only and undecodable containers surface as honest
    ``unsupported`` rows with NULL fp, and a payload a codec crashes on
    as an ``error`` row (same contract as extract_media_features).  One
    Arrow stage, binary payload is the only column crossing; optional
    url-less id-hash salting mirrors the media-feature partitioning
    contract."""
    from pdf_to_epub_spark.functions.mediacodec import (
        UnsupportedMedia,
        ahash64,
        audio_fingerprint64,
        decode_bmp,
        decode_wav,
        to_signed64,
    )

    def rows(mid, container, payload):
        raw = bytes(payload) if payload is not None else b""
        try:
            if container == "bmp":
                w, h, gray = decode_bmp(raw)
                return [(mid, "image", to_signed64(ahash64(gray, w, h)), "ok")]
            if container == "riff":  # RIFF: WAV or unsupported
                _, _, samples = decode_wav(raw)
                fp = to_signed64(audio_fingerprint64(samples))
                return [(mid, "audio", fp, "ok")]
        except UnsupportedMedia:
            pass
        except Exception:  # noqa: BLE001 — quarantine row
            return [(mid, None, None, "error")]
        return [(mid, None, None, "unsupported")]

    df = media.withColumn("container", sniff_container("payload"))
    if salt_partitions:
        df = df.repartition(salt_partitions, F.xxhash64("media_id"))
    return map_rows(
        df, ["media_id", "container", "payload"], FINGERPRINT_SCHEMA, rows
    )


def media_dedup_clusters(fps: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup clustering over media fingerprints: every media row gets
    ``rep_fp`` — the smallest fingerprint within ``max_hamming`` bits
    (including itself) — so exact copies, rescales, and light
    re-encodes collapse onto one representative.

    Scale shape: pairing runs over DISTINCT fingerprints only (bounded
    by distinct content, orders of magnitude below media count), using
    the SimHash pigeonhole exactly as dedup.simhash_near_pairs:
    ``max_hamming + 1`` contiguous bands over an even 64-bit split, so
    any pair within ``max_hamming`` bits agrees on ≥1 whole band and
    banded recall is exactly 1; candidate generation is a bucket join,
    never all-pairs; ``bit_count(xor)`` verifies JVM-side.  One-hop
    min-label is exact for dup clusters whose diameter ≤ max_hamming
    (the common case); chains beyond that need
    dedup.connected_components — documented, not silently absorbed.
    Media rows join back on fp (broadcast: the rep table is
    distinct-content-sized)."""
    if not 0 <= max_hamming <= 63:
        raise ValueError(f"max_hamming must be in [0, 63], got {max_hamming}")
    n_bands = max_hamming + 1
    bounds = [(64 * b) // n_bands for b in range(n_bands + 1)]

    def _band_value(b: int) -> F.Column:
        lo, hi = bounds[b], bounds[b + 1]
        if hi - lo == 64:  # single band (max_hamming=0)
            return F.col("fp")
        return F.expr(
            f"shiftrightunsigned(fp, {lo}) & {(1 << (hi - lo)) - 1}"
        )

    ok = fps.where(F.col("status") == "ok")
    distinct = ok.select("kind", "fp").distinct()
    # One explode over a literal band-struct array — NOT a per-band
    # unionAll, which would re-run the distinct subtree once per band.
    # (The array is built from cheap bit ops on fp, so the optimizer's
    # inferred size()>0 filter re-inlining is harmless here.)
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            _band_value(b).alias("band_val"),
        )
        for b in range(n_bands)
    ])
    bands = distinct.select(
        "kind", "fp", F.explode(band_structs).alias("_b")
    ).select(
        "kind",
        "fp",
        F.col("_b.band").alias("band"),
        F.col("_b.band_val").alias("band_val"),
    )
    a = bands.alias("a")
    bside = bands.alias("b")
    cand = (
        a.join(
            bside,
            (F.col("a.kind") == F.col("b.kind"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.fp") < F.col("b.fp")),
        )
        .select(
            F.col("a.kind").alias("kind"),
            F.col("a.fp").alias("fp_a"),
            F.col("b.fp").alias("fp_b"),
        )
        .distinct()
        .where(F.expr(f"bit_count(fp_a ^ fp_b) <= {int(max_hamming)}"))
    )
    neighbors = cand.select(
        "kind", F.col("fp_b").alias("fp"), F.col("fp_a").alias("nb")
    )
    reps = (
        distinct.join(neighbors, ["kind", "fp"], "left")
        .groupBy("kind", "fp")
        .agg(F.min("nb").alias("_min_nb"))
        .select(
            "kind", "fp",
            F.least(F.col("_min_nb"), F.col("fp")).alias("rep_fp"),
        )
    )
    return ok.join(F.broadcast(reps), ["kind", "fp"], "left").select(
        "media_id", "kind", "fp", "rep_fp", "status"
    )
