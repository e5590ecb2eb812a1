"""Multimodal binary columns: REAL stdlib decode (BMP pixels, WAV PCM, GIF
block walk, PNG/JPEG headers), JVM-side sniffing, feature UDF, plans, and
the honest unsupported path for codec-needing formats."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from pdf_to_epub_spark.functions.mediacodec import (
    UnsupportedMedia,
    decode_bmp,
    decode_wav,
    energy_envelope,
    gif_info,
    jpeg_dimensions,
    make_bmp,
    make_gif,
    make_wav,
    png_dimensions,
    pooled_embedding,
)
from pdf_to_epub_spark.operators.multimodal import (
    extract_media_features,
    frame_sample_plan,
    make_media_corpus,
    resize_spec,
    sniff_container,
)

N = 70  # 10 of each of the 7 container kinds

_WAV = make_wav(list(range(50)))  # 44-byte header + 100-byte data chunk
# the data chunk declares 100 bytes but holds 51: an odd frame buffer
_TRUNCATED_WAV = _WAV[:44 + 51]
# sample rate and byte rate zeroed in the fmt chunk
_ZERO_RATE_WAV = _WAV[:24] + bytes(8) + _WAV[32:]


# -- pure codec tests (no Spark) --------------------------------------------

def test_bmp_pixel_roundtrip():
    raw = make_bmp(5, 3, lambda x, y: (x * 10, y * 20, 40))
    w, h, gray = decode_bmp(raw)
    assert (w, h) == (5, 3)
    assert abs(gray[0] - 40 / 3) < 1e-9                     # (0,0,40)
    assert abs(gray[1 * 5 + 2] - (20 + 20 + 40) / 3) < 1e-9  # (20,20,40)
    emb = pooled_embedding(gray, w, h, grid=4)
    assert len(emb) == 16 and all(-1.0 <= v <= 1.0 for v in emb)
    with pytest.raises(UnsupportedMedia):
        decode_bmp(b"BM" + b"\x00" * 60)  # truncated / wrong bpp


def test_wav_pcm_roundtrip():
    samples = [0, 100, -100, 32767, -32768]
    rate, nch, got = decode_wav(make_wav(samples, rate=8000))
    assert rate == 8000 and nch == 1 and got == samples
    # sine decodes to the right RMS (A/sqrt(2))
    sine = [int(16000 * math.sin(2 * math.pi * 440 * t / 8000)) for t in range(8000)]
    _, _, got = decode_wav(make_wav(sine))
    rms = (sum(s * s for s in got) / len(got)) ** 0.5
    assert abs(rms - 16000 / math.sqrt(2)) < 200
    env = energy_envelope(got, windows=16)
    assert len(env) == 16
    with pytest.raises(UnsupportedMedia):
        decode_wav(b"RIFF\x10\x00\x00\x00WAVEjunk")


def test_gif_block_walk():
    raw = make_gif(9, 7, [[0] * 63] * 4)
    assert gif_info(raw) == (9, 7, 4)
    # extensions are skipped, truncation detected
    with pytest.raises(UnsupportedMedia):
        gif_info(b"GIF89a\x00")


def test_header_dimension_parsers():
    rows = {bytes(r["payload"]): r for r in make_media_corpus(N)}
    pngs = [p for p in rows if p[:8] == b"\x89PNG\r\n\x1a\n"]
    jpgs = [p for p in rows if p[:3] == b"\xff\xd8\xff"]
    assert pngs and jpgs
    for p in pngs:
        w, h = png_dimensions(p)
        assert 16 <= w <= 1024 and 16 <= h <= 1024
    for p in jpgs:
        w, h = jpeg_dimensions(p)
        assert 16 <= w <= 1024 and 16 <= h <= 1024


def test_mp3_frame_walk_roundtrip():
    from pdf_to_epub_spark.functions.mediacodec import make_mp3, mp3_info

    for rate, kbps, n, id3 in (
        (44100, 128, 25, True), (32000, 64, 7, False), (22050, 32, 40, True),
    ):
        raw = make_mp3(n, rate=rate, bitrate_kbps=kbps, with_id3=id3)
        got_rate, got_n, dur_ms, got_kbps = mp3_info(raw)
        assert (got_rate, got_n, got_kbps) == (rate, n, kbps)
        spf = 1152 if rate >= 32000 else 576
        assert dur_ms == round(1000.0 * n * spf / rate)
    # ID3v1 trailer and a truncated final frame are tolerated
    raw = make_mp3(10, with_id3=False)
    assert mp3_info(raw + b"TAG" + b"\x00" * 125)[1] == 10
    assert mp3_info(raw[:-30])[1] == 9
    # junk behind the ID3 magic stays unsupported
    with pytest.raises(UnsupportedMedia):
        mp3_info(b"ID3\x04\x00\x00\x00\x00\x00\x04abcdjunk-not-frames")


def test_mp4_box_walk_roundtrip():
    import struct

    from pdf_to_epub_spark.functions.mediacodec import make_mp4, mp4_info

    raw = make_mp4(5500, width=1280, height=720, n_samples=132)
    assert mp4_info(raw) == (1280, 720, 132, 5500)
    # 64-bit (version 1) mvhd: hand-build the box around the writer's moov
    def box(btype, payload):
        return struct.pack(">I", 8 + len(payload)) + btype + payload
    mvhd_v1 = box(
        b"mvhd",
        b"\x01\x00\x00\x00" + struct.pack(">QQIQ", 0, 0, 90000, 90000 * 7)
        + b"\x00" * 80,
    )
    assert mp4_info(box(b"moov", mvhd_v1))[3] == 7000
    # ftyp prefix on junk stays unsupported
    with pytest.raises(UnsupportedMedia):
        mp4_info(b"\x00\x00\x00\x18ftypmp42" + b"j" * 64)
    # truncated box walk stops cleanly instead of exploding
    with pytest.raises(UnsupportedMedia):
        mp4_info(raw[:20])


# -- Spark-side --------------------------------------------------------------

@pytest.fixture(scope="module")
def media_df(spark):
    return spark.createDataFrame(
        make_media_corpus(N),
        "media_id long, url string, media_type string, payload binary",
    ).cache()


def test_container_sniffing_jvm_side(media_df):
    got = media_df.select("media_type", sniff_container().alias("c")).collect()
    image_containers = {r["c"] for r in got if r["media_type"] == "image"}
    assert image_containers == {"bmp", "png", "jpeg"}
    audio_containers = {r["c"] for r in got if r["media_type"] == "audio"}
    assert audio_containers == {"riff", "mp3"}
    assert {r["c"] for r in got if r["media_type"] == "video"} == {"gif", "mp4"}
    assert "unknown" not in {r["c"] for r in got}


def test_feature_extraction_real_decode(media_df):
    feats = extract_media_features(media_df, salt_partitions=4).cache()
    rows = {r["media_id"]: r for r in feats.collect()}
    assert len(rows) == N
    by_container = {}
    for r in rows.values():
        by_container.setdefault(r["container"], []).append(r)
    # full pixel/PCM decode paths carry real embeddings
    for r in by_container["bmp"]:
        assert r["status"] == "ok" and r["meta"]["codec_path"] == "pixels"
        assert len(r["embedding"]) == 16 and r["n_frames"] == 1
        assert 16 <= r["width"] <= 40 and 16 <= r["height"] <= 40
        assert float(r["meta"]["mean_gray"]) > 0
    for r in by_container["riff"]:
        assert r["status"] == "ok" and r["meta"]["codec_path"] == "pcm"
        assert r["width"] in (8000, 16000)      # sample rate
        assert 400 <= r["n_frames"] <= 4000      # sample count
        assert float(r["meta"]["rms"]) > 1000
        assert len(r["embedding"]) == 16
    for r in by_container["gif"]:
        assert r["status"] == "ok" and r["meta"]["codec_path"] == "blocks"
        assert 2 <= r["n_frames"] <= 6
    for r in by_container["png"] + by_container["jpeg"]:
        assert r["status"] == "ok" and r["meta"]["codec_path"] == "header"
        assert r["width"] >= 16 and r["embedding"] is None
    # MP3/MP4: header-walk metadata is real where structure exists; an
    # ID3/ftyp wrapper on junk stays honestly unsupported, never faked
    mp3_ok = [r for r in by_container["mp3"] if r["status"] == "ok"]
    mp3_bad = [r for r in by_container["mp3"] if r["status"] == "unsupported"]
    assert mp3_ok and mp3_bad
    for r in mp3_ok:
        assert r["meta"]["codec_path"] == "frames"
        assert r["width"] in (32000, 44100, 22050)   # sample rate
        assert 5 <= r["n_frames"] <= 60
        assert int(r["meta"]["duration_ms"]) > 0
        assert r["embedding"] is None                # no audio decode faked
    mp4_ok = [r for r in by_container["mp4"] if r["status"] == "ok"]
    mp4_bad = [r for r in by_container["mp4"] if r["status"] == "unsupported"]
    assert mp4_ok and mp4_bad
    for r in mp4_ok:
        assert r["meta"]["codec_path"] == "boxes"
        assert r["width"] in (640, 1280, 1920) and r["height"] in (360, 720, 1080)
        assert 10 <= r["n_frames"] <= 5000           # stsz sample count
        assert int(r["meta"]["duration_ms"]) >= 500
    for r in mp3_bad + mp4_bad:
        assert r["width"] is None and r["embedding"] is None
    # deterministic across runs
    again = {r["media_id"]: r["embedding"] for r in extract_media_features(media_df).collect()}
    some_bmp = by_container["bmp"][0]["media_id"]
    assert again[some_bmp] == rows[some_bmp]["embedding"]


def test_frame_sampling_and_resize_plans(media_df):
    feats = extract_media_features(media_df)
    frames = frame_sample_plan(feats, every_nth=2, max_frames=4).collect()
    assert frames, "animated GIF rows expected"
    for r in frames:
        assert 1 <= len(r["frame_indices"]) <= 4
        assert r["frame_indices"][0] == 0
        assert all(i < max(r["n_frames"], 1) for i in r["frame_indices"])

    resized = resize_spec(feats, target=24).collect()
    assert resized
    for r in resized:
        assert min(r["resized_w"], r["resized_h"]) == 24


def test_corrupt_payload_rows(spark):
    rows = [
        {"media_id": 1, "url": "u://1", "media_type": "image", "payload": b""},
        {"media_id": 2, "url": "u://2", "media_type": "video", "payload": b"\x00"},
        {"media_id": 3, "url": "u://3", "media_type": "image",
         "payload": b"BM" + b"\x99" * 20},  # truncated BMP
    ]
    df = spark.createDataFrame(
        rows, "media_id long, url string, media_type string, payload binary"
    )
    got = {r["media_id"]: r for r in extract_media_features(df).collect()}
    assert all(r["status"] == "unsupported" for r in got.values())
    assert got[1]["n_bytes"] == 0


def test_fuzz_codecs_never_crash():
    """Random bytes behind every known magic prefix must either decode or
    raise UnsupportedMedia — never any other exception (the Spark stage
    maps that to an error row, but the codecs themselves should classify
    garbage as unsupported, not explode)."""
    import random

    from pdf_to_epub_spark.operators.multimodal import decode_media

    magics = {
        "bmp": b"BM", "png": b"\x89PNG\r\n\x1a\n", "jpeg": b"\xff\xd8\xff",
        "gif": b"GIF89a", "riff": b"RIFF", "mp3": b"ID3",
        "mp4": b"\x00\x00\x00\x18ftyp",
    }
    cases = []
    for seed in range(80):
        rng = random.Random(seed)
        container = rng.choice(list(magics))
        cases.append((container, magics[container] + bytes(
            rng.getrandbits(8) for _ in range(rng.randint(0, 400))
        )))
    # random bytes after RIFF never form a valid 'fmt ' chunk, so the
    # structurally valid but broken WAVs are fixed inputs
    cases += [("riff", _TRUNCATED_WAV), ("riff", _ZERO_RATE_WAV)]
    for container, payload in cases:
        try:
            feat = decode_media(payload, container)
            assert feat["width"] is None or feat["width"] >= 0
        except UnsupportedMedia:
            pass
        # anything else (struct.error, IndexError, ...) propagates and
        # fails the test: garbage must classify, not explode


def test_media_fingerprints_and_dedup_clusters(spark):
    from __spark_entry__ import _phash_media_payloads
    from pdf_to_epub_spark.functions.mediacodec import (
        ahash64, decode_bmp, hamming64, to_signed64,
    )
    from pdf_to_epub_spark.operators.multimodal import (
        media_dedup_clusters, media_fingerprints,
    )

    # The SAME residue-class payloads the driver query and its oracle
    # share: 0 base image, 1 its 2x rescale, 2 a hamming-1 near copy,
    # 3 far image, 4/5 identical audio, 6 far audio, 7 junk.
    payloads = _phash_media_payloads()
    media = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in payloads],
        "media_id long, payload binary",
    )
    fps = media_fingerprints(media)
    out = {r.media_id: r for r in media_dedup_clusters(fps).collect()}

    w0, h0, g0 = decode_bmp(payloads[0][1])
    h_base = to_signed64(ahash64(g0, w0, h0))
    assert out[0].fp == h_base == out[1].fp          # rescale invariance
    assert hamming64(out[0].fp, out[2].fp) == 1
    rep_img = min(out[0].fp, out[2].fp)
    assert out[0].rep_fp == out[1].rep_fp == out[2].rep_fp == rep_img
    assert out[3].rep_fp == out[3].fp                # far: own cluster
    assert out[4].fp == out[5].fp
    assert out[4].rep_fp == out[5].rep_fp == out[4].fp
    assert out[6].rep_fp == out[6].fp
    assert 7 not in out                               # unsupported filtered
    st = {r.media_id: r.status for r in fps.collect()}
    assert st[7] == "unsupported"


def test_media_fingerprints_isolate_codec_failures(spark, monkeypatch):
    """A payload a codec rejects is an ``unsupported`` row and one it
    crashes on an ``error`` row — never a failed job."""
    from pdf_to_epub_spark.functions import mediacodec
    from pdf_to_epub_spark.operators.multimodal import media_fingerprints

    bmp = make_bmp(8, 8, lambda x, y: (x * 30, y * 30, 0))
    media = spark.createDataFrame(
        [(0, _TRUNCATED_WAV), (1, _WAV), (2, bmp), (3, _ZERO_RATE_WAV)],
        "media_id long, payload binary",
    )
    got = {r.media_id: tuple(r) for r in media_fingerprints(media).collect()}
    assert got[0] == (0, None, None, "unsupported")
    assert got[1][1] == "audio" and got[1][3] == "ok"
    assert got[2][1] == "image" and got[2][3] == "ok"
    assert got[3] == (3, None, None, "unsupported")

    def crash(raw):
        raise ValueError("codec crashed")

    monkeypatch.setattr(mediacodec, "decode_bmp", crash)
    got = {r.media_id: tuple(r) for r in media_fingerprints(media).collect()}
    assert got[2] == (2, None, None, "error")
    assert got[1][3] == "ok"


# ------------------------------------------------------ document router


def test_sniff_document_jvm_matches_replica(spark):
    """JVM when-chain == py_sniff_document over every detected class
    plus 200 random fuzz payloads (the bit-for-bit-in-sync contract)."""
    import gzip
    import random

    from pdf_to_epub_spark.export import epub_bytes
    from pdf_to_epub_spark.operators.extract import (
        py_sniff_document,
        route_payloads,
    )
    from pdf_to_epub_spark.sources.docx import make_docx_bytes
    from pdf_to_epub_spark.sources.pdf import make_pdf_bytes

    rng = random.Random(3)
    payloads = [
        make_pdf_bytes([[(72.0, 700.0, 12.0, "hello")]]),
        epub_bytes([], title="t", url="u"),
        make_docx_bytes(1, "hi"),
        b"{\\rtf1\\ansi hi}",
        gzip.compress(b"text inside"),
        b"<!DOCTYPE html><html><body>x</body></html>",
        b"  \n\t<html lang=en><p>y",
        b"\xef\xbb\xbf<?xml version='1.0'?><feed/>",
        b"plain old text, nothing fancy.\n",
        b"\x00\x01\x02\x03 junk",
        b"",
        None,
        b"PK\x03\x04 but not a real zip header tail",
    ]
    for _ in range(200):
        payloads.append(
            bytes(rng.randrange(256) for _ in range(rng.randrange(0, 100)))
        )
    rows = [
        (i, bytearray(p) if p is not None else None)
        for i, p in enumerate(payloads)
    ]
    df = spark.createDataFrame(rows, "doc_id int, payload binary")
    got = {r.doc_id: r.detected for r in route_payloads(df).collect()}
    exp = {
        i: py_sniff_document(bytes(p) if p is not None else None)
        for i, p in enumerate(payloads)
    }
    assert got == exp
    assert [exp[i] for i in range(12)] == [
        "pdf", "epub", "ooxml", "rtf", "gzip", "html", "html", "xml",
        "text", "binary", "empty", "empty",
    ]


def test_route_payloads_no_shuffle_no_python(spark):
    from pdf_to_epub_spark.operators.extract import route_payloads

    df = spark.createDataFrame(
        [(1, bytearray(b"%PDF-1.4"))], "doc_id int, payload binary"
    )
    plan = (
        route_payloads(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "Python" not in plan  # pure column algebra, no UDF stage
