"""Pure-stdlib media codecs: REAL decode for the formats that need no
external libraries, used by operators/multimodal.py.

Scope (honest): this container has no PIL/ffmpeg/librosa, so the decode
matrix is exactly what the Python standard library + struct parsing can do:

* **BMP** (uncompressed 24-bit BI_RGB) — full pixel decode → grayscale
  stats + pooled-luminance embedding.
* **WAV** (PCM, via stdlib ``wave``) — full sample decode → duration/RMS +
  windowed energy-envelope embedding.
* **GIF** (incl. animated) — header dims + exact frame count by walking the
  block structure (extensions / image descriptors / LZW sub-blocks);
  writer uses the classic "uncompressed LZW" trick (emit literal codes,
  reset the dictionary with CLEAR before it grows past code width).
* **PNG / JPEG** — real header parsing (IHDR / SOF scan) for dimensions;
  pixel decode is out of scope (inflate+unfilter for PNG, DCT for JPEG).
* **MP3** — MPEG Layer III frame-header walk (ID3v2/v1 skip) → sample
  rate, frame count, duration, bitrate; audio decode is out of scope.
* **MP4** — ISO BMFF box walk (moov→mvhd, tkhd, stbl→stsz) → dimensions,
  duration, sample count; codec payload decode is out of scope.  An
  ID3/ftyp wrapper around arbitrary bytes stays honestly unsupported.

Every decoder raises :class:`UnsupportedMedia` on formats or encodings it
cannot truly handle — callers map that to an ``unsupported`` status row,
never a fake value.
"""

from __future__ import annotations

import io
import struct
import wave


class UnsupportedMedia(Exception):
    """Raised when a payload cannot be genuinely decoded in-scope."""


# ---------------------------------------------------------------------------
# BMP — 24-bit uncompressed
# ---------------------------------------------------------------------------

def make_bmp(width: int, height: int, pixel_fn) -> bytes:
    """Write a 24-bit BI_RGB bottom-up BMP; ``pixel_fn(x, y) -> (r, g, b)``."""
    row_size = (width * 3 + 3) & ~3
    pixel_bytes = row_size * height
    header = struct.pack(
        "<2sIHHI", b"BM", 54 + pixel_bytes, 0, 0, 54
    ) + struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, pixel_bytes, 2835, 2835, 0, 0
    )
    rows = []
    for y in range(height - 1, -1, -1):  # bottom-up
        row = bytearray()
        for x in range(width):
            r, g, b = pixel_fn(x, y)
            row += bytes((b & 0xFF, g & 0xFF, r & 0xFF))
        row += b"\x00" * (row_size - width * 3)
        rows.append(bytes(row))
    return header + b"".join(rows)


def decode_bmp(raw: bytes) -> tuple[int, int, list[float]]:
    """24-bit BI_RGB BMP → (width, height, row-major grayscale [0..255])."""
    if len(raw) < 54 or raw[:2] != b"BM":
        raise UnsupportedMedia("not a BMP")
    offset = struct.unpack_from("<I", raw, 10)[0]
    hdr_size, width, height = struct.unpack_from("<Iii", raw, 14)
    if hdr_size < 40:
        raise UnsupportedMedia("BMP core header not supported")
    planes, bpp, compression = struct.unpack_from("<HHI", raw, 26)
    if bpp != 24 or compression != 0:
        raise UnsupportedMedia(f"BMP bpp={bpp} compression={compression}")
    if width <= 0:  # only height may legally be negative (top-down rows)
        raise UnsupportedMedia(f"BMP width {width} invalid")
    bottom_up = height > 0
    height = abs(height)
    row_size = (width * 3 + 3) & ~3
    if offset + row_size * height > len(raw):
        raise UnsupportedMedia("truncated BMP pixel array")
    gray: list[float] = [0.0] * (width * height)
    for row in range(height):
        y = (height - 1 - row) if bottom_up else row
        base = offset + row * row_size
        for x in range(width):
            b = raw[base + 3 * x]
            g = raw[base + 3 * x + 1]
            r = raw[base + 3 * x + 2]
            gray[y * width + x] = (r + g + b) / 3.0
    return width, height, gray


def _grid_means(
    gray: list[float], width: int, height: int, grid: int
) -> list:
    """grid×grid mean-pooled luminance (raw 0..255 cell means; empty cells
    — possible when grid > width or height — are ``None`` so callers can
    distinguish no-data from all-black).  Shared kernel of
    :func:`pooled_embedding` and :func:`ahash64`."""
    sums = [0.0] * (grid * grid)
    counts = [0] * (grid * grid)
    for y in range(height):
        cy = min(y * grid // height, grid - 1)
        for x in range(width):
            cx = min(x * grid // width, grid - 1)
            i = cy * grid + cx
            sums[i] += gray[y * width + x]
            counts[i] += 1
    return [s / n if n else None for s, n in zip(sums, counts)]


def pooled_embedding(
    gray: list[float], width: int, height: int, grid: int = 4
) -> list[float]:
    """grid×grid mean-pooled luminance, scaled to [-1, 1]."""
    return [
        0.0 if m is None else round(m / 127.5 - 1.0, 6)
        for m in _grid_means(gray, width, height, grid)
    ]


# ---------------------------------------------------------------------------
# WAV — PCM via stdlib wave
# ---------------------------------------------------------------------------

def make_wav(samples: list[int], rate: int = 8000) -> bytes:
    """16-bit mono PCM WAV from integer samples (clamped to int16).

    Always 16-bit: the packing below is ``<h`` per sample, so exposing a
    sampwidth knob would write a header contradicting the frame data.
    """
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(
            b"".join(
                struct.pack("<h", max(-32768, min(32767, s))) for s in samples
            )
        )
    return buf.getvalue()


def decode_wav(raw: bytes) -> tuple[int, int, list[int]]:
    """PCM WAV → (sample_rate, n_channels, mono-mixed int samples)."""
    try:
        with wave.open(io.BytesIO(raw), "rb") as w:
            rate, nch, width = w.getframerate(), w.getnchannels(), w.getsampwidth()
            n = w.getnframes()
            frames = w.readframes(n)
    except (wave.Error, EOFError) as exc:
        raise UnsupportedMedia(f"WAV: {exc}") from exc
    if width != 2:
        raise UnsupportedMedia(f"WAV sample width {width} not supported")
    if len(frames) % 2:
        raise UnsupportedMedia("WAV: truncated frame data")
    if rate == 0:
        raise UnsupportedMedia("WAV: zero frame rate")
    ints = struct.unpack(f"<{len(frames) // 2}h", frames)
    if nch > 1:  # mix down
        ints = [
            sum(ints[i:i + nch]) // nch for i in range(0, len(ints), nch)
        ]
    return rate, nch, list(ints)


def energy_envelope(samples: list[int], windows: int = 16) -> list[float]:
    """RMS per window, scaled to [-1, 1] against int16 full scale."""
    if not samples:
        return [0.0] * windows
    per = max(1, len(samples) // windows)
    out = []
    for i in range(windows):
        # The last window absorbs the len % windows tail so trailing
        # samples contribute (trimmed-copy Hamming robustness on short clips).
        hi = len(samples) if i == windows - 1 else (i + 1) * per
        chunk = samples[i * per:hi] or [0]
        rms = (sum(s * s for s in chunk) / len(chunk)) ** 0.5
        out.append(round(min(rms / 32768.0, 1.0) * 2 - 1.0, 6))
    return out


# ---------------------------------------------------------------------------
# GIF — header + block walk (frame count); uncompressed-LZW writer
# ---------------------------------------------------------------------------

def make_gif(
    width: int, height: int, frames: list[list[int]], palette: list[tuple] | None = None
) -> bytes:
    """Animated GIF87a-compatible stream: each frame is a row-major list of
    2-bit palette indices (palette of 4 RGB triples).  Image data uses the
    uncompressed-LZW technique: literal codes only, CLEAR emitted before
    the code width would grow."""
    palette = palette or [(0, 0, 0), (85, 85, 85), (170, 170, 170), (255, 255, 255)]
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", width, height, 0x91, 0, 0)  # 4-entry GCT
    for r, g, b in palette:
        out += bytes((r, g, b))
    for frame in frames:
        # graphic control extension (frame delay) marks animation frames
        out += b"\x21\xf9\x04\x00\x0a\x00\x00\x00"
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, 0)
        out += bytes((2,))  # LZW minimum code size (2 bits → codes 0..3)
        codes: list[int] = []
        clear, eoi = 4, 5
        codes.append(clear)
        for i, px in enumerate(frame):
            # emit literal; keep dictionary empty by clearing every 2 codes
            codes.append(px & 3)
            if i % 2 == 1:
                codes.append(clear)
        codes.append(eoi)
        bits = bytearray()
        acc = nbits = 0
        for code in codes:  # all codes fit in the initial 3-bit width
            acc |= code << nbits
            nbits += 3
            while nbits >= 8:
                bits.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8
        if nbits:
            bits.append(acc & 0xFF)
        for i in range(0, len(bits), 255):
            chunk = bits[i:i + 255]
            out += bytes((len(chunk),)) + chunk
        out += b"\x00"  # block terminator
    out += b"\x3b"  # trailer
    return bytes(out)


def gif_info(raw: bytes) -> tuple[int, int, int]:
    """GIF → (width, height, n_frames) via a real block walk."""
    try:
        return _gif_info(raw)
    except (IndexError, struct.error) as exc:  # truncated mid-structure
        raise UnsupportedMedia(f"GIF: truncated ({exc})") from exc


def _gif_info(raw: bytes) -> tuple[int, int, int]:
    if len(raw) < 13 or raw[:4] != b"GIF8":
        raise UnsupportedMedia("not a GIF")
    width, height, flags = struct.unpack_from("<HHB", raw, 6)
    pos = 13
    if flags & 0x80:  # global color table
        pos += 3 * (2 << (flags & 0x07))
    n_frames = 0

    def skip_subblocks(p: int) -> int:
        while p < len(raw) and raw[p] != 0:
            p += raw[p] + 1
        return p + 1

    while pos < len(raw):
        b = raw[pos]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension: label + sub-blocks
            pos = skip_subblocks(pos + 2)
        elif b == 0x2C:  # image descriptor
            n_frames += 1
            lflags = raw[pos + 9]
            pos += 10
            if lflags & 0x80:  # local color table
                pos += 3 * (2 << (lflags & 0x07))
            pos += 1  # LZW min code size
            pos = skip_subblocks(pos)
        else:
            raise UnsupportedMedia(f"GIF: unknown block 0x{b:02x}")
    if n_frames == 0:
        raise UnsupportedMedia("GIF: no image descriptors")
    return width, height, n_frames


# ---------------------------------------------------------------------------
# PNG / JPEG — header-only dimensions
# ---------------------------------------------------------------------------

def png_dimensions(raw: bytes) -> tuple[int, int]:
    if len(raw) < 24 or raw[:8] != b"\x89PNG\r\n\x1a\n" or raw[12:16] != b"IHDR":
        raise UnsupportedMedia("not a PNG / missing IHDR")
    w, h = struct.unpack_from(">II", raw, 16)
    return w, h


def jpeg_dimensions(raw: bytes) -> tuple[int, int]:
    """Scan JPEG markers for the first SOFn frame header."""
    if len(raw) < 4 or raw[:3] != b"\xff\xd8\xff":
        raise UnsupportedMedia("not a JPEG")
    pos = 2
    while pos + 4 <= len(raw):
        if raw[pos] != 0xFF:
            pos += 1
            continue
        marker = raw[pos + 1]
        if marker == 0xFF:  # spec-legal fill byte before a marker (B.1.1.2)
            pos += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        seglen = struct.unpack_from(">H", raw, pos + 2)[0]
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if pos + 9 > len(raw):
                break
            h, w = struct.unpack_from(">HH", raw, pos + 5)
            return w, h
        pos += 2 + seglen
    raise UnsupportedMedia("JPEG: no SOF marker found")


# ---------------------------------------------------------------------------
# MP3 — MPEG audio frame-header walk (no audio decode: header math only)
# ---------------------------------------------------------------------------

# MPEG1 Layer III bitrate table, kbps (index 1-14; 0=free and 15=bad are
# rejected), and the per-version sample-rate tables (ISO/IEC 11172-3 §2.4)
_MP3_BITRATES_V1 = [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320]
_MP3_BITRATES_V2 = [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160]
_MP3_RATES = {3: (44100, 48000, 32000), 2: (22050, 24000, 16000)}


def _syncsafe(b: bytes) -> int:
    return (b[0] << 21) | (b[1] << 14) | (b[2] << 7) | b[3]


def make_mp3(
    n_frames: int,
    rate: int = 44100,
    bitrate_kbps: int = 128,
    with_id3: bool = True,
    id3_pad: int = 32,
) -> bytes:
    """Serialize a spec-correct MPEG Layer III frame stream (headers +
    zeroed payloads) with an optional ID3v2 prefix — enough structure for
    any header-walking parser; no audible content."""
    version = 3 if rate in _MP3_RATES[3] else 2
    rates = _MP3_RATES[version]
    rate_idx = rates.index(rate)
    table = _MP3_BITRATES_V1 if version == 3 else _MP3_BITRATES_V2
    br_idx = table.index(bitrate_kbps)
    coef = 144 if version == 3 else 72  # samples/8 ÷ per Layer III
    out = io.BytesIO()
    if with_id3:
        body = b"\x00" * id3_pad
        sz = len(body)
        out.write(
            b"ID3\x04\x00\x00"
            + bytes([(sz >> 21) & 0x7F, (sz >> 14) & 0x7F, (sz >> 7) & 0x7F, sz & 0x7F])
            + body
        )
    for i in range(n_frames):
        padding = 0
        h0 = 0xFF
        h1 = 0xE0 | (version << 3) | (1 << 1) | 1  # sync|version|layerIII|noCRC
        h2 = (br_idx << 4) | (rate_idx << 2) | (padding << 1)
        h3 = 0xC0  # mono
        frame_len = coef * bitrate_kbps * 1000 // rate + padding
        out.write(bytes([h0, h1, h2, h3]) + b"\x00" * (frame_len - 4))
    return out.getvalue()


def mp3_info(raw: bytes) -> tuple[int, int, int, int]:
    """Walk MPEG Layer III frame headers → (sample_rate, n_frames,
    duration_ms, bitrate_kbps of the first frame).  Skips a leading ID3v2
    tag (syncsafe size) and a trailing ID3v1 'TAG' block; raises
    :class:`UnsupportedMedia` when no valid frame sequence exists (an
    ID3 wrapper around arbitrary bytes is NOT an MP3)."""
    pos = 0
    if raw[:3] == b"ID3":
        if len(raw) < 10:
            raise UnsupportedMedia("MP3: truncated ID3v2 header")
        pos = 10 + _syncsafe(raw[6:10])
        if raw[5] & 0x10:  # footer-present flag
            pos += 10
    n_frames = 0
    rate = kbps = None
    samples_total = 0.0
    while pos + 4 <= len(raw):
        if raw[pos : pos + 3] == b"TAG":  # ID3v1 trailer
            break
        h0, h1, h2, _h3 = raw[pos : pos + 4]
        version = (h1 >> 3) & 0x3
        layer = (h1 >> 1) & 0x3
        br_idx = (h2 >> 4) & 0xF
        rate_idx = (h2 >> 2) & 0x3
        if (
            h0 != 0xFF or (h1 & 0xE0) != 0xE0
            or version not in _MP3_RATES or layer != 1  # Layer III only
            or br_idx in (0, 15) or rate_idx == 3
        ):
            if n_frames:
                break  # trailing junk after a valid stream: stop cleanly
            raise UnsupportedMedia("MP3: no valid Layer III frame header")
        f_rate = _MP3_RATES[version][rate_idx]
        table = _MP3_BITRATES_V1 if version == 3 else _MP3_BITRATES_V2
        f_kbps = table[br_idx]
        padding = (h2 >> 1) & 0x1
        coef = 144 if version == 3 else 72
        frame_len = coef * f_kbps * 1000 // f_rate + padding
        if frame_len < 4 or pos + frame_len > len(raw):
            break  # truncated final frame: count what fully parsed
        if rate is None:
            rate, kbps = f_rate, f_kbps
        n_frames += 1
        samples_total += 1152.0 if version == 3 else 576.0
        pos += frame_len
    if not n_frames:
        raise UnsupportedMedia("MP3: no complete frame")
    return rate, n_frames, round(1000.0 * samples_total / rate), kbps


# ---------------------------------------------------------------------------
# MP4 — ISO BMFF box walk (moov→mvhd duration, tkhd dims, stbl→stsz samples)
# ---------------------------------------------------------------------------

_MP4_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl"}


def _mp4_boxes(raw: bytes, start: int, end: int):
    """Yield (type, payload_start, payload_end) for the boxes in a span."""
    pos = start
    while pos + 8 <= end:
        size = struct.unpack_from(">I", raw, pos)[0]
        btype = raw[pos + 4 : pos + 8]
        if size == 1:
            if pos + 16 > end:
                return
            size = struct.unpack_from(">Q", raw, pos + 8)[0]
            hdr = 16
        else:
            hdr = 8
        if size == 0:
            size = end - pos
        if size < hdr or pos + size > end:
            return  # malformed/truncated box: stop the walk
        yield btype, pos + hdr, pos + size
        pos += size


def make_mp4(
    duration_ms: int,
    width: int = 640,
    height: int = 360,
    n_samples: int = 0,
    timescale: int = 1000,
    mdat_bytes: int = 64,
) -> bytes:
    """Serialize a minimal spec-shaped ISO BMFF file: ftyp +
    moov[mvhd + trak[tkhd + mdia[minf[stbl[stsz]]]]] + mdat filler."""
    def box(btype: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    duration = duration_ms * timescale // 1000
    mvhd = box(
        b"mvhd",
        b"\x00\x00\x00\x00" + struct.pack(">IIII", 0, 0, timescale, duration)
        + b"\x00" * 80,
    )
    tkhd = box(
        b"tkhd",
        b"\x00\x00\x00\x07" + struct.pack(">IIIII", 0, 0, 1, 0, duration)
        + b"\x00" * 52
        + struct.pack(">II", width << 16, height << 16),
    )
    stsz = box(b"stsz", b"\x00\x00\x00\x00" + struct.pack(">II", 0, n_samples))
    stbl = box(b"stbl", stsz)
    minf = box(b"minf", stbl)
    mdia = box(b"mdia", minf)
    trak = box(b"trak", tkhd + mdia)
    moov = box(b"moov", mvhd + trak)
    ftyp = box(b"ftyp", b"mp42" + struct.pack(">I", 0) + b"mp42isom")
    return ftyp + moov + box(b"mdat", b"\x00" * mdat_bytes)


def mp4_info(raw: bytes) -> tuple[int, int, int, int]:
    """Box-walk an ISO BMFF payload → (width, height, n_samples,
    duration_ms).  Width/height come from the first ``tkhd`` with nonzero
    dims (16.16 fixed point), duration from ``mvhd`` (v0 or v1),
    n_samples from the first ``stsz``.  Raises :class:`UnsupportedMedia`
    when no ``moov``/``mvhd`` exists — an ``ftyp`` prefix on arbitrary
    bytes is NOT a decodable MP4."""
    width = height = None
    n_samples = None
    duration_ms = None

    def walk(start: int, end: int) -> None:
        nonlocal width, height, n_samples, duration_ms
        for btype, p0, p1 in _mp4_boxes(raw, start, end):
            if btype in _MP4_CONTAINERS:
                walk(p0, p1)
            elif btype == b"mvhd" and duration_ms is None and p1 - p0 >= 20:
                ver = raw[p0]
                if ver == 1 and p1 - p0 >= 32:  # 20 + 4 (ts) + 8 (dur)
                    ts, dur = struct.unpack_from(">IQ", raw, p0 + 20)
                else:
                    ts, dur = struct.unpack_from(">II", raw, p0 + 12)
                if ts:
                    duration_ms = round(1000.0 * dur / ts)
            elif btype == b"tkhd" and width is None and p1 - p0 >= 84:
                w_fx, h_fx = struct.unpack_from(">II", raw, p1 - 8)
                if w_fx or h_fx:
                    width, height = w_fx >> 16, h_fx >> 16
            elif btype == b"stsz" and n_samples is None and p1 - p0 >= 12:
                n_samples = struct.unpack_from(">I", raw, p0 + 8)[0]

    walk(0, len(raw))
    if duration_ms is None:
        raise UnsupportedMedia("MP4: no moov/mvhd box (metadata-less stream)")
    return width or 0, height or 0, n_samples or 0, duration_ms


# ---------------------------------------------------------------------------
# Perceptual fingerprints — media near-dup primitives
# ---------------------------------------------------------------------------

def ahash64(gray: list[float], width: int, height: int) -> int:
    """8×8 average hash (aHash): mean-pool the grayscale to 64 cells,
    set bit i when cell i exceeds the mean of the 64 cells.  The
    classic cheap perceptual image hash — stable under resize and mild
    noise, so exact-equal hashes catch rescaled copies and small
    Hamming distance catches re-encodes.  Returns the UNSIGNED 64-bit
    value (callers storing it in a Spark LongType wrap it two's-
    complement via :func:`to_signed64`)."""
    grid = 8
    means = [
        0.0 if m is None else m for m in _grid_means(gray, width, height, grid)
    ]
    overall = sum(means) / len(means)
    bits = 0
    for i, v in enumerate(means):
        if v > overall:
            bits |= 1 << (63 - i)
    return bits


def audio_fingerprint64(samples: list[int], windows: int = 16) -> int:
    """64-bit audio fingerprint: the 16-window RMS energy envelope,
    each window quantized to 4 bits — a loudness-contour hash that
    matches re-encoded/level-identical copies exactly and trimmed or
    slightly renormalized copies within small Hamming distance."""
    env = energy_envelope(samples, windows)
    bits = 0
    for i, v in enumerate(env):
        q = int((v + 1.0) / 2.0 * 16)
        q = 0 if q < 0 else (15 if q > 15 else q)
        bits |= q << ((windows - 1 - i) * 4)
    return bits


def to_signed64(u: int) -> int:
    """Two's-complement wrap of an unsigned 64-bit value into the range
    of a Spark/DuckDB BIGINT."""
    return u - (1 << 64) if u >= (1 << 63) else u


def hamming64(a: int, b: int) -> int:
    """Bit distance between two 64-bit values given in ANY mix of
    signed/unsigned representation."""
    return ((a ^ b) & ((1 << 64) - 1)).bit_count()
