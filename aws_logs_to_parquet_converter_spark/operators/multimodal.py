"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata (north-star operator set).

The Spark-side mechanics are real and tested — schema contract,
Arrow-batched ``mapInPandas`` fan-out, batch-size control, partition
sizing.  The codec step has two modes: ``decode_stub=True`` produces
deterministic fake features (no codec library in this container), and
``decode_stub=False`` runs REAL pure-Python decoders — ASCII PPM (P3),
PNG, and baseline + progressive JPEG for images, PCM WAV for audio,
uncompressed YUV4MPEG2 (.y4m) for video — so every non-stub branch has
executed test coverage; payloads in any other format yield NULL
features (quarantine semantics).  A production deploy swaps these
decoders for Pillow/torchaudio/ffmpeg at the same seam; the remaining
gates are arithmetic-coded/hierarchical JPEG and COMPRESSED
audio/video codecs (mp4/webm/mp3/...), which have no stdlib decoder
and quarantine until one is swapped in.

Scale notes: binary payloads dominate partition size, so the entry
point re-splits by target bytes before the Python stage
(``repartition`` on a byte-budget estimate), and features travel back
as fixed-width arrays — never re-serialized blobs.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# The asset table contract: opaque payload + typed metadata.
MEDIA_SCHEMA = StructType(
    [
        StructField("asset_id", StringType(), False),
        StructField("media_type", StringType(), True),  # image|audio|video
        StructField("payload", StringType(), True),  # binary in prod; str stand-in ok
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("duration_ms", LongType(), True),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("asset_id", StringType(), False),
        StructField("media_type", StringType(), True),
        StructField("n_bytes", LongType(), True),
        StructField("feature", ArrayType(FloatType()), True),
    ]
)

FEATURE_DIM = 8


def decode_ppm_p3(data: "bytes | str") -> tuple[int, int, int, list[int]]:
    """Decode an ASCII PPM (P3) image with no codec library: returns
    (width, height, maxval, flat [r,g,b,...] values).  P3 is the one
    real image format a pure-Python decoder can honestly prove the
    non-stub pipeline with; '#' comments are stripped per the spec."""
    text = data.decode("ascii", "strict") if isinstance(data, (bytes, bytearray)) else data
    tokens = [tok for line in text.split("\n") for tok in line.split("#")[0].split()]
    if not tokens or tokens[0] != "P3":
        raise ValueError("not an ASCII PPM (P3) payload")
    # Full header validation BEFORE any arithmetic: a truncated header
    # (< 4 tokens), non-integer token, maxval < 1, or non-positive
    # dimension must surface as ValueError so callers quarantine the
    # row (NULL feature) instead of crashing the Spark task with
    # IndexError / ZeroDivisionError (round-4 advisor finding).
    if len(tokens) < 4:
        raise ValueError("truncated PPM header")
    w, h, maxval = int(tokens[1]), int(tokens[2]), int(tokens[3])
    if w <= 0 or h <= 0 or maxval < 1:
        raise ValueError("invalid PPM dimensions/maxval")
    vals = [int(v) for v in tokens[4 : 4 + 3 * w * h]]
    if len(vals) < 3 * w * h:
        raise ValueError("truncated PPM payload")
    if any(v < 0 or v > maxval for v in vals):
        # out-of-range samples (incl. negatives, which would index the
        # luma histogram from the wrong end) are spec violations
        raise ValueError("PPM sample out of [0, maxval] range")
    return w, h, maxval, vals


def _luma_histogram(w: int, h: int, maxval: int, vals: list[int]) -> list[float]:
    """FEATURE_DIM-bin normalized ITU-R 601 luminance histogram over
    flat RGB samples — the ONE image feature both decoders feed."""
    hist = [0] * FEATURE_DIM
    for i in range(0, len(vals), 3):
        luma = (299 * vals[i] + 587 * vals[i + 1] + 114 * vals[i + 2]) / (1000 * maxval)
        hist[min(int(luma * FEATURE_DIM), FEATURE_DIM - 1)] += 1
    n = float(w * h)
    return [c / n for c in hist]


def _ppm_feature(payload: bytes) -> "list[float] | None":
    """Real feature from a P3 payload: FEATURE_DIM-bin normalized
    luminance histogram.  None (not fake numbers) when the payload is
    not decodable — NULL features are the quarantine signal."""
    try:
        w, h, maxval, vals = decode_ppm_p3(payload)
    except (ValueError, UnicodeDecodeError):
        return None
    return _luma_histogram(w, h, maxval, vals)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def decode_png(data: "bytes | str") -> tuple[int, int, int, list[int]]:
    """Decode a PNG with the stdlib only (zlib inflate + per-scanline
    filter reconstruction): returns (width, height, 255, flat
    [r,g,b,...]) — the same contract as ``decode_ppm_p3``, closing the
    compressed-image gap of the multimodal gate the way the Y4M
    decoder closed video.  Supported: 8-bit depth, color types 0
    (gray), 2 (RGB), 3 (palette), 4 (gray+alpha), 6 (RGBA), all five
    scanline filters, chunk CRCs verified.  Adam7 interlace, 16-bit
    depth, and malformed streams raise ValueError so callers
    quarantine (NULL feature) instead of crashing the task.  Baseline
    and progressive JPEG decode via ``decode_jpeg`` below (r8/r9)."""
    import struct
    import zlib

    if isinstance(data, str):
        data = data.encode("latin-1")
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, ihdr, plte, idat, iend = 8, None, None, b"", False
    while pos + 12 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        chunk = data[pos + 8 : pos + 8 + length]
        crc_bytes = data[pos + 8 + length : pos + 12 + length]
        if len(chunk) < length or len(crc_bytes) < 4:
            raise ValueError("truncated PNG chunk")
        if zlib.crc32(ctype + chunk) & 0xFFFFFFFF != struct.unpack(">I", crc_bytes)[0]:
            raise ValueError("PNG chunk CRC mismatch")
        if ctype == b"IHDR":
            ihdr = chunk
        elif ctype == b"PLTE":
            plte = chunk
        elif ctype == b"IDAT":
            idat += chunk
        elif ctype == b"IEND":
            iend = True
            break
        pos += 12 + length
    if ihdr is None or len(ihdr) != 13 or not idat or not iend:
        raise ValueError("PNG missing IHDR/IDAT/IEND")
    w, h, depth, color, comp, filt, interlace = struct.unpack(">IIBBBBB", ihdr)
    if w <= 0 or h <= 0:
        raise ValueError("invalid PNG dimensions")
    if depth != 8:
        raise ValueError(f"unsupported PNG bit depth {depth}")
    if color not in (0, 2, 3, 4, 6):
        raise ValueError(f"unsupported PNG color type {color}")
    if comp != 0 or filt != 0:
        raise ValueError("unsupported PNG compression/filter method")
    if interlace != 0:
        raise ValueError("Adam7-interlaced PNG unsupported")
    try:
        raw = zlib.decompress(idat)
    except zlib.error as e:
        raise ValueError(f"PNG inflate failed: {e}") from e
    bpp = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color]
    stride = w * bpp
    if len(raw) != (stride + 1) * h:
        raise ValueError("PNG pixel data length mismatch")
    out = bytearray()
    prev = bytearray(stride)
    for y in range(h):
        fbyte = raw[y * (stride + 1)]
        line = bytearray(raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
        if fbyte == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif fbyte == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif fbyte == 3:  # Average
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + (a + prev[i]) // 2) & 0xFF
        elif fbyte == 4:  # Paeth
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        elif fbyte != 0:
            raise ValueError(f"unknown PNG scanline filter {fbyte}")
        out += line
        prev = line
    if color == 2:
        vals = list(out)
    elif color == 6:
        vals = [out[i + j] for i in range(0, len(out), 4) for j in range(3)]
    elif color == 0:
        vals = [v for v in out for _ in range(3)]
    elif color == 4:
        vals = [out[i] for i in range(0, len(out), 2) for _ in range(3)]
    else:  # palette
        if plte is None or len(plte) % 3 != 0:
            raise ValueError("PNG palette missing or invalid")
        vals = []
        for idx in out:
            if 3 * idx + 2 >= len(plte):
                raise ValueError("PNG palette index out of range")
            vals.extend(plte[3 * idx : 3 * idx + 3])
    return w, h, 255, vals


def encode_png(width: int, height: int, pixels: "list[int]") -> bytes:
    """Minimal RGB8 PNG writer (filter-0 scanlines) — the fixture
    encoder tests and stubs use, sibling of ``encode_y4m``."""
    import struct
    import zlib

    if len(pixels) != 3 * width * height:
        raise ValueError("pixels must be flat RGB of length 3*w*h")

    def chunk(ctype: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + ctype
            + payload
            + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    raw = b"".join(
        b"\x00" + bytes(pixels[y * 3 * width : (y + 1) * 3 * width])
        for y in range(height)
    )
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _png_feature(payload: bytes) -> "list[float] | None":
    """Real feature from a PNG payload (same luminance histogram as
    P3); None quarantines undecodable streams."""
    try:
        w, h, maxval, vals = decode_png(payload)
    except (ValueError, UnicodeDecodeError):
        return None
    return _luma_histogram(w, h, maxval, vals)


# --------------------------------------------------------------------------
# JPEG (ITU-T T.81, Huffman): pure-stdlib decode + fixture encoders —
# baseline sequential (r8, closing the largest image quarantine the way
# decode_png closed PNG) and progressive SOF2 (r9, Annex G spectral
# selection + successive approximation; all four scan kinds, see
# _decode_jpeg_progressive).  Arithmetic-coded / hierarchical /
# lossless / 12-bit streams raise ValueError and keep quarantining.
# --------------------------------------------------------------------------

# zigzag position -> natural (row-major) index (T.81 Figure 5)
_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]
# Annex K quantization tables (natural order below; emitted zigzag)
_JPEG_QT_LUMA = [
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
]
_JPEG_QT_CHROMA = [
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
] + [99] * 32
# Annex K "typical" Huffman tables as (bits[1..16], values).  The
# DECODER never relies on these — it builds tables from the file's own
# DHT segments — so they only shape the encoder's output stream.
_JPEG_HUFF = {
    ("dc", 0): ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0], list(range(12))),
    ("dc", 1): ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0], list(range(12))),
    ("ac", 0): (
        [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125],
        [
            0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
            0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
            0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
            0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
            0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
            0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
            0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
            0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
            0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
            0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
            0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
            0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
            0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
            0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
            0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
        ],
    ),
    ("ac", 1): (
        [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119],
        [
            0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
            0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
            0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
            0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
            0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
            0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
            0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
            0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
            0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
            0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
            0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
            0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
            0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
            0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
            0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
        ],
    ),
}


def _jpeg_dct_basis() -> list[list[float]]:
    """Orthonormal 1-D DCT-II basis A[u][x]; forward F = A s A^T,
    inverse s = A^T F A."""
    import math

    return [
        [
            (math.sqrt(0.125) if u == 0 else 0.5)
            * math.cos((2 * x + 1) * u * math.pi / 16)
            for x in range(8)
        ]
        for u in range(8)
    ]


def _huff_decode_table(bits: list[int], values: list[int]) -> dict:
    """(code_length, code) -> symbol, per T.81 Annex C code assignment."""
    if sum(bits) != len(values):
        raise ValueError("JPEG Huffman table bits/values mismatch")
    table, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = values[k]
            k += 1
            code += 1
        code <<= 1
    return table


class _JpegBits:
    """MSB-first bit reader over an entropy-coded segment (byte
    stuffing already removed by the scan splitter)."""

    def __init__(self, buf: bytes):
        self.buf, self.pos, self.bit = buf, 0, 0

    def read_bit(self) -> int:
        if self.pos >= len(self.buf):
            raise ValueError("JPEG entropy data exhausted")
        b = (self.buf[self.pos] >> (7 - self.bit)) & 1
        self.bit += 1
        if self.bit == 8:
            self.bit, self.pos = 0, self.pos + 1
        return b

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def read_symbol(self, table: dict) -> int:
        length, code = 0, 0
        while length < 16:
            code = (code << 1) | self.read_bit()
            length += 1
            if (length, code) in table:
                return table[(length, code)]
        raise ValueError("invalid JPEG Huffman code")


def _jpeg_extend(v: int, t: int) -> int:
    return v - (1 << t) + 1 if t and v < (1 << (t - 1)) else v


def _jpeg_entropy_segments(data: bytes, pos: int):
    """Split entropy-coded bytes at ``pos`` into restart segments
    (FF00 unstuffed, RSTn boundaries).  Returns ``(next_pos, term,
    segments)`` where ``term`` is the marker byte that ended the scan
    (0xD9 at EOI/EOF) and ``next_pos`` points at its 0xFF."""
    segments, cur = [], bytearray()
    while pos < len(data):
        b = data[pos]
        if b != 0xFF:
            cur.append(b)
            pos += 1
            continue
        nxt = data[pos + 1] if pos + 1 < len(data) else 0xD9
        if nxt == 0x00:
            cur.append(0xFF)
            pos += 2
        elif 0xD0 <= nxt <= 0xD7:
            segments.append(bytes(cur))
            cur = bytearray()
            pos += 2
        else:
            segments.append(bytes(cur))
            return pos, nxt, segments
    segments.append(bytes(cur))
    return len(data), 0xD9, segments


def _jpeg_idct_into(plane, y0: int, x0: int, coeffs, basis) -> None:
    """Separable inverse DCT of one natural-order coefficient block
    into ``plane`` at (y0, x0), with the +128 level shift and clamp."""
    tmp = [
        [sum(coeffs[8 * u + v] * basis[v][x] for v in range(8)) for x in range(8)]
        for u in range(8)
    ]
    for y in range(8):
        row = plane[y0 + y]
        for x in range(8):
            val = sum(basis[u][y] * tmp[u][x] for u in range(8))
            row[x0 + x] = min(255, max(0, int(round(val)) + 128))


def _jpeg_planes_to_rgb(
    w: int, h: int, comps, planes, hmax: int, vmax: int
) -> tuple[int, int, int, list[int]]:
    """Shared decoder tail: chroma upsampling + YCbCr->RGB (or
    grayscale replication) onto the flat [r,g,b,...] contract."""
    vals: list[int] = []
    if len(comps) == 1:
        plane = planes[comps[0][0]]
        for y in range(h):
            for x in range(w):
                g = plane[y][x]
                vals += [g, g, g]
        return w, h, 255, vals
    (yid, yh, yv, _), (bid, bh, bv, _), (rid, rh, rv, _) = comps
    py, pb, pr = planes[yid], planes[bid], planes[rid]
    for y in range(h):
        for x in range(w):
            Y = py[y * yv // vmax][x * yh // hmax]
            Cb = pb[y * bv // vmax][x * bh // hmax] - 128
            Cr = pr[y * rv // vmax][x * rh // hmax] - 128
            vals.append(min(255, max(0, int(round(Y + 1.402 * Cr)))))
            vals.append(min(255, max(0, int(round(Y - 0.344136 * Cb - 0.714136 * Cr)))))
            vals.append(min(255, max(0, int(round(Y + 1.772 * Cb)))))
    return w, h, 255, vals


def decode_jpeg(data: "bytes | str") -> tuple[int, int, int, list[int]]:
    """Decode a BASELINE sequential or PROGRESSIVE JPEG with the
    stdlib only: marker parse, per-file DHT Huffman tables, dequant,
    separable IDCT, chroma upsampling, YCbCr->RGB.  Returns (width,
    height, 255, flat [r,g,b,...]) — the shared image-decoder
    contract.  Supported: SOF0/SOF1 baseline and SOF2 progressive
    (spectral selection + successive approximation, all four scan
    kinds — see ``_decode_jpeg_progressive``), 8-bit, 1 or 3
    components, sampling factors up to 2x2 (4:4:4 / 4:2:2 / 4:2:0),
    restart markers.  Arithmetic coding, hierarchical/lossless frames,
    and malformed streams raise ValueError so callers quarantine
    instead of crashing the task."""
    if isinstance(data, str):
        data = data.encode("latin-1")
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos, qt, huff, frame, scan, restart = 2, {}, {}, None, None, 0
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("JPEG marker expected")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI before SOS
            break
        seglen = int.from_bytes(data[pos + 2 : pos + 4], "big")
        seg = data[pos + 4 : pos + 2 + seglen]
        if len(seg) != seglen - 2:
            raise ValueError("truncated JPEG segment")
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 15
                if pq != 0:
                    raise ValueError("16-bit JPEG quant tables unsupported")
                if p + 65 > len(seg):
                    raise ValueError("truncated DQT")
                qt[tq] = list(seg[p + 1 : p + 65])  # zigzag order
                p += 65
        elif marker in (0xC0, 0xC1):  # SOF0/1: baseline/extended seq.
            prec, h, w, nc = seg[0], int.from_bytes(seg[1:3], "big"), int.from_bytes(seg[3:5], "big"), seg[5]
            if prec != 8:
                raise ValueError("only 8-bit JPEG supported")
            if nc not in (1, 3):
                raise ValueError(f"unsupported JPEG component count {nc}")
            comps = []
            for i in range(nc):
                cid, hv, tq = seg[6 + 3 * i], seg[7 + 3 * i], seg[8 + 3 * i]
                hs, vs = hv >> 4, hv & 15
                if not (1 <= hs <= 2 and 1 <= vs <= 2):
                    raise ValueError(f"unsupported JPEG sampling {hs}x{vs}")
                comps.append((cid, hs, vs, tq))
            frame = (w, h, comps)
        elif marker == 0xC2:  # SOF2: progressive — dedicated decoder
            return _decode_jpeg_progressive(data)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("non-baseline JPEG (arithmetic/hierarchical/lossless) unsupported")
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 15
                bits = list(seg[p + 1 : p + 17])
                nv = sum(bits)
                vals = list(seg[p + 17 : p + 17 + nv])
                huff[("dc" if tc == 0 else "ac", th)] = _huff_decode_table(bits, vals)
                p += 17 + nv
        elif marker == 0xDD:  # DRI
            restart = int.from_bytes(seg[:2], "big")
        elif marker == 0xDA:  # SOS
            ns = seg[0]
            scan = [(seg[1 + 2 * i], seg[2 + 2 * i] >> 4, seg[2 + 2 * i] & 15) for i in range(ns)]
            pos += 2 + seglen
            break
        pos += 2 + seglen
    if frame is None or scan is None:
        raise ValueError("JPEG missing SOF/SOS")
    if frame[0] <= 0 or frame[1] <= 0:
        # height 0 is legal in DNL-style streams but unsupported here;
        # without this guard a zero dim escapes as ZeroDivisionError in
        # the histogram (outside the quarantine contract) and huge
        # header dims would allocate planes before any entropy data is
        # validated
        raise ValueError(f"unsupported JPEG dimensions {frame[0]}x{frame[1]}")
    if frame[0] * frame[1] > 64_000_000:
        raise ValueError(
            f"JPEG dimensions {frame[0]}x{frame[1]} exceed the 64MP decode cap"
        )

    # split entropy-coded data into restart segments, unstuffing FF00
    _, term, segments = _jpeg_entropy_segments(data, pos)
    if term != 0xD9:  # baseline has ONE scan; any other marker is bogus
        raise ValueError(f"unexpected marker in JPEG scan: {term:#x}")

    w, h, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    basis = _jpeg_dct_basis()
    planes = {}
    for cid, hs, vs, _tq in comps:
        planes[cid] = [[0] * (mcus_x * hs * 8) for _ in range(mcus_y * vs * 8)]
    scan_tbl = {}
    for cid, td, ta in scan:
        if ("dc", td) not in huff or ("ac", ta) not in huff:
            raise ValueError("JPEG scan references missing Huffman table")
        scan_tbl[cid] = (huff[("dc", td)], huff[("ac", ta)])
    for cid, *_rest in comps:
        # non-interleaved scans (one SOS per component) and corrupted
        # SOS component ids both leave a frame component without scan
        # tables; the dict lookup below would escape the quarantine as
        # KeyError and crash the task instead of NULLing the feature
        if cid not in scan_tbl:
            raise ValueError(
                f"JPEG scan does not cover frame component {cid} "
                "(non-interleaved scans unsupported)"
            )

    mcu_index, seg_index = 0, 0
    br = _JpegBits(segments[0])
    pred = {cid: 0 for cid, *_ in comps}
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart and mcu_index and mcu_index % restart == 0:
                seg_index += 1
                if seg_index >= len(segments):
                    raise ValueError("JPEG restart segment missing")
                br = _JpegBits(segments[seg_index])
                pred = {cid: 0 for cid, *_ in comps}
            for cid, hs, vs, tq in comps:
                if tq not in qt:
                    raise ValueError("JPEG frame references missing quant table")
                qtab, (dct, act) = qt[tq], scan_tbl[cid]
                for by in range(vs):
                    for bx in range(hs):
                        t = br.read_symbol(dct)
                        pred[cid] += _jpeg_extend(br.read_bits(t), t) if t else 0
                        coeffs = [0.0] * 64
                        coeffs[0] = pred[cid] * qtab[0]
                        k = 1
                        while k < 64:
                            rs = br.read_symbol(act)
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("JPEG AC index overflow")
                            coeffs[_JPEG_ZIGZAG[k]] = _jpeg_extend(br.read_bits(s), s) * qtab[k]
                            k += 1
                        _jpeg_idct_into(
                            planes[cid], (my * vs + by) * 8, (mx * hs + bx) * 8,
                            coeffs, basis,
                        )
            mcu_index += 1

    return _jpeg_planes_to_rgb(w, h, comps, planes, hmax, vmax)


def _decode_jpeg_progressive(data: bytes) -> tuple[int, int, int, list[int]]:
    """Decode a PROGRESSIVE (SOF2) JPEG — ITU-T T.81 Annex G, Huffman
    coding.  Coefficients accumulate across scans in zigzag order and
    the IDCT runs once at EOI:

      * DC first scans (Ss=Se=0, Ah=0): predictive diff coding of the
        point-transformed DC, ``coef = pred << Al`` (two's-complement
        semantics — refinement bits OR in, G.1.2.1);
      * DC refinement (Ah>0): one raw bit per block, ``coef |= 1<<Al``;
      * AC first scans (Ss>0, Ah=0, single component per T.81): run/size
        coding of ``v/2^Al`` (sign-magnitude truncation) plus EOB runs
        — ``EOBn`` covers the current block and the next ``2^r-1+bits``;
      * AC refinement (Ah>0): newly-nonzero coefficients arrive as
        (run over ZERO-history positions, magnitude 1, sign bit);
        nonzero-history coefficients passed over en route — and every
        remaining one in blocks inside an EOB run — carry one inline
        correction bit that grows the magnitude by ``1<<Al`` toward
        larger absolute value.

    Interleaved scans (ns>1, DC only in practice) walk MCU order with
    per-component sampling blocks; non-interleaved scans walk the
    component's own ceil(cw/8) x ceil(ch/8) grid in raster order.
    Restart intervals reset DC predictors and the EOB run.  DHT/DRI may
    be redefined between scans (tables are looked up per scan).
    Malformed streams raise ValueError for the quarantine contract.
    """
    pos, qt, huff, frame, restart = 2, {}, {}, None, 0
    mcus_x = mcus_y = hmax = vmax = 0
    coefs: dict = {}  # cid -> [by][bx] -> [64] zigzag-order ints
    comp_blocks: dict = {}  # cid -> (non-interleaved bw, bh)
    basis = _jpeg_dct_basis()

    while pos + 2 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("JPEG marker expected")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if pos + 4 > len(data):
            raise ValueError("truncated JPEG segment")
        seglen = int.from_bytes(data[pos + 2 : pos + 4], "big")
        seg = data[pos + 4 : pos + 2 + seglen]
        if len(seg) != seglen - 2:
            raise ValueError("truncated JPEG segment")
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 15
                if pq != 0:
                    raise ValueError("16-bit JPEG quant tables unsupported")
                if p + 65 > len(seg):
                    raise ValueError("truncated DQT")
                qt[tq] = list(seg[p + 1 : p + 65])
                p += 65
        elif marker == 0xC2:  # SOF2
            prec = seg[0]
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            nc = seg[5]
            if prec != 8:
                raise ValueError("only 8-bit JPEG supported")
            if nc not in (1, 3):
                raise ValueError(f"unsupported JPEG component count {nc}")
            comps = []
            for i in range(nc):
                cid, hv, tq = seg[6 + 3 * i], seg[7 + 3 * i], seg[8 + 3 * i]
                hs, vs = hv >> 4, hv & 15
                if not (1 <= hs <= 2 and 1 <= vs <= 2):
                    raise ValueError(f"unsupported JPEG sampling {hs}x{vs}")
                comps.append((cid, hs, vs, tq))
            if w <= 0 or h <= 0:
                raise ValueError(f"unsupported JPEG dimensions {w}x{h}")
            if w * h > 64_000_000:
                raise ValueError(
                    f"JPEG dimensions {w}x{h} exceed the 64MP decode cap"
                )
            frame = (w, h, comps)
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            mcus_x = -(-w // (8 * hmax))
            mcus_y = -(-h // (8 * vmax))
            for cid, hs, vs, _tq in comps:
                coefs[cid] = [
                    [[0] * 64 for _ in range(mcus_x * hs)]
                    for _ in range(mcus_y * vs)
                ]
                cw, ch = -(-w * hs // hmax), -(-h * vs // vmax)
                comp_blocks[cid] = (-(-cw // 8), -(-ch // 8))
        elif marker in (0xC0, 0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("conflicting frame marker in progressive JPEG")
        elif marker == 0xC4:  # DHT (redefinable between scans)
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 15
                bits = list(seg[p + 1 : p + 17])
                nv = sum(bits)
                vals = list(seg[p + 17 : p + 17 + nv])
                huff[("dc" if tc == 0 else "ac", th)] = _huff_decode_table(bits, vals)
                p += 17 + nv
        elif marker == 0xDD:  # DRI (redefinable between scans)
            restart = int.from_bytes(seg[:2], "big")
        elif marker == 0xDA:  # SOS: one of many scans
            if frame is None:
                raise ValueError("JPEG scan before SOF")
            ns = seg[0]
            scan = [
                (seg[1 + 2 * i], seg[2 + 2 * i] >> 4, seg[2 + 2 * i] & 15)
                for i in range(ns)
            ]
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ahal = seg[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 15
            pos, term, segments = _jpeg_entropy_segments(data, pos + 2 + seglen)
            _decode_progressive_scan(
                frame, coefs, comp_blocks, huff, restart, segments,
                scan, ss, se, ah, al, mcus_x, mcus_y,
            )
            continue  # pos already sits at the terminating marker
        pos += 2 + seglen

    if frame is None:
        raise ValueError("JPEG missing SOF/SOS")
    w, h, comps = frame
    planes = {}
    for cid, hs, vs, tq in comps:
        if tq not in qt:
            raise ValueError("JPEG frame references missing quant table")
        qtab = qt[tq]
        plane = [[0] * (mcus_x * hs * 8) for _ in range(mcus_y * vs * 8)]
        grid = coefs[cid]
        for by in range(len(grid)):
            for bx in range(len(grid[0])):
                blk = grid[by][bx]
                coeffs = [0.0] * 64
                for k in range(64):
                    if blk[k]:
                        coeffs[_JPEG_ZIGZAG[k]] = blk[k] * qtab[k]
                _jpeg_idct_into(plane, by * 8, bx * 8, coeffs, basis)
        planes[cid] = plane
    return _jpeg_planes_to_rgb(w, h, comps, planes, hmax, vmax)


def _decode_progressive_scan(
    frame, coefs, comp_blocks, huff, restart, segments,
    scan, ss, se, ah, al, mcus_x, mcus_y,
) -> None:
    """Decode ONE progressive scan's entropy data into the coefficient
    grids (see ``_decode_jpeg_progressive`` for the four scan kinds)."""
    w, h, comps = frame
    by_cid = {c[0]: c for c in comps}
    for cid, _td, _ta in scan:
        if cid not in by_cid:
            raise ValueError(f"JPEG scan references unknown component {cid}")
    if ss == 0 and se != 0:
        raise ValueError("JPEG DC scan with nonzero Se")
    if ss > 0 and len(scan) != 1:
        raise ValueError("JPEG progressive AC scan must be single-component")
    if not 0 <= ss <= se <= 63:
        raise ValueError("JPEG bad spectral selection")

    state = {"seg": 0, "br": _JpegBits(segments[0]), "eobrun": 0}
    pred = {c[0]: 0 for c in comps}

    def next_restart_segment() -> None:
        state["seg"] += 1
        if state["seg"] >= len(segments):
            raise ValueError("JPEG restart segment missing")
        state["br"] = _JpegBits(segments[state["seg"]])
        state["eobrun"] = 0
        for k in pred:
            pred[k] = 0

    def dc_unit(cid: int, blk: list, dc_tbl) -> None:
        br = state["br"]
        if ah == 0:
            t = br.read_symbol(dc_tbl)
            diff = _jpeg_extend(br.read_bits(t), t) if t else 0
            pred[cid] += diff
            blk[0] = pred[cid] << al
        elif br.read_bit():
            blk[0] |= 1 << al

    def ac_first_unit(blk: list, ac_tbl) -> None:
        if state["eobrun"] > 0:
            state["eobrun"] -= 1
            return
        br = state["br"]
        k = ss
        while k <= se:
            rs = br.read_symbol(ac_tbl)
            r, s = rs >> 4, rs & 15
            if s == 0:
                if r == 15:
                    k += 16
                    continue
                state["eobrun"] = (1 << r) - 1
                if r:
                    state["eobrun"] += br.read_bits(r)
                break
            k += r
            if k > se:
                raise ValueError("JPEG AC index overflow")
            blk[k] = _jpeg_extend(br.read_bits(s), s) << al
            k += 1

    def ac_refine_unit(blk: list, ac_tbl) -> None:
        br = state["br"]
        p1, m1 = 1 << al, -(1 << al)
        k = ss
        if state["eobrun"] == 0:
            while k <= se:
                rs = br.read_symbol(ac_tbl)
                r, s = rs >> 4, rs & 15
                if s == 0:
                    if r != 15:
                        state["eobrun"] = 1 << r
                        if r:
                            state["eobrun"] += br.read_bits(r)
                        break
                    # ZRL: skip 16 zero-history positions below
                else:
                    if s != 1:
                        raise ValueError("invalid JPEG refinement symbol")
                    s = p1 if br.read_bit() else m1
                # advance over r zero-history coefficients, correcting
                # every nonzero-history coefficient passed en route
                while k <= se:
                    c = blk[k]
                    if c != 0:
                        if br.read_bit() and (c & p1) == 0:
                            blk[k] = c + (p1 if c >= 0 else m1)
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if s and k <= se:
                    blk[k] = s
                k += 1
        if state["eobrun"] > 0:
            while k <= se:
                c = blk[k]
                if c != 0 and br.read_bit() and (c & p1) == 0:
                    blk[k] = c + (p1 if c >= 0 else m1)
                k += 1
            state["eobrun"] -= 1

    def scan_tables(cid: int, td: int, ta: int):
        dc_tbl = ac_tbl = None
        if ss == 0 and ah == 0:
            if ("dc", td) not in huff:
                raise ValueError("JPEG scan references missing Huffman table")
            dc_tbl = huff[("dc", td)]
        if ss > 0:
            if ("ac", ta) not in huff:
                raise ValueError("JPEG scan references missing Huffman table")
            ac_tbl = huff[("ac", ta)]
        return dc_tbl, ac_tbl

    unit_index = 0
    if len(scan) > 1:  # interleaved (MCU order) — DC scans in practice
        tbls = {cid: scan_tables(cid, td, ta) for cid, td, ta in scan}
        for my in range(mcus_y):
            for mx in range(mcus_x):
                if restart and unit_index and unit_index % restart == 0:
                    next_restart_segment()
                for cid, _td, _ta in scan:
                    _c, hs, vs, _q = by_cid[cid]
                    dc_tbl, ac_tbl = tbls[cid]
                    for by in range(vs):
                        for bx in range(hs):
                            blk = coefs[cid][my * vs + by][mx * hs + bx]
                            if ss == 0:
                                dc_unit(cid, blk, dc_tbl)
                            elif ah == 0:
                                ac_first_unit(blk, ac_tbl)
                            else:
                                ac_refine_unit(blk, ac_tbl)
                unit_index += 1
    else:  # non-interleaved: the component's own block raster
        cid, td, ta = scan[0]
        dc_tbl, ac_tbl = scan_tables(cid, td, ta)
        bw_, bh_ = comp_blocks[cid]
        for by in range(bh_):
            for bx in range(bw_):
                if restart and unit_index and unit_index % restart == 0:
                    next_restart_segment()
                blk = coefs[cid][by][bx]
                if ss == 0:
                    dc_unit(cid, blk, dc_tbl)
                elif ah == 0:
                    ac_first_unit(blk, ac_tbl)
                else:
                    ac_refine_unit(blk, ac_tbl)
                unit_index += 1


class _JpegBitWriter:
    def __init__(self):
        self.out, self.acc, self.nbits = bytearray(), 0, 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:  # byte stuffing
                self.out.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def align(self) -> None:
        """Pad to a byte boundary with 1-bits (T.81 F.1.2.3) — before
        a restart marker or the final EOI."""
        if self.nbits:
            self.write(0x7F, 8 - self.nbits)

    def marker(self, m: int) -> None:
        """Emit a raw marker (aligned, NOT byte-stuffed)."""
        self.align()
        self.out += bytes([0xFF, m])

    def flush(self) -> bytes:
        self.align()
        return bytes(self.out)


def _jpeg_quality_tables(quality: int) -> list[list[int]]:
    """Annex K tables under IJG quality scaling (zigzag order)."""
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return [
        [min(255, max(1, (v * scale + 50) // 100)) for v in base]
        for base in (_JPEG_QT_LUMA, _JPEG_QT_CHROMA)
    ]


def _jpeg_huff_enc_tables() -> dict:
    """symbol -> (code, length) encoder view of the Annex K tables."""
    enc_tbl = {}
    for key, (bits, vals) in _JPEG_HUFF.items():
        dec = _huff_decode_table(bits, vals)
        enc_tbl[key] = {sym: (code, length) for (length, code), sym in dec.items()}
    return enc_tbl


def _jpeg_rgb_to_planes(width: int, height: int, pixels: "list[int]", subsample: bool):
    """RGB -> level-shifted YCbCr planes; luma edge-padded to the MCU
    grid, chroma box-downsampled by 2 when subsampling.  Returns
    (yp, cb, cr, pw, ph, lx, ly) — shared by the baseline and
    progressive encoders so both quantize IDENTICAL coefficients."""
    ly, lx = (2, 2) if subsample else (1, 1)
    pw, ph = -(-width // (8 * lx)) * 8 * lx, -(-height // (8 * ly)) * 8 * ly
    yp = [[0.0] * pw for _ in range(ph)]
    cb = [[0.0] * pw for _ in range(ph)]
    cr = [[0.0] * pw for _ in range(ph)]
    for y in range(ph):
        sy = min(y, height - 1)
        for x in range(pw):
            sx = min(x, width - 1)
            i = 3 * (sy * width + sx)
            r, g, b = pixels[i], pixels[i + 1], pixels[i + 2]
            yp[y][x] = 0.299 * r + 0.587 * g + 0.114 * b - 128.0
            cb[y][x] = -0.168736 * r - 0.331264 * g + 0.5 * b
            cr[y][x] = 0.5 * r - 0.418688 * g - 0.081312 * b
    if subsample:
        cb = [
            [(cb[2 * y][2 * x] + cb[2 * y][2 * x + 1] + cb[2 * y + 1][2 * x] + cb[2 * y + 1][2 * x + 1]) / 4
             for x in range(pw // 2)]
            for y in range(ph // 2)
        ]
        cr = [
            [(cr[2 * y][2 * x] + cr[2 * y][2 * x + 1] + cr[2 * y + 1][2 * x] + cr[2 * y + 1][2 * x + 1]) / 4
             for x in range(pw // 2)]
            for y in range(ph // 2)
        ]
    return yp, cb, cr, pw, ph, lx, ly


def _jpeg_quant_zigzag(plane, by: int, bx: int, qtab, basis) -> list[int]:
    """Forward DCT + quantization of one 8x8 block, zigzag order."""
    block = [[plane[8 * by + y][8 * bx + x] for x in range(8)] for y in range(8)]
    # F = A s A^T
    tmp = [
        [sum(basis[u][y] * block[y][x] for y in range(8)) for x in range(8)]
        for u in range(8)
    ]
    fre = [
        [sum(tmp[u][x] * basis[v][x] for x in range(8)) for v in range(8)]
        for u in range(8)
    ]
    return [
        int(round(fre[_JPEG_ZIGZAG[k] // 8][_JPEG_ZIGZAG[k] % 8] / qtab[k]))
        for k in range(64)
    ]


def _jpeg_magnitude(v: int) -> tuple[int, int]:
    s = abs(v).bit_length()
    return (s, v if v >= 0 else v + (1 << s) - 1)


def encode_jpeg(
    width: int,
    height: int,
    pixels: "list[int]",
    quality: int = 90,
    subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """Minimal BASELINE JPEG encoder (Annex K tables, IJG quality
    scaling; 4:4:4 by default, 4:2:0 with ``subsample=True``; optional
    DRI/RST restart markers) — the fixture encoder the decoder's
    property tests drive, sibling of ``encode_png``/``encode_y4m``.
    Lossy by nature: tests assert tolerance, not identity."""
    if len(pixels) != 3 * width * height:
        raise ValueError("pixels must be flat RGB of length 3*w*h")
    if not 1 <= quality <= 100:
        raise ValueError("quality in 1..100")
    qts = _jpeg_quality_tables(quality)
    basis = _jpeg_dct_basis()
    enc_tbl = _jpeg_huff_enc_tables()
    yp, cb, cr, pw, ph, lx, ly = _jpeg_rgb_to_planes(width, height, pixels, subsample)
    magnitude = _jpeg_magnitude

    bw = _JpegBitWriter()
    pred = [0, 0, 0]

    def emit_block(ci: int, plane: "list[list[float]]", by: int, bx: int) -> None:
        qi = 0 if ci == 0 else 1
        zz = _jpeg_quant_zigzag(plane, by, bx, qts[qi], basis)
        dc_tab, ac_tab = enc_tbl[("dc", qi)], enc_tbl[("ac", qi)]
        diff = zz[0] - pred[ci]
        pred[ci] = zz[0]
        s, mbits = magnitude(diff)
        code, length = dc_tab[s]
        bw.write(code, length)
        if s:
            bw.write(mbits, s)
        run = 0
        for k in range(1, 64):
            if zz[k] == 0:
                run += 1
                continue
            while run > 15:
                code, length = ac_tab[0xF0]  # ZRL
                bw.write(code, length)
                run -= 16
            s, mbits = magnitude(zz[k])
            code, length = ac_tab[(run << 4) | s]
            bw.write(code, length)
            bw.write(mbits, s)
            run = 0
        if run:
            code, length = ac_tab[0x00]  # EOB
            bw.write(code, length)

    mcus_y, mcus_x = ph // (8 * ly), pw // (8 * lx)
    mcu_index, rst = 0, 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_index and mcu_index % restart_interval == 0:
                bw.marker(0xD0 + rst)
                rst = (rst + 1) % 8
                pred[0] = pred[1] = pred[2] = 0
            for by in range(ly):
                for bx in range(lx):
                    emit_block(0, yp, my * ly + by, mx * lx + bx)
            emit_block(1, cb, my, mx)
            emit_block(2, cr, my, mx)
            mcu_index += 1

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload

    out = bytearray(b"\xff\xd8")
    for tq, q in enumerate(qts):
        out += seg(0xDB, bytes([tq]) + bytes(q[k] for k in range(64)))
    sof = bytes([8]) + height.to_bytes(2, "big") + width.to_bytes(2, "big") + bytes([3])
    for cid in (1, 2, 3):
        samp = ((lx << 4) | ly) if cid == 1 else 0x11
        sof += bytes([cid, samp, 0 if cid == 1 else 1])
    out += seg(0xC0, sof)
    for (kind, tid), (bits, vals) in _JPEG_HUFF.items():
        tc = 0 if kind == "dc" else 1
        out += seg(0xC4, bytes([(tc << 4) | tid] + bits + vals))
    if restart_interval:
        out += seg(0xDD, restart_interval.to_bytes(2, "big"))
    sos = bytes([3])
    for cid in (1, 2, 3):
        t = 0 if cid == 1 else 1
        sos += bytes([cid, (t << 4) | t])
    sos += bytes([0, 63, 0])
    out += seg(0xDA, sos)
    out += bw.flush()
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_progressive(
    width: int,
    height: int,
    pixels: "list[int]",
    quality: int = 90,
    subsample: bool = False,
    restart_interval: int = 0,
    al: int = 1,
) -> bytes:
    """Minimal PROGRESSIVE (SOF2) JPEG encoder — the fixture encoder
    the progressive decoder's property tests drive.  Quantizes the
    SAME coefficients as ``encode_jpeg`` (shared plane/DCT/quant
    helpers), then emits them across the four Annex G scan kinds:

      1. interleaved DC first scan at Al=``al`` (optionally under a
         DRI restart interval), then DC refinement scans down to Al=0;
      2. per component, AC first scans at Al=``al`` over two spectral
         bands (1..5 and 6..63 — the split exercises EOB runs), then
         the matching AC refinement scans down to Al=0 (DRI reset to 0
         first: restart intervals redefine per scan).

    Because the emitted coefficients are identical to the baseline
    encoder's, decoding both streams must produce IDENTICAL RGB — the
    property pinning the progressive scan coder against the
    independent baseline path."""
    if len(pixels) != 3 * width * height:
        raise ValueError("pixels must be flat RGB of length 3*w*h")
    if not 1 <= quality <= 100:
        raise ValueError("quality in 1..100")
    if not 1 <= al <= 13:
        raise ValueError("al in 1..13")
    qts = _jpeg_quality_tables(quality)
    basis = _jpeg_dct_basis()
    enc_tbl = _jpeg_huff_enc_tables()
    yp, cb, cr, pw, ph, lx, ly = _jpeg_rgb_to_planes(width, height, pixels, subsample)
    mcus_y, mcus_x = ph // (8 * ly), pw // (8 * lx)

    # quantize every block once, up front (progressive = many passes
    # over one coefficient set)
    grids = []  # per comp: [by][bx] -> zz[64]
    scan_dims = []  # per comp: NON-INTERLEAVED block grid (T.81 A.2.2)
    for ci, plane in enumerate((yp, cb, cr)):
        qi = 0 if ci == 0 else 1
        bh, bwd = len(plane) // 8, len(plane[0]) // 8
        grids.append(
            [
                [_jpeg_quant_zigzag(plane, by, bx, qts[qi], basis) for bx in range(bwd)]
                for by in range(bh)
            ]
        )
        # a non-interleaved scan covers ceil(cw/8) x ceil(ch/8) data
        # units of the COMPONENT raster, NOT the MCU-padded grid (the
        # padding blocks beyond it carry no AC scan data)
        cw = width if ci == 0 else -(-width // lx)
        ch = height if ci == 0 else -(-height // ly)
        scan_dims.append((-(-cw // 8), -(-ch // 8)))

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload

    def sos_header(comps: "list[int]", ss: int, se: int, ah_: int, al_: int) -> bytes:
        body = bytes([len(comps)])
        for ci in comps:
            t = 0 if ci == 0 else 1
            body += bytes([ci + 1, (t << 4) | t])
        return seg(0xDA, body + bytes([ss, se, (ah_ << 4) | al_]))

    out = bytearray(b"\xff\xd8")
    for tq, q in enumerate(qts):
        out += seg(0xDB, bytes([tq]) + bytes(q[k] for k in range(64)))
    sof = bytes([8]) + height.to_bytes(2, "big") + width.to_bytes(2, "big") + bytes([3])
    for cid in (1, 2, 3):
        samp = ((lx << 4) | ly) if cid == 1 else 0x11
        sof += bytes([cid, samp, 0 if cid == 1 else 1])
    out += seg(0xC2, sof)
    for (kind, tid), (bits, vals) in _JPEG_HUFF.items():
        tc = 0 if kind == "dc" else 1
        out += seg(0xC4, bytes([(tc << 4) | tid] + bits + vals))

    # ---- scan 1: interleaved DC first (Al=al), DRI-governed ----
    if restart_interval:
        out += seg(0xDD, restart_interval.to_bytes(2, "big"))
    out += sos_header([0, 1, 2], 0, 0, 0, al)
    bw = _JpegBitWriter()
    pred = [0, 0, 0]
    mcu_index, rst = 0, 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_index and mcu_index % restart_interval == 0:
                bw.marker(0xD0 + rst)
                rst = (rst + 1) % 8
                pred = [0, 0, 0]
            for ci, (gy, gx) in ((0, (ly, lx)), (1, (1, 1)), (2, (1, 1))):
                dc_tab = enc_tbl[("dc", 0 if ci == 0 else 1)]
                for by in range(gy):
                    for bx in range(gx):
                        v = grids[ci][my * gy + by][mx * gx + bx][0] >> al
                        diff = v - pred[ci]
                        pred[ci] = v
                        s, mbits = _jpeg_magnitude(diff)
                        code, length = dc_tab[s]
                        bw.write(code, length)
                        if s:
                            bw.write(mbits, s)
            mcu_index += 1
    out += bw.flush()

    # ---- DC refinement scans (Ah=a+1, Al=a), still interleaved ----
    for a in range(al - 1, -1, -1):
        out += sos_header([0, 1, 2], 0, 0, a + 1, a)
        bw = _JpegBitWriter()
        mcu_index, rst = 0, 0
        for my in range(mcus_y):
            for mx in range(mcus_x):
                if restart_interval and mcu_index and mcu_index % restart_interval == 0:
                    bw.marker(0xD0 + rst)
                    rst = (rst + 1) % 8
                for ci, (gy, gx) in ((0, (ly, lx)), (1, (1, 1)), (2, (1, 1))):
                    for by in range(gy):
                        for bx in range(gx):
                            bw.write((grids[ci][my * gy + by][mx * gx + bx][0] >> a) & 1, 1)
                mcu_index += 1
        out += bw.flush()

    # restart intervals are per-scan state; the AC scans below do not
    # emit RSTn, so redefine DRI=0 for real-decoder parity
    if restart_interval:
        out += seg(0xDD, (0).to_bytes(2, "big"))

    # Progressive AC scans need EOBn symbols (r<<4, r>=1), which the
    # baseline Annex K AC tables do not carry — redefine both AC slots
    # with a flat 9-bit canonical table over every symbol the scan
    # coder can emit (EOB0..EOB14, ZRL, (r,s) for s=1..10).  DHT
    # between scans is spec-legal and exercises the decoder's
    # table-redefinition path; fixture compression is irrelevant.
    ac_syms = (
        [r << 4 for r in range(15)]
        + [0xF0]
        + [(r << 4) | s for r in range(16) for s in range(1, 11)]
    )
    ac_bits = [0] * 16
    ac_bits[8] = len(ac_syms)  # all codes 9 bits long
    for tid in (0, 1):
        out += seg(0xC4, bytes([(1 << 4) | tid] + ac_bits + ac_syms))
    prog_ac = {sym: (i, 9) for i, sym in enumerate(ac_syms)}

    bands = [(1, 5), (6, 63)]

    # ---- AC first scans (Al=al), non-interleaved, EOB-run coded ----
    for ci in range(3):
        ac_tab = prog_ac
        for ss, se in bands:
            out += sos_header([ci], ss, se, 0, al)
            bw = _JpegBitWriter()
            eobrun = 0

            def emit_eobrun() -> None:
                nonlocal eobrun
                if eobrun > 0:
                    nbits = eobrun.bit_length() - 1
                    code, length = ac_tab[nbits << 4]
                    bw.write(code, length)
                    if nbits:
                        bw.write(eobrun & ((1 << nbits) - 1), nbits)
                    eobrun = 0

            sw, sh = scan_dims[ci]
            for grow in grids[ci][:sh]:
                for zz in grow[:sw]:
                    r, wrote = 0, False
                    for k in range(ss, se + 1):
                        v = zz[k]
                        tv = -((-v) >> al) if v < 0 else v >> al  # trunc toward 0
                        if tv == 0:
                            r += 1
                            continue
                        emit_eobrun()
                        while r > 15:
                            code, length = ac_tab[0xF0]  # ZRL
                            bw.write(code, length)
                            r -= 16
                        s, mbits = _jpeg_magnitude(tv)
                        code, length = ac_tab[(r << 4) | s]
                        bw.write(code, length)
                        bw.write(mbits, s)
                        r, wrote = 0, True
                    if r > 0 or not wrote:
                        eobrun += 1
                        if eobrun == 0x7FFF:
                            emit_eobrun()
            emit_eobrun()
            out += bw.flush()

    # ---- AC refinement scans (Ah=a+1, Al=a), IJG correction-bit form ----
    for a in range(al - 1, -1, -1):
        for ci in range(3):
            ac_tab = prog_ac
            for ss, se in bands:
                out += sos_header([ci], ss, se, a + 1, a)
                bw = _JpegBitWriter()
                eobrun, be_bits = 0, []

                def emit_eobrun() -> None:
                    nonlocal eobrun, be_bits
                    if eobrun > 0:
                        nbits = eobrun.bit_length() - 1
                        code, length = ac_tab[nbits << 4]
                        bw.write(code, length)
                        if nbits:
                            bw.write(eobrun & ((1 << nbits) - 1), nbits)
                        for b in be_bits:
                            bw.write(b, 1)
                        eobrun, be_bits = 0, []

                sw, sh = scan_dims[ci]
                for grow in grids[ci][:sh]:
                    for zz in grow[:sw]:
                        absv = [abs(zz[k]) >> a for k in range(ss, se + 1)]
                        eob = 0  # band-relative index AFTER last newly-nonzero
                        for i, t in enumerate(absv):
                            if t == 1:
                                eob = i + 1
                        r, br_bits = 0, []
                        for i, t in enumerate(absv):
                            if t == 0:
                                r += 1
                                continue
                            while r > 15 and i < eob:
                                emit_eobrun()
                                code, length = ac_tab[0xF0]  # ZRL
                                bw.write(code, length)
                                r -= 16
                                for b in br_bits:
                                    bw.write(b, 1)
                                br_bits = []
                            if t > 1:  # nonzero history: correction bit
                                br_bits.append(t & 1)
                                continue
                            emit_eobrun()  # newly nonzero (magnitude 1)
                            code, length = ac_tab[(r << 4) | 1]
                            bw.write(code, length)
                            bw.write(1 if zz[ss + i] >= 0 else 0, 1)
                            for b in br_bits:
                                bw.write(b, 1)
                            r, br_bits = 0, []
                        if r > 0 or br_bits:
                            eobrun += 1
                            be_bits += br_bits
                            if eobrun == 0x7FFF:
                                emit_eobrun()
                emit_eobrun()
                out += bw.flush()

    out += b"\xff\xd9"
    return bytes(out)


def _jpeg_feature(payload: bytes) -> "list[float] | None":
    """Real feature from a baseline or progressive JPEG payload (same
    luminance histogram as P3/PNG); None quarantines undecodable
    streams."""
    try:
        w, h, maxval, vals = decode_jpeg(payload)
    except (ValueError, UnicodeDecodeError, IndexError):
        return None
    return _luma_histogram(w, h, maxval, vals)


def _image_feature(payload: bytes) -> "list[float] | None":
    """Magic-byte dispatch between the three honest image decoders:
    PNG (signature), baseline JPEG (SOI marker), or ASCII PPM;
    anything else quarantines as NULL."""
    head = (
        payload.encode("latin-1")[:8]
        if isinstance(payload, str)
        else bytes(payload[:8])
    )
    if head == _PNG_SIG:
        return _png_feature(payload)
    if head[:2] == b"\xff\xd8":
        return _jpeg_feature(payload)
    return _ppm_feature(payload)


def encode_y4m(
    width: int,
    height: int,
    frames: "list[bytes]",
    fps: tuple[int, int] = (25, 1),
    colorspace: str = "C420jpeg",
) -> bytes:
    """Emit an uncompressed YUV4MPEG2 stream from per-frame luma planes
    (chroma filled neutral-gray) — the fixture writer that gives the
    video branch the same round-trip coverage ``wave`` gives audio and
    P3 gives images."""
    if colorspace not in ("C420", "C420jpeg", "C420mpeg2", "C420paldv", "Cmono"):
        raise ValueError(f"unsupported fixture colorspace: {colorspace}")
    chroma = b"" if colorspace == "Cmono" else b"\x80" * ((width // 2) * (height // 2) * 2)
    out = [f"YUV4MPEG2 W{width} H{height} F{fps[0]}:{fps[1]} Ip A1:1 {colorspace}\n".encode()]
    for y in frames:
        if len(y) != width * height:
            raise ValueError(f"luma plane is {len(y)} bytes, expected {width * height}")
        out.append(b"FRAME\n" + bytes(y) + chroma)
    return b"".join(out)


def decode_y4m(data: "bytes | str") -> tuple[int, int, float, "list[bytes]"]:
    """Decode an uncompressed YUV4MPEG2 (.y4m) payload with stdlib byte
    slicing — no codec library, the same honesty standard as the P3 and
    PCM-WAV decoders: returns (width, height, fps, luma planes).

    Handles the planar colorspaces the format defines (420 variants,
    422, 444, mono); chroma planes are skipped — features and frame
    sampling work on luma.  Compressed containers (mp4/webm/...) do not
    start with the YUV4MPEG2 magic and raise ValueError."""
    if isinstance(data, str):
        data = data.encode("latin-1")
    if not data.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 stream")
    nl = data.find(b"\n")
    if nl < 0:
        raise ValueError("missing stream-header terminator")
    w = h = 0
    fn, fd = 25, 1
    cs = "420jpeg"
    for tok in data[len(b"YUV4MPEG2"):nl].split():
        tag, val = chr(tok[0]), tok[1:].decode("ascii", "replace")
        if tag == "W":
            w = int(val)
        elif tag == "H":
            h = int(val)
        elif tag == "F":
            num, den = val.split(":")
            fn, fd = int(num), int(den)
        elif tag == "C":
            cs = val
    if w <= 0 or h <= 0 or fn <= 0 or fd <= 0:
        raise ValueError(f"invalid Y4M geometry: W{w} H{h} F{fn}:{fd}")
    y_size = w * h
    if cs.startswith("420"):
        chroma_size = 2 * ((w // 2) * (h // 2))
    elif cs.startswith("422"):
        chroma_size = 2 * ((w // 2) * h)
    elif cs.startswith("444"):
        chroma_size = 2 * y_size
    elif cs.startswith("mono"):
        chroma_size = 0
    else:
        raise ValueError(f"unsupported Y4M colorspace: C{cs}")
    frames: list[bytes] = []
    pos = nl + 1
    while pos < len(data):
        if data[pos : pos + 5] != b"FRAME":
            raise ValueError(f"expected FRAME marker at byte {pos}")
        fnl = data.find(b"\n", pos)
        if fnl < 0:
            raise ValueError("missing frame-header terminator")
        pos = fnl + 1
        if pos + y_size > len(data):
            raise ValueError("truncated frame payload")
        frames.append(data[pos : pos + y_size])
        pos += y_size + chroma_size
    return w, h, fn / fd, frames


def _y4m_feature(payload: "bytes | str") -> "list[float] | None":
    """Real video features from a Y4M payload: [n_frames, fps,
    mean luma, luma std, mean |frame-to-frame luma delta| (motion),
    megapixels, duration_s, 0].  None (quarantine) when undecodable —
    compressed codecs land here until a real decoder is swapped in."""
    import math

    try:
        w, h, fps, frames = decode_y4m(payload)
    except (ValueError, IndexError):
        return None
    if not frames:
        return [0.0] * FEATURE_DIM
    n_px = len(frames) * w * h
    total = sum(sum(f) for f in frames)
    mean = total / n_px
    var = sum(sum((b - mean) ** 2 for b in f) for f in frames) / n_px
    if len(frames) > 1:
        moved = sum(
            abs(a - b)
            for prev, cur in zip(frames, frames[1:])
            for a, b in zip(prev, cur)
        )
        motion = moved / ((len(frames) - 1) * w * h)
    else:
        motion = 0.0
    return [
        float(len(frames)),
        fps,
        mean / 255.0,
        math.sqrt(var) / 255.0,
        motion / 255.0,
        w * h / 1e6,
        len(frames) / fps,
        0.0,
    ]


def decode_wav_pcm(data: bytes) -> tuple[int, int, list[float]]:
    """Decode a PCM WAV payload with the stdlib ``wave`` module (no
    codec library): returns (sample_rate, n_channels, mono-mixed
    samples normalized to [-1, 1]).  8- and 16-bit PCM — the formats
    ``wave`` itself can emit, so the non-stub audio branch has
    round-trip test coverage the same way P3 gives it to images."""
    import io
    import struct
    import wave

    with wave.open(io.BytesIO(data)) as w:
        sr, nch, sw = w.getframerate(), w.getnchannels(), w.getsampwidth()
        raw = w.readframes(w.getnframes())
    if sr <= 0 or nch <= 0:
        raise ValueError("invalid WAV header")
    if sw == 2:
        vals = struct.unpack(f"<{len(raw) // 2}h", raw)
        samples = [v / 32768.0 for v in vals]
    elif sw == 1:
        samples = [(b - 128) / 128.0 for b in raw]
    else:
        raise ValueError(f"unsupported PCM sample width: {sw}")
    if nch > 1:
        samples = [
            sum(samples[i : i + nch]) / nch for i in range(0, len(samples) - nch + 1, nch)
        ]
    return sr, nch, samples


def _wav_feature(payload: bytes) -> "list[float] | None":
    """Real audio features from a PCM WAV payload: [duration_s, rms,
    zero-crossing rate, peak, mean, sample_rate/48k, n_channels, 0].
    None (quarantine) when undecodable."""
    import math
    import struct
    import wave

    try:
        sr, nch, s = decode_wav_pcm(payload)
    except (wave.Error, ValueError, EOFError, struct.error):
        return None
    n = len(s)
    if n == 0:
        return [0.0] * FEATURE_DIM
    rms = math.sqrt(sum(x * x for x in s) / n)
    zcr = sum(1 for i in range(1, n) if (s[i - 1] < 0) != (s[i] < 0)) / n
    peak = max(abs(x) for x in s)
    return [n / sr, rms, zcr, peak, sum(s) / n, sr / 48000.0, float(nch), 0.0]


def _typed_feature(payload: bytes, media_type: "str | None") -> "list[float] | None":
    """Default non-stub decoder: dispatch on the media_type column —
    PNG, JPEG (baseline + progressive), or P3/PPM for images
    (magic-byte dispatch), PCM WAV for audio, YUV4MPEG2 for video;
    anything else (unknown type, compressed codec without an honest
    stdlib decoder) quarantines as NULL."""
    if media_type == "image":
        return _image_feature(payload)
    if media_type == "audio":
        return _wav_feature(payload)
    if media_type == "video":
        return _y4m_feature(payload)
    return None


def _stub_feature(payload: bytes) -> list[float]:
    """Deterministic fake embedding: byte-histogram folded to FEATURE_DIM.
    Stands in for a real encoder; stable across runs/partitions."""
    acc = [0] * FEATURE_DIM
    for i, b in enumerate(payload):
        acc[i % FEATURE_DIM] = (acc[i % FEATURE_DIM] + b) % 997
    total = float(sum(acc)) or 1.0
    return [a / total for a in acc]


def extract_features(
    df: DataFrame,
    decode_stub: bool = True,
    decoder: "Callable[[bytes], list[float] | None] | None" = None,
) -> DataFrame:
    """Arrow-batched feature extraction over the media table.

    ``mapInPandas`` streams row batches through Python once — the only
    sanctioned Python crossing in the engine, used exactly where JVM
    expressions cannot express the work (codec calls).

    ``decode_stub=False`` runs ``decoder``; the default dispatches on
    the media_type column — pure-Python P3/PPM for images, stdlib PCM
    WAV for audio — and undecodable payloads (or types with no honest
    pure-Python codec, i.e. video) get NULL features, the quarantine
    signal.  A custom ``decoder`` receives the payload bytes only and
    applies to every row.

    ONE aggregate pre-scan byte-balances the Python stage to 64 MiB
    partitions (payloads, not row counts, dominate partition size); the
    decoder sees 64-row chunks.
    """
    if decoder is not None:
        _custom = decoder

        def typed(p: bytes, mt: "str | None") -> "list[float] | None":
            return _custom(p)

    else:
        typed = _typed_feature

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for start in range(0, len(pdf), 64):
                chunk = pdf.iloc[start : start + 64]
                # latin-1, not utf-8: string payloads stand in for raw
                # bytes (MEDIA_SCHEMA note), and utf-8 double-encodes
                # chars 128-255, corrupting any binary-carrying payload
                payloads = [
                    p.encode("latin-1", "replace")
                    if isinstance(p, str)
                    else (bytes(p) if p is not None else b"")
                    for p in chunk["payload"]
                ]
                if decode_stub:
                    feats = [_stub_feature(p) for p in payloads]
                else:
                    feats = [typed(p, mt) for p, mt in zip(payloads, chunk["media_type"])]
                yield pd.DataFrame(
                    {
                        "asset_id": chunk["asset_id"],
                        "media_type": chunk["media_type"],
                        "n_bytes": [len(p) for p in payloads],
                        "feature": feats,
                    }
                )

    sized = df
    stats = df.select(F.sum(F.length("payload")).alias("total")).first()
    total_bytes = stats["total"] or 0
    n_parts = max(1, int(total_bytes / (64 * 1024 * 1024)))
    # shuffle only when the arriving layout is actually wrong for the
    # byte budget (too few splits, or >2x over-split); a correctly-sized
    # input must not pay an exchange (round-4 advisor finding: the
    # default path had gone unconditional)
    cur = df.rdd.getNumPartitions()
    if cur < n_parts or cur > 2 * n_parts:
        sized = df.repartition(n_parts)
    return sized.mapInPandas(run, schema=FEATURE_SCHEMA)


def media_summary(features: DataFrame) -> DataFrame:
    """Post-extraction rollup, back in pure JVM expressions."""
    return features.groupBy("media_type").agg(
        F.count("*").alias("n_assets"),
        F.sum("n_bytes").alias("total_bytes"),
        F.avg(F.element_at("feature", 1)).alias("mean_f0"),
    )
