"""Minimal pure-stdlib PNG codec (public format: W3C PNG spec /
RFC 2083) — the real decode kernel behind multimodal extract_features.

The container ships no image libraries, but PNG's baseline is just
zlib + per-row byte filters, both implementable from the public spec
with the stdlib alone:

- decoder: chunk walk -> IHDR/PLTE/IDAT -> zlib inflate -> scanline
  unfilter (None/Sub/Up/Average/Paeth) -> palette expansion.  Supports
  8-bit depth, color types 0 (gray), 2 (RGB), 3 (palette), 4 (gray+
  alpha), 6 (RGBA), non-interlaced.  Anything else raises ValueError —
  callers treat that as "undecodable" and fall back to the byte
  histogram.
- encoder: the test/fixture side — writes the same baseline subset,
  cycling through ALL five filter types row by row so the decoder's
  unfilter paths are exercised (and oracle-verified) on every image.

Per-pixel work is plain Python over bytearrays; the kernel runs inside
``mapInPandas`` Arrow batches, so at 100 TB it parallelizes across
executors like any other decode library would (and the one-function
swap to PIL/libpng when available keeps the plan identical).
"""

from __future__ import annotations

import struct
import zlib

SIGNATURE = b"\x89PNG\r\n\x1a\n"

# declared images larger than this are refused before anything is
# inflated or allocated (a few bytes of IHDR can claim 4G x 4G)
MAX_PIXELS = 1 << 24

_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def encode_png(width: int, height: int, channels: int, pixels: bytes) -> bytes:
    """Encode 8-bit samples (row-major, ``width*height*channels``
    bytes) as a PNG, cycling the row filter through types 0-4."""
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    if len(pixels) != width * height * channels:
        raise ValueError("pixel buffer size mismatch")
    bpp = channels
    stride = width * channels
    raw = bytearray()
    prev = bytes(stride)
    for r in range(height):
        row = pixels[r * stride : (r + 1) * stride]
        ft = r % 5
        raw.append(ft)
        if ft == 0:  # None
            raw.extend(row)
        elif ft == 1:  # Sub
            raw.extend(
                (row[i] - (row[i - bpp] if i >= bpp else 0)) & 0xFF
                for i in range(stride)
            )
        elif ft == 2:  # Up
            raw.extend((row[i] - prev[i]) & 0xFF for i in range(stride))
        elif ft == 3:  # Average
            raw.extend(
                (row[i] - (((row[i - bpp] if i >= bpp else 0) + prev[i]) >> 1))
                & 0xFF
                for i in range(stride)
            )
        else:  # Paeth
            raw.extend(
                (
                    row[i]
                    - _paeth(
                        row[i - bpp] if i >= bpp else 0,
                        prev[i],
                        prev[i - bpp] if i >= bpp else 0,
                    )
                )
                & 0xFF
                for i in range(stride)
            )
        prev = row
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )


def decode_png(blob: bytes) -> tuple[int, int, int, bytes]:
    """Decode a baseline PNG -> (width, height, channels, pixels) with
    8-bit samples row-major; palette images expand to RGB.  Raises
    ValueError on anything outside the supported baseline subset."""
    if not blob or not blob.startswith(SIGNATURE):
        raise ValueError("not a PNG")
    pos = len(SIGNATURE)
    width = height = None
    color_type = bit_depth = interlace = None
    palette = b""
    idat = bytearray()
    while pos + 8 <= len(blob):
        (ln,) = struct.unpack(">I", blob[pos : pos + 4])
        tag = blob[pos + 4 : pos + 8]
        body = blob[pos + 8 : pos + 8 + ln]
        if len(body) != ln:
            raise ValueError("truncated chunk")
        if tag == b"IHDR":
            if ln != 13:
                raise ValueError("bad IHDR length")
            width, height, bit_depth, color_type, comp, filt, interlace = (
                struct.unpack(">IIBBBBB", body)
            )
            if comp != 0 or filt != 0:
                raise ValueError("unsupported compression/filter method")
        elif tag == b"PLTE":
            palette = body
        elif tag == b"IDAT":
            idat.extend(body)
        elif tag == b"IEND":
            break
        pos += 12 + ln  # len + tag + body + crc
    if width is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    if bit_depth != 8:
        raise ValueError(f"unsupported bit depth {bit_depth}")
    if interlace != 0:
        raise ValueError("interlaced PNG unsupported")
    if color_type not in _CHANNELS:
        raise ValueError(f"unsupported color type {color_type}")
    if not 0 < width * height <= MAX_PIXELS:
        raise ValueError(f"unsupported dimensions {width}x{height}")
    channels = _CHANNELS[color_type]
    stride = width * channels
    expected = (stride + 1) * height
    inflater = zlib.decompressobj()
    try:
        # at most one byte past the expected size: enough to see a
        # mismatch, never a decompression bomb
        raw = inflater.decompress(bytes(idat), expected + 1)
    except zlib.error as exc:
        raise ValueError(f"corrupt IDAT stream: {exc}") from exc
    if len(raw) != expected or not inflater.eof:
        raise ValueError("decompressed size mismatch")
    import numpy as np

    out = bytearray(stride * height)
    prev = bytes(stride)
    bpp = channels
    for r in range(height):
        ft = raw[r * (stride + 1)]
        line = bytearray(raw[r * (stride + 1) + 1 : (r + 1) * (stride + 1)])
        if ft == 1:  # Sub — out[i] = raw[i] + out[i-bpp]: per-channel
            # prefix sum mod 256, one vectorized cumsum per channel
            # column instead of the old per-byte Python loop (round 13)
            arr = np.frombuffer(bytes(line), dtype=np.uint8).reshape(
                -1, bpp
            )
            line = bytearray(
                np.cumsum(arr, axis=0, dtype=np.uint64)
                .astype(np.uint8)
                .tobytes()
            )
        elif ft == 2:  # Up — fully parallel: one vectorized add mod 256
            line = bytearray(
                (
                    np.frombuffer(bytes(line), dtype=np.uint8)
                    + np.frombuffer(prev, dtype=np.uint8)
                ).tobytes()
            )
        elif ft == 3:  # Average
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                c = prev[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + _paeth(a, prev[i], c)) & 0xFF
        elif ft != 0:
            raise ValueError(f"unknown filter type {ft}")
        out[r * stride : (r + 1) * stride] = line
        prev = bytes(line)
    if color_type == 3:
        if not palette or len(palette) % 3:
            raise ValueError("palette image without a valid PLTE")
        if max(out) >= len(palette) // 3:
            raise ValueError("palette index out of range")
        rgb = bytearray(width * height * 3)
        for i, idx in enumerate(out):
            rgb[i * 3 : i * 3 + 3] = palette[idx * 3 : idx * 3 + 3]
        return width, height, 3, bytes(rgb)
    return width, height, channels, bytes(out)
