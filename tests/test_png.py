"""Pure-stdlib PNG codec (functions/png.py): round-trip across all
channel counts and filter types, palette expansion, baseline-subset
rejections, and the multimodal decode dispatch."""

from __future__ import annotations

import struct
import zlib

import pytest
from hypothesis import given, settings, strategies as st

from eventstreamd_spark.functions.png import (
    MAX_PIXELS,
    SIGNATURE,
    _chunk,
    decode_png,
    encode_png,
)
from tests.mutations import decodes_or_rejects, mutations


def _pixels(w: int, h: int, channels: int, seed: int = 0) -> bytes:
    return bytes(
        (seed * 31 + i * 17 + (i * i) % 251) % 256
        for i in range(w * h * channels)
    )


@pytest.mark.parametrize("channels", [1, 2, 3, 4])
def test_round_trip_all_channel_counts(channels) -> None:
    # height 11 > 5 ensures every filter type (encoder cycles 0-4)
    w, h = 7, 11
    px = _pixels(w, h, channels, seed=channels)
    blob = encode_png(w, h, channels, px)
    assert blob.startswith(SIGNATURE)
    rw, rh, rc, rpx = decode_png(blob)
    assert (rw, rh, rc) == (w, h, channels)
    assert rpx == px


def test_round_trip_extreme_values_and_1x1() -> None:
    assert decode_png(encode_png(1, 1, 3, b"\x00\xff\x80"))[3] == b"\x00\xff\x80"
    w, h = 16, 16
    for fill in (b"\x00", b"\xff"):
        px = fill * (w * h * 3)
        assert decode_png(encode_png(w, h, 3, px))[3] == px


def test_palette_png_expands_to_rgb() -> None:
    # hand-built color-type-3 PNG: 2x2, palette of 3 colors
    w, h = 2, 2
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])
    idx_rows = b"\x00" + bytes([0, 1]) + b"\x00" + bytes([2, 0])
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
    blob = (
        SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"PLTE", plte)
        + _chunk(b"IDAT", zlib.compress(idx_rows))
        + _chunk(b"IEND", b"")
    )
    rw, rh, rc, px = decode_png(blob)
    assert (rw, rh, rc) == (2, 2, 3)
    assert px == bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 0, 0])


@pytest.mark.parametrize(
    "mutate, err",
    [
        (lambda b: b[:-30], "missing IHDR/IDAT|truncated"),
        (lambda b: b"JUNK" + b[4:], "not a PNG"),
    ],
)
def test_corrupt_pngs_raise(mutate, err) -> None:
    blob = encode_png(4, 4, 3, _pixels(4, 4, 3))
    with pytest.raises(ValueError, match=err):
        decode_png(mutate(blob))


def test_interlaced_and_16bit_rejected() -> None:
    for depth, interlace in ((16, 0), (8, 1)):
        ihdr = struct.pack(">IIBBBBB", 2, 2, depth, 2, 0, 0, interlace)
        blob = (
            SIGNATURE
            + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(b"\x00" * 20))
            + _chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError):
            decode_png(blob)


def test_decode_dispatch_real_vs_fallback() -> None:
    from eventstreamd_spark.operators.multimodal import _decode, _fake_decode

    w, h = 8, 8
    px = _pixels(w, h, 3, seed=5)
    feats = _decode(encode_png(w, h, 3, px))
    assert feats[:3] == [8.0, 8.0, 3.0]
    sums = [0, 0, 0]
    for i, b in enumerate(px):
        sums[i % 3] += b
    assert feats[3:6] == [s / 64 for s in sums]
    assert feats[6] == 0.0  # no 4th channel
    assert feats[7] == sum(sums) / 192
    # non-PNG payloads keep the documented histogram fallback
    assert _decode(b"plain text") == _fake_decode(b"plain text")
    # corrupt PNG (signature but garbage body) falls back, not raises
    assert _decode(SIGNATURE + b"garbage") == _fake_decode(SIGNATURE + b"garbage")


# --- fail-closed fuzzing: a mutated stream decodes or raises ValueError ----

_FUZZ_BLOBS = tuple(encode_png(9, 7, c, _pixels(9, 7, c, seed=c)) for c in (1, 2, 3, 4))


def _check(out) -> None:
    w, h, ch, px = out
    assert len(px) == w * h * ch


@given(mutations(_FUZZ_BLOBS))
@settings(max_examples=300, deadline=None)
def test_mutated_streams_fail_closed(blob) -> None:
    decodes_or_rejects(decode_png, blob, _check)


@given(w=st.integers(0, 2**32 - 1), h=st.integers(0, 2**32 - 1))
@settings(max_examples=100, deadline=None)
def test_huge_declared_dimensions_fail_closed(w, h) -> None:
    """IHDR may claim any size; past MAX_PIXELS nothing is inflated, and
    below it inflation stops one byte past the declared size."""
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    idat = zlib.compress(bytes(64 * 1024))  # a small bomb: 64 KiB of zeros
    blob = (
        SIGNATURE + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat)
        + _chunk(b"IEND", b"")
    )
    decodes_or_rejects(decode_png, blob, _check)
    if w * h > MAX_PIXELS:
        with pytest.raises(ValueError, match="dimensions"):
            decode_png(blob)
