"""Pure-stdlib ISO-BMFF box walker + the multimodal decode dispatch."""

from __future__ import annotations

import struct

import pytest
from hypothesis import given, settings, strategies as st

from eventstreamd_spark.functions.mp4 import (
    _box,
    _full_box,
    decode_mp4,
    decode_mp4_samples,
    encode_minimal_mp4,
    encode_video_mp4,
)
from eventstreamd_spark.operators.multimodal import (
    _decode,
    _fake_decode,
    _mp4_decode,
    _synth_mp4,
)
from tests.mutations import decodes_or_rejects, mutations


def test_roundtrip_metadata() -> None:
    blob = encode_minimal_mp4(90000, 123456, 2)
    assert decode_mp4(blob) == (90000, 123456, 2)


def test_mvhd_version1_64bit_times() -> None:
    """Version-1 mvhd carries 64-bit creation/modification/duration —
    the walker must read the shifted offsets."""
    mvhd_v1 = (
        bytes([1, 0, 0, 0])  # version 1 + flags
        + struct.pack(">QQ", 0, 0)  # creation, modification (64-bit)
        + struct.pack(">I", 600)  # timescale
        + struct.pack(">Q", 6000)  # duration (64-bit)
    )
    blob = (
        _box(b"ftyp", b"isom" + struct.pack(">I", 0) + b"isom")
        + _box(b"moov", _box(b"mvhd", mvhd_v1))
    )
    assert decode_mp4(blob) == (600, 6000, 0)


def test_skips_unknown_sibling_boxes() -> None:
    base = encode_minimal_mp4(1000, 5000, 1)
    ftyp_len = 8 + 12  # header + "isom"/minor/"isom" payload
    blob = (
        base[:ftyp_len] + _box(b"free", b"junkjunk") + base[ftyp_len:]
    )
    assert decode_mp4(blob) == (1000, 5000, 1)


def test_malformed_size_raises() -> None:
    blob = bytearray(encode_minimal_mp4(1000, 5000, 1))
    moov_off = bytes(blob).index(b"moov") - 4
    blob[moov_off : moov_off + 4] = struct.pack(">I", 4)  # size < header
    with pytest.raises(ValueError):
        decode_mp4(bytes(blob))


def test_dispatch_falls_back_on_malformed() -> None:
    bad = b"\x00\x00\x00\x08ftyp" + b"\x00" * 4
    assert _decode(bad) == _fake_decode(bad)


def test_synth_mp4_closed_form() -> None:
    doc_id = 23
    f = _mp4_decode(_synth_mp4(doc_id))
    ts = 1000 + 100 * (doc_id % 7)
    dur = 10000 + (doc_id * 37) % 90000
    assert f == [float(ts), float(dur), float(1 + doc_id % 3), dur / ts]



@given(
    timescale=st.integers(min_value=1, max_value=2**32 - 1),
    duration=st.integers(min_value=0, max_value=2**32 - 1),
    n_tracks=st.integers(min_value=0, max_value=8),
)
@settings(max_examples=50, deadline=None)
def test_roundtrip_property(
    timescale: int, duration: int, n_tracks: int
) -> None:
    blob = encode_minimal_mp4(timescale, duration, n_tracks)
    assert decode_mp4(blob) == (timescale, duration, n_tracks)


def test_mixed_media_manifest_dispatch(spark) -> None:
    """One decode pass over a mixed PNG/WAV/MP4 corpus must dispatch
    per row on content and produce each format's closed-form
    metadata."""
    from pyspark.sql import Row
    from eventstreamd_spark.operators import multimodal as mm

    docs = spark.createDataFrame([Row(doc_id=i) for i in range(9)])
    out = {r["doc_id"]: r for r in mm.mixed_media_manifest(docs).collect()}
    assert len(out) == 9
    for d, r in out.items():
        if d % 3 == 0:
            assert r["media_type"] == "image/png"
            assert r["primary_dim"] == 8 + d % 9
            assert r["span"] == float(8 + (d * 7) % 9)
        elif d % 3 == 1:
            assert r["media_type"] == "audio/wav"
            n = 64 + d % 33
            assert r["primary_dim"] == n
            samples = [((d * 131 + i * 17) % 4096) - 2048 for i in range(n)]
            assert r["span"] == sum(samples) / n
        else:
            assert r["media_type"] == "video/mp4"
            ts = 1000 + 100 * (d % 7)
            assert r["primary_dim"] == ts
            assert r["span"] == (10000 + (d * 37) % 90000) / ts


# ---------------------------------------------------------------------------
# Sample tables (round-9 video tier)
# ---------------------------------------------------------------------------


def test_sample_tables_roundtrip() -> None:
    from eventstreamd_spark.functions.mp4 import (
        decode_mp4,
        decode_mp4_samples,
        encode_video_mp4,
    )

    frames = [bytes([i]) * (10 + 3 * i) for i in range(7)]
    blob = encode_video_mp4(320, 240, frames, fourcc=b"mjpa", frame_duration=40)
    w, h, fc, out = decode_mp4_samples(blob)
    assert (w, h, fc) == (320, 240, b"mjpa")
    assert out == frames  # byte-exact through mdat + stsz/stsc/stco
    ts, dur, n_tracks = decode_mp4(blob)  # metadata walker still agrees
    assert (ts, dur, n_tracks) == (600, 7 * 40, 1)


def test_sample_tables_multi_chunk_layout() -> None:
    """The decoder is general over multi-chunk stsc/stco layouts, not
    just the single-chunk shape this module's encoder emits: hand-pack
    2 chunks of 2 samples + a final chunk of 1."""
    import struct as st

    from eventstreamd_spark.functions import mp4
    from eventstreamd_spark.functions.mp4 import decode_mp4_samples

    frames = [bytes([i]) * 8 for i in range(5)]
    ftyp = mp4._box(b"ftyp", b"isom" + st.pack(">I", 0) + b"isom")
    mdat = mp4._box(b"mdat", b"".join(frames))
    base = len(ftyp) + 8
    sizes = [len(f) for f in frames]
    offs = [base, base + sizes[0] + sizes[1], base + sum(sizes[:4])]
    entry = (
        st.pack(">I", 86) + b"mjpa" + b"\x00" * 6 + st.pack(">H", 1)
        + b"\x00" * 16 + st.pack(">HH", 16, 16)
        + st.pack(">II", 0x00480000, 0x00480000) + st.pack(">I", 0)
        + st.pack(">H", 1) + b"\x00" * 32 + st.pack(">H", 24)
        + st.pack(">h", -1)
    )
    stsd = mp4._full_box(b"stsd", st.pack(">I", 1) + entry)
    stts = mp4._full_box(b"stts", st.pack(">III", 1, 5, 40))
    stsc = mp4._full_box(
        b"stsc",
        st.pack(">I", 2) + st.pack(">III", 1, 2, 1) + st.pack(">III", 3, 1, 1),
    )
    stsz = mp4._full_box(
        b"stsz",
        st.pack(">II", 0, 5) + b"".join(st.pack(">I", n) for n in sizes),
    )
    stco = mp4._full_box(b"stco", st.pack(">I", 3) + st.pack(">III", *offs))
    stbl = mp4._box(b"stbl", stsd + stts + stsc + stsz + stco)
    minf = mp4._box(b"minf", stbl)
    mdia = mp4._box(b"mdia", minf)
    trak = mp4._box(b"trak", mdia)
    moov = mp4._box(b"moov", trak)
    w, h, fc, got = decode_mp4_samples(ftyp + mdat + moov)
    assert (w, h, fc) == (16, 16, b"mjpa")
    assert got == frames


def test_sample_tables_fixed_size_and_co64() -> None:
    """stsz fixed-size mode and 64-bit co64 offsets decode too."""
    import struct as st

    from eventstreamd_spark.functions import mp4
    from eventstreamd_spark.functions.mp4 import decode_mp4_samples

    frames = [bytes([i]) * 6 for i in range(4)]
    ftyp = mp4._box(b"ftyp", b"isom" + st.pack(">I", 0) + b"isom")
    mdat = mp4._box(b"mdat", b"".join(frames))
    base = len(ftyp) + 8
    entry = (
        st.pack(">I", 86) + b"png " + b"\x00" * 6 + st.pack(">H", 1)
        + b"\x00" * 16 + st.pack(">HH", 8, 8)
        + st.pack(">II", 0x00480000, 0x00480000) + st.pack(">I", 0)
        + st.pack(">H", 1) + b"\x00" * 32 + st.pack(">H", 24)
        + st.pack(">h", -1)
    )
    stsd = mp4._full_box(b"stsd", st.pack(">I", 1) + entry)
    stsc = mp4._full_box(b"stsc", st.pack(">I", 1) + st.pack(">III", 1, 4, 1))
    stsz = mp4._full_box(b"stsz", st.pack(">II", 6, 4))  # fixed size, no table
    co64 = mp4._full_box(b"co64", st.pack(">I", 1) + st.pack(">Q", base))
    stbl = mp4._box(b"stbl", stsd + stsc + stsz + co64)
    blob = ftyp + mdat + mp4._box(
        b"moov", mp4._box(b"trak", mp4._box(b"mdia", mp4._box(b"minf", stbl)))
    )
    w, h, fc, got = decode_mp4_samples(blob)
    assert (w, h, fc) == (8, 8, b"png ")
    assert got == frames


# --- fail-closed fuzzing: mutated files decode or raise ValueError ---------

_FUZZ_BLOBS = (
    encode_video_mp4(8, 8, [bytes([i]) * (5 + i) for i in range(6)]),
    encode_minimal_mp4(600, 1000, 2),
)


def _check_samples(out) -> None:
    _w, _h, fourcc, samples = out
    assert len(fourcc) == 4 and all(isinstance(s, bytes) for s in samples)


@given(mutations(_FUZZ_BLOBS))
@settings(max_examples=300, deadline=None)
def test_mutated_files_fail_closed(blob) -> None:
    decodes_or_rejects(decode_mp4_samples, blob, _check_samples)
    decodes_or_rejects(decode_mp4, blob, lambda out: None)


@given(
    n=st.integers(0, 2**32 - 1),
    fixed=st.integers(0, 2**32 - 1),
    n_chunks=st.integers(0, 2**32 - 1),
    first=st.integers(0, 2**32 - 1),
    per_chunk=st.integers(0, 2**32 - 1),
)
@settings(max_examples=100, deadline=None)
def test_huge_declared_counts_fail_closed(n, fixed, n_chunks, first, per_chunk) -> None:
    """Sample and chunk counts may claim anything; no list is built
    larger than the file could hold."""
    blob = encode_video_mp4(8, 8, [b"abcdef"] * 3)
    stsd_at = blob.index(b"stbl") + 4  # stsd is stbl's first child
    (stsd_size,) = struct.unpack(">I", blob[stsd_at : stsd_at + 4])
    stbl = _box(
        b"stbl",
        blob[stsd_at : stsd_at + stsd_size]
        + _full_box(b"stsc", struct.pack(">IIII", 1, first, per_chunk, 1))
        + _full_box(b"stsz", struct.pack(">II", fixed, n))
        + _full_box(b"stco", struct.pack(">II", n_chunks, 40)),
    )
    moov = _box(b"moov", _box(b"trak", _box(b"mdia", _box(b"minf", stbl))))
    decodes_or_rejects(
        decode_mp4_samples, blob[: blob.index(b"moov") - 4] + moov, _check_samples
    )
