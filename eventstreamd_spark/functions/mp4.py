"""Minimal pure-stdlib ISO-BMFF (MP4) box walker.

The video sibling of functions/png.py / functions/wav.py: real
container parsing with no codec dependency.  Scope is the metadata a
corpus pipeline actually needs from ``video/mp4`` payloads before any
frame decode — movie timescale, duration, and track count — read from
the ``moov``/``mvhd``/``trak`` box tree.  Sample data (mdat) is
opaque by design; a frame decoder would slot behind the same walk.

Reference parity: srittau/eventstreamd has no media surface (SURVEY.md
§0); layer-B scope.
"""

from __future__ import annotations

import struct


def _box(type_: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + type_ + payload


def encode_minimal_mp4(
    timescale: int, duration: int, n_tracks: int
) -> bytes:
    """ftyp + moov(mvhd + n_tracks x trak(tkhd)) skeleton — the
    smallest tree real parsers accept for metadata probes."""
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0) + b"isom")
    mvhd_payload = (
        struct.pack(">I", 0)  # version + flags
        + struct.pack(">II", 0, 0)  # creation, modification
        + struct.pack(">II", timescale, duration)
        + struct.pack(">i", 0x00010000)  # rate 1.0
        + struct.pack(">h", 0x0100)  # volume 1.0
        + b"\x00" * 10  # reserved
        + struct.pack(">9i", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24  # predefined
        + struct.pack(">I", n_tracks + 1)  # next track id
    )
    traks = b""
    for tid in range(1, n_tracks + 1):
        tkhd_payload = (
            struct.pack(">I", 0x000007)  # version 0 + enabled flags
            + struct.pack(">II", 0, 0)
            + struct.pack(">I", tid)
            + struct.pack(">I", 0)  # reserved
            + struct.pack(">I", duration)
            + b"\x00" * 60  # reserved/layer/matrix/width/height
        )
        traks += _box(b"trak", _box(b"tkhd", tkhd_payload))
    moov = _box(b"moov", _box(b"mvhd", mvhd_payload) + traks)
    return ftyp + moov


def _walk(blob: bytes, start: int, end: int):
    """Yield (type, payload_start, payload_end) for sibling boxes."""
    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack(">I", blob[pos : pos + 4])
        btype = blob[pos + 4 : pos + 8]
        if size == 1:  # 64-bit largesize
            if pos + 16 > end:
                raise ValueError("truncated largesize box")
            (size,) = struct.unpack(">Q", blob[pos + 8 : pos + 16])
            header = 16
        elif size == 0:  # box extends to end of enclosing container
            size = end - pos
            header = 8
        else:
            header = 8
        if size < header or pos + size > end:
            raise ValueError("malformed box size")
        yield btype, pos + header, pos + size
        pos += size


def decode_mp4(blob: bytes) -> tuple[int, int, int]:
    """MP4 bytes -> (timescale, duration, n_tracks) from moov/mvhd."""
    if len(blob) < 12 or blob[4:8] != b"ftyp":
        raise ValueError("not an ISO-BMFF payload")
    for btype, s, e in _walk(blob, 0, len(blob)):
        if btype != b"moov":
            continue
        timescale = duration = None
        n_tracks = 0
        for ctype, cs, ce in _walk(blob, s, e):
            if ctype == b"mvhd":
                body = blob[cs:ce]
                if len(body) < 20:
                    raise ValueError("short mvhd")
                version = body[0]
                if version == 0:
                    timescale, duration = struct.unpack(">II", body[12:20])
                else:  # version 1: 64-bit times
                    if len(body) < 32:
                        raise ValueError("short mvhd v1")
                    (timescale,) = struct.unpack(">I", body[20:24])
                    (duration,) = struct.unpack(">Q", body[24:32])
            elif ctype == b"trak":
                n_tracks += 1
        if timescale is None:
            raise ValueError("moov without mvhd")
        return timescale, duration, n_tracks
    raise ValueError("no moov box")


# ---------------------------------------------------------------------------
# Sample tables (stbl): real frame storage, round-9 video tier
# ---------------------------------------------------------------------------


def _full_box(type_: bytes, payload: bytes, version: int = 0, flags: int = 0) -> bytes:
    return _box(type_, struct.pack(">B3s", version, flags.to_bytes(3, "big")) + payload)


def encode_video_mp4(
    width: int,
    height: int,
    frames: list[bytes],
    fourcc: bytes = b"mjpa",
    timescale: int = 600,
    frame_duration: int = 40,
) -> bytes:
    """One-video-track ISO-BMFF file with REAL sample tables: the
    frames land byte-for-byte in ``mdat`` and the ``stbl`` tree
    (stsd/stts/stsc/stsz/stco) indexes them — the public-spec layout a
    Motion-JPEG (or PNG-per-frame) QuickTime/MP4 carries.  Layout:
    ftyp | mdat(frames) | moov; one chunk holding all samples, so
    stco has a single absolute offset (the mdat payload start)."""
    if not frames:
        raise ValueError("a video track needs at least one sample")
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0) + b"isom")
    mdat_payload = b"".join(frames)
    mdat = _box(b"mdat", mdat_payload)
    chunk_offset = len(ftyp) + 8  # absolute offset of the first sample

    n = len(frames)
    duration = n * frame_duration
    # stsd: one visual sample entry.  Per ISO 14496-12 a SampleEntry is
    # a Box, so its declared size INCLUDES the 8-byte header: 8 + 78
    # body bytes = 86 total, which is exactly what is written below.
    entry = (
        struct.pack(">I", 86)
        + fourcc
        + b"\x00" * 6  # reserved
        + struct.pack(">H", 1)  # data_reference_index
        + b"\x00" * 16  # pre_defined/reserved
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
        + struct.pack(">I", 0)  # reserved
        + struct.pack(">H", 1)  # frame_count
        + b"\x00" * 32  # compressorname
        + struct.pack(">H", 24)  # depth
        + struct.pack(">h", -1)  # pre_defined
    )
    stsd = _full_box(b"stsd", struct.pack(">I", 1) + entry)
    stts = _full_box(b"stts", struct.pack(">III", 1, n, frame_duration))
    stsc = _full_box(b"stsc", struct.pack(">IIII", 1, 1, n, 1))
    stsz = _full_box(
        b"stsz",
        struct.pack(">II", 0, n)
        + b"".join(struct.pack(">I", len(f)) for f in frames),
    )
    stco = _full_box(b"stco", struct.pack(">II", 1, chunk_offset))
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)

    dref = _full_box(
        b"dref", struct.pack(">I", 1) + _full_box(b"url ", b"", flags=1)
    )
    dinf = _box(b"dinf", dref)
    vmhd = _full_box(b"vmhd", struct.pack(">HHHH", 0, 0, 0, 0), flags=1)
    minf = _box(b"minf", vmhd + dinf + stbl)
    mdhd = _full_box(
        b"mdhd",
        struct.pack(">IIIIHH", 0, 0, timescale, duration, 0x55C4, 0),
    )
    hdlr = _full_box(
        b"hdlr", struct.pack(">I", 0) + b"vide" + b"\x00" * 12 + b"\x00"
    )
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    tkhd_payload = (
        struct.pack(">I", 0)  # creation
        + struct.pack(">I", 0)  # modification
        + struct.pack(">I", 1)  # track id
        + struct.pack(">I", 0)  # reserved
        + struct.pack(">I", duration)
        + b"\x00" * 8  # reserved
        + struct.pack(">hhh", 0, 0, 0)  # layer, alt group, volume
        + b"\x00" * 2  # reserved
        + struct.pack(">9i", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", width << 16, height << 16)
    )
    tkhd = _full_box(b"tkhd", tkhd_payload, flags=7)
    trak = _box(b"trak", tkhd + mdia)
    mvhd_payload = (
        struct.pack(">I", 0)
        + struct.pack(">I", 0)
        + struct.pack(">II", timescale, duration)
        + struct.pack(">i", 0x00010000)
        + struct.pack(">h", 0x0100)
        + b"\x00" * 10
        + struct.pack(">9i", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24
        + struct.pack(">I", 2)
    )
    mvhd = _box(b"mvhd", struct.pack(">I", 0) + mvhd_payload)
    moov = _box(b"moov", mvhd + trak)
    return ftyp + mdat + moov


def _find_path(blob: bytes, start: int, end: int, path: list[bytes]):
    """(payload_start, payload_end) of the first box at a nested path."""
    if not path:
        return start, end
    for btype, s, e in _walk(blob, start, end):
        if btype == path[0]:
            return _find_path(blob, s, e, path[1:])
    raise ValueError(f"missing box {b'/'.join(path).decode()}")


def _unpack(fmt: str, blob: bytes, pos: int, end: int) -> tuple:
    """struct.unpack_from that stays inside [pos, end): a table that
    claims more entries than its box holds is malformed."""
    if pos + struct.calcsize(fmt) > end:
        raise ValueError("box too short for its table")
    return struct.unpack_from(fmt, blob, pos)


def decode_mp4_samples(blob: bytes) -> tuple[int, int, bytes, list[bytes]]:
    """MP4 bytes -> (width, height, fourcc, [sample bytes]) from the
    first video track's REAL sample tables — stsd for the entry,
    stsz for sizes, stsc runs + stco/co64 offsets to locate every
    sample inside the file.  General over multi-chunk layouts, not
    just this module's single-chunk encoder output.  Raises
    ValueError on any malformed or inconsistent table."""
    if len(blob) < 12 or blob[4:8] != b"ftyp":
        raise ValueError("not an ISO-BMFF payload")
    moov_s, moov_e = _find_path(blob, 0, len(blob), [b"moov"])
    stbl_s, stbl_e = _find_path(
        blob, moov_s, moov_e, [b"trak", b"mdia", b"minf", b"stbl"]
    )
    boxes = {t: (s, e) for t, s, e in _walk(blob, stbl_s, stbl_e)}
    chunk_box = b"stco" if b"stco" in boxes else b"co64"
    for need in (b"stsd", b"stsz", b"stsc", chunk_box):
        if need not in boxes:
            raise ValueError(f"missing box {need.decode()}")

    s, e = boxes[b"stsd"]
    # version/flags + entry_count, then the entry's size/fourcc header
    fourcc = _unpack(">4s", blob, s + 12, e)[0]
    width, height = _unpack(">HH", blob, s + 40, e)

    s, e = boxes[b"stsz"]
    fixed, n = _unpack(">II", blob, s + 4, e)
    if fixed:
        if fixed * n > len(blob):
            raise ValueError("samples larger than the file")
        sizes = [fixed] * n
    else:
        sizes = list(_unpack(f">{n}I", blob, s + 12, e))

    s, e = boxes[chunk_box]
    (n_chunks,) = _unpack(">I", blob, s + 4, e)
    kind = "I" if chunk_box == b"stco" else "Q"
    offsets = list(_unpack(f">{n_chunks}{kind}", blob, s + 8, e))

    s, e = boxes[b"stsc"]
    (n_runs,) = _unpack(">I", blob, s + 4, e)
    runs = [
        _unpack(">III", blob, s + 8 + 12 * i, e) for i in range(n_runs)
    ]  # (first_chunk, samples_per_chunk, sample_description_index)

    # expand sample-to-chunk runs into per-chunk sample counts
    per_chunk: list[int] = []
    for i, (first, spc, _sdi) in enumerate(runs):
        last = runs[i + 1][0] - 1 if i + 1 < len(runs) else n_chunks
        if first != len(per_chunk) + 1 or last > n_chunks:
            raise ValueError("sample-to-chunk runs out of order")
        per_chunk += [spc] * (last - first + 1)

    samples: list[bytes] = []
    si = 0
    for chunk_idx, count in enumerate(per_chunk):
        pos = offsets[chunk_idx]
        for _ in range(count):
            if si >= len(sizes):
                break
            if pos + sizes[si] > len(blob):
                raise ValueError("sample outside the file")
            samples.append(blob[pos : pos + sizes[si]])
            pos += sizes[si]
            si += 1
    if si != len(sizes):
        raise ValueError("sample tables disagree on sample count")
    return width, height, fourcc, samples
