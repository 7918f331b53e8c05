"""Shared fail-closed fuzzing for the media decoders: mutate valid
streams and require a consistent decode or a ValueError, quickly."""

from __future__ import annotations

import time
from collections.abc import Callable

from hypothesis import strategies as st

TIME_BOUND_S = 2.0


def _edit(blob: bytes, edits, op) -> bytes:
    b = bytearray(blob)
    for pos, v in edits:
        b[pos % len(b)] = op(b[pos % len(b)], v)
    return bytes(b)


def mutations(blobs) -> st.SearchStrategy[bytes]:
    """Truncations, byte overwrites and bit flips of valid streams."""
    base = st.sampled_from(blobs)
    positions = st.integers(0, 2**20)
    overwrites = st.lists(
        st.tuples(positions, st.integers(0, 255)), min_size=1, max_size=4
    )
    flips = st.lists(
        st.tuples(positions, st.integers(0, 7)), min_size=1, max_size=4
    )
    return st.one_of(
        st.tuples(base, positions).map(lambda t: t[0][: t[1] % len(t[0])]),
        st.tuples(base, overwrites).map(lambda t: _edit(*t, lambda old, v: v)),
        st.tuples(base, flips).map(lambda t: _edit(*t, lambda old, v: old ^ (1 << v))),
    )


def decodes_or_rejects(
    decode: Callable[[bytes], tuple], blob: bytes, check: Callable[[tuple], None]
) -> None:
    """``decode(blob)`` returns a result ``check`` accepts or raises
    ValueError — nothing else — within the time bound."""
    start = time.perf_counter()
    try:
        out = decode(blob)
    except ValueError:
        pass
    else:
        check(out)
    assert time.perf_counter() - start < TIME_BOUND_S
