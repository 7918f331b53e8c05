"""Workload definitions and the seeded input generator.

Everything the daemon receives (subscriptions and events) comes from
``make_inputs(spec, seed, n_events)``: the same seed gives the same
subscriptions, the same event stream and the same expected deliveries.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass

from perfbench import oracle

SUBSYSTEMS = ("alpha", "beta", "gamma", "delta", "omega")
EVENT_TYPES = ("create", "update", "delete")
TAGS = ("red", "green", "blue", "amber")
_PAD = "".join(random.Random(0).choice("abcdefghij") for _ in range(4096))


@dataclass(frozen=True)
class LiveSpec:
    subscribers: int
    # distinct subscriptions; subscriber i uses subscription i % len
    subscriptions: int
    rate: float  # events per second, open loop
    payload_bytes: int  # target size of the ``data`` object


# why each workload exists: BENCHMARK.json and README.md
LIVE = {
    "live_fanout": LiveSpec(
        subscribers=12,
        subscriptions=1,
        rate=300.0,
        payload_bytes=300,
    ),
}


def _subscriptions(spec: LiveSpec, rng: random.Random) -> list[tuple[str, tuple[str, ...]]]:
    """One subscription per subsystem in turn: an int and a string
    comparison.  The fields compared are fixed, so every seed asks the
    daemon for the same work; the seed moves each literal only within a
    narrow band, so a subscription matches about the same share of events
    (~4 %) whatever the seed."""
    return [
        (
            SUBSYSTEMS[i],
            (f"level>={rng.randint(4, 5)}", f"user>='u{rng.randint(45, 55):03d}'"),
        )
        for i in range(spec.subscriptions)
    ]


def _payload(rng: random.Random, seq: int, size: int) -> dict:
    """One ``data`` object.  Some fields are missing or hold the wrong
    JSON type, so filters must reject them rather than coerce."""
    p: dict = {"seq": seq}
    r = rng.random()
    if r < 0.85:
        p["level"] = rng.randint(0, 9)
    elif r < 0.92:
        p["level"] = str(rng.randint(0, 9))  # string where an int is filtered
    elif r < 0.95:
        p["level"] = rng.random() < 0.5  # boolean is not an integer
    # else: missing
    r = rng.random()
    if r < 0.9:
        p["user"] = f"u{rng.randint(0, 99):03d}"
    elif r < 0.95:
        p["user"] = rng.randint(0, 99)
    r = rng.random()
    if r < 0.85:
        p["m"] = {"k": rng.randint(0, 19), "tag": rng.choice(TAGS)}
    elif r < 0.92:
        p["m"] = {"tag": rng.choice(TAGS)}
    elif r < 0.96:
        p["m"] = "flat"  # a path through a non-object
    r = rng.random()
    if r < 0.7:
        p["day"] = f"2024-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
    elif r < 0.85:
        p["day"] = f"2024{rng.randint(1, 12):02d}{rng.randint(1, 28):02d}"
    elif r < 0.95:
        p["day"] = "2024-02-30"  # not a date
    fill = size - len(json.dumps(p, separators=(",", ":"))) - 10
    if fill > 0:
        start = rng.randrange(len(_PAD) - fill)
        p["pad"] = _PAD[start : start + fill]
    return p


@dataclass
class LiveInputs:
    subscriptions: list[tuple[str, tuple[str, ...]]]
    # per event: the producer line and the expected frame
    lines: list[bytes]
    frames: list[bytes]
    # per subscription: sequence numbers it must receive
    expected: list[set[int]]


def make_inputs(spec: LiveSpec, seed: int, n_events: int) -> LiveInputs:
    rng = random.Random(seed)
    subs = _subscriptions(spec, rng)
    parsed = [[oracle.parse(f) for f in filters] for _, filters in subs]
    lines, frames = [], []
    expected: list[set[int]] = [set() for _ in subs]
    for seq in range(n_events):
        subsystem = rng.choice(SUBSYSTEMS)
        event = rng.choice(EVENT_TYPES)
        payload = _payload(rng, seq, spec.payload_bytes)
        event_id = "" if rng.random() < 0.05 else f"e{seq}"
        lines.append(
            json.dumps(
                {
                    "action": "notify",
                    "subsystem": subsystem,
                    "event": event,
                    "data": payload,
                    "id": event_id,
                }
            ).encode()
            + b"\n"
        )
        frames.append(oracle.frame(event, payload, event_id))
        for i, (sub_subsystem, _) in enumerate(subs):
            if sub_subsystem == subsystem and oracle.matches(parsed[i], payload):
                expected[i].add(seq)
    return LiveInputs(subs, lines, frames, expected)
