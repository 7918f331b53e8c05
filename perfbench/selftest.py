"""Self-test of the benchmark's own oracle (``perfbench/oracle.py``).

A wrong oracle would misreport ``fail_frac``, so every run checks it
first against hand-written cases: typed int and string comparisons, ISO
dates in both forms, missing and nested fields, values of the wrong JSON
type, conjunctions, and the optional ``id:`` line.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import os
import sys

if __package__ in (None, ""):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import oracle  # noqa: E402

# (filters, payload, expected match)
MATCH_CASES = [
    # int literal: only a JSON integer matches
    (["foo=10"], {"foo": 10}, True),
    (["foo=10"], {"foo": 9}, False),
    (["foo<=10"], {"foo": 10}, True),
    (["foo>=10"], {"foo": 9}, False),
    (["foo>10"], {"foo": 11}, True),
    (["foo<10"], {"foo": -3}, True),
    (["foo=10"], {"foo": "10"}, False),
    (["foo=1"], {"foo": True}, False),
    (["foo=10"], {"foo": 10.0}, False),
    (["foo=10"], {"foo": None}, False),
    # string literal: only a JSON string matches, compared by code point
    (["foo='bar'"], {"foo": "bar"}, True),
    (["foo='bar'"], {"foo": "baz"}, False),
    (["foo.bar<='ABC'"], {"foo": {"bar": "AAA"}}, True),
    (["foo.bar<'ABC'"], {"foo": {"bar": "ABC"}}, False),
    (["foo.bar>'ABC'"], {"foo": {"bar": "CAA"}}, True),
    (["foo.bar<='ABC'"], {"foo": {"bar": 13}}, False),
    (["foo<=10"], {"foo": ""}, False),
    (["user>=''"], {"user": ""}, True),
    (["user>=''"], {"user": 5}, False),
    # missing and nested paths
    (["foo.bar<='ABC'"], {"foo": {}}, False),
    (["foo=10"], {}, False),
    (["foo.bar<=10"], {"foo": {"bar": 10}}, True),
    (["m.k=3"], {"m": "flat"}, False),
    (["m.k=3"], {"m": {"k": {"deep": 3}}}, False),
    # dates: the field must be a string holding a valid ISO date
    (["foo=2016-03-24"], {"foo": "2016-03-24"}, True),
    (["foo=2016-03-24"], {"foo": "20160324"}, True),
    (["foo=20160324"], {"foo": "2016-03-24"}, True),
    (["foo=2016-03-24"], {"foo": "2000-01-01"}, False),
    (["foo<2016-03-24"], {"foo": "2000-01-01"}, True),
    (["foo<2016-03-24"], {"foo": "2000-02-30"}, False),
    (["foo<2016-03-24"], {"foo": 20000101}, False),
    (["foo<2016-03-24"], {"foo": "hello"}, False),
    # conjunctions and the empty filter list
    (["a>=1", "b='x'"], {"a": 1, "b": "x"}, True),
    (["a>=1", "b='x'"], {"a": 1, "b": "y"}, False),
    ([], {"anything": 1}, True),
]

PARSE_ERRORS = ["INVALID", "foo=bar", "foo='bar", "foo='", "foo=2000-12-32", "Foo=1"]

FRAME_CASES = [
    (
        ("update", {"b": 1, "a": {"y": "s", "x": 2}}, "e7"),
        b'event: update\r\ndata: {"a":{"x":2,"y":"s"},"b":1}\r\nid: e7\r\n\r\n',
    ),
    # an empty id leaves the id line out
    (("create", {"seq": 3}, ""), b'event: create\r\ndata: {"seq":3}\r\n\r\n'),
]


def run() -> list[str]:
    """Every failed case, described; empty when the oracle is right."""
    failures = []
    for filters, payload, want in MATCH_CASES:
        got = oracle.matches([oracle.parse(f) for f in filters], payload)
        if got != want:
            failures.append(f"{filters} on {payload}: got {got}, want {want}")
    for text in PARSE_ERRORS:
        try:
            oracle.parse(text)
        except ValueError:
            continue
        failures.append(f"{text!r} parsed but is not a filter")
    for args, want in FRAME_CASES:
        got = oracle.frame(*args)
        if got != want:
            failures.append(f"frame{args}: got {got!r}, want {want!r}")
    return failures


if __name__ == "__main__":
    problems = run()
    for p in problems:
        print(p)
    print(f"{len(MATCH_CASES) + len(PARSE_ERRORS) + len(FRAME_CASES)} cases, {len(problems)} failed")
    sys.exit(1 if problems else 0)
