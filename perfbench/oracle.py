"""The benchmark's own model of what the daemon must deliver.

Written from the reference's rules, not from the program's code (it does
not import ``eventstreamd_spark``), so a bug shared by the program's
filter compiler and this oracle would need to be made twice.

Filter grammar: ``field op literal``; ``field`` is ``[a-z.-]+`` with dots
walking into nested objects; ``op`` is one of ``= >= <= < >``; the
literal is a quoted string, an ISO date (``YYYY-MM-DD`` or ``YYYYMMDD``)
or an integer.  A filter matches only when the path exists and holds a
value of the literal's type: a JSON integer (not a boolean or float) for
an int literal, a JSON string for a string literal, and a JSON string
that parses as a valid ISO date for a date literal.  Filters of one
subscription AND together; no filters match everything.

Frame: ``event: <type>\\r\\ndata: <json>\\r\\n[id: <id>\\r\\n]\\r\\n`` with
the id line present only for a non-empty id, and the payload rendered as
compact JSON with object keys in sorted order.
"""

from __future__ import annotations

import datetime
import json
import re

_FILTER = re.compile(r"^([a-z.-]+)(>=|<=|=|<|>)(.*)$")
_DATE = re.compile(r"^([0-9]{4})-?([0-9]{2})-?([0-9]{2})$")
_INT = re.compile(r"^[+-]?[0-9]+$")

_OPS = {
    "=": lambda a, b: a == b,
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
}


def _date(text: str) -> datetime.date | None:
    m = _DATE.match(text)
    if not m:
        return None
    try:
        return datetime.date(int(m[1]), int(m[2]), int(m[3]))
    except ValueError:
        return None


def parse(text: str) -> tuple[list[str], str, str, object]:
    """``(path, op, kind, literal)``; raises ValueError on bad syntax."""
    m = _FILTER.match(text)
    if not m:
        raise ValueError(f"bad filter {text!r}")
    field, op, lit = m[1], m[2], m[3]
    if len(lit) >= 2 and lit[0] == "'" and lit[-1] == "'":
        return field.split("."), op, "string", lit[1:-1]
    day = _date(lit)
    if day is not None:
        return field.split("."), op, "date", day
    if _INT.match(lit):
        return field.split("."), op, "int", int(lit)
    raise ValueError(f"bad literal in {text!r}")


def matches(filters: list, payload: dict) -> bool:
    """True when every parsed filter holds for ``payload``."""
    for path, op, kind, lit in filters:
        node: object = payload
        for key in path:
            if not isinstance(node, dict) or key not in node:
                return False
            node = node[key]
        if kind == "int":
            if type(node) is not int:
                return False
            value: object = node
        elif kind == "string":
            if not isinstance(node, str):
                return False
            value = node
        else:
            value = _date(node) if isinstance(node, str) else None
            if value is None:
                return False
        if not _OPS[op](value, lit):
            return False
    return True


def frame(event: str, payload: dict, event_id: str) -> bytes:
    """The exact SSE frame bytes the subscriber must receive."""
    data = json.dumps(payload, separators=(",", ":"), sort_keys=True)
    out = f"event: {event}\r\ndata: {data}\r\n"
    if event_id:
        out += f"id: {event_id}\r\n"
    return (out + "\r\n").encode()
