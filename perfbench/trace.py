"""Per-layer metrics for a traced live run.

Each delivery in the measured window is followed through five hops, each
joined by sequence number or micro-batch id:

    due to send --socket_spool.wait--> spool file published (mtime)
      --pipeline.trigger_wait--> micro-batch that read the file starts
      --pipeline.pre_push--> ``push_batch`` starts
      --http_frontend.push--> ``push_batch`` returns
      --http_frontend.deliver--> frame read by the subscriber

The hops of one delivery sum to its latency.  ``deliver`` is negative
when a frame arrives before ``push_batch`` returns, because the push
enqueues each subscription's frames as soon as its job finishes.
"""

from __future__ import annotations

import ast
import bisect
import datetime
import json
import statistics

HOPS = (
    "socket_spool.wait_p50_s",
    "pipeline.trigger_wait_p50_s",
    "pipeline.pre_push_p50_s",
    "http_frontend.push_hop_p50_s",
    "http_frontend.deliver_p50_s",
)
DURATIONS = {
    "pipeline.latest_offset_s": "latestOffset",
    "pipeline.query_planning_s": "queryPlanning",
    "pipeline.add_batch_s": "addBatch",
    "pipeline.wal_commit_s": "walCommit",
    "pipeline.commit_offsets_s": "commitOffsets",
}


def _epoch(iso: str) -> float:
    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _files_read(offset: str | None) -> int:
    """Spool files consumed up to a source offset (``{"n": k}``)."""
    # the Python source reports its offsets as dict reprs, or "None"
    return ast.literal_eval(offset)["n"] if offset not in (None, "None") else 0


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# every metric ``live_layers`` reports, with its unit
UNITS = {
    "session.start_s": "s",
    "socket_spool.files": "count",
    "pipeline.batches": "count",
    "pipeline.rows": "count",
    "pipeline.busy_frac": "ratio",
    "http_frontend.jobs_per_push": "count",
    "http_frontend.push_p50_s": "s",
    "http_frontend.push_max_s": "s",
    "http_frontend.frames": "count",
    "trace.latency_p50_s": "s",
    "trace.hop_p50_sum_s": "s",
    "trace.unjoined": "count",
    **{name: "s" for name in DURATIONS},
    **{name: "s" for name in HOPS},
}


def live_layers(trace_path, subs, due, t0_wall, wall0, n_warm, n_end, latency_p50):
    """``{metric: (value, unit)}`` for the traced run's window."""
    with open(trace_path, encoding="utf-8") as f:
        trace = json.load(f)

    # spool file k holds sequence numbers [starts[k], starts[k + 1]): one
    # producer connection keeps its lines in order
    starts, mtimes = [], []
    seq = 0
    for spooled in trace["spool"]:
        starts.append(seq)
        mtimes.append(spooled["mtime"])
        seq += spooled["lines"]
    batch_of_file: dict[int, dict] = {}
    for p in trace["progress"]:
        for k in range(_files_read(p["start_offset"]), _files_read(p["end_offset"])):
            batch_of_file[k] = p
    push = {p["batch"]: p for p in trace["push"]}

    hops: list[list[float]] = [[] for _ in HOPS]
    window_files: set[int] = set()
    window_batches: dict[int, dict] = {}
    unjoined = 0
    for s in subs:
        for q, received in s.received.items():
            if not n_warm <= q < n_end:
                continue
            k = bisect.bisect_right(starts, q) - 1
            batch = batch_of_file.get(k)
            pushed = push.get(batch["batch"]) if batch else None
            if pushed is None:
                unjoined += 1
                continue
            window_files.add(k)
            window_batches[batch["batch"]] = batch
            marks = (
                t0_wall + due[q],
                mtimes[k],
                _epoch(batch["timestamp"]),
                pushed["start"],
                pushed["end"],
                received + wall0,
            )
            for h in range(len(HOPS)):
                hops[h].append(marks[h + 1] - marks[h])

    batches = list(window_batches.values())
    pushes = [push[b] for b in window_batches]
    window_start = t0_wall + due[n_warm]
    window_end = t0_wall + due[n_end]
    busy_ms = sum(
        p["duration_ms"].get("triggerExecution", 0)
        for p in trace["progress"]
        if window_start <= _epoch(p["timestamp"]) < window_end
    )
    values = {
        "session.start_s": trace["session_start"][1] - trace["session_start"][0],
        "socket_spool.files": len(window_files),
        "pipeline.batches": len(batches),
        "pipeline.rows": sum(b["rows"] for b in batches),
        "pipeline.busy_frac": busy_ms / 1000.0 / (window_end - window_start),
        "http_frontend.jobs_per_push": _median([p["jobs"] for p in pushes]),
        "http_frontend.push_p50_s": _median([p["end"] - p["start"] for p in pushes]),
        "http_frontend.push_max_s": max((p["end"] - p["start"] for p in pushes), default=0.0),
        "http_frontend.frames": len(hops[0]),
        "trace.latency_p50_s": latency_p50,
        "trace.hop_p50_sum_s": sum(_median(h) for h in hops),
        "trace.unjoined": unjoined,
    }
    for name, key in DURATIONS.items():
        values[name] = _median([b["duration_ms"].get(key, 0) / 1000.0 for b in batches])
    for name, hop in zip(HOPS, hops):
        values[name] = _median(hop)
    return {name: (values[name], unit) for name, unit in UNITS.items()}
