"""System under test for the live workloads: one daemon process.

Runs ``streaming.daemon.run_daemon`` as the CLI would, on the socket,
port and work dir the runner hands it, and stops when its stdin closes.

The spool flushes on a 0.5 s timer that starts when the daemon's event
loop first runs freely, while Spark fires its 1 s trigger on whole
wall-clock seconds.  Left alone, how the two line up is a random draw
per daemon start that moves every delivery's wait by up to 0.5 s, the
same for the whole run.  So the host lets the event loop run only once
the wall clock is ``FLUSH_PHASE`` past a half second: every run then
sees the mean alignment, flushes a quarter second away from each
trigger.

With ``--trace PATH`` it also records, from outside the program's code:

- ``session.start``: the ``get_spark`` call;
- one ``push`` span per ``ListenerRegistry.push_batch`` call (a wrapper
  around the public method), with the Spark jobs it ran, counted through
  a job group and ``statusTracker``;
- every ``StreamingQueryProgress`` the query still holds when it stops
  (``recentProgress``);
- the spool files (name, mtime, line count) read back at exit.

Spans stay in memory and are written to PATH as one JSON document when
the daemon stops.

Usage (the runner starts it; it is not meant to be run by hand):
    python3 perfbench/daemon_host.py --socket S --work-dir D --port P
"""

from __future__ import annotations

import argparse
import asyncio
import json
import os
import sys
import threading
import time


# the spool's flush interval (``SpoolWriter.flush_seconds``) and the
# phase its timer is started at, against whole wall-clock seconds
FLUSH_S = 0.5
FLUSH_PHASE = 0.25


def _pin_flush_phase() -> None:
    """Hold the event loop after the query starts until the flush phase.

    ``run_daemon`` starts the spool's flush timer, then blocks its loop in
    ``pipeline.start_envelope_pipeline``; the timer's first, overdue
    flush runs when that returns and sets the phase of all later ones."""
    from eventstreamd_spark.streaming import pipeline

    original = pipeline.start_envelope_pipeline

    def start_then_align(*args, **kwargs):
        query = original(*args, **kwargs)
        time.sleep((FLUSH_PHASE - time.time()) % FLUSH_S)
        return query

    pipeline.start_envelope_pipeline = start_then_align


def _install_tracing(spark, trace: dict) -> None:
    from eventstreamd_spark.streaming.http_frontend import ListenerRegistry

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    original = ListenerRegistry.push_batch

    def traced_push(self, batch_df, epoch_id):
        group = f"perfbench-push-{epoch_id}"
        sc.setJobGroup(group, "perfbench push_batch")
        groups = len({(c.subsystem, c.filters) for c in self.connections.values()})
        start = time.time()
        try:
            return original(self, batch_df, epoch_id)
        finally:
            end = time.time()
            trace["push"].append(
                {
                    "batch": epoch_id,
                    "start": start,
                    "end": end,
                    "groups": groups,
                    "jobs": len(tracker.getJobIdsForGroup(group)),
                }
            )
            sc.setLocalProperty("spark.jobGroup.id", None)

    ListenerRegistry.push_batch = traced_push


def _progress(p) -> dict:
    src = p.sources[0] if p.sources else None
    return {
        "batch": p.batchId,
        "timestamp": p.timestamp,
        "rows": p.numInputRows,
        "duration_ms": dict(p.durationMs),
        "start_offset": src.startOffset if src else None,
        "end_offset": src.endOffset if src else None,
    }


def _read_spool(spool_dir: str) -> list[dict]:
    """Name, mtime and line count of every published spool file."""
    files = []
    for name in sorted(os.listdir(spool_dir)):
        if not name.endswith(".jsonl") or name.startswith("."):
            continue
        path = os.path.join(spool_dir, name)
        with open(path, "rb") as f:
            lines = sum(1 for line in f if line.strip())
        files.append({"name": name, "mtime": os.stat(path).st_mtime, "lines": lines})
    return files


async def _serve(spark, args, trace: dict | None) -> None:
    from eventstreamd_spark.streaming.daemon import run_daemon

    loop = asyncio.get_running_loop()
    stop = asyncio.Event()

    def wait_for_eof() -> None:
        # the runner closes our stdin to stop us
        sys.stdin.read()
        if trace is not None:
            for q in spark.streams.active:
                # let the running micro-batch finish so its progress is kept
                deadline = time.time() + 60
                while q.status["isTriggerActive"] and time.time() < deadline:
                    time.sleep(0.05)
                trace["progress"] = [_progress(p) for p in q.recentProgress]
        loop.call_soon_threadsafe(stop.set)

    threading.Thread(target=wait_for_eof, daemon=True).start()
    await run_daemon(
        spark, args.socket, args.work_dir, port=args.port, stop_event=stop
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--socket", required=True)
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--trace")
    args = ap.parse_args()

    from eventstreamd_spark.session import get_spark

    t0 = time.time()
    spark = get_spark("perfbench-daemon")
    trace = {"session_start": [t0, time.time()], "push": [], "progress": []}
    _pin_flush_phase()
    if args.trace:
        _install_tracing(spark, trace)
    try:
        asyncio.run(_serve(spark, args, trace if args.trace else None))
    finally:
        if args.trace:
            trace["spool"] = _read_spool(os.path.join(args.work_dir, "spool"))
            with open(args.trace, "w", encoding="utf-8") as f:
                json.dump(trace, f)
        spark.stop()


if __name__ == "__main__":
    main()
