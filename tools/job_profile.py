#!/usr/bin/env python
"""Driver-job profile for registered queries (guide §5: driver
round-trips are a per-job latency bill that no executor parallelism can
hide).  For each named query: build + force it with the noop sink and
report how many Spark JOBS the full evaluation submitted (statusTracker
job-id delta) plus the wall seconds.

The admission/CC faces are the canonical target: round 12 cut them from
20-23 jobs/face to 9; round 13's VERDICT ask is <=5.

Usage:
    python tools/job_profile.py QUERY [QUERY ...]
    python tools/job_profile.py --fresh QUERY ...   # subprocess each

Prints one JSON line per query: {"query", "jobs", "sec", "pass"} for a
cold and a steady pass (the steady pass is the honest per-face figure —
session caches built by the cold pass are warm, matching the bench's
best-of-2 methodology).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def profile(names: list[str]) -> list[dict]:
    from eventstreamd_spark.session import get_spark
    from eventstreamd_spark import queries_registry as reg

    spark = get_spark("job-profile")
    spark.sparkContext.setLogLevel("ERROR")
    tracker = spark.sparkContext.statusTracker()
    out = []
    for name in names:
        if name not in reg.QUERIES:
            print(f"unknown query: {name}", file=sys.stderr)
            continue
        fn = reg.QUERIES[name]
        for pass_name in ("cold", "steady"):
            before = tracker.getJobIdsForGroup(None)
            n0 = max(before) if before else -1
            t0 = time.perf_counter()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            sec = time.perf_counter() - t0
            after = tracker.getJobIdsForGroup(None)
            n1 = max(after) if after else -1
            rec = {
                "query": name,
                "pass": pass_name,
                "jobs": n1 - n0,
                "sec": round(sec, 3),
            }
            print(json.dumps(rec))
            out.append(rec)
    return out


def main() -> None:
    args = sys.argv[1:]
    if args and args[0] == "--fresh":
        for name in args[1:]:
            subprocess.run(
                [sys.executable, os.path.abspath(__file__), name], cwd=REPO
            )
        return
    profile(args)


if __name__ == "__main__":
    main()
