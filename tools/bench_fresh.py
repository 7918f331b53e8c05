#!/usr/bin/env python
"""Fresh-JVM-per-query control measurement (SCALE.md §14 rule 3).

The in-bench wall time of query N is contaminated by the session state
accumulated by queries 1..N-1 in the same JVM (codegen cache churn, GC
pressure, broadcast cleanup backlog).  When a query regresses
round-over-round with ZERO diff to its plan, the first diagnostic is a
clean-room number: one process, one SparkSession, one warm-up pass,
best-of-N timed passes, nothing else running.

Usage:
    python tools/bench_fresh.py QUERY [N]         # one query, fresh JVM
    python tools/bench_fresh.py --sweep Q1 Q2 ... # subprocess per query

Writes/updates tools/BENCH_FRESH.json in --sweep mode.
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


def measure(name: str, n: int = 4) -> dict:
    from eventstreamd_spark.session import get_spark
    from eventstreamd_spark import queries_registry as reg

    spark = get_spark("bench-fresh")
    spark.sparkContext.setLogLevel("ERROR")
    fn = reg.QUERIES[name]

    t0 = time.perf_counter()
    fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
    cold = time.perf_counter() - t0
    runs = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        runs.append(time.perf_counter() - t0)
    return {
        "query": name,
        "cold_sec": round(cold, 4),
        "best_sec": round(min(runs), 4),
        "runs": [round(r, 4) for r in runs],
    }


def main() -> None:
    args = sys.argv[1:]
    if args and args[0] == "--sweep":
        # merge-by-default: coverage accrues across sweeps (a later
        # sweep of new queries must not delete the controls already on
        # record for the driver window / top-30)
        out = {}
        path0 = os.path.join(REPO, "tools", "BENCH_FRESH.json")
        if os.path.exists(path0):
            try:
                with open(path0) as fh:
                    out = json.load(fh)
            except json.JSONDecodeError:
                pass
        for q in args[1:]:
            r = subprocess.run(
                [sys.executable, os.path.abspath(__file__), q],
                capture_output=True, text=True, cwd=REPO,
            )
            line = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
            try:
                out[q] = json.loads(line)
            except (json.JSONDecodeError, IndexError):
                out[q] = {"error": (r.stderr or r.stdout)[-300:]}
            print(q, out[q])
        path = os.path.join(REPO, "tools", "BENCH_FRESH.json")
        with open(path, "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
        print("wrote", path)
        return
    name = args[0]
    n = int(args[1]) if len(args) > 1 else 4
    print(json.dumps(measure(name, n)))


if __name__ == "__main__":
    main()
