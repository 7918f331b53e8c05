#!/usr/bin/env python
"""One-session family bench for the ANN eval faces (§8 evidence).

The §8 change (shared ranked top-kmax bases) helps by SHARING work
across the queries of one session, so the honest unit of measurement is
the whole family run in one fresh session in bench order — a per-query
fresh-JVM number would charge the shared base to whichever query runs
first and credit nothing to the rest.

Usage:
    python tools/ann_family_bench.py [N] [QUERY ...]

Extra args override the default face list (same one-session protocol
for any family whose win is cross-query sharing — e.g. the r12
IVF-assignment/LSH-index memo faces).

Prints per-query cold + best-of-N and the family total (sum of bests,
plus the cold total), as one JSON line.  Run it alternately from the
old and new worktrees (fresh process each time, same protocol as
tools/BENCH_FRESH.json A/Bs).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

FAMILY = [
    "similarity_topk",
    "similarity_ivf_ann",
    "pq_ann",
    "ann_recall",
    "ann_recall_pq",
    "ndcg_eval",
    "hybrid_search",
]


def main() -> None:
    global FAMILY
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    if len(sys.argv) > 2:
        FAMILY = sys.argv[2:]
    from eventstreamd_spark.session import get_spark
    from eventstreamd_spark import queries_registry as reg

    # Validate overrides up front: a typo otherwise fails with an
    # opaque KeyError only after the Spark session has spun up.
    unknown = [q for q in FAMILY if q not in reg.QUERIES]
    if unknown:
        sys.exit(
            f"unknown queries: {unknown}\nvalid names: "
            + ", ".join(sorted(reg.QUERIES))
        )

    spark = get_spark("ann-family-bench")
    spark.sparkContext.setLogLevel("ERROR")

    out: dict[str, dict] = {}
    # Cold pass in bench order: this is where the shared bases are (or
    # are not) built, so the cold TOTAL is the headline number.
    for q in FAMILY:
        t0 = time.perf_counter()
        reg.QUERIES[q](spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()
        out[q] = {"cold": round(time.perf_counter() - t0, 4)}
    for q in FAMILY:
        runs = []
        for _ in range(n):
            t0 = time.perf_counter()
            reg.QUERIES[q](spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
            runs.append(time.perf_counter() - t0)
        out[q]["best"] = round(min(runs), 4)
    cold_total = round(sum(v["cold"] for v in out.values()), 3)
    best_total = round(sum(v["best"] for v in out.values()), 3)
    print(
        json.dumps(
            {
                "family_cold_total": cold_total,
                "family_best_total": best_total,
                "queries": out,
            }
        )
    )


if __name__ == "__main__":
    main()
