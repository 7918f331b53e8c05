"""The repository's benchmark: one command per workload.

    python3 perfbench/run.py --workload live_fanout --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout.  It starts the system under test in
fresh processes, drives it, checks every output against its own oracle,
prints each metric by name and unit, a summary and, as the last line,
one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` makes a
separate traced run and reports the per-layer metrics instead.  The exit
code is 0 only when every output was correct and the run was valid.
"""

from __future__ import annotations

import argparse
import asyncio
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import selftest  # noqa: E402
from perfbench.workloads import LIVE  # noqa: E402


def _percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    ordered = sorted(values)
    rank = max(1, -(-len(ordered) * q // 100))
    return ordered[int(rank) - 1]


def _host() -> dict:
    """What the numbers were measured on."""
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    java = subprocess.run(
        ["java", "-version"], capture_output=True, text=True
    ).stderr.splitlines()
    import pyspark

    commit = "unknown"
    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, check=True,
        ).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        pass  # a plain checkout is not a git repository
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": java[0] if java else "unknown",
        "commit": commit,
    }


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _live(args, work: str) -> tuple[dict, dict, dict, int, int, float]:
    from perfbench.live import MAX_LATENESS_S, run_live

    spec = LIVE[args.workload]
    r = asyncio.run(run_live(ROOT, work, spec, args.seed, args.seconds, bool(args.trace)))
    failed = r.missing + r.wrong + r.duplicate
    summary = {
        "subscribers": spec.subscribers,
        "subscriptions": spec.subscriptions,
        "rate_per_s": spec.rate,
        "samples": len(r.latencies),
        "missing": r.missing,
        "wrong": r.wrong,
        "duplicate": r.duplicate,
        "latency_max_s": max(r.latencies),
        "generator_lateness_max_s": r.lateness_max_s,
        "valid": r.lateness_max_s <= MAX_LATENESS_S,
    }
    e2e = {
        "setup_s": r.setup_s,
        "latency_p50_s": statistics.median(r.latencies),
        "latency_p99_s": _percentile(r.latencies, 99),
    }
    return summary, e2e, r.layers or {}, r.attempted, failed, r.peak_rss_mb


def _batch(args, work: str) -> tuple[dict, dict, dict, int, int, float]:
    from perfbench.batch import run_batch

    r = run_batch(ROOT, work, args.workload, args.seconds, bool(args.trace))
    summary = {
        "inputs": "fixed sf0.01 documents table (seed 42) in perfbench/data; --seed does not change it",
        "queries": r.attempted,
        "cold_pass_s": r.layers["queries_registry.cold_s"][0],
        "passes_s": r.passes,
        "raised": r.raised,
        "mismatched": r.mismatched,
        "valid": True,
    }
    # one request is one measured pass over the query list; with fewer
    # than 100 passes the p99 is the slowest
    e2e = {
        "setup_s": r.setup_s,
        "latency_p50_s": statistics.median(r.passes),
        "latency_p99_s": _percentile(r.passes, 99),
    }
    failed = len(r.raised) + len(r.mismatched)
    return summary, e2e, r.layers, r.attempted, failed, r.peak_rss_mb


def _layer_units() -> dict[str, str]:
    """Every per-layer metric, with its unit.  Each traced run reports all
    of them; a layer its workload does not exercise reads 0."""
    from perfbench import trace
    from perfbench.batch import layer_units

    return {**trace.UNITS, **layer_units(), "fail_frac": "ratio", "peak_rss_mb": "MB"}


def main() -> int:
    from perfbench.batch import BATCH

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(LIVE) + sorted(BATCH))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # stop like on Ctrl-C, so the finally blocks stop the system under test
    signal.signal(signal.SIGTERM, signal.default_int_handler)

    if not os.path.isdir(os.path.join(ROOT, "eventstreamd_spark")):
        print("error: run from a checkout that holds eventstreamd_spark/", file=sys.stderr)
        return 2
    failures = selftest.run()
    if failures:
        for f in failures:
            print(f"oracle self-test failed: {f}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        run = _live if args.workload in LIVE else _batch
        summary, e2e, layers, attempted, failed, peak_rss_mb = run(args, work)
    finally:
        # keep a traced run's span file; everything else goes
        spans = os.path.join(work, "spans.json")
        if args.trace and os.path.exists(spans):
            kept = os.path.join(os.path.dirname(work), f"spans-{args.workload}-{args.seed}.json")
            shutil.copy(spans, kept)
            print(f"span file: {os.path.relpath(kept, ROOT)}")
        shutil.rmtree(work, ignore_errors=True)

    fail_frac = failed / attempted
    for name, value, unit in (
        *((name, value, "s") for name, value in e2e.items()),
        ("fail_frac", fail_frac, "ratio"),
        ("peak_rss_mb", peak_rss_mb, "MB"),
    ):
        print(f"{name} = {value:.6g} {unit}")
    head = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds, "traced": bool(args.trace)}
    print(json.dumps({**head, **summary, "host": _host()}))
    if not summary["valid"]:
        print("invalid run: the generator fell behind schedule", file=sys.stderr)
        return 3
    if args.trace:
        layers = {**layers, "fail_frac": (fail_frac, "ratio"), "peak_rss_mb": (peak_rss_mb, "MB")}
        metrics = {
            name: _metric(layers[name][0] if name in layers else 0, unit)
            for name, unit in _layer_units().items()
        }
    else:
        metrics = {name: _metric(value, "s") for name, value in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
