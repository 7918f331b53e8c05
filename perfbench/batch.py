"""Batch workload: registry queries in a fresh session.

The queries read ``data/documents.parquet``, a copy of the program's
fixed sf0.01 ``documents`` table (500 rows, generated with seed 42), so
``--seed`` does not change their inputs.  One request is one pass over
the query list that rebuilds the session's cached relations on a warm
JVM (``batch_host.py``); the cold first pass in the fresh session and
the warm-up passes are reported per layer only.  Each
query's result is fingerprinted after the timed passes and compared with
the fingerprint of its ``ORACLES`` SQL run by DuckDB over the same table.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass

from perfbench.sut import session_alive, sut_env, tree_rss_kb

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")

BATCH = {
    # the first consumer of the shared MinHash signatures and the
    # executor-side image decode; the registry queries that reuse their
    # session caches would lengthen every pass past the run budget
    "batch_registry": ("dedup_minhash_lsh", "media_perceptual_hashes"),
}
# rebuild passes that warm the JVM up before the measured ones, which
# run for ``--seconds`` seconds but at least MIN_PASSES times
WARMUP_PASSES = 2
MIN_PASSES = 3


def layer_units() -> dict[str, str]:
    """Every per-layer metric a traced batch run reports, with its unit."""
    units = {
        "session.start_s": "s",
        "queries_registry.cold_s": "s",
        "queries_registry.passes": "count",
        "trace.latency_p50_s": "s",
    }
    for names in BATCH.values():
        for n in names:
            for metric, unit in (
                ("cold_build_s", "s"), ("cold_exec_s", "s"), ("rebuild_s", "s"), ("jobs", "count"),
            ):
                units[f"queries_registry.{n}.{metric}"] = unit
    return units


@dataclass
class BatchResult:
    setup_s: float
    passes: list[float]  # the time of each measured pass
    attempted: int
    raised: list[str]
    mismatched: list[str]
    peak_rss_mb: float
    layers: dict[str, tuple[float, str]]


def _oracle_digests(names, cols: dict) -> dict:
    import duckdb

    from eventstreamd_spark.digest import sql_digest_arm
    from eventstreamd_spark.queries_registry import ORACLES

    con = duckdb.connect()
    try:
        path = os.path.join(DATA, "documents.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
        out = {}
        for n in names:
            row = con.execute(sql_digest_arm(n, ORACLES[n], cols[n])).fetchone()
            out[n] = (row[1], row[2])
        return out
    finally:
        con.close()


def run_batch(root: str, work: str, workload: str, seconds: int, traced: bool) -> BatchResult:
    names = BATCH[workload]
    out_path = os.path.join(work, "spans.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = [
        sys.executable, os.path.join(HERE, "batch_host.py"),
        "--sf-dir", DATA, "--queries", ",".join(names),
        "--warmup-passes", str(WARMUP_PASSES), "--seconds", str(seconds),
        "--min-passes", str(MIN_PASSES), "--out", out_path,
    ]
    if traced:
        cmd.append("--trace")
    peak_kb = 0
    with open(os.path.join(work, "batch.log"), "wb") as log:
        launched = time.time()
        proc = subprocess.Popen(
            cmd, cwd=work, env=sut_env(root, tmp), stdout=log, stderr=log,
            start_new_session=True,
        )
        try:
            while proc.poll() is None:
                peak_kb = max(peak_kb, tree_rss_kb(proc.pid))
                time.sleep(0.2)
        finally:
            if proc.poll() is None:
                proc.kill()
            proc.wait()
            while session_alive(proc.pid):
                time.sleep(0.05)
    if proc.returncode != 0:
        raise RuntimeError(f"batch host exited {proc.returncode}; see {work}/batch.log")
    with open(out_path, encoding="utf-8") as f:
        r = json.load(f)

    passes = [r["cold"], *r["warmup"], *r["measured"]]
    raised = [n for n in names if any("error" in p[n] for p in [*passes, r["digest"]])]
    ok = [n for n in names if n not in raised]
    want = _oracle_digests(ok, {n: r["digest"][n]["cols"] for n in ok})
    mismatched = [
        n for n in ok if (r["digest"][n]["n_rows"], r["digest"][n]["fp"]) != tuple(want[n])
    ]

    def took(call: dict) -> float:
        return call.get("build_s", 0.0) + call.get("exec_s", 0.0)

    layers: dict[str, tuple[float, str]] = {
        "session.start_s": (r["session"][1] - r["session"][0], "s"),
        "queries_registry.cold_s": (sum(took(c) for c in r["cold"].values()), "s"),
        "queries_registry.passes": (len(r["measured"]), "count"),
    }
    for n in names:
        c = r["cold"][n]
        layers[f"queries_registry.{n}.cold_build_s"] = (c.get("build_s", 0.0), "s")
        layers[f"queries_registry.{n}.cold_exec_s"] = (c.get("exec_s", 0.0), "s")
        layers[f"queries_registry.{n}.rebuild_s"] = (
            statistics.median(took(p[n]) for p in r["measured"]), "s"
        )
        layers[f"queries_registry.{n}.jobs"] = (c.get("jobs", 0), "count")
    times = [sum(took(c) for c in p.values()) for p in r["measured"]]
    layers["trace.latency_p50_s"] = (statistics.median(times), "s")
    return BatchResult(
        setup_s=r["ready"] - launched,
        passes=times,
        attempted=len(names),
        raised=raised,
        mismatched=mismatched,
        peak_rss_mb=peak_kb / 1024.0,
        layers=layers,
    )
