"""System under test for the batch workload: one fresh Spark session.

Calls ``queries_registry.QUERIES[name](spark, sf_dir)`` for each query of
the list and forces the result with a ``noop`` write, as ``bench.py``
does.  The first pass runs in the fresh session (cold).  Before each
later pass every temp view and cached relation of the session is
dropped, so each rebuilds the session-cached relations (MinHash
signatures, decoded media).  ``--warmup-passes`` of them warm the JVM
up; the measured ones then run for ``--seconds`` seconds, and at least
``--min-passes`` times.  Afterwards
it fingerprints each result with ``digest.digest_frame`` so the runner
can compare it with the DuckDB oracle.  With ``--trace`` every cold call
runs in its own Spark job group, so its jobs can be counted through
``statusTracker``.  Writes one JSON document to ``--out``.

Usage (the runner starts it):
    python3 perfbench/batch_host.py --sf-dir DIR --queries a,b \
        --warmup-passes W --seconds S --min-passes N --out FILE
"""

from __future__ import annotations

import argparse
import json
import time


def _timed(spark, sf_dir: str, name: str, group: str | None) -> dict:
    from eventstreamd_spark.queries_registry import QUERIES

    sc = spark.sparkContext
    if group:
        sc.setJobGroup(group, "perfbench")
    t0 = time.time()
    try:
        df = QUERIES[name](spark, sf_dir)
        t1 = time.time()
        df.write.format("noop").mode("overwrite").save()
    except Exception as exc:  # a failing query is counted, not fatal
        return {"error": f"{type(exc).__name__}: {exc}"[:500]}
    out = {"build_s": t1 - t0, "exec_s": time.time() - t1}
    if group:
        out["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out


def _drop_session_caches(spark) -> None:
    """Forget every temp view and cached relation of the session."""
    # SHOW VIEWS, not catalog.listTables(), which looks up every table
    # and takes about a second
    for view in spark.sql("SHOW VIEWS").collect():
        if view.isTemporary:
            spark.catalog.dropTempView(view.viewName)
    spark.catalog.clearCache()


def _fingerprint(spark, sf_dir: str, name: str) -> dict:
    from eventstreamd_spark.digest import digest_frame, kind_of
    from eventstreamd_spark.queries_registry import QUERIES

    try:
        df = QUERIES[name](spark, sf_dir)
        cols = [(f.name, kind_of(f.dataType.simpleString())) for f in df.schema.fields]
        row = digest_frame(df, name, cols).collect()[0]
    except Exception as exc:
        return {"error": f"{type(exc).__name__}: {exc}"[:500]}
    return {"cols": cols, "n_rows": row["n_rows"], "fp": row["fp"]}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--queries", required=True)
    ap.add_argument("--warmup-passes", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--min-passes", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()
    names = args.queries.split(",")

    from eventstreamd_spark.session import get_spark, load_table

    t0 = time.time()
    spark = get_spark("perfbench-batch")
    session = [t0, time.time()]
    # first table read: the scan every query of the list starts from
    load_table(spark, args.sf_dir, "documents").write.format("noop").mode("overwrite").save()
    ready = time.time()
    cold = {n: _timed(spark, args.sf_dir, n, f"cold-{n}" if args.trace else None) for n in names}

    def rebuild() -> dict:
        _drop_session_caches(spark)
        return {n: _timed(spark, args.sf_dir, n, None) for n in names}

    warmup = [rebuild() for _ in range(args.warmup_passes)]
    measured = []
    until = time.time() + args.seconds
    while len(measured) < args.min_passes or time.time() < until:
        measured.append(rebuild())
    digests = {n: _fingerprint(spark, args.sf_dir, n) for n in names}
    with open(args.out, "w", encoding="utf-8") as f:
        json.dump(
            {
                "session": session, "ready": ready, "cold": cold, "warmup": warmup,
                "measured": measured, "digest": digests,
            },
            f,
        )
    spark.stop()


if __name__ == "__main__":
    main()
