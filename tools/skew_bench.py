#!/usr/bin/env python
"""Planted-skew measurement for the skew tier (round-8, VERDICT ask
#4): ``salted_agg`` / ``salted_topk`` / ``key_skew_profile`` were
plan-tested but never measured against ACTUAL skew.  This tool plants
a zipf-shaped fixture (one user owns ~30% of rows), measures salted
vs unsalted wall time for the two aggregate shapes, and calibrates
``key_skew_profile``'s decision thresholds from the observed numbers.

The two shapes measure OPPOSITE verdicts on purpose:

- **count per key** (algebraic): map-side combine collapses the heavy
  key to one row per map task BEFORE the shuffle, so skew never
  reaches a reducer — salting only adds a second shuffle.  Expected:
  salted ~= or slower than unsalted.  The rule: never salt an
  aggregate whose partial state is O(1).
- **top-k per key** (collect_list-backed): the partial state IS the
  value list, so combine shrinks nothing — the hot key's every row
  lands on ONE reducer which then sorts them alone.  Salting bounds
  per-reducer state at n_salts x k.  Expected: salted wins, and the
  gap widens with skew.

Two skew intensities: 30% hot (10M rows) — where the hot reducer's
3M-value sort still fits one core comfortably and salting LOSES to
its own extra shuffle — and 90% hot (40M rows), where the straggler
bound reaches the core count (fully serialized reduce) and salting
wins on wall time outright.  The crossover, not a slogan, is the
calibration output.

Writes tools/SKEW_BENCH.json and prints the SCALE.md markdown.  Run
ALONE (no concurrent Spark), same rule as bench.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SCRATCH = os.path.join(REPO, ".scratch", "skew_zipf")
N_ROWS = 10_000_000
HOT_USER = 777
HOT_FRAC_PCT = 30
N_COLD_USERS = 50_000


def build_fixture(spark) -> str:
    from pyspark.sql import functions as F

    path = os.path.join(SCRATCH, "events_skew.parquet")
    if os.path.exists(path):
        return path
    os.makedirs(SCRATCH, exist_ok=True)
    df = spark.range(N_ROWS).select(
        F.when(F.col("id") % 10 < HOT_FRAC_PCT // 10, F.lit(HOT_USER))
        .otherwise(
            F.lit(1000) + F.pmod(F.xxhash64("id"), F.lit(N_COLD_USERS))
        )
        .cast("bigint")
        .alias("user_id"),
        ((F.col("id") % 100000).cast("double") / 100.0).alias("value"),
    )
    df.repartition(32).write.mode("overwrite").parquet(path)
    return path


def timed(df_fn, spark, runs: int = 3) -> float:
    """Best-of-N steady wall seconds (cold pass first)."""
    df_fn().write.format("noop").mode("overwrite").save()  # cold
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        df_fn().write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> None:
    from pyspark.sql import functions as F

    from eventstreamd_spark.operators import skew as sk
    from eventstreamd_spark.session import get_spark, load_table

    spark = get_spark("skew-bench")
    spark.sparkContext.setLogLevel("ERROR")

    path = build_fixture(spark)
    skewed = spark.read.parquet(path)

    results: dict = {"fixture": {"rows": N_ROWS, "hot_frac": 0.30}}

    # profile: planted fixture vs organic sf0.1 events (threshold calib)
    prof = sk.key_skew_profile(skewed, "user_id").collect()[0].asDict()
    organic = sk.key_skew_profile(
        load_table(spark, BASE, "events"), "user_id"
    ).collect()[0].asDict()
    results["profile_planted"] = {
        k: (round(v, 6) if isinstance(v, float) else v)
        for k, v in prof.items()
    }
    results["profile_organic"] = {
        k: (round(v, 6) if isinstance(v, float) else v)
        for k, v in organic.items()
    }

    # shape 1: algebraic count — expect no salting win (map-side combine)
    t_plain_count = timed(
        lambda: skewed.groupBy("user_id").agg(F.count("*").alias("n_rows")),
        spark,
    )
    t_salt_count = timed(lambda: sk.salted_agg(skewed, "user_id"), spark)
    results["count_per_key_30pct"] = {
        "unsalted_sec": round(t_plain_count, 3),
        "salted_sec": round(t_salt_count, 3),
        "salted_speedup": round(t_plain_count / t_salt_count, 2),
    }

    # shape 2: top-k via collect_list — the real straggler
    def plain_topk():
        return skewed.groupBy("user_id").agg(
            F.slice(
                F.sort_array(F.collect_list("value"), asc=False), 1, 5
            ).alias("topk")
        )

    t_plain_topk = timed(plain_topk, spark)
    t_salt_topk = timed(
        lambda: sk.salted_topk(skewed, "user_id", "value", k=5), spark
    )
    results["topk_per_key_30pct"] = {
        "unsalted_sec": round(t_plain_topk, 3),
        "salted_sec": round(t_salt_topk, 3),
        "salted_speedup": round(t_plain_topk / t_salt_topk, 2),
        # theoretical straggler share: the hot reducer's fraction of
        # the stage if work were spread evenly (max_count*cores/n_rows)
        "straggler_bound": round(
            prof["max_count"] * 32 / prof["n_rows"], 1
        ),
    }

    # harsher fixture: 40M rows, ONE key at 90% — the regime where the
    # single hot reducer IS the stage (straggler bound ~ cores: fully
    # serialized) and salting must win on wall time, not just memory
    p90 = os.path.join(SCRATCH, "events_skew90.parquet")
    if not os.path.exists(p90):
        big = spark.range(4 * N_ROWS).select(
            F.when(F.col("id") % 10 < 9, F.lit(HOT_USER))
            .otherwise(
                F.lit(1000) + F.pmod(F.xxhash64("id"), F.lit(N_COLD_USERS))
            )
            .cast("bigint")
            .alias("user_id"),
            ((F.col("id") % 100000).cast("double") / 100.0).alias("value"),
        )
        big.repartition(32).write.mode("overwrite").parquet(p90)
    skew90 = spark.read.parquet(p90)
    prof90 = sk.key_skew_profile(skew90, "user_id").collect()[0].asDict()
    results["profile_planted_90pct"] = {
        k: (round(v, 6) if isinstance(v, float) else v)
        for k, v in prof90.items()
    }

    def plain_topk90():
        return skew90.groupBy("user_id").agg(
            F.slice(
                F.sort_array(F.collect_list("value"), asc=False), 1, 5
            ).alias("topk")
        )

    t_plain_90 = timed(plain_topk90, spark, runs=1)
    t_salt_90 = timed(
        lambda: sk.salted_topk(skew90, "user_id", "value", k=5),
        spark,
        runs=1,
    )
    results["topk_per_key_90pct"] = {
        "unsalted_sec": round(t_plain_90, 3),
        "salted_sec": round(t_salt_90, 3),
        "salted_speedup": round(t_plain_90 / t_salt_90, 2),
        "straggler_bound": round(
            prof90["max_count"] * 32 / prof90["n_rows"], 1
        ),
    }

    # exactness cross-check: salted == unsalted on the planted fixture
    a = sk.salted_topk(skewed, "user_id", "value", k=5).withColumnRenamed(
        "topk", "topk_s"
    )
    b = plain_topk().withColumnRenamed("topk", "topk_p")
    mismatch = (
        a.join(b, "user_id")
        .filter(F.col("topk_s") != F.col("topk_p"))
        .count()
    )
    results["salted_topk_exact"] = mismatch == 0

    out = os.path.join(REPO, "tools", "SKEW_BENCH.json")
    with open(out, "w") as fh:
        json.dump(results, fh, indent=1)
    print(f"\nwrote {out}\n")
    print(json.dumps(results, indent=1))


if __name__ == "__main__":
    main()
