#!/usr/bin/env python3
"""sf1.0 (10×) stress sweep — VERDICT r4 top item: back every "scales"
docstring claim with measured per-query scaling.

Runs the flagship pipeline plus the heaviest registry queries at sf0.1
and at sf1.0 (scripts/make_sf.py output; the transcript table
auto-scales to 12M turns via sf_of_dir). Each timing is a fresh plan
executed with a noop write (computes everything, collects nothing, and
never reuses shuffle stages of a previously collected plan — the
bench.py discipline). Queries run in the same order at both scale
factors so shared-cache warm states (the tx slim frame) are comparable.

A 10× input on fixed cores should cost ~10×; the sweep flags anything
super-linear beyond RATIO_FLAG (12× — headroom for shuffle/spill
constants) for a plan fix.

Usage: python scripts/stress_sweep.py [out_json]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF01 = "/root/testdata/sf0.1"
SF10 = "/tmp/spark_graft_testdata/sf1.0"
RATIO_FLAG = 12.0

HEAVY = [
    "token_bucket_events", "tx_redundancy", "tx_cube_tool_usage",
    "ngram_jaccard_pairs", "semantic_dedup_embeddings",
    "csv_parse_lineitem", "ks_drift_events", "ann_map_embeddings",
    "tx_conv_stats_arrow", "pca_alignment", "ann_mrr_embeddings",
    "containment_pairs", "rouge_pairs_documents", "ann_ndcg_embeddings",
    "simhash_calibration", "substring_span_pairs", "kcore_peel_documents",
    "dedup_roi_curve_documents", "dedup_clusters",
    "line_dedup_documents", "minhash_lsh_pairs", "exact_dedup_documents",
    "decode_png_documents", "png_ahash_documents",
    "kcenter_select_embeddings",
]


def noop(thunk) -> float:
    """Time plan CONSTRUCTION + full execution (noop write: computes
    everything, collects nothing). The thunk matters: iterative queries
    (star-CC, k-means) do eager driver-side rounds with localCheckpoint
    DURING construction — timing only the final frame would measure
    nothing (the first sweep recorded semantic_dedup at 0.03 s that
    way). Two samples, min: the first big run after a size change pays
    the C2-JIT cliff bench.py documents (observed 55 s vs 7 s warm on
    the sf1.0 flagship)."""
    def one() -> float:
        t0 = time.monotonic()
        thunk().write.format("noop").mode("overwrite").save()
        return time.monotonic() - t0
    return min(one(), one())


def main() -> int:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "STRESS_r5.json"
    subprocess.run([sys.executable, "scripts/make_sf.py"], check=True)

    import __spark_entry__ as E
    from log_collector_spark.plans import pipeline as pl
    from log_collector_spark.session import get_spark

    spark = get_spark(app_name="stress-sweep")
    qs = E.queries()

    # pre-generate both transcript caches outside any timing
    for sf in (SF01, SF10):
        pl.transcripts_path(sf)

    # JVM/Arrow/C2 warmup: the codegen+Arrow hot loops keep compiling for
    # the first ~2 min of a session (bench.py's documented cliff) — ramp
    # on un-timed flagship passes so the measured runs sit past it
    t_ramp = time.monotonic()
    while time.monotonic() - t_ramp < 110:
        pl.full_pipeline(spark, SF01).write.format("noop") \
            .mode("overwrite").save()

    results: dict[str, dict] = {}

    def clear_caches() -> None:
        from log_collector_spark.textops import dedup as D
        from log_collector_spark.textops import evalops as EV
        E.clear_routed_slim()
        D.unpersist_shingles()
        EV.unpersist_eval()

    def run_scale(sf_dir: str, key: str) -> None:
        clear_caches()
        t = noop(lambda: pl.full_pipeline(spark, sf_dir))
        results.setdefault("flagship_pipeline", {})[key] = round(t, 3)
        for name in HEAVY:
            sec = noop(lambda: qs[name](spark, sf_dir))
            results.setdefault(name, {})[key] = round(sec, 3)
            print(f"  {name} @ {key}: {sec:.2f}s", flush=True)
        clear_caches()

    print("=== sf0.1 pass ===", flush=True)
    run_scale(SF01, "sec_sf01")
    print("=== sf1.0 pass ===", flush=True)
    run_scale(SF10, "sec_sf10")

    flagged = []
    for name, r in results.items():
        r["ratio"] = round(r["sec_sf10"] / max(r["sec_sf01"], 1e-9), 2)
        if r["ratio"] > RATIO_FLAG:
            flagged.append(name)
    payload = {"sf_lo": 0.1, "sf_hi": 1.0, "ratio_flag": RATIO_FLAG,
               "flagged": flagged, "results": results}
    with open(out_path, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    print(json.dumps({"flagged": flagged,
                      "n": len(results)}), flush=True)
    for name, r in sorted(results.items(), key=lambda kv: -kv[1]["ratio"]):
        print(f"{r['ratio']:6.2f}x  {r['sec_sf01']:7.2f} -> "
              f"{r['sec_sf10']:8.2f}  {name}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
