"""Core-count scaling at 10× data: are the heavy kernels compute-bound?

r12 PERF showed the sf0.1 bench is overhead-bound (8-core total ≈ 32-core
total), so per-query "parallelizes" claims rested on numbers dominated by
planning/dispatch. This tool times a heavy-kernel slice against the
DISJOINT 10× fixture (tools/scale_study.py --disjoint — the largest
fixture that fits, ~10× sf0.1 with honest cardinalities and 1×-equivalent
near-dup density) at two core counts, each in its OWN subprocess/JVM
(master local[N] + shuffle partitions derive from SPARK_GRAFT_CPUS, the
same env the driver varies), min-of-N per query, and reports the
8→32-core speedup per query.

Usage: python tools/scaling_cores.py [out.json]
       python tools/scaling_cores.py --worker <cpus> <sf_dir> <reps> <names...>
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: the heavy kernels (top bench lines whose cost is corpus compute, not
#: fixed machinery) + two scan/agg controls known to be latency-bound
QUERIES = (
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_minhash_lsh_capped",
    "dedup_edit_distance",
    "knn_bruteforce_cosine",
    "setops_customer_cohorts",
    "sketch_kmv_distinct",
    "sketch_frequent_tokens",
    "skew_salted_user_activity",
    "doc_token_stats",
    "dedup_prefix_filter_jaccard",
    "doc_duplicate_spans",
    "doc_rake_keyphrases",
    "ann_pq_adc_topk",
    # controls (expected ratio ≈ 1: per-query fixed cost dominates)
    "orders_page_keyset",
    "tpch_q6_forecast_revenue",
)

CORES = (32, 8)
REPS = 2


def worker() -> int:
    cpus, sf_dir, reps = sys.argv[2], sys.argv[3], int(sys.argv[4])
    names = sys.argv[5:]
    os.environ["SPARK_GRAFT_CPUS"] = cpus

    import time

    from bigdatatiler_spark.registry import load_all
    from bigdatatiler_spark.session import get_spark

    spark = get_spark(
        f"scaling-cores-{cpus}", extra_conf={"spark.driver.memory": "8g"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    specs = load_all()

    import bench

    bench._run(specs["events_filtered_topk"].fn(spark, sf_dir))
    bench._warm_python_workers(spark)
    bench._clear(spark)
    out = {}
    for name in names:
        runs = []
        for _ in range(reps):
            t0 = time.time()
            bench._run(specs[name].fn(spark, sf_dir))
            runs.append(round(time.time() - t0, 3))
            bench._clear(spark)
        out[name] = min(runs)
        print(f"# local[{cpus}] {name}: min={min(runs)} runs={runs}",
              file=sys.stderr, flush=True)
    print(json.dumps(out))
    return 0


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "--worker":
        return worker()
    out_path = sys.argv[1] if len(sys.argv) > 1 else "SCALING_r13.json"

    import tools.scale_study as ss

    dest = ss.DEST + "_disjoint"
    if not os.path.exists(os.path.join(dest, "events.parquet")):
        ss.build(dest=dest, disjoint=True)

    results: dict[int, dict[str, float]] = {}
    for cores in CORES:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--worker",
             str(cores), dest, str(REPS), *QUERIES],
            capture_output=True, text=True,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        sys.stderr.write(proc.stderr[-4000:])
        line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
        results[cores] = json.loads(line)

    report = {
        name: {
            "t32_sec": results[32][name],
            "t8_sec": results[8][name],
            "speedup_8_to_32": (
                round(results[8][name] / results[32][name], 2)
                if results[32][name] > 0 else None
            ),
        }
        for name in QUERIES
    }
    with open(out_path, "w") as f:
        json.dump(
            {"fixture": dest, "copies": ss.COPIES, "disjoint": True,
             "reps_min_of": REPS, "queries": report},
            f, indent=1,
        )
        f.write("\n")
    for name, r in report.items():
        print(f"{name}: 32c={r['t32_sec']}s 8c={r['t8_sec']}s "
              f"ratio={r['speedup_8_to_32']}")
    print(f"wrote {out_path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
