"""Bench-shaped session probe: per-query timing, and in-bench-only effects.

Usage:
    python tools/bench_probe.py [--prefix N] [--index] [--labels] \
        [--reps R] <target> [target ...]

Builds the SAME session as bench.py (8g driver, ERROR log level), runs the
same warmup, then optionally replays bench state:
  --index    run the ann_ivf_index_build line (kmeans memo + nz_base pass)
  --labels   run the dedup_cc_label_store_build line
  --prefix N run the first N HEADLINE queries with the bench's _clear sweep

then times each <target> query R times (default 3) with the bench's _clear
between runs. With no replay flag this is the low-noise per-query timer:
a fresh JVM holding only the requested queries, so the long-session
GC/python-worker stall class cannot fire, and the min of R cold runs is
the number a plan change has to move. Markers are printed to stderr with
wall-clock timestamps so DAGScheduler error bursts in the log can be
attributed to a query.
"""

from __future__ import annotations

import json
import os
import sys
import time
from datetime import datetime

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdatatiler_spark.registry import load_all
from bigdatatiler_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _mark(msg: str) -> None:
    print(f"### {datetime.now().strftime('%H:%M:%S.%f')[:-3]} {msg}",
          file=sys.stderr, flush=True)


def main() -> None:
    args = sys.argv[1:]
    prefix_n = 0
    do_index = do_labels = False
    reps = 3
    targets: list[str] = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--prefix":
            prefix_n = int(args[i + 1]); i += 2
        elif a == "--index":
            do_index = True; i += 1
        elif a == "--labels":
            do_labels = True; i += 1
        elif a == "--reps":
            reps = int(args[i + 1]); i += 2
        else:
            targets.append(a); i += 1
    if not targets:
        print(__doc__); sys.exit(2)

    import bench

    spark = get_spark("bigdatatiler-probe", extra_conf={"spark.driver.memory": "8g"})
    spark.sparkContext.setLogLevel("ERROR")
    specs = load_all()

    _mark("warmup start")
    bench._run(specs["events_filtered_topk"].fn(spark, SF_DIR))
    bench._warm_python_workers(spark)
    bench._clear(spark)
    _mark("warmup done")

    if do_index:
        from bigdatatiler_spark.operators.similarity import kmeans_centroids, nz_base
        from bigdatatiler_spark.tables import table as _table
        t0 = time.time()
        _ivf_base = nz_base(_table(spark, SF_DIR, "embeddings"))
        kmeans_centroids(_ivf_base, cache_key=("ivf", SF_DIR))
        _mark(f"index build done {time.time()-t0:.3f}s")
        bench._clear(spark)

    if do_labels:
        from bigdatatiler_spark.operators.graph import old_labels_path
        t0 = time.time()
        old_labels_path(spark, SF_DIR)
        _mark(f"label store done {time.time()-t0:.3f}s")
        bench._clear(spark)

    for name in bench.HEADLINE[:prefix_n]:
        spark.sparkContext.setJobDescription(f"prefix: {name}")
        t0 = time.time()
        bench._run(specs[name].fn(spark, SF_DIR))
        _mark(f"prefix {name} {time.time()-t0:.3f}s")
        bench._clear(spark)

    out: dict[str, list[float]] = {}
    for name in targets:
        runs = []
        for r in range(reps):
            spark.sparkContext.setJobDescription(f"target: {name} rep{r}")
            _mark(f"target {name} rep{r} start")
            t0 = time.time()
            bench._run(specs[name].fn(spark, SF_DIR))
            dt = round(time.time() - t0, 3)
            _mark(f"target {name} rep{r} done {dt}s")
            runs.append(dt)
            bench._clear(spark)
        out[name] = runs
    print(json.dumps(out))


if __name__ == "__main__":
    main()
