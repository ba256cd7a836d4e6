"""Benchmark for the log store and the batch query surface.

Usage (from the repository root):

    python3 perfbench/run.py --workload logstore_read --seed 1 --seconds 20 --trace 0

Workloads: ``logstore_read``, ``logstore_ingest``, ``analytics_batch``
(see workloads.py and LAYERS.md). One Python process, one client thread,
``local[N]`` with N = min(4, cores). Every run gets a fresh work directory
under ``perfbench/_work`` (also TMPDIR and SPARK_LOCAL_DIRS, so no store
or memo survives from an earlier run) and deletes it on exit.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. Lines before it give every
timing as median, the highest percentile with at least ten samples beyond
it, and the sample count.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("logstore_read", "logstore_ingest", "analytics_batch")
END_TO_END = {
    "setup_s": "s",
    "op_geomean_ms": "ms",
    "throughput_per_s": "1/s",
    "peak_rss_mb": "MB",
}


def per_layer_names() -> list[str]:
    from workloads import BATCH_MODULES, STORE_METHODS

    names = ["session.get_spark_s", "registry.load_all_s"]
    for m in STORE_METHODS:
        names += [f"logstore.store.{m}.{k}" for k in ("build_ms", "exec_ms", "jobs", "tasks", "rows_per_task")]
    names += [
        "logstore.store.files", "logstore.store.partitions", "logstore.store.bytes",
        "logstore.store.bytes_per_payload_byte",
        "logstore.tile.tile_bytecap.call_s", "logstore.tile.tile_bytecap.jobs",
        "logstore.tile.chunks_per_record", "logstore.tile.split_share",
        "logstore.tile.reassemble.exec_ms",
        "logstore.codec.zip_s", "logstore.codec.unzip_s", "logstore.codec.zip_ratio",
    ]
    for m in BATCH_MODULES:
        names += [f"{m}.{k}" for k in ("build_s", "exec_s", "jobs", "stages")]
    names += ["batch.build_share"]
    names += [f"spark.{k}" for k in ("jobs", "stages", "tasks", "failed_tasks", "stage_retries")]
    names += ["trace.bookkeeping_s"]
    return names


def percentile_line(name: str, values: list[float], unit: str) -> str:
    """Median, the highest of p90/p99/p99.9 with >= 10 samples beyond it,
    and the sample count."""
    n = len(values)
    if not n:
        return f"{name}: no samples"
    s = sorted(values)
    out = f"{name}: p50={statistics.median(s):.4f} {unit}"
    best = None
    for p in (0.9, 0.99, 0.999):
        if n * (1 - p) >= 10:
            best = p
    if best is not None:
        out += f" p{best * 100:g}={s[min(n - 1, math.ceil(best * n) - 1)]:.4f} {unit}"
    else:
        out += " (too few samples for p90)"
    return out + f" n={n}"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="input scale factor (default: the workload's own)")
    ap.add_argument("--spans-out", default=None,
                    help="traced runs: write the spans as JSON here")
    ap.add_argument("--inject-wrong", action="store_true",
                    help="corrupt one expectation, to test that wrong results count as failed")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "bigdatatiler_spark")):
        print(f"perfbench: no bigdatatiler_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    try:
        return _run(args, work, tmp, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work, tmp, t_start) -> int:
    cores = min(4, os.cpu_count() or 1)
    # spark-submit's launcher JVM takes its options from SPARK_LAUNCHER_OPTS
    os.environ.update(TMPDIR=tmp, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
                      SPARK_GRAFT_CPUS=str(cores),
                      SPARK_LAUNCHER_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    from tracing import PeakRss

    rss = PeakRss()
    with rss:
        t0 = time.perf_counter()
        from bigdatatiler_spark.session import get_spark

        # A run lasts well under a minute, so the JVM is set up for short
        # runs: C1 only, whose compiles settle within the warm-up instead of
        # C2's settling at a run-dependent point mid-measurement, and a heap
        # touched up front, so resident memory does not hang on GC timing.
        spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf={
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
                " -Xms2g -XX:+AlwaysPreTouch"
            ),
        })
        spark.sparkContext.setLogLevel("ERROR")
        get_spark_s = time.perf_counter() - t0
        try:
            return _measure(args, work, spark, rss, t_start, get_spark_s)
        finally:
            _stop(spark)


def _stop(spark) -> None:
    """Stop the session and wait for the JVM this process started."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort, then reap
            proc.kill()
            proc.wait(timeout=30)


def _measure(args, work, spark, rss, t_start, get_spark_s) -> int:
    import numpy as np

    import workloads as W
    from tracing import Tracer

    tracer = Tracer(bool(args.trace), spark.sparkContext)
    t0 = time.perf_counter()
    from bigdatatiler_spark.registry import load_all

    specs = load_all()
    load_all_s = time.perf_counter() - t0

    rng = np.random.default_rng(args.seed)
    cls = {"logstore_read": W.LogStoreRead, "logstore_ingest": W.LogStoreIngest,
           "analytics_batch": W.AnalyticsBatch}[args.workload]
    ctx = W.Ctx(spark, tracer, rng, work, args.sf if args.sf is not None else cls.default_sf)
    wl = cls(ctx, specs) if cls is W.AnalyticsBatch else cls(ctx)
    with tracer.span(f"workload.{args.workload}.setup"):
        wl.setup()
    if args.inject_wrong:
        _inject_wrong(wl)
    setup_s = time.perf_counter() - t_start

    ops: list[tuple[str, float, bool]] = []
    t_meas = time.perf_counter()
    deadline = t_meas + args.seconds
    with tracer.span(f"workload.{args.workload}"):
        while not ops or time.perf_counter() < deadline:
            t_op = time.perf_counter()
            try:
                ops += wl.step()
            except Exception as e:  # noqa: BLE001 - a failed op, not a crash
                ctx.failures.append(f"{type(e).__name__}: {str(e)[:300]}")
                ops.append(("error", time.perf_counter() - t_op, False))
            ctx.op_id += 1
    measured_s = time.perf_counter() - t_meas

    layer = {}
    if args.trace:
        layer = _layers(wl, tracer, W, get_spark_s, load_all_s)

    attempted = len(ops)
    failed = sum(1 for _, _, ok in ops if not ok)
    lat = wl.latencies()
    if args.workload == "logstore_ingest":
        units = len(lat) * wl.batch_records
    else:
        units = attempted - failed
    e2e = {
        "setup_s": setup_s,
        "op_geomean_ms": math.exp(statistics.fmean(math.log(x) for x in lat)) * 1e3,
        "throughput_per_s": units / measured_s,
        "peak_rss_mb": rss.peak_mb,
    }
    _report(args, ops, wl, e2e, attempted, failed, measured_s, ctx)
    if args.trace and args.spans_out:
        with open(args.spans_out, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "spans": tracer.spans, "self_s": tracer.self_times()}, f)
    metrics = (
        {k: {"value": layer.get(k, 0.0), "unit": _layer_unit(k)} for k in per_layer_names()}
        if args.trace
        else {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    )
    print(json.dumps({"correct": failed == 0 and bool(lat), "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


def _inject_wrong(wl) -> None:
    """Corrupt expectations so checked ops must fail: the first query's
    digest, or every payload md5 a store read is checked against."""
    if hasattr(wl, "expect"):
        q = next(iter(wl.expect))
        cols, (n, _) = wl.expect[q]
        wl.expect[q] = (cols, (n, "0" * 16))
    else:
        wl.corrupt = True


_LEAF_UNITS = {
    "bytes": "bytes", "rows_per_task": "rows/task", "chunks_per_record": "rows/record",
    "split_share": "ratio", "build_share": "ratio", "zip_ratio": "ratio",
    "bytes_per_payload_byte": "ratio",
}


def _layer_unit(name: str) -> str:
    leaf = name.rsplit(".", 1)[-1]
    if leaf.endswith("_ms"):
        return "ms"
    if leaf.endswith("_s"):
        return "s"
    return _LEAF_UNITS.get(leaf, "count")


def _layers(wl, tracer, W, get_spark_s, load_all_s) -> dict[str, float]:
    """Per-layer numbers: per-call means for the store methods, per-pass
    sums for the batch modules."""
    s = tracer.sums
    out = {"session.get_spark_s": get_spark_s, "registry.load_all_s": load_all_s}
    for m in W.STORE_METHODS:
        p = f"logstore.store.{m}"
        calls = s.get(f"{p}.calls", 0)
        if calls:
            for k in ("build_ms", "exec_ms", "jobs", "tasks"):
                out[f"{p}.{k}"] = s[f"{p}.{k}"] / calls
            out[f"{p}.rows_per_task"] = s[f"{p}.rows"] / max(s[f"{p}.tasks"], 1)
    tb = "logstore.tile.tile_bytecap"
    if s.get(f"{tb}.calls"):
        out[f"{tb}.call_s"] = s[f"{tb}.call_s"] / s[f"{tb}.calls"]
        out[f"{tb}.jobs"] = s[f"{tb}.jobs"] / s[f"{tb}.calls"]
    if hasattr(wl, "layers"):
        out.update(wl.layers())
    if isinstance(wl, W.AnalyticsBatch):
        passes = max(len(wl.pass_s), 1)
        build = execute = 0.0
        for m in W.BATCH_MODULES:
            b, e = s.get(f"{m}.build_ms", 0.0) / 1e3, s.get(f"{m}.exec_ms", 0.0) / 1e3
            build, execute = build + b, execute + e
            out[f"{m}.build_s"] = b / passes
            out[f"{m}.exec_s"] = e / passes
            out[f"{m}.jobs"] = s.get(f"{m}.jobs", 0) / passes
            out[f"{m}.stages"] = s.get(f"{m}.stages", 0) / passes
        out["batch.build_share"] = build / max(build + execute, 1e-9)
    for k in ("jobs", "stages", "tasks", "failed_tasks", "stage_retries"):
        out[f"spark.{k}"] = s.get(f"spark.{k}", 0)
    out["trace.bookkeeping_s"] = tracer.bookkeeping_s
    return out


def _report(args, ops, wl, e2e, attempted, failed, measured_s, ctx) -> None:
    """Human-readable lines (everything before the final JSON line)."""
    print(f"workload={args.workload} seed={args.seed} sf={ctx.sf} seconds={args.seconds} "
          f"trace={args.trace} measured_s={measured_s:.3f}")
    print(f"error_rate={failed / max(attempted, 1):.4f} (failed={failed} attempted={attempted})")
    for f in ctx.failures[:10]:
        print(f"  failure: {f}")
    by_kind: dict[str, list[float]] = {}
    for kind, dt, ok in ops:
        if ok:
            by_kind.setdefault(kind, []).append(dt * 1e3)
    print(percentile_line("op_latency", [dt * 1e3 for dt in wl.latencies()], "ms"))
    if args.workload.startswith("logstore_"):
        for kind, v in sorted(by_kind.items()):
            print("  " + percentile_line(kind, v, "ms"))
        reads = [v for k, vs in by_kind.items() if k != "append" for v in vs]
        print(percentile_line("read_latency", reads, "ms"))
        line = (f"read_ops_per_s={len(reads) / measured_s:.4f} 1/s  "
                f"read_p50_ms={statistics.median(reads) if reads else float('nan'):.4f} ms")
        if args.workload == "logstore_ingest":
            line += (f"  ingest_records_per_s={e2e['throughput_per_s']:.4f} 1/s  "
                     f"ingest_batch_p50_s={statistics.median(wl.latencies()):.4f} s")
        print(line)
    else:
        print(f"batch_pass_s={statistics.median(wl.pass_s):.4f} s (passes={len(wl.pass_s)})  "
              f"batch_geomean_s={e2e['op_geomean_ms'] / 1e3:.4f} s")
        for q, v in wl.query_s.items():
            print("  " + percentile_line(q, [dt * 1e3 for dt in v], "ms"))
    if hasattr(wl, "describe"):
        print("inputs: " + json.dumps(wl.describe()))
        lay = wl.layout()
        print(f"stored_bytes_per_payload_byte={lay['logstore.store.bytes_per_payload_byte']:.4f} "
              f"files={lay['logstore.store.files']} partitions={lay['logstore.store.partitions']}")
    for k, v in e2e.items():
        print(f"{k}={v:.4f} {END_TO_END[k]}")


if __name__ == "__main__":
    sys.exit(main())
