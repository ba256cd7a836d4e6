"""Render one traced run's per-layer table as Markdown.

Usage (from the repository root):

    python3 perfbench/layer_table.py --workload logstore_read --seed 1 --seconds 6

Runs the workload untraced and then traced with the same seed and prints
the per-layer metrics the workload touched, the self time of each span
name, and the tracing overhead: traced minus untraced end-to-end metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import END_TO_END  # noqa: E402


def _run(args, trace: int, spans: str | None = None) -> tuple[list[str], dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)]
    if spans:
        cmd += ["--spans-out", spans]
    p = subprocess.run(cmd, capture_output=True, text=True, check=True)
    lines = p.stdout.strip().splitlines()
    return lines[:-1], json.loads(lines[-1])


def _e2e(lines: list[str]) -> dict[str, float]:
    """The ``<metric>=<value> <unit>`` lines run.py prints last."""
    out = {}
    for line in lines:
        name, _, rest = line.partition("=")
        if name in END_TO_END:
            out[name] = float(rest.split()[0])
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    args = ap.parse_args()
    plain_lines, plain = _run(args, 0)
    os.makedirs(os.path.join(HERE, "_work"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(HERE, "_work")) as d:
        spans_path = os.path.join(d, "spans.json")
        traced_lines, traced = _run(args, 1, spans_path)
        with open(spans_path) as f:
            spans = json.load(f)
    base, with_trace = _e2e(plain_lines), _e2e(traced_lines)

    print(f"## {args.workload} (seed {args.seed}, {args.seconds:g} s)\n")
    print("Untraced run:\n\n```")
    print("\n".join(plain_lines))
    print("```\n")
    print("| end-to-end metric | untraced | traced | tracing overhead |")
    print("|---|---:|---:|---:|")
    for k, unit in END_TO_END.items():
        a, b = base[k], with_trace[k]
        print(f"| {k} ({unit}) | {a:.4f} | {b:.4f} | {b - a:+.4f} ({(b - a) / a:+.1%}) |")
    print(f"\nTraced run: attempted={traced['attempted']} failed={traced['failed']}\n")
    print("| per-layer metric | value | unit |")
    print("|---|---:|---|")
    for k, v in traced["metrics"].items():
        if v["value"]:
            print(f"| {k} | {v['value']:.4f} | {v['unit']} |")
    print("\n| span | self time (s) |")
    print("|---|---:|")
    for k, v in sorted(spans["self_s"].items(), key=lambda kv: -kv[1]):
        print(f"| {k} | {v:.4f} |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
