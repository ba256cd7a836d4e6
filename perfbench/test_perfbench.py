"""Smoke tests of the benchmark itself, at sf 0.001 with one-second runs.

Run from the repository root (each case starts its own Spark session,
so the module takes a few minutes):

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def run(workload: str, trace: int, *extra: str, seed: int = 3) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--sf", "0.001", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def assert_metrics(out: dict, specs: list[dict]) -> None:
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    for m in specs:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    assert set(out["metrics"]) == {m["name"] for m in specs}


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_untraced_run_prints_every_end_to_end_metric(workload):
    out = run(workload, 0)
    assert_metrics(out, BENCH["end_to_end"])
    assert out["correct"] is True
    assert out["attempted"] >= 1 and out["failed"] == 0  # error_rate 0
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_traced_run_prints_every_per_layer_metric():
    out = run("logstore_read", 1)
    assert_metrics(out, BENCH["per_layer"])
    assert out["failed"] == 0
    m = out["metrics"]
    for method in ("point_read", "create"):
        assert m[f"logstore.store.{method}.exec_ms"]["value"] > 0
    assert m["logstore.store.partitions"]["value"] == 15


@pytest.mark.parametrize("workload", ["logstore_ingest", "analytics_batch"])
def test_injected_wrong_result_counts_as_failed(workload):
    out = run(workload, 0, "--inject-wrong")
    assert out["correct"] is False
    assert 1 <= out["failed"] <= out["attempted"]


def test_refuses_to_run_without_the_package(tmp_path):
    for name in ("run.py", "workloads.py", "fixtures.py", "tracing.py"):
        (tmp_path / "perfbench").mkdir(exist_ok=True)
        (tmp_path / "perfbench" / name).write_text(open(os.path.join(HERE, name)).read())
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "logstore_read",
                        "--seed", "1", "--seconds", "1"], cwd=tmp_path,
                       capture_output=True, text=True, timeout=120)
    assert p.returncode != 0 and p.stdout == ""
