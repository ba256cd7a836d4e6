"""The bench CLI: ``python bench.py NAME... --prefix N --reps R`` times the
first N bench lines, then each NAME, and prints the same two JSON lines as
a full run, restricted to the lines it timed."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_cli_times_prefix_then_named_lines():
    proc = subprocess.run(
        [sys.executable, "bench.py", "events_filtered_topk",
         "--prefix", "2", "--reps", "2"],
        cwd=REPO, capture_output=True, text=True, timeout=600,
        env={**os.environ, "SPARK_GRAFT_SF_DIR": SF_SMOKE},
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    *_, detail_line, final_line = proc.stdout.strip().splitlines()
    detail, final = json.loads(detail_line), json.loads(final_line)

    assert final["metric"] == "headline_queries_total"
    assert final["n_queries"] == 3
    assert final["sf"] == 0.001
    assert detail["metric"] == "headline_queries_detail"
    assert list(detail["queries"]) == [
        "ann_ivf_index_build", "dedup_cc_label_store_build", "events_filtered_topk",
    ]
    assert all(sec >= 0 for sec in detail["queries"].values())
    assert detail["value"] == final["value"]
