from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdatatiler_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

#: Slow tier (r12 verdict item 3): the default `pytest tests/` run must
#: complete inside the driver's verification window, so the file whose
#: wall-clock dwarfs everything else — the hostile-fixture differential
#: sweep (109 cases) — is SKIPPED by default with an explicit reason in
#: the report, and runs when BDT_FULL_TESTS=1.
#: Contracts, sf0.01 oracle comparisons, and the plan pins all stay in
#: the default tier. test_streaming.py runs by default: its four tests
#: take ~65 s on a 4-core box.
SLOW_TIER_FILES = ("test_hostile_fixtures.py",)


def pytest_collection_modifyitems(config, items):
    if os.environ.get("BDT_FULL_TESTS"):
        return
    skip = pytest.mark.skip(
        reason="slow tier: set BDT_FULL_TESTS=1 to run (see conftest.py)"
    )
    for item in items:
        if os.path.basename(str(item.fspath)) in SLOW_TIER_FILES:
            item.add_marker(skip)


def jobs_in_group(spark, group: str, fn):
    """Run ``fn`` under job group ``group``; return (its result, the
    number of Spark jobs it started)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    s = get_spark("bigdatatiler-tests", master="local[4]", extra_conf={
        "spark.sql.shuffle.partitions": "8",
        "spark.ui.enabled": "false",
    })
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE
