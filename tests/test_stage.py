"""``_util.stage`` — the package's one staging call — in each of its three
modes: what runs at call time, and what a later action's plan reads; and
``_util.ensure_parallelism``, which decides from the plan alone."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdatatiler_spark.operators._util import ensure_parallelism, stage
from conftest import jobs_in_group


def _frame(spark):
    # narrow on purpose: under AQE, planning a frame's RDD runs its
    # shuffle map stages, so only an exchange-free frame shows the lazy
    # mode's zero jobs at call time
    return spark.range(0, 200, 1, 4).withColumn("s", F.col("id") % 7)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_stage_modes(spark, tmp_path):
    sc = spark.sparkContext
    expected = sorted(_frame(spark).collect())

    # shared: eager — the blocks materialize at call time, and a later
    # action reads the checkpointed RDD instead of replaying the lineage
    shared, jobs = jobs_in_group(spark, "stage-shared", lambda: stage(_frame(spark)))
    assert jobs >= 1
    later = shared.where(F.col("s") > 0)
    assert "ExistingRDD" in _plan(later)
    assert "Range" not in _plan(later)
    assert sorted(shared.collect()) == expected

    # round: lazy — the plan is cut at once, but no job runs until the
    # next action
    rnd, jobs = jobs_in_group(spark, "stage-round", lambda: stage(_frame(spark), "round"))
    assert jobs == 0
    assert "ExistingRDD" in _plan(rnd)
    assert sorted(rnd.collect()) == expected

    # reliable: refuses to run without a checkpoint dir, then matches
    # shared once one is set
    prev = sc.getCheckpointDir()
    sc.setCheckpointDir(None)
    try:
        with pytest.raises(ValueError, match="setCheckpointDir"):
            stage(_frame(spark), "reliable")
        sc.setCheckpointDir(str(tmp_path / "ckpt"))
        assert sorted(stage(_frame(spark), "reliable").collect()) == expected
    finally:
        sc.setCheckpointDir(prev)

    with pytest.raises(ValueError, match="stage mode"):
        stage(_frame(spark), "bogus")


def test_ensure_parallelism_runs_no_job(spark):
    """Under AQE a frame with an exchange gets its partition count at run
    time; ensure_parallelism decides from the plan instead of running the
    shuffle map stages, and still spreads a small shuffled frame over the
    cluster's cores. An exchange-free frame keeps its splits when it has
    enough of them."""
    par = spark.sparkContext.defaultParallelism
    shuffled = _frame(spark).groupBy("s").count()
    out, jobs = jobs_in_group(spark, "ensure-parallelism-exchange",
                               lambda: ensure_parallelism(shuffled))
    assert jobs == 0
    assert out.rdd.getNumPartitions() == par
    assert sorted(out.collect()) == sorted(shuffled.collect())

    wide = spark.range(0, 200, 1, par)
    out, jobs = jobs_in_group(spark, "ensure-parallelism-scan",
                               lambda: ensure_parallelism(wide))
    assert jobs == 0
    assert out is wide
