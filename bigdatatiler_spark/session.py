"""SparkSession factory tuned for the engine.

Scale notes (100 TB design intent, tested on local[32]):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  dynamic join-strategy switching replace hand-tuned partition counts.
- UTC session timezone: makes timestamp literals / epoch conversions
  deterministic and oracle-comparable (DuckDB timestamps are naive).
- Arrow on: every Pandas-UDF boundary is Arrow-batched, never per-row.
- Broadcast threshold raised: dimension tables (region/nation/customer at
  TPC-H shape) should always broadcast rather than shuffle the fact side.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

#: The directory that holds the ``bigdatatiler_spark`` package.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Configuration applied to every session we build, and (where runtime-settable)
#: re-applied to sessions handed to us by the driver harness.
ENGINE_CONF: dict[str, str] = {
    # Headless by default (r12, measured): the live-UI status listeners
    # (AppStatusListener + SQLAppStatusListener) process every task/stage/
    # plan-graph event of every query; across a long multi-query session
    # that bookkeeping compounds into 2-4× per-query inflation late in the
    # run (full 230-query bench at sf0.1: 434 s UI-on → 322 s UI-off on
    # the same box, budget violations 19 → 3, total GC pause 3 s — so the
    # cost is listener work, not memory pressure). A batch engine serving
    # queries needs the event-log/history-server path for debugging, not a
    # live UI; set SPARK_GRAFT_UI=1 to turn the UI back on for interactive
    # work. The retained-object caps bound status-store growth for
    # sessions where the UI IS on (or handed to us by a driver, where
    # static conf can't be changed).
    "spark.ui.enabled": "true" if os.environ.get("SPARK_GRAFT_UI") else "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.retainedJobs": "200",
    "spark.ui.retainedStages": "200",
    "spark.ui.retainedTasks": "2000",
    "spark.sql.ui.retainedExecutions": "20",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.shuffle.partitions": str(DEFAULT_SHUFFLE_PARTITIONS),
    # 64 MiB: at 100 TB fact scale, every TPC-H-shaped dimension still fits.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Row-group-aligned input splits; 128 MiB is the parquet sweet spot.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # The driver's events table stores TIMESTAMP(NANOS) which Spark cannot
    # read as a timestamp; read as raw nanos (LongType) and canonicalize in
    # tables.table() — keeps min/max pushdown on the int64 column.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Spark's legacy INT96 timestamp encoding carries NO column statistics,
    # so every timestamp written by the engine would be invisible to
    # row-group/file min-max skipping, and a sorted or Z-ordered layout
    # would lose its reason to exist. INT64 micros
    # has stats and is what every modern reader expects.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # Python workers import pyspark from site-packages, not from the
    # archives Spark puts on their path, so a task's invalidate_caches()
    # re-reads no archive; and they fork from a daemon that has already
    # imported pandas and pyarrow and frozen them, so they share one copy
    # (see _pydaemon). Static: the driver's own
    # session cannot get it, since a live session rejects the key with
    # [CANNOT_MODIFY_CONFIG]; tune_session leaves it out.
    "spark.python.daemon.module": "bigdatatiler_spark._pydaemon",
    # Python workers import this package (the daemon above, and the
    # package's own mapInArrow / pandas-UDF closures). Spark merges this
    # entry into the workers' PYTHONPATH, so they find it whatever
    # directory the session was started from.
    "spark.executorEnv.PYTHONPATH": _PACKAGE_PARENT,
}

#: Subset of ENGINE_CONF that can be set on a live session (runtime-mutable).
_RUNTIME_CONF = (
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.adaptive.skewJoin.enabled",
    "spark.sql.session.timeZone",
    "spark.sql.execution.arrow.pyspark.enabled",
    "spark.sql.shuffle.partitions",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.outputTimestampType",
)


def get_spark(
    app_name: str = "bigdatatiler-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's tuned defaults."""
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        master = f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    builder = builder.master(master)
    for k, v in {**ENGINE_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine conf to an externally-created session.

    The driver harness constructs its own SparkSession; query callables pass
    it through here so timezone/AQE/Arrow behavior matches our own sessions.
    """
    for key in _RUNTIME_CONF:
        try:
            spark.conf.set(key, ENGINE_CONF[key])
        except Exception:
            pass  # non-settable under this deployment; defaults are sane
    return spark
