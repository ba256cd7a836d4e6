"""The Python worker daemon: workers import pyspark from site-packages,
with no archive on their import path, unless the versions differ; they
find the package wherever the session was started from; and they fork
with the Arrow/pandas stack already imported and frozen."""

from __future__ import annotations

import os
import subprocess
import sys
import sysconfig
import zipfile

import pytest


def test_python_workers_import_pyspark_from_site_packages(spark):
    def _worker_imports(_):
        import os
        import sys
        import zipimport

        import pyspark

        yield (
            pyspark.__file__,
            [p for p in sys.path if os.path.isfile(p)],
            [k for k, v in sys.path_importer_cache.items()
             if os.path.isfile(k) or isinstance(v, zipimport.zipimporter)],
        )

    [(pyspark_file, file_entries, archive_keys)] = (
        spark.sparkContext.parallelize([0], 1).mapPartitions(_worker_imports).collect()
    )
    site = os.path.realpath(sysconfig.get_paths()["purelib"])
    assert os.path.realpath(pyspark_file).startswith(site + os.sep), pyspark_file
    assert file_entries == []
    assert archive_keys == []


def test_workers_fork_with_the_arrow_stack_loaded_and_frozen(spark):
    """A worker that never ran an Arrow task already has pandas and
    pyarrow: the daemon imported them, and froze them, before forking."""
    def _worker_state(_):
        import gc
        import sys

        yield ("pandas" in sys.modules, "pyarrow" in sys.modules, gc.get_freeze_count())

    [(pandas, pyarrow, frozen)] = (
        spark.sparkContext.parallelize([0], 1).mapPartitions(_worker_state).collect()
    )
    assert pandas and pyarrow
    assert frozen > 0


_FRESH_WORKERS_SCRIPT = """
import sys
sys.path.insert(0, {root!r})
from bigdatatiler_spark.session import get_spark

spark = get_spark("pydaemon-fork", master="local[2]",
                  extra_conf={{"spark.python.worker.reuse": "false"}})
spark.sparkContext.setLogLevel("ERROR")

import pandas as pd
from pyspark.sql import functions as F


def _daemon_threads():
    import os
    task = f"/proc/{{os.getppid()}}/task"
    return sorted({{open(f"{{task}}/{{t}}/comm").read().strip() for t in os.listdir(task)}})


def _double(batches):
    import gc
    import os

    import pyarrow as pa
    import pyarrow.compute as pc

    for b in batches:
        n = b.num_rows
        yield pa.RecordBatch.from_pydict({{
            "id": b.column("id"), "v": pc.multiply(b.column("id"), 2),
            "pid": [os.getpid()] * n, "frozen": [gc.get_freeze_count()] * n,
            "threads": [",".join(_daemon_threads())] * n,
        }})


@F.pandas_udf("long")
def _triple(s: pd.Series) -> pd.Series:
    return s * 3


@F.pandas_udf("long")
def _pid(s: pd.Series) -> pd.Series:
    import os
    return pd.Series([os.getpid()] * len(s))


arrow = spark.range(0, 1000, 1, 10).mapInArrow(
    _double, "id long, v long, pid long, frozen long, threads string").collect()
udf = spark.range(0, 1000, 1, 10).select("id", _triple("id").alias("v"), _pid("id").alias("pid")).collect()
assert sorted((r.id, r.v) for r in arrow) == [(i, 2 * i) for i in range(1000)]
assert sorted((r.id, r.v) for r in udf) == [(i, 3 * i) for i in range(1000)]
print("PIDS", len({{r.pid for r in arrow}}), len({{r.pid for r in udf}}),
      len({{r.pid for r in arrow}} | {{r.pid for r in udf}}))
print("FROZEN", min(r.frozen for r in arrow))
print("THREADS", arrow[0].threads)
spark.stop()
"""


def test_arrow_tasks_run_on_freshly_forked_workers(tmp_path):
    """``import pyarrow`` starts jemalloc's background thread in the
    daemon before it forks. With worker reuse off, each of 20 Arrow
    tasks (10 ``mapInArrow``, 10 pandas UDF) runs on a newly forked
    worker, and every one finishes with the right rows."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _FRESH_WORKERS_SCRIPT.format(root=root)],
        cwd=tmp_path, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = dict(line.split(" ", 1) for line in proc.stdout.splitlines()
               if line.startswith(("PIDS ", "FROZEN ", "THREADS ")))
    assert out["PIDS"].split() == ["10", "10", "20"]
    assert int(out["FROZEN"]) > 0
    assert "jemalloc_bg_thd" in out["THREADS"].split(",")


def _fake_layout(tmp_path, zip_version: str):
    """A site-packages pyspark at 4.1.2, and Spark's archives on the path
    with ``zip_version`` inside pyspark.zip."""
    site = tmp_path / "site"
    (site / "pyspark").mkdir(parents=True)
    (site / "pyspark" / "__init__.py").write_text("")
    (site / "pyspark" / "version.py").write_text("__version__: str = '4.1.2'\n")
    pyspark_zip = str(tmp_path / "pyspark.zip")
    with zipfile.ZipFile(pyspark_zip, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", f"__version__: str = '{zip_version}'\n")
    jar = tmp_path / "spark-core.jar"
    jar.write_bytes(b"PK")
    return str(site), pyspark_zip, str(jar)


@pytest.mark.parametrize("zip_version, dropped", [("4.1.2", True), ("4.0.0", False)])
def test_drop_archives_only_when_versions_match(tmp_path, zip_version, dropped):
    from bigdatatiler_spark._pydaemon import drop_archives

    site, pyspark_zip, jar = _fake_layout(tmp_path, zip_version)
    path = [str(tmp_path), pyspark_zip, jar, site]
    cache = {pyspark_zip: "zi", pyspark_zip + os.sep + "pyspark": "zi", jar: "zi", site: "ff"}
    before_path, before_cache = list(path), dict(cache)
    removed = drop_archives(path, cache)
    if dropped:
        assert removed == [pyspark_zip, jar]
        assert path == [str(tmp_path), site]
        assert cache == {site: "ff"}
    else:
        assert removed == []
        assert (path, cache) == (before_path, before_cache)


_OTHER_CWD_SCRIPT = """
import sys
sys.path.insert(0, {root!r})
from bigdatatiler_spark.session import get_spark

spark = get_spark("pydaemon-cwd", master="local[1]")
spark.sparkContext.setLogLevel("ERROR")

def _task(_):
    import os
    import bigdatatiler_spark
    import pyspark
    yield (os.getcwd(), pyspark.__file__)

[(cwd, pyspark_file)] = spark.sparkContext.parallelize([0], 1).mapPartitions(_task).collect()
print("CWD", cwd)
print("PYSPARK", pyspark_file)
spark.stop()
"""


def test_python_task_runs_from_another_working_directory(tmp_path):
    """A get_spark session started outside the repo, with no PYTHONPATH,
    still starts its worker daemon and runs a task that imports the
    package: the session puts the package's parent on the workers' path."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _OTHER_CWD_SCRIPT.format(root=root)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = dict(line.split(" ", 1) for line in proc.stdout.splitlines()
                 if line.startswith(("CWD ", "PYSPARK ")))
    assert os.path.realpath(lines["CWD"]) == os.path.realpath(tmp_path)
    site = os.path.realpath(sysconfig.get_paths()["purelib"])
    assert os.path.realpath(lines["PYSPARK"]).startswith(site + os.sep)
