"""The Python worker daemon: workers import pyspark from site-packages,
with no archive on their import path, unless the versions differ; and
they find the package wherever the session was started from."""

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
