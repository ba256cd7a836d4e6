"""Spark's Python worker daemon, importing pyspark from site-packages.

Spark puts ``pyspark.zip``, the py4j zip and the spark-core jar on the
worker ``PYTHONPATH``. Each task's ``worker_util.setup_spark_files`` ends
with ``importlib.invalidate_caches()``, which on CPython 3.11 makes every
cached ``zipimporter`` re-read its archive's directory: about 6,700 entries,
some 0.2 s per task. When the installed pyspark is the version inside
``pyspark.zip``, this daemon drops every archive from ``sys.path`` before
it starts the stock one, so forked workers import pyspark and py4j from
site-packages and ``invalidate_caches()`` reads no archive. On a version
mismatch it keeps the archives, which is Spark's stock behaviour.

Before it listens, the daemon also imports what a worker's first
Arrow-batched task would (``ARROW_STACK``) and freezes the collector's
view of every object it holds (``preload``). Each forked worker then
shares those pages with the daemon copy-on-write instead of importing
its own pandas and pyarrow, and its collections never walk, and so never
write to, the inherited objects.

Forking after ``import pyarrow`` is safe although that import starts a
thread (``jemalloc_bg_thd``, the background purger of the jemalloc that
is Arrow's allocator). jemalloc registers ``pthread_atfork`` handlers
that take every arena and background-thread lock before ``fork()`` and
re-initialise them in the child, where background purging is off and
purging happens inline. Arrow re-creates its own thread pools after a
fork through its ``RegisterAtFork`` handlers. numpy's OpenBLAS threads,
which the stock daemon already starts through ``pyspark.worker``, are
shut down by OpenBLAS's own ``fork()`` handler and restarted on first
use. ``tests/test_pydaemon.py`` runs 20 Arrow tasks, each on a newly
forked worker.

Selected by ``spark.python.daemon.module`` (``session.ENGINE_CONF``). It
lives in the package because ``bigdatatiler_spark/__init__.py`` imports
nothing, so no pyspark module is loaded from an archive before this runs.
"""

import gc
import importlib
import importlib.machinery
import os
import sys
import zipfile

#: What a worker's first ``mapInArrow`` and pandas-UDF task import beyond
#: the stock daemon's own modules (``pyspark.daemon`` already loads
#: ``pyspark.worker``, numpy and ``pyspark.sql.pandas.serializers``).
#: Importing these five loads exactly the modules such a worker adds:
#: pyarrow's core, pandas with dateutil and pytz, cloudpickle,
#: typing_extensions and ``concurrent.futures``, 351 in all (pyspark 4.1.2,
#: pandas 2.2.2, pyarrow 16.1.0).
ARROW_STACK = (
    "pyarrow",
    "pyarrow.ipc",
    "pyarrow.pandas_compat",
    "pyarrow.vendored.version",
    "pandas",
)


def drop_archives(path: list, importer_cache: dict) -> list:
    """Remove every file entry of ``path`` (and its ``importer_cache`` keys)
    if the pyspark the remaining entries import has the ``version.py`` of
    the one in ``pyspark.zip``. Return the removed entries; ``[]`` leaves
    both as they were."""
    archives = [p for p in path if os.path.isfile(p)]
    kept = [p for p in path if p not in archives]
    zipped = [a for a in archives if os.path.basename(a) == "pyspark.zip"]
    spec = importlib.machinery.PathFinder.find_spec("pyspark", kept)
    if not zipped or spec is None or not spec.submodule_search_locations:
        return []
    version_py = os.path.join(spec.submodule_search_locations[0], "version.py")
    with zipfile.ZipFile(zipped[0]) as z, open(version_py, "rb") as f:
        if z.read("pyspark/version.py") != f.read():
            return []
    path[:] = kept
    for key in list(importer_cache):
        if any(key == a or key.startswith(a + os.sep) for a in archives):
            del importer_cache[key]
    return archives


def preload() -> None:
    """Import ``ARROW_STACK``, then ``gc.freeze()`` every object the
    process holds, so workers forked after this inherit them in the
    collector's permanent generation."""
    for name in ARROW_STACK:
        importlib.import_module(name)
    gc.freeze()


if __name__ == "__main__":
    drop_archives(sys.path, sys.path_importer_cache)
    from pyspark import daemon

    preload()
    daemon.manager()
