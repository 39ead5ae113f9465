"""Self-shipping: make the package importable on executor Python workers.

In production the job runs ``spark-submit --py-files geografir_spark.zip``.
When the engine is driven as a plain library (the driver contract, bench,
notebooks), executors have no such zip — mapInPandas kernels that import
``geografir_spark`` would fail with ModuleNotFoundError on any driver whose
working directory isn't the repo root. ``ensure_shipped`` zips the package
once per process and registers it with ``SparkContext.addPyFile`` once per
context; every operator entry point calls it.

On a worker, importing the package also calls ``install_zip_cache``:
pyspark calls ``importlib.invalidate_caches()`` at the start of every task,
and on CPython < 3.13 that re-reads the central directory of every zip on
the worker's path (the pyspark zip once per subpackage importer, the spark
jar, this package's zip), about 0.3 s a task. The hook re-reads an archive
only when its (mtime, size) changed since this process last read it.
"""

from __future__ import annotations

import os
import sys
import tempfile
import zipfile
import zipimport

from pyspark.sql import SparkSession
from pyspark.taskcontext import TaskContext

_SENTINEL = "_geografir_spark_shipped"
_zip_path: str | None = None


def package_zip() -> str:
    """Build (once per process) a zip of the geografir_spark package."""
    global _zip_path
    if _zip_path is not None and os.path.exists(_zip_path):
        return _zip_path
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    path = os.path.join(
        tempfile.gettempdir(), f"geografir_spark_pyfiles_{os.getpid()}.zip"
    )
    with zipfile.ZipFile(path, "w") as z:
        for root, _, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, os.path.dirname(pkg_dir)))
    _zip_path = path
    return path


def ensure_shipped(spark: SparkSession) -> None:
    sc = spark.sparkContext
    if getattr(sc, _SENTINEL, False):
        return
    sc.addPyFile(package_zip())
    setattr(sc, _SENTINEL, True)


def install_zip_cache() -> None:
    """In a PySpark worker on CPython < 3.13, make
    ``zipimporter.invalidate_caches`` re-read an archive's directory only
    when the archive's ``(st_mtime_ns, st_size)`` differs from the last
    read in this process. Elsewhere, and when already installed, a no-op."""
    eager = zipimport.zipimporter.invalidate_caches
    if (sys.version_info >= (3, 13) or getattr(eager, "stat_checked", False)
            or TaskContext.get() is None):
        return
    read_at: dict[str, tuple[int, int]] = {}

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
        except OSError:
            return eager(self)
        # stat before the read: a write during the read shows on the next call
        key = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and read_at.get(self.archive) == key:
            self._files = files
            return
        eager(self)
        read_at[self.archive] = key

    invalidate_caches.stat_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
