"""The worker-side zip directory cache installed by ``shipping.install_zip_cache``."""

from __future__ import annotations

import importlib
import subprocess
import sys
import zipfile
import zipimport

import pytest

eager_reread = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython >= 3.13 drops the zip directory cache lazily; no hook",
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


@eager_reread
def test_unchanged_zip_is_not_reread_and_a_rewritten_one_is(tmp_path, monkeypatch):
    from pyspark.taskcontext import TaskContext

    from geografir_spark.shipping import install_zip_cache

    # pretend to be a worker; monkeypatch restores both class attributes
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(TaskContext, "_taskContext", None)
    TaskContext._getOrCreate()
    install_zip_cache()
    hooked = zipimport.zipimporter.invalidate_caches
    assert getattr(hooked, "stat_checked", False)
    install_zip_cache()
    assert zipimport.zipimporter.invalidate_caches is hooked

    archive = str(tmp_path / "zipcache_probe.zip")
    _write_zip(archive, {"zipcache_probe_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for m in ("zipcache_probe_a", "zipcache_probe_b"):
        monkeypatch.delitem(sys.modules, m, raising=False)
    assert importlib.import_module("zipcache_probe_a").X == 1

    reads = []
    read_directory = zipimport._read_directory

    def spy(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    importlib.invalidate_caches()   # first check in this process: reads once
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == 1

    _write_zip(archive, {"zipcache_probe_a": "X = 1\n", "zipcache_probe_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 2
    assert importlib.import_module("zipcache_probe_b").Y == 2


@eager_reread
def test_worker_invalidate_caches_is_stat_checked(spark):
    from geografir_spark.shipping import ensure_shipped

    ensure_shipped(spark)

    def probe(batches):
        import zipimport

        import pandas as pd

        import geografir_spark  # noqa: F401  (installs the hook)

        hooked = getattr(zipimport.zipimporter.invalidate_caches, "stat_checked", False)
        for _ in batches:
            pass
        yield pd.DataFrame({"hooked": [hooked]})

    rows = spark.range(4, numPartitions=2).mapInPandas(probe, "hooked boolean").collect()
    assert len(rows) == 2 and all(r.hooked for r in rows)


def test_driver_import_leaves_zipimporter_untouched():
    code = (
        "import zipimport\n"
        "before = zipimport.zipimporter.invalidate_caches\n"
        "import geografir_spark.queries\n"
        "from geografir_spark.shipping import install_zip_cache\n"
        "install_zip_cache()\n"
        "assert zipimport.zipimporter.invalidate_caches is before\n"
    )
    r = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True,
                       timeout=120)
    assert r.returncode == 0, r.stderr[-2000:]
