"""Session and Python-worker plumbing: the worker daemon's zipimport
cache and shipping the package to the workers."""

from __future__ import annotations

import importlib
import sys
import tempfile
import zipfile
import zipimport

import pytest

from las_vpe_platform_spark import session, worker_daemon


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="3.13+ re-reads lazily; no patch")
def test_zip_cache_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    # restore the stdlib functions after the test
    monkeypatch.setattr(zipimport, "_read_directory", zipimport._read_directory)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(sys, "path", list(sys.path))
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    worker_daemon.install()

    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zc_m1": "X = 1\n"})
    sys.path.insert(0, archive)
    monkeypatch.delitem(sys.modules, "zc_m1", raising=False)
    monkeypatch.delitem(sys.modules, "zc_m2", raising=False)
    assert importlib.import_module("zc_m1").X == 1

    reads = []
    read = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    assert archive not in reads

    _write_zip(archive, {"zc_m1": "X = 1\n", "zc_m2": "Y = 2\n"})
    importlib.invalidate_caches()
    assert archive in reads
    assert importlib.import_module("zc_m2").Y == 2


def test_python_workers_run_the_zip_cache(spark):
    def probe(batches):
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame({"m": [zipimport.zipimporter.invalidate_caches.__module__]})

    rows = spark.range(0, 4, numPartitions=4).mapInPandas(probe, "m string").collect()
    expected = "zipimport" if sys.version_info >= (3, 13) else worker_daemon.__name__
    assert [r.m for r in rows] == [expected] * 4


def test_ensure_package_on_workers_ships_once_per_application(spark):
    sc = spark.sparkContext
    session.ensure_package_on_workers(spark)
    assert sc.applicationId in session._PYFILES_SENT
    files, includes = list(sc.listFiles), list(sc._python_includes)
    # the zip is this application's own, never the old shared temp path
    shared = f"{tempfile.gettempdir()}/las_vpe_platform_spark_pyfiles.zip"
    assert not any(f.endswith(shared) for f in files)
    session.ensure_package_on_workers(spark)
    assert list(sc.listFiles) == files and list(sc._python_includes) == includes
