"""The engine's PySpark worker daemon (`yaii_spark.worker_daemon`)."""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from yaii_spark import worker_daemon

LAZY_INVALIDATION = sys.version_info >= (3, 13)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.mark.skipif(LAZY_INVALIDATION, reason="CPython 3.13+ invalidates zips lazily")
def test_zip_reread_only_when_archive_changed(tmp_path, monkeypatch):
    """An unchanged archive is not re-read on invalidation; a rewritten
    one is, and its new module imports. Driver-side, no Spark."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["yaii_zip_m1"])
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_if_changed
    )
    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("yaii_zip_m1").NAME == "yaii_zip_m1"
        assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)

        importlib.invalidate_caches()  # first call: no stamp yet, reads once
        n = len(reads)
        for _ in range(3):
            importlib.invalidate_caches()
        assert len(reads) == n  # unchanged archive: never re-read

        _write_zip(archive, ["yaii_zip_m1", "yaii_zip_m2"])
        importlib.invalidate_caches()
        assert len(reads) == n + 1
        assert importlib.import_module("yaii_zip_m2").NAME == "yaii_zip_m2"
    finally:
        for name in ("yaii_zip_m1", "yaii_zip_m2"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


@pytest.mark.skipif(LAZY_INVALIDATION, reason="CPython 3.13+ invalidates zips lazily")
def test_daemon_stamps_importers_before_forking(tmp_path, monkeypatch):
    """The daemon stamps every zipimporter once before it forks workers,
    so a worker's first task re-reads no unchanged archive.
    Driver-side: main() with the fork loop stubbed out."""
    from pyspark import daemon

    archive = str(tmp_path / "stamp.zip")
    _write_zip(archive, ["yaii_zip_stamp"])
    # restore the stock invalidation after main() replaces it
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(daemon, "manager", lambda: None)
    monkeypatch.syspath_prepend(archive)
    try:
        importlib.import_module("yaii_zip_stamp")
        assert not hasattr(sys.path_importer_cache[archive], "_read_stamp")
        worker_daemon.main()
        zips = [
            imp for imp in sys.path_importer_cache.values()
            if isinstance(imp, zipimport.zipimporter)
        ]
        assert zips and all(hasattr(imp, "_read_stamp") for imp in zips)
    finally:
        sys.modules.pop("yaii_zip_stamp", None)
        sys.path_importer_cache.pop(archive, None)


def test_tasks_run_under_engine_daemon(spark):
    """Python tasks fork from `yaii_spark.worker_daemon`, so they see its
    zipimporter invalidation (CPython 3.13+: the stock one)."""

    def probe(batches):
        import zipimport

        for _ in batches:
            yield pd.DataFrame({"m": [zipimport.zipimporter.invalidate_caches.__module__]})

    got = spark.range(1, numPartitions=1).mapInPandas(probe, "m string").collect()
    want = "zipimport" if LAZY_INVALIDATION else "yaii_spark.worker_daemon"
    assert [r.m for r in got] == [want]
