"""The engine's PySpark worker daemon (`yaii_spark.worker_daemon`) and
the Unix domain sockets its workers talk to the JVM over."""

import importlib
import os
import subprocess
import sys
import textwrap
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


def test_tasks_use_unix_domain_sockets(spark):
    """Python tasks reach the JVM over Unix domain sockets (no loopback
    TCP delayed-ACK stall per task)."""

    def probe(batches):
        import os

        for _ in batches:
            yield pd.DataFrame({"m": [os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "")]})

    got = spark.range(1, numPartitions=1).mapInPandas(probe, "m string").collect()
    assert [r.m.lower() for r in got] == ["true"]


def test_socket_dir_is_private_and_short(spark):
    """The daemon skips its auth handshake on a Unix socket, so only
    the directory's 0700 mode keeps other users off the workers; its
    path leaves room for the 43-byte socket name under Linux's cap."""
    d = spark.sparkContext.getConf().get("spark.python.unix.domain.socket.dir")
    assert os.path.isdir(d)
    assert os.stat(d).st_mode & 0o777 == 0o700
    assert len(os.fsencode(d)) <= 60


def test_long_temp_dirs_start_and_clean_up(tmp_path):
    """A session whose TMPDIR and java.io.tmpdir are both too long for
    a socket path still runs a Python task, and its socket directory is
    gone once the interpreter exits."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    long_tmp = tmp_path / ("t" * 60) / ("u" * 60)
    long_tmp.mkdir(parents=True)
    assert len(str(long_tmp)) > 110
    script = textwrap.dedent(f"""
        import pandas as pd

        from yaii_spark.session import get_spark

        def probe(batches):
            import os

            for _ in batches:
                yield pd.DataFrame({{"m": [os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "")]}})

        spark = get_spark("uds-long-tmp", master="local[1]", extra_conf={{
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions": "-Djava.io.tmpdir={long_tmp}",
        }})
        print(spark.sparkContext.getConf().get("spark.python.unix.domain.socket.dir"))
        print(spark.range(1, numPartitions=1).mapInPandas(probe, "m string").first().m)
    """)
    env = dict(os.environ, TMPDIR=str(long_tmp), PYTHONPATH=repo)
    done = subprocess.run(
        [sys.executable, "-c", script], env=env, cwd=repo,
        capture_output=True, text=True, timeout=300,
    )
    assert done.returncode == 0, done.stderr[-2000:]
    sock_dir, uds = done.stdout.split()[-2:]
    assert uds.lower() == "true"
    assert os.path.isabs(sock_dir) and len(os.fsencode(sock_dir)) <= 60
    assert not os.path.exists(sock_dir)
