"""PySpark daemon for the engine's Python workers (`spark.python.daemon.module`).

Before every task, PySpark's worker calls `importlib.invalidate_caches()`.
On CPython <= 3.12 `zipimport.zipimporter.invalidate_caches` re-reads the
archive's whole central directory, and a worker holds zipimporters over
pyspark.zip, the py4j zip and the Spark core jar: 170-400 ms per task on
a 4-core host. Here an importer re-reads its archive only when the
archive's (mtime, size) changed since that importer last read it, or
when the stat fails. Forked workers inherit the replacement. CPython
3.13 made the invalidation lazy, so there this module only runs
`pyspark.daemon`.
"""

import importlib
import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_if_changed(self):
    """`zipimporter.invalidate_caches` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _reread(self)
        self._read_stamp = stamp


def main():
    from pyspark import daemon

    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    # stamp every importer once: forked workers inherit the stamps, so
    # no worker's first task re-reads an unchanged archive
    importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    # run under the module's import name, so workers (and tests) see
    # the replacement as `yaii_spark.worker_daemon.invalidate_if_changed`
    from yaii_spark.worker_daemon import main

    main()
