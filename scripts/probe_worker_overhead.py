"""Fixed cost of a Python task: the engine's worker daemon vs PySpark's.

Times a no-op `mapInPandas` over N partitions, once in a session whose
Python workers fork from `yaii_spark.worker_daemon` (what `get_spark`
sets) and once from the stock `pyspark.daemon`, and prints each side's
median seconds per job as one JSON line. The engine daemon exists only
because CPython <= 3.12 re-reads every zip on the worker's path at each
task's `importlib.invalidate_caches()`; re-run this after a Python or
Spark upgrade to see whether it still earns its place.

Usage: python scripts/probe_worker_overhead.py [partitions] [jobs]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# Python workers import the daemon module whatever the current directory
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (REPO, os.environ.get("PYTHONPATH")) if p
)


def _noop(batches):
    yield from batches


def median_job_s(daemon: str | None, partitions: int, jobs: int) -> float:
    from yaii_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if daemon:
        conf["spark.python.daemon.module"] = daemon
    spark = get_spark(
        "worker-overhead-probe", master=f"local[{partitions}]",
        shuffle_partitions=partitions, extra_conf=conf,
    )
    try:
        df = spark.range(partitions * 100, numPartitions=partitions)
        df.mapInPandas(_noop, df.schema).count()  # fork the workers first
        walls = []
        for _ in range(jobs):
            t0 = time.perf_counter()
            df.mapInPandas(_noop, df.schema).count()
            walls.append(time.perf_counter() - t0)
        return statistics.median(walls)
    finally:
        spark.stop()


def main():
    partitions = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    jobs = int(sys.argv[2]) if len(sys.argv) > 2 else 15
    engine = median_job_s(None, partitions, jobs)
    stock = median_job_s("pyspark.daemon", partitions, jobs)
    print(json.dumps({
        "python": sys.version.split()[0], "partitions": partitions, "jobs": jobs,
        "engine_daemon_job_s": round(engine, 4), "pyspark_daemon_job_s": round(stock, 4),
    }))


if __name__ == "__main__":
    main()
