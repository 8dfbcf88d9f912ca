"""Fixed cost of a Python task: the engine's worker daemon vs PySpark's,
and Unix domain sockets vs loopback TCP.

Times a no-op `mapInPandas` over N partitions in three sessions: Python
workers forked from `yaii_spark.worker_daemon` over Unix domain sockets
(what `get_spark` sets), the same daemon over TCP, and the stock
`pyspark.daemon` over Unix domain sockets. Prints each side's median
seconds per job as one JSON line. The engine daemon exists only because
CPython <= 3.12 re-reads every zip on the worker's path at each task's
`importlib.invalidate_caches()`; the Unix sockets because loopback TCP
stalls each task's first message on Linux's 40 ms delayed ACK. Re-run
this after a Python, Spark or kernel upgrade to see whether each still
earns its place.

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


def median_job_s(overrides: dict, partitions: int, jobs: int) -> float:
    from yaii_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false", **overrides}
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
    # the JVM's first session runs every job slower (4-core host: 0.16-
    # 0.18 s per job against 0.11 s for the same conf in the next
    # session), so whichever side ran first lost: run it, report nothing
    median_job_s({}, partitions, jobs)
    engine = median_job_s({}, partitions, jobs)
    tcp = median_job_s({"spark.python.unix.domain.socket.enabled": "false"}, partitions, jobs)
    stock = median_job_s({"spark.python.daemon.module": "pyspark.daemon"}, partitions, jobs)
    print(json.dumps({
        "python": sys.version.split()[0], "partitions": partitions, "jobs": jobs,
        "engine_daemon_job_s": round(engine, 4),
        "engine_daemon_tcp_job_s": round(tcp, 4),
        "pyspark_daemon_job_s": round(stock, 4),
    }))


if __name__ == "__main__":
    main()
