"""SparkSession factory tuned for the engine.

Local mode in the sandbox; the same config block is what we'd pass to
spark-submit on a real cluster (AQE, Arrow, shuffle partitions sized to
cores). Scale knobs documented inline.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

# PySpark names each Unix domain socket `<dir>/.<uuid4>.sock` (43 bytes),
# and Linux caps a socket path at 107 bytes
_SOCKET_DIR_MAX = 60


@functools.cache
def socket_dir() -> str:
    """This process's directory for Spark's Unix domain sockets, made
    on first use and removed at interpreter exit: mode 0700, at most
    ``_SOCKET_DIR_MAX`` bytes long. It sits under ``/tmp`` when the
    temp dir (``TMPDIR``) is too long for the cap."""
    base = tempfile.gettempdir()
    # mkdtemp appends "/" + prefix + 8 random characters
    if len(os.fsencode(base)) + 14 > _SOCKET_DIR_MAX:
        base = "/tmp"
    path = tempfile.mkdtemp(prefix="yaii-", dir=base)
    atexit.register(shutil.rmtree, path, True)
    return path


def get_spark(
    app_name: str = "yaii_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession.

    master defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    On a real cluster, pass master=None via spark-submit and these
    configs ride along unchanged.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    # shuffle partitions ~ cores in local mode; on a 1000-executor
    # cluster this would be ~2-3x total cores (set via spark-submit).
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cpus)
        shuffle_partitions = cpus if n == "*" else int(n)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # floor for AQE's post-shuffle coalescing. Queries shuffle
        # nothing (each task reads its segments by path); the floor
        # governs the build's and the merge's shuffles, where AQE folds
        # partitions below 64 KB into their neighbours. At cluster data
        # sizes partitions are far above it and it only folds away
        # near-empty ones.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        # scan parallelism floor: aim for >= cores splits per scan so a
        # single multi-row-group file (e.g. one 126 MB parquet written
        # by an upstream single task) does not serialize the whole read
        # on one core. Scale-adaptive by construction: inputs that
        # already produce more splits than cores are untouched
        # (guide §6 "Input split size" / §2.5 input skew).
        .config("spark.sql.files.minPartitionNum", str(shuffle_partitions))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # orderBy(...).limit(k) plans TakeOrderedAndProject, whose
        # top-k selector allocates 2·k slots per task up front: a
        # "return everything" k (10**9) exhausts the driver heap and
        # kills the JVM. Above this k, Spark plans Sort + limit
        # instead; every practical top-k stays on the bounded path.
        .config("spark.sql.execution.topKSortFallbackThreshold", "100000")
        # this sandbox's host oversubscribes CPU in daily windows
        # (BENCH/BASELINE.md): with the default 120 s network timeout a
        # starved driver JVM drops executor heartbeats and the RPC
        # cascade kills the whole session mid-run. Long timeouts trade
        # failure-detection latency (irrelevant in local mode — there
        # is no other node to fail over to) for survival under
        # starvation.
        .config("spark.network.timeout", "600s")
        .config("spark.executor.heartbeatInterval", "60s")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # task-side commit moves (v2): the v1 driver-serial rename of
        # hundreds of partition dirs dominates small-build wall time
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # PySpark's worker calls importlib.invalidate_caches() before
        # every task, and on CPython <= 3.12 that eagerly re-reads the
        # central directory of every zip on the worker's path
        # (pyspark.zip, py4j, the Spark core jar): ~200 ms per task.
        # The engine's daemon re-reads an archive only when it changed;
        # on CPython 3.13+ (lazy invalidation) it is plain pyspark.daemon.
        # Workers import yaii_spark for every engine UDF already.
        .config("spark.python.daemon.module", "yaii_spark.worker_daemon")
        # Python workers, the worker daemon, the accumulator server and
        # local data transfers talk to the JVM over Unix domain sockets.
        # Over loopback TCP, Nagle's algorithm meets Linux's 40 ms
        # delayed ACK: each task's first Arrow message waits ~40 ms
        # (4-core host: PythonRunner's `finish` per no-op task 39-54 ms
        # over TCP, 1-14 ms here). The daemon skips its auth handshake
        # on a Unix socket, so the socket directory's mode 0700 is what
        # keeps other local users off the workers.
        .config("spark.python.unix.domain.socket.enabled", "true")
    )
    if "spark.python.unix.domain.socket.dir" not in (extra_conf or {}):
        # the default, java.io.tmpdir, may be too long for a socket path
        builder = builder.config("spark.python.unix.domain.socket.dir", socket_dir())
    # YAII_ICEBERG_JARS=<paths> puts Iceberg runtime jars on the
    # classpath so the storage seam's iceberg branch (and its
    # otherwise-skipped test) runs end-to-end in any jar-equipped
    # environment without code changes — this sandbox image has none
    iceberg_jars = os.environ.get("YAII_ICEBERG_JARS")
    if iceberg_jars:
        builder = builder.config("spark.jars", iceberg_jars).config(
            "spark.sql.extensions",
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
