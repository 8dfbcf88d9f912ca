"""Spark session sized to this machine, with every file under one work dir.

- master `local[N]` with N = the CPUs this process may run on (one
  single-process Spark, no cap);
- driver memory = a quarter of physical RAM, between 1 and 8 GiB (the
  engine's own default of 48g would overcommit a small host);
- console progress bars off, so standard output stays parseable;
- the checkout root on the Python workers' path, so workers can import
  `yaii_spark` whatever the current directory;
- one work dir on disk inside the checkout (`.perfbench_work/<pid>`)
  holds the indexes, `spark.local.dir`, the JVM and Python temp dirs
  and, in a traced run, the event log. It is deleted on shutdown.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import time

WORK_ROOT = ".perfbench_work"


def n_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    mb = min(8192, max(1024, kb // 1024 // 4))
    return f"{mb}m"


class Session:
    """Owns the SparkSession and the work dir for one benchmark run."""

    def __init__(self, root: str, trace: bool):
        self.root = os.path.abspath(root)
        self.work = os.path.join(self.root, WORK_ROOT, str(os.getpid()))
        shutil.rmtree(self.work, ignore_errors=True)
        self.tmp = os.path.join(self.work, "tmp")
        self.event_dir = os.path.join(self.work, "eventlog") if trace else None
        for d in (self.tmp, self.event_dir):
            if d:
                os.makedirs(d)
        self.spark = None
        self.start_s = 0.0

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def start(self):
        from yaii_spark.session import get_spark

        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, os.environ.get("PYTHONPATH")) if p
        )
        # SPARK_LOCAL_DIRS would override spark.local.dir
        os.environ["SPARK_LOCAL_DIRS"] = self.tmp
        os.environ["TMPDIR"] = self.tmp
        cpus = n_cpus()
        conf = {
            "spark.driver.memory": driver_memory(),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp}",
            "spark.local.dir": self.tmp,
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.event_dir:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus,
            extra_conf=conf,
        )
        self.start_s = time.perf_counter() - t0
        return self.spark

    def peak_rss_mb(self) -> float:
        """VmHWM of the driver JVM plus this Python process, in MB."""
        pids = [os.getpid()]
        if self.spark is not None:
            pids.append(int(self.spark._jvm.java.lang.ProcessHandle.current().pid()))
        kb = 0
        for pid in pids:
            with open(f"/proc/{pid}/status") as f:
                kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        return kb / 1024.0

    def event_log(self) -> str | None:
        """Path of the finished event log (after `stop`)."""
        if not self.event_dir:
            return None
        names = [n for n in os.listdir(self.event_dir) if not n.endswith(".inprogress")]
        return os.path.join(self.event_dir, names[0]) if names else None

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        parent = os.path.dirname(self.work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
