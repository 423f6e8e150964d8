"""The Spark session the benchmark runs the package under.

Everything a run writes — Spark's local dirs, the JVM's and Python's
temp files, the warehouse and the event log — goes under one work
directory inside the checkout. The package is made importable in
Spark's Python workers by putting the checkout root on their
``PYTHONPATH``; the package itself is not changed for that.
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import tempfile
import time

from .stats import descendants

#: Driver heap for a 15 GB, 4-core machine (the package default is 48g).
DRIVER_MEMORY = "3g"


class Engine:
    """Starts and finally stops one local Spark session."""

    def __init__(self, root: str, work: str) -> None:
        self.work = work
        self.tmp = os.path.join(work, "tmp")
        self.event_dir = os.path.join(work, "eventlog")
        for d in (self.tmp, self.event_dir):
            os.makedirs(d, exist_ok=True)
        pythonpath = os.environ.get("PYTHONPATH")
        self.env = {
            "PYTHONPATH": root + (os.pathsep + pythonpath if pythonpath else ""),
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "TMPDIR": self.tmp,
        }
        os.environ.update(self.env)
        tempfile.tempdir = self.tmp
        self.spark = None
        self._proc = None
        self.event_log = False

    def confs(self) -> dict[str, str]:
        confs = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # No hsperfdata file in the system temp dir either.
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
        }
        if self.event_log:
            confs.update({"spark.eventLog.enabled": "true",
                          "spark.eventLog.dir": "file:" + self.event_dir,
                          "spark.eventLog.compress": "false",
                          "spark.eventLog.rolling.enabled": "false"})
        return confs

    def start(self, event_log: bool = False):
        """Launch the JVM and start the session."""
        from pyspark import SparkContext

        from kinesis_s3_data_shipper_spark.session import get_session
        self.event_log = event_log
        self.spark = get_session("shipbench", extra_confs=self.confs())
        self._proc = getattr(SparkContext._gateway, "proc", None)
        return self.spark

    def echo(self) -> dict:
        """The settings a run was made under, for its record."""
        sc = self.spark.sparkContext
        return {**self.env, "master": sc.master,
                "defaultParallelism": sc.defaultParallelism,
                "spark.driver.memory": sc.getConf().get("spark.driver.memory"),
                "spark.sql.shuffle.partitions":
                    self.spark.conf.get("spark.sql.shuffle.partitions"),
                "event_log": self.event_log}

    def finish_event_log(self) -> str:
        """Stop the session, which completes its event log; return the
        log's path."""
        self.spark.stop()
        self.spark = None
        (log,) = [p for p in glob.glob(os.path.join(self.event_dir, "*"))
                  if not p.endswith(".inprogress")]
        return log

    def stop(self) -> None:
        """Stop the session, then the JVM, and wait until the JVM and
        every process under it have exited."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if self._proc is None:
            return
        pids = [p for p in descendants(os.getpid()) if p != os.getpid()]
        from pyspark import SparkContext
        SparkContext._gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if self._proc.stdin:
            self._proc.stdin.close()
        try:
            self._proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self._proc.kill()
            self._proc.wait(timeout=30)
        deadline = time.monotonic() + 30
        for pid in pids:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                try:
                    with open(f"/proc/{pid}/stat") as fh:
                        if fh.read().rsplit(")", 1)[1].split()[0] == "Z":
                            break
                except OSError:
                    break
                time.sleep(0.05)
        self._proc = None
