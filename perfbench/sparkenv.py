"""Spark session for the Spark workloads: host-sized, with every scratch
directory inside the benchmark's work directory; job statistics from the
status tracker; and a shutdown that waits for the JVM and its Python
workers to exit."""

from __future__ import annotations

import os
import shutil
import subprocess
import time
from typing import Any

import harness


def start(app: str) -> Any:
    """``local[nproc]`` session, ``nproc`` from the affinity mask."""
    cores = harness.nproc()
    scratch = os.path.join(harness.WORK, "spark-local")
    tmp = os.path.join(harness.WORK, "tmp")
    os.makedirs(scratch, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = scratch
    os.environ["TMPDIR"] = tmp  # ensure_shipped's zip, Python workers
    import tempfile

    tempfile.tempdir = None

    import cqf_spark  # noqa: F401  (malloc/arrow env before the JVM starts)
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "262144")
        .config("spark.driver.memory", "2g")
        # a fixed heap with a fixed young generation: G1's adaptive sizing
        # otherwise moves the JVM's peak RSS by 10-20% from run to run
        .config("spark.driver.extraJavaOptions", " ".join([
            f"-Djava.io.tmpdir={tmp}", "-Xms2g",
            "-XX:+UnlockExperimentalVMOptions",
            "-XX:G1NewSizePercent=30", "-XX:G1MaxNewSizePercent=30",
        ]))
        .config("spark.local.dir", scratch)
        .config("spark.sql.warehouse.dir", os.path.join(harness.WORK, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def persistent_rdds(spark: Any) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


class JobWindow:
    """Spark jobs submitted between :meth:`mark` calls.

    Job ids are assigned in submission order, so the jobs of one phase are
    the ids above the previous mark.  This also counts jobs started from a
    library thread pool, which a job group set on the calling thread would
    miss."""

    def __init__(self, spark: Any) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.last = self._max_id()

    def _drain(self) -> None:
        from py4j.protocol import Py4JError

        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Py4JError:  # not exposed on this Spark build: wait instead
            time.sleep(0.5)

    def _max_id(self) -> int:
        self._drain()
        ids = list(self.tracker.getJobIdsForGroup(None)) + list(
            self.tracker.getActiveJobsIds()
        )
        return max(ids, default=-1)

    def mark(self) -> dict[str, int]:
        """Jobs, stages run, tasks run and failed tasks since the last mark."""
        top = self._max_id()
        jobs = range(self.last + 1, top + 1)
        self.last = top
        stages: set[int] = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        n_stages = tasks = failed = 0
        for s in stages:
            si = self.tracker.getStageInfo(s)
            if si is None or si.numCompletedTasks == 0:
                continue  # skipped: its output was reused
            n_stages += 1
            tasks += si.numCompletedTasks
            failed += si.numFailedTasks
        return {"jobs": len(jobs), "stages": n_stages, "tasks": tasks,
                "failed_tasks": failed}


def stop(spark: Any) -> None:
    """Stop the session, then the JVM, and wait for every descendant."""
    from pyspark import SparkContext

    tree = harness.process_tree()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    harness.reap(tree)
    shutil.rmtree(os.path.join(harness.WORK, "tmp"), ignore_errors=True)
