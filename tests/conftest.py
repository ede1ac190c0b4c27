import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

GOLDEN_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data_golden.json")


@pytest.fixture(scope="session")
def golden():
    """Golden vectors generated by a one-off harness linked against the
    read-only reference library (hashes, CQF content, merge content)."""
    with open(GOLDEN_PATH) as f:
        return json.load(f)


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("cqf-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "262144")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture
def stage_tasks(spark):
    """``stage_tasks(fn) -> (fn(), {stage id: completed tasks})`` for every
    stage of every job ``fn`` started, read from ``statusTracker()`` once
    the listener bus has drained.  ``fn`` runs under a job group of its
    own.  A stage that a job skipped (its shuffle output already existed)
    reads 0, so a stage computed twice shows up as a second nonzero entry.
    """
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"stage-tasks-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        tasks = {}
        for job in tracker.getJobIdsForGroup(group):
            for stage in tracker.getJobInfo(job).stageIds:
                info = tracker.getStageInfo(stage)
                tasks[stage] = 0 if info is None else info.numCompletedTasks
        return out, tasks

    return run
