from __future__ import annotations

import contextlib
import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hrdp_variant_load_pipeline_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    spark = get_spark("tests", extra_conf={"spark.sql.shuffle.partitions": "4"})
    yield spark


SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


def spark_work_of(spark, fn, *args):
    """``(fn(*args), work)``: the Spark work the call ran, under a job group
    of its own, read as ``perfbench/spans.spark_counts`` reads it — ``jobs``,
    ``tasks`` of the jobs' stages, the ``scan_bytes`` they read (file and
    cache reads alike) and the ``shuffle_bytes`` they wrote. The status
    tracker also reports a stage skipped because its shuffle output was
    reused, so its tasks count too: each job over a persisted frame counts
    the stages of the frame's lineage again."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn(*args)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job events reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = spark._jsc.sc().statusStore()
    work = {"jobs": 0, "tasks": 0, "scan_bytes": 0, "shuffle_bytes": 0}
    for job_id in tracker.getJobIdsForGroup(group):
        work["jobs"] += 1
        info = tracker.getJobInfo(job_id)
        for stage_id in info.stageIds if info else ():
            st = tracker.getStageInfo(stage_id)
            if st is None:
                continue
            work["tasks"] += st.numTasks
            stage = store.lastStageAttempt(stage_id)
            work["scan_bytes"] += stage.inputBytes()
            work["shuffle_bytes"] += stage.shuffleWriteBytes()
    return out, work


def spark_jobs_of(spark, fn, *args):
    """``(fn(*args), n)``: n is the number of Spark jobs the call ran."""
    out, work = spark_work_of(spark, fn, *args)
    return out, work["jobs"]


def node_class(node) -> str:
    """Simple class name of a Spark plan node (``FileSourceScanExec``)."""
    return node.getClass().getSimpleName()


def plan_nodes(plan):
    """Yield ``(node, ancestors)`` for every node of a Spark plan, logical
    or physical, parents before children, by walking ``children()``. An
    ``AdaptiveSparkPlanExec`` is replaced by the plan it currently runs
    (``executedPlan()``), so AQE-on and AQE-off plans walk alike."""
    stack = [(plan, ())]
    while stack:
        node, above = stack.pop()
        if node_class(node) == "AdaptiveSparkPlanExec":
            node = node.executedPlan()
        yield node, above
        kids = node.children()
        stack.extend(
            (kids.apply(i), (*above, node)) for i in reversed(range(kids.size()))
        )


@contextlib.contextmanager
def pinned_partitions(spark, n: int):
    """Run the block with ``n`` shuffle partitions that AQE does not
    coalesce, so a range-clustered write of a tiny fixture still lands as
    several files (a single file would pass a disjointness check
    vacuously)."""
    conf = {
        "spark.sql.shuffle.partitions": str(n),
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    before = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)
