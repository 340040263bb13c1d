"""Shared SparkSession for tests: one local JVM per pytest run."""

from __future__ import annotations

import uuid

from metric_search_spark.session import build_session

_SPARK = None

# the local properties SparkContext.setJobGroup sets
_GROUP_PROPS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)


def get_spark():
    global _SPARK
    if _SPARK is None:
        _SPARK = build_session(
            cpus=4,
            app_name="metric_search_spark-tests",
            shuffle_partitions=8,
            extra_conf={"spark.driver.memory": "4g"},
        )
    return _SPARK


def count_jobs(spark, fn):
    """Run ``fn()`` under a fresh job group and return (its result, the
    number of Spark jobs it ran, from the status tracker). The caller's
    job group, if any, is restored afterwards."""
    sc = spark.sparkContext
    saved = {p: sc.getLocalProperty(p) for p in _GROUP_PROPS}
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "tests.sparkutil.count_jobs")
    try:
        out = fn()
    finally:
        for p, v in saved.items():
            sc.setLocalProperty(p, v)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
