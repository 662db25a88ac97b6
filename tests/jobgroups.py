"""Count the Spark jobs a call launches: the call runs under its own
job group, and the group's jobs are read back from the status tracker
once the listener bus has delivered every job-start event."""

from __future__ import annotations

import uuid


def run_in_group(spark, fn, *args, **kwargs):
    """Run ``fn`` under a fresh job group; returns (result, group)."""
    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group, False)
    try:
        return fn(*args, **kwargs), group
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def group_jobs(spark, group: str) -> int:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def count_jobs(spark, fn, *args, **kwargs):
    """(result of ``fn``, number of jobs it launched)."""
    out, group = run_in_group(spark, fn, *args, **kwargs)
    return out, group_jobs(spark, group)
