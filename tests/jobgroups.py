"""Count the Spark jobs one call issues, by running it under a job
group of its own (read back from the status tracker, so no UI or
event log is needed)."""

from __future__ import annotations

import uuid


def jobs_in_group(spark, fn):
    """(fn(), the number of Spark jobs started under a fresh job group
    while it ran). Jobs that escape the caller's thread-local job group
    (a worker thread that does not inherit it) are not counted."""
    sc = spark.sparkContext
    group = f"jobs-in-group-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status store is fed by the asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
