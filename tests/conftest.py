from __future__ import annotations

import itertools

import pytest

from json_validator_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="jvs-tests", master="local[4]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def rows_set(df, *cols):
    """Order-insensitive comparison helper: set of tuples."""
    sel = df.select(*cols) if cols else df
    return {tuple(r) for r in sel.collect()}


_job_groups = itertools.count()


def job_count(spark, fn):
    """Number of Spark jobs ``fn()`` runs, counted through a job group."""
    group = f"job-count-{next(_job_groups)}"
    ctx = spark.sparkContext
    ctx.setJobGroup(group, group)
    try:
        fn()
    finally:
        ctx.setLocalProperty("spark.jobGroup.id", None)
    return len(ctx.statusTracker().getJobIdsForGroup(group))
