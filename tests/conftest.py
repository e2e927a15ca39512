"""Shared SparkSession for the test suite, plus a Spark job counter."""

from __future__ import annotations

import uuid
from contextlib import contextmanager

import pytest

_JOB_PROPS = ("spark.jobGroup.id", "spark.job.description",
              "spark.job.interruptOnCancel")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("geojson-vt-cpp-spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.default.parallelism", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield s


@contextmanager
def count_jobs(spark):
    """Count the Spark jobs the block runs on this thread.

    The block runs under a job group of its own; on exit the group's jobs
    are read from the status tracker into ``counter["jobs"]`` and the
    thread's previous job group is restored::

        with count_jobs(spark) as counter:
            df.count()
        assert counter["jobs"] == 1
    """
    sc = spark.sparkContext
    saved = {k: sc.getLocalProperty(k) for k in _JOB_PROPS}
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count_jobs")
    counter = {"jobs": 0}
    try:
        yield counter
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
        # job-start events reach the status store through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        counter["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
