from __future__ import annotations

import uuid

import pytest

from transitdata_omm_cancellation_source_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.001"  # pytest uses the small sf; the
# driver harness re-checks at sf0.01 with the identical oracle SQL.


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="tests", cpus=8, shuffle_partitions=8)
    yield spark
    spark.stop()


def jobs_run_by(spark, fn) -> int:
    """The number of Spark jobs ``fn()`` runs, broadcasts included."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))
