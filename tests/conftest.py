import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from vertica_hadoop_integration__spark.session import get_session

    s = get_session("tests", master="local[4]", extra_conf={"spark.sql.shuffle.partitions": "4"})
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def spark_jobs(spark):
    """``spark_jobs(group, fn)`` runs ``fn`` under job group ``group`` and
    returns the ids of the Spark jobs it launched."""
    sc = spark.sparkContext

    def jobs_of(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return list(sc.statusTracker().getJobIdsForGroup(group))

    return jobs_of
