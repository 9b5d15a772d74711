import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
# the sf0.01 tables beside SF_DIR, for guards that pin job counts at the
# benchmark scale
SF001_DIR = os.path.join(os.path.dirname(SF_DIR), "sf0.01")


@pytest.fixture(scope="session")
def spark():
    from hybridbackend_spark.session import get_session

    s = get_session("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def sf001_dir():
    if not os.path.isdir(SF001_DIR):
        pytest.skip(f"no sf0.01 tables beside {SF_DIR}")
    return SF001_DIR


@pytest.fixture
def jobs_of(spark):
    """``jobs_of(group, fn)`` runs ``fn`` in its own job group and returns
    (result, job ids), read after the listener bus has drained so a job
    cannot be missed."""
    sc = spark.sparkContext

    def run(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, list(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture
def checkpointed_plans(monkeypatch):
    """Physical plans of every frame passed to ``localCheckpoint``,
    recorded before the original checkpoint runs: the eagerly cut
    lineage of a production call stays inspectable."""
    from pyspark.sql.classic.dataframe import DataFrame

    from hybridbackend_spark.plans.inspect import physical_plan

    plans = []
    original = DataFrame.localCheckpoint

    def spy(self, *args, **kwargs):
        plans.append(physical_plan(self))
        return original(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "localCheckpoint", spy)
    return plans
