from __future__ import annotations

import itertools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cdc_makanmana_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    s = get_spark("tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


_JOB_GROUPS = itertools.count()


@pytest.fixture
def jobs_run(spark):
    """``jobs_run(fn)`` -> ``(fn(), number of Spark jobs fn ran)``,
    counted through a job group of its own and the status tracker."""
    sc = spark.sparkContext

    def run(fn):
        group = f"jobs_run-{next(_JOB_GROUPS)}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker lags the bus
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
