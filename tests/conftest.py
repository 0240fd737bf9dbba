from __future__ import annotations

import itertools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"

# job group names unique across the session
_JOB_GROUPS = itertools.count()


@pytest.fixture(scope="session")
def spark():
    from vrl_spark.session import get_spark

    # the suite's one JVM gets half of physical memory, at most the
    # session default of 48g: with the 48g cap, full runs on a 16 GB
    # host lost the JVM mid-suite, failing every later test
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap = f"{min(phys // 2 // 2**20, 48 * 1024)}m"
    s = get_spark("vrl_spark_tests", master="local[8]",
                  extra_conf={"spark.driver.memory": heap})
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture
def jobs_of(spark):
    """``jobs_of(fn)`` -> ``(fn(), n)``: ``n`` is the number of Spark
    jobs ``fn`` launched, counted by a job group of its own."""
    sc = spark.sparkContext

    def run(fn):
        group = f"jobs_of.{next(_JOB_GROUPS)}"
        sc.setJobGroup(group, group)
        try:
            result = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # the status store is fed by the listener bus, asynchronously
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return result, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
