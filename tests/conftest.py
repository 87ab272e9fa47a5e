from __future__ import annotations

import os
import sys

import pytest

# Python workers must be able to unpickle classes defined in test modules
# (pickled by reference). Local-mode workers inherit the driver env, so
# exposing the tests dir via PYTHONPATH before the JVM starts is enough.
_TESTS_DIR = os.path.dirname(os.path.abspath(__file__))
os.environ["PYTHONPATH"] = (
    _TESTS_DIR + os.pathsep + os.environ.get("PYTHONPATH", "")
)

# The oracle tests compare with perfbench/canon.py, the one strict
# comparison rule; appended, so no perfbench module shadows another.
sys.path.append(os.path.join(os.path.dirname(_TESTS_DIR), "perfbench"))

from yamr_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("yamr_spark_tests", extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def job_count(spark):
    """``job_count(fn)`` runs ``fn()`` under a fresh Spark job group and
    returns how many jobs it launched, read from the status tracker
    once the listener bus has drained."""
    import uuid

    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"job_count_{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
