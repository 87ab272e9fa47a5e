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


class CommitCrash(Exception):
    """Raised in place of one filesystem step of ``yamr_spark.dircommit``."""


@pytest.fixture
def crash_commit(monkeypatch):
    """``with crash_commit(k) as steps:`` makes the k-th ``os.rename``,
    ``os.replace`` or ``shutil.rmtree`` that ``yamr_spark.dircommit``
    runs raise ``crash_commit.Crash`` instead of running (``k=None``
    crashes nothing). ``steps`` lists every step attempted, with its
    arguments."""
    import contextlib
    import shutil
    import types

    from yamr_spark import dircommit

    @contextlib.contextmanager
    def arm(k: int | None):
        steps: list[tuple] = []

        def step(fn):
            def wrapped(*args, **kwargs):
                steps.append((fn.__name__, *args))
                if len(steps) == k:
                    raise CommitCrash(f"step {k}: {steps[-1]}")
                return fn(*args, **kwargs)

            return wrapped

        fake_os = types.SimpleNamespace(**vars(os))
        fake_os.rename, fake_os.replace = step(os.rename), step(os.replace)
        fake_shutil = types.SimpleNamespace(**vars(shutil))
        fake_shutil.rmtree = step(shutil.rmtree)
        with monkeypatch.context() as m:
            m.setattr(dircommit, "os", fake_os)
            m.setattr(dircommit, "shutil", fake_shutil)
            yield steps

    arm.Crash = CommitCrash
    return arm
