from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# r13: the external driver runs `pytest tests/ -x -q` under a wall-clock
# budget the full ~35-minute suite exceeded (VERIFY_r12 tests_ok=false
# with the tail cut mid-run and ZERO failures shown). Per the r12
# verdict ("mark/split the slow suites so the driver's run completes"),
# the slowest stress/soak/equivalence tests — each ≥ ~20 s and each
# with faster sibling coverage of the same operator — carry
# @pytest.mark.slow and are SKIPPED unless SPARK_GRAFT_SLOW_TESTS=1.
# Round reports keep running the full suite locally with the flag on;
# the default run stays a complete correctness gate (every query,
# every oracle, every crash-matrix family keeps at least one
# representative).


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: long soak/stress/equivalence test, skipped unless "
        "SPARK_GRAFT_SLOW_TESTS=1 (driver wall-clock budget)",
    )


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_SLOW_TESTS") == "1":
        return
    skip = pytest.mark.skip(
        reason="slow suite — set SPARK_GRAFT_SLOW_TESTS=1 for the full run"
    )
    for item in items:
        if item.get_closest_marker("slow"):
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    from bigdataproject_spark.session import get_spark

    s = get_spark(
        "bigdataproject-tests",
        master="local[4]",
        extra_conf={
            "spark.sql.shuffle.partitions": "4",
            # the status REST API, read by the measurement harness
            # (tools/sweeplib.py) under test
            "spark.ui.enabled": "true",
        },
    )
    yield s


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(fn)`` -> (fn's result, the number of Spark jobs it
    started): the jobs run under a job group of their own, counted once
    the listener bus has drained."""
    import uuid

    sc = spark.sparkContext

    def count(fn):
        group = f"job-budget-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "job-budget probe")
        try:
            out = fn()
        finally:
            sc.setJobGroup("", "")
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
