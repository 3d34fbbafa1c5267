"""Shared pytest fixtures: one SparkSession per test run, sf0.001 testdata."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"

# --------------------------------------------------------------------
# Default smoke tier (round 14, verdict item 5): the full suite takes
# ~20 min even uncontended, which no CI/driver verification window
# finishes — the recorded test gate was permanently amber. Tests listed
# in slow_manifest.txt (every test whose call+setup exceeded 1.0 s in a
# full --durations=0 run, EXCEPT each file's two fastest, so every
# operator family keeps default coverage) carry the ``slow`` marker,
# and pytest.ini deselects them by default (~4.5 min tier, 731 tests).
# The FULL suite remains one flag away:  python -m pytest tests/ -m ''
# --------------------------------------------------------------------
_SLOW_MANIFEST = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "slow_manifest.txt"
)


def _slow_ids() -> frozenset[str]:
    try:
        with open(_SLOW_MANIFEST) as fh:
            return frozenset(
                line.strip() for line in fh
                if line.strip() and not line.startswith("#")
            )
    except OSError:  # pragma: no cover — manifest is committed
        return frozenset()


def pytest_collection_modifyitems(config, items):
    slow = _slow_ids()
    if not slow:
        return
    for item in items:
        nid = item.nodeid.split("tests/", 1)[-1]
        if nid in slow:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    from sensapp_spark.session import get_spark

    spark = get_spark(app_name="sensapp-spark-tests", master="local[4]",
                      shuffle_partitions=4)
    yield spark
    spark.stop()


@pytest.fixture()
def spark_jobs(spark):
    """Zero-argument callable: how many Spark jobs the session has run.

    It reads the DAG scheduler's job-id counter, which also counts jobs
    launched on the scheduler's behalf (broadcasts, AQE query stages),
    so an unchanged count means no Spark job ran at all."""
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    return scheduler.numTotalJobs
