from __future__ import annotations

import contextlib
import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from columnar_aware_dedup_spark.session import get_spark  # noqa: E402

#: correctness fixtures default to the smallest SF for fast iteration;
#: set CAWD_TEST_SF_DIR=/root/testdata/sf0.01 to run at driver scale.
SF_DIR = os.environ.get("CAWD_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    return get_spark("cawd-tests")


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def rows_equal(a, b) -> bool:
    """Order-insensitive DataFrame equality — the default idiom for
    comparing two query results in this suite.

    DataFrames without a trailing global sort have NO ordering contract
    (and the engine deliberately drops data-sized sorts — see
    tests/test_plans.py data-sized-output guard), so positional
    ``.collect()`` comparison is a test bug. Sort collected tuples by repr
    (None-safe across mixed-type columns) before comparing.
    """
    sa = sorted((tuple(r) for r in a.collect()), key=repr)
    sb = sorted((tuple(r) for r in b.collect()), key=repr)
    return sa == sb


def jobs_in(spark, group: str, action):
    """(``action()``, the ids of the Spark jobs it ran), counted through a
    job group named ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return result, list(sc.statusTracker().getJobIdsForGroup(group))


@contextlib.contextmanager
def spark_conf(spark, **confs):
    """Run the block under the session confs ``confs`` (pass dotted keys as
    ``**{"spark.sql.x": "v"}``). On exit each key gets its previous value
    back, or is unset if it had none, so no later test sees the block's
    settings, nor a Spark default in place of the session's own value."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
