from __future__ import annotations

import contextlib
import io
import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from metrics_service_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("msspark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def count_jobs(spark):
    """`count_jobs(fn)` calls `fn()` and returns the Spark jobs it
    launched, counted under a job group of its own.  Deltas of all job
    ids go negative once the status tracker evicts old jobs; a group's
    recent jobs are not evicted."""
    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc._jsc.clearJobGroup()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture(scope="session")
def executed_plan():
    """`executed_plan(df)`: the text of `df`'s executed physical plan."""
    return lambda df: df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="session")
def formatted_plan():
    """`formatted_plan(df)`: what `df.explain("formatted")` prints."""

    def formatted(df) -> str:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    return formatted
