from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from w4h_integrated_toolkit_spark.catalog import TESTDATA_TABLES
from w4h_integrated_toolkit_spark.session import get_spark

SF_DIR = os.environ.get("W4H_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # W4H_TEST_SHUFFLE_PARTITIONS lets a one-off sweep re-run the whole
    # suite under a different (e.g. odd) partition count — results are
    # partition-count-invariant by design, and this is how that claim
    # gets exercised end-to-end rather than per-property
    parts = int(os.environ.get("W4H_TEST_SHUFFLE_PARTITIONS", "4"))
    s = get_spark(
        "w4h-tests", cpus=4, shuffle_partitions=parts, driver_memory="4g"
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def half_away_1e9(x: float) -> int:
    """HALF_UP 1e-9 scaling — the test-side twin of the operators'
    ``F.round(weight * 1e9)``. ONE rounding rule (reference_models.half_away)
    so every model that mirrors the integer-dot law pins the same rounding."""
    from tests.reference_models import half_away

    return half_away(x, 1e9)


def jobs_in(spark, fn):
    """Run ``fn()``; return ``(its result, ids of the Spark jobs it launched)``.

    Counts jobs on any thread (a streaming query runs its micro-batches on
    its own thread, under its own job group): job ids are sequential, so
    the jobs between two probe jobs are exactly the ones ``fn`` caused."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def probe(tag):
        sc.setJobGroup(tag, tag)
        try:
            sc.parallelize([0], 1).count()
            return max(tracker.getJobIdsForGroup(tag))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    before = probe("w4h_jobs_in_before")
    result = fn()
    after = probe("w4h_jobs_in_after")
    return result, list(range(before + 1, after))
