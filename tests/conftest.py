from __future__ import annotations

import sys
import tempfile
import time
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from finlogic_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    return get_spark("finlogic-tests", shuffle_partitions=8)


@pytest.fixture(scope="session")
def fixture_dir(spark):
    from finlogic_spark import fixtures

    d = tempfile.mkdtemp(prefix="fl_test_fixtures_")
    fixtures.write_fixtures(spark, d)
    return d


@pytest.fixture(scope="session")
def engine(spark, fixture_dir):
    from finlogic_spark.api import Engine

    return Engine.from_parquet_dir(spark, fixture_dir, entry_order_col="entry_id")


SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def count_jobs(spark, group: str, fn) -> int:
    """Spark jobs that ``fn`` runs, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    time.sleep(0.5)  # job-start events reach the status store asynchronously
    return len(sc.statusTracker().getJobIdsForGroup(group))
