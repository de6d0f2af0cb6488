"""Spark jobs per public operation, pinned as upper bounds.

At feature-store batch sizes per-job scheduling, not data volume, sets
the cost of a call, so each bound here may only go down. The fixture is
a small online-enabled group on the plain commit-log backend."""

import pytest

from feature_store_api_spark import FeatureStore
from tests.conftest import spark_jobs

SCHEMA = "k long, ts long, v double"


@pytest.fixture()
def group(tmp_path):
    fs = FeatureStore(root=str(tmp_path))
    return fs.create_feature_group(
        "budget", primary_key=["k"], event_time="ts", online_enabled=True,
    )


def _batch(spark, lo, hi):
    return spark.createDataFrame(
        [(k, 10, float(k)) for k in range(lo, hi)], SCHEMA
    )


def test_first_insert_job_budget(spark, group):
    """The commit write and the online upsert; an empty window needs no
    statistics query."""
    with spark_jobs(spark) as jobs:
        c = group.insert(_batch(spark, 0, 20))
    assert (c.rows_inserted, c.rows_updated) == (20, 0)
    assert len(jobs) <= 2, jobs


def test_upsert_job_budget(spark, group):
    """On top of the two writes, one footer schema merge and the
    left-semi count (its AQE stages) for ``rows_updated``; the row
    count rides on the write."""
    group.insert(_batch(spark, 0, 20))
    group.insert(_batch(spark, 10, 30))
    with spark_jobs(spark) as jobs:
        c = group.insert(_batch(spark, 25, 40))
    assert (c.rows_inserted, c.rows_updated) == (10, 5)
    assert len(jobs) <= 6, jobs


def test_insert_without_stats_job_budget(spark, group):
    group.insert(_batch(spark, 0, 20))
    with spark_jobs(spark) as jobs:
        c = group.insert(_batch(spark, 15, 30), compute_stats=False)
    assert (c.rows_inserted, c.rows_updated) == (0, 0)
    assert len(jobs) <= 2, jobs
