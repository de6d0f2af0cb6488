"""Spark jobs per public operation, pinned as upper bounds.

At feature-store batch sizes per-job scheduling, not data volume, sets
the cost of a call, so each bound here may only go down. The fixture is
a small online-enabled group; a failing bound reports the stage names
of every job the call ran."""

import pytest

from feature_store_api_spark import FeatureStore
from tests.conftest import job_stages, spark_jobs

SCHEMA = "k long, ts long, v double"

# jobs of one upsert on top of two commits, and of one right after a
# delete commit, per time-travel format. The plain backend runs the
# broadcast of the prior keys, the commit write and the online upsert;
# a delete in the window adds the broadcast of its delete rows. The
# format backends add their own metadata reads (Iceberg, Hudi) and log
# compaction passes (Hudi MOR).
UPSERT_BUDGET = {
    "COMMITLOG": (3, 4),
    "DELTA": (3, 4),
    "ICEBERG": (4, 5),
    "HUDI": (4, 5),
    "HUDI_MOR": (9, 10),
}


def _group(tmp_path, fmt="COMMITLOG"):
    fs = FeatureStore(root=str(tmp_path))
    return fs.create_feature_group(
        "budget", primary_key=["k"], event_time="ts", online_enabled=True,
        time_travel_format=fmt,
    )


@pytest.fixture()
def group(tmp_path):
    return _group(tmp_path)


def _batch(spark, lo, hi):
    return spark.createDataFrame(
        [(k, 10, float(k)) for k in range(lo, hi)], SCHEMA
    )


def _within(spark, jobs, bound):
    assert len(jobs) <= bound, job_stages(spark, jobs)


def test_first_insert_job_budget(spark, group):
    """The commit write and the online upsert; an empty window needs no
    statistics query."""
    with spark_jobs(spark) as jobs:
        c = group.insert(_batch(spark, 0, 20))
    assert (c.rows_inserted, c.rows_updated) == (20, 0)
    _within(spark, jobs, 2)


@pytest.mark.parametrize("fmt", list(UPSERT_BUDGET))
def test_upsert_job_budget(spark, tmp_path, fmt):
    """``rows_updated`` and the row count ride on the commit write: the
    only statistics job is the broadcast of the prior live keys the
    write's existence join reads."""
    group = _group(tmp_path, fmt)
    group.insert(_batch(spark, 0, 20))
    group.insert(_batch(spark, 10, 30))
    with spark_jobs(spark) as jobs:
        c = group.insert(_batch(spark, 25, 40))
    assert (c.rows_inserted, c.rows_updated) == (10, 5)
    _within(spark, jobs, UPSERT_BUDGET[fmt][0])


@pytest.mark.parametrize("fmt", list(UPSERT_BUDGET))
def test_upsert_after_delete_job_budget(spark, tmp_path, fmt):
    """A delete in the window retires keys through one anti join against
    the window's delete rows, not a resolve of the whole table."""
    group = _group(tmp_path, fmt)
    group.insert(_batch(spark, 0, 20))
    group.insert(_batch(spark, 10, 30))
    group.commit_store.write(_batch(spark, 0, 5), operation="delete")
    with spark_jobs(spark) as jobs:
        c = group.insert(_batch(spark, 3, 8))
    assert (c.rows_inserted, c.rows_updated) == (2, 3)
    _within(spark, jobs, UPSERT_BUDGET[fmt][1])


def test_insert_without_stats_job_budget(spark, group):
    group.insert(_batch(spark, 0, 20))
    with spark_jobs(spark) as jobs:
        c = group.insert(_batch(spark, 15, 30), compute_stats=False)
    assert (c.rows_inserted, c.rows_updated) == (0, 0)
    _within(spark, jobs, 2)
