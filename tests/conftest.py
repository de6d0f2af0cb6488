import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "8g")
    from feature_store_api_spark.session import get_spark

    s = get_spark("fsas-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def catalog(spark, sf_dir):
    from feature_store_api_spark import testdata_catalog

    return testdata_catalog(spark, sf_dir)


@pytest.fixture(scope="session")
def duck(sf_dir):
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def assert_df_equal(sdf, odf, sort_cols=None, rtol=1e-5):
    """Compare a Spark DataFrame with a DuckDB relation/pandas frame."""
    import pandas as pd

    a = sdf.toPandas()
    b = odf if isinstance(odf, pd.DataFrame) else odf.fetchdf()
    assert sorted(a.columns) == sorted(b.columns), (a.columns, b.columns)
    assert len(a) == len(b), (len(a), len(b))
    a = a.reindex(sorted(a.columns), axis=1)
    b = b.reindex(sorted(b.columns), axis=1)
    for c in a.columns:
        if pd.api.types.is_datetime64_any_dtype(a[c]):
            a[c] = a[c].astype("datetime64[us]")
            b[c] = b[c].astype("datetime64[us]")
    sort_cols = sort_cols or list(a.columns)
    a = a.sort_values(sort_cols).reset_index(drop=True)
    b = b.sort_values(sort_cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=False, rtol=rtol, atol=1e-6)


@contextlib.contextmanager
def spark_jobs(spark):
    """Collect the ids of the Spark jobs started inside the block.

    Yields a list that is filled, in job-id order, when the block exits.
    Job events reach the status tracker through the asynchronous
    listener bus, so the bus is drained on both sides of the block."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = set(tracker.getJobIdsForGroup(None))
    started = []
    yield started
    bus.waitUntilEmpty()
    started.extend(sorted(set(tracker.getJobIdsForGroup(None)) - before))


def job_stages(spark, job_ids):
    """The stage names of each job, by job id: what a failing job-budget
    assertion reports, so a regression names the jobs that came back."""
    tracker = spark.sparkContext.statusTracker()
    out = {}
    for j in job_ids:
        info = tracker.getJobInfo(j)
        stages = [tracker.getStageInfo(s) for s in info.stageIds] if info else []
        out[j] = [s.name for s in stages if s is not None]
    return out
