"""The footer-stats bound contract (``sources/footer_stats.py``) on
files written by pyarrow (parquet-cpp) and by Spark (parquet-mr), each
split into two row groups of two rows."""

import datetime as dt
import glob

import pytest

from tests.conftest import *  # noqa: F401,F403 - spark fixture

INF, NAN = float("inf"), float("nan")
#: over the 4,000-char trust limit, under both writers' 4 KB stats cap,
#: so the bound is written and must be dropped by the reader
LONG_S = "x" * 4050
ROWS = [
    # l, dn, di, n, s, ts, st
    (3, 1.0, 1.0, None, "b", dt.datetime(2024, 1, 3), (1,)),
    (1, NAN, INF, None, LONG_S, dt.datetime(2024, 1, 1), (2,)),
    (4, 3.0, -INF, 5, "a", dt.datetime(2024, 1, 4), (3,)),
    (2, 2.0, 2.0, 6, "c", dt.datetime(2024, 1, 2), (4,)),
]
EXPECTED = {
    "l": (1, 4, 0, 4),
    "dn": (None, None, 0, 4),
    "di": (None, None, 0, 4),
    # first row group is all null: it has no bounds, and none are needed
    "n": (5, 6, 2, 4),
    "s": (None, None, 0, 4),
    "ts": (dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 4), 0, 4),
    # the nested "st.a" leaf is skipped
}


def _write_pyarrow(path, write_statistics=True):
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*ROWS))
    tbl = pa.table({
        "l": pa.array(cols[0], pa.int64()),
        "dn": pa.array(cols[1], pa.float64()),
        "di": pa.array(cols[2], pa.float64()),
        "n": pa.array(cols[3], pa.int64()),
        "s": pa.array(cols[4], pa.string()),
        "ts": pa.array(cols[5], pa.timestamp("us")),
        "st": pa.array([{"a": v[0]} for v in cols[6]]),
    })
    pq.write_table(
        tbl, path, row_group_size=2, write_statistics=write_statistics
    )
    return path


def _write_spark(spark, d):
    df = spark.createDataFrame(
        ROWS,
        "l long, dn double, di double, n long, s string, "
        "ts timestamp_ntz, st struct<a:long>",
    )
    (
        df.coalesce(1).write
        .option("parquet.block.row.count.limit", 2)
        .option("parquet.page.size.row.check.min", 1)
        .option("parquet.page.size.row.check.max", 1)
        .parquet(d)
    )
    (path,) = glob.glob(f"{d}/*.parquet")
    return path


@pytest.mark.parametrize("writer", ["pyarrow", "pyarrow_l_unstated", "spark"])
def test_footer_stats_bound_contract(spark, tmp_path, writer):
    import pyarrow.parquet as pq

    from feature_store_api_spark.sources.footer_stats import (
        footer_min,
        footer_stats,
    )

    expected = dict(EXPECTED)
    if writer == "spark":
        path = _write_spark(spark, str(tmp_path / "sp"))
    elif writer == "pyarrow":
        path = _write_pyarrow(str(tmp_path / "pa.parquet"))
        # known gap: parquet-cpp leaves NaN out of footer min/max, so
        # the footer claims the finite range of a column holding NaN
        expected["dn"] = (1.0, 3.0, 0, 4)
    else:
        path = _write_pyarrow(
            str(tmp_path / "pa.parquet"),
            write_statistics=[c for c in EXPECTED if c != "l"] + ["st.a"],
        )
        expected["dn"] = (1.0, 3.0, 0, 4)
        # values but no stats: no bounds, and no null count
        expected["l"] = (None, None, None, 4)
    md = pq.read_metadata(path)
    assert md.num_row_groups == 2
    stats = footer_stats(path)
    assert stats == expected
    assert footer_stats(md) == stats
    assert footer_min(path, "n") == 5
    assert footer_min(path, "s") is None
    assert footer_min(path, "missing") is None
