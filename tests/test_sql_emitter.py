"""query.to_string(): the emitted SQL, executed through fs.sql temp
views, must equal the compiled DataFrame — for every join type, prefix
renames, pk inference, filter trees, and appended defaults."""

import pytest
from pyspark.sql import functions as F

from feature_store_api_spark import FeatureStore
from feature_store_api_spark.feature import Feature


@pytest.fixture()
def fsq(spark, tmp_path):
    fs = FeatureStore(root=str(tmp_path / "emit"))
    left = fs.create_feature_group("base", primary_key=["k"])
    left.insert(
        spark.createDataFrame(
            [(1, 10.0, "x"), (2, 20.0, "y"), (3, 30.0, "x"), (4, 40.0, "z")],
            "k long, v double, tag string",
        )
    )
    right = fs.create_feature_group("dim", primary_key=["k"])
    right.insert(
        spark.createDataFrame(
            [(1, "a", 1.5), (2, "b", 2.5), (5, "c", 5.5)],
            "k long, name string, w double",
        )
    )
    return fs, left, right


def _assert_sql_equals_compiled(spark, fs, q):
    sql = q.to_string()
    via_sql = fs.sql(sql, spark)
    compiled = q.read(spark)
    assert via_sql.columns == compiled.columns, (via_sql.columns, compiled.columns, sql)
    a = sorted(map(tuple, via_sql.collect()))
    b = sorted(map(tuple, compiled.collect()))
    assert a == b, (sql, a, b)


def test_scan_filter_project(spark, fsq):
    fs, left, right = fsq
    q = left.select(["k", "v"]).filter((left.v > 15.0) | (left.tag == "x"))
    _assert_sql_equals_compiled(spark, fs, q)


@pytest.mark.parametrize("how", ["inner", "left", "right", "full"])
def test_join_types_pk_inferred(spark, fsq, how):
    fs, left, right = fsq
    q = left.select(["k", "v"]).join(
        right.select(["name"]), join_type=how, prefix="d_"
    )
    _assert_sql_equals_compiled(spark, fs, q)


def test_using_merge_selected_both_sides(spark, fsq):
    fs, left, right = fsq
    # key selected on both sides, USING-style merge
    q = left.select(["k", "v"]).join(
        right.select(["k", "w"]), on=["k"], join_type="full", prefix="d_"
    )
    _assert_sql_equals_compiled(spark, fs, q)


def test_semi_anti_with_right_filter(spark, fsq):
    fs, left, right = fsq
    for how in ("left_semi", "left_anti"):
        q = left.select(["k", "tag"]).join(
            right.select(["k"]).filter(right.w < 3.0), on=["k"], join_type=how
        )
        _assert_sql_equals_compiled(spark, fs, q)


def test_cross_join(spark, fsq):
    fs, left, right = fsq
    q = left.select(["v"]).join(
        right.select(["name"]), join_type="cross", prefix="d_"
    )
    _assert_sql_equals_compiled(spark, fs, q)


def test_filters_survive_joins_and_in_like(spark, fsq):
    fs, left, right = fsq
    q = (
        left.select(["k", "v", "tag"])
        .join(right.select(["name"]).filter(right["name"].isin(["a", "b"])), on=["k"], prefix="d_")
        .filter(left.tag.like("%x%") | (left.v >= 20.0))
    )
    _assert_sql_equals_compiled(spark, fs, q)


def test_appended_default_in_sql(spark, fsq):
    fs, left, right = fsq
    left.append_features([Feature("bonus", "double", default_value=7.25)])
    q = left.select(["k", "bonus"])
    sql = q.to_string()
    assert "COALESCE" in sql
    _assert_sql_equals_compiled(spark, fs, q)


def test_nested_join(spark, fsq):
    fs, left, right = fsq
    spark_df = spark.createDataFrame([(1, 100), (2, 200)], "k long, extra long")
    extra = fs.create_feature_group("extra_fg", primary_key=["k"])
    extra.insert(spark_df)
    nested = right.select(["k", "name"]).join(extra.select(["extra"]), on=["k"])
    q = left.select(["k", "v"]).join(nested, on=["k"], prefix="n_")
    _assert_sql_equals_compiled(spark, fs, q)


def test_time_travel_not_expressible(spark, fsq):
    fs, left, right = fsq
    q = left.select(["k"]).as_of("2024-01-01")
    with pytest.raises(ValueError):
        q.to_string()


@pytest.fixture()
def fs_lit(spark, tmp_path):
    fs = FeatureStore(root=str(tmp_path / "lit"))
    fg = fs.create_feature_group("paths", primary_key=["k"])
    fg.insert(
        spark.createDataFrame(
            [(1, "C:\\dir", 1.0), (2, "C:dir", float("nan")),
             (3, "a_b", 3.0), (4, "axb", None)],
            "k long, tag string, v double",
        )
    )
    return fs, fg


@pytest.mark.parametrize(
    "make",
    [
        lambda g: g.tag == "C:\\dir",
        lambda g: g.tag.like("a\\_b"),
        lambda g: g.tag.isin([]),
        lambda g: g.tag.isin([]) | (g.k == 3),
        lambda g: g.v < float("nan"),
        lambda g: (g.v > float("-inf")) & (g.v != float("inf")),
    ],
    ids=["backslash", "like_escape", "empty_in", "empty_in_or",
         "nan", "infinity"],
)
def test_literals_match_compiled(spark, fs_lit, make):
    """Backslashes, empty IN lists and non-finite floats print as SQL
    that keeps exactly the compiled frame's rows."""
    fs, fg = fs_lit
    q = fg.select(["k", "tag"]).filter(make(fg))
    _assert_sql_equals_compiled(spark, fs, q)
