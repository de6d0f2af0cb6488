"""Unit tests for the Filter/Logic IR (no Spark needed beyond compile)."""

import pytest

from feature_store_api_spark.constructor.filter import Filter, Logic
from feature_store_api_spark.feature import Feature, autofix_feature_name, ddl_to_spark_type


def test_comparison_operators_build_filters():
    f = Feature("x", "bigint")
    for expr, cond in [
        (f > 1, Filter.GT), (f >= 1, Filter.GE), (f < 1, Filter.LT),
        (f <= 1, Filter.LE), (f == 1, Filter.EQ), (f != 1, Filter.NE),
    ]:
        assert isinstance(expr, Filter)
        assert expr.condition == cond
        assert expr.value == 1
    assert (f.isin([1, 2])).condition == Filter.IN
    assert (f.like("a%")).condition == Filter.LK


def test_logic_composition():
    f = Feature("x", "int")
    g = Feature("y", "int")
    logic = (f > 1) & ((g < 5) | (g == 9))
    assert isinstance(logic, Logic)
    feats = logic.referenced_features()
    assert {x.name for x in feats} == {"x", "y"}


def test_autofix_feature_name():
    assert autofix_feature_name("Primary Key") == "primary_key"
    assert autofix_feature_name("staTe 1") == "state_1"
    assert autofix_feature_name("a-b.c") == "a_b_c"


def test_ddl_type_roundtrip():
    from pyspark.sql import types as T

    assert ddl_to_spark_type("bigint") == T.LongType()
    assert ddl_to_spark_type("array<float>") == T.ArrayType(T.FloatType())
    f = Feature("x", "tinyint")
    assert f.ddl_type == "int"  # tinyint promotion (engine/spark.py:1400-1409)


def test_unknown_condition_rejected():
    f = Feature("x", "int")
    with pytest.raises(ValueError):
        Filter(f, "BETWEEN", 1)


# ---------------------------------------------------------------------------
# one predicate, every consumer of the IR: the compiler, the SQL emitter,
# a source-side residual and the DBAPI pushdown keep the same rows
# ---------------------------------------------------------------------------

_ROWS = [
    (1, "C:\\dir", 1.0),
    (2, "C:dir", 2.5),
    (3, None, None),
    (4, "a_b", -1.0),
    (5, "axb", 4.0),
]

_CASES = {
    "ge": lambda g: g.v >= 2.5,
    "gt": lambda g: g.v > 1.0,
    "ne": lambda g: g.tag != "C:dir",
    "eq_backslash": lambda g: g.tag == "C:\\dir",
    "le": lambda g: g.v <= 1.0,
    "lt": lambda g: g.k < 3,
    "in_empty": lambda g: g.tag.isin([]),
    "like_escape": lambda g: g.tag.like("a\\_b"),
    "and": lambda g: (g.v > 0.0) & g.tag.like("%dir"),
    "or": lambda g: g.k.isin([1, 5]) | (g.tag == "a_b") | (g.v < -0.5),
}


def _like_re(pattern):
    import re

    out, i = [], 0
    while i < len(pattern):
        c = pattern[i]
        if c == "\\" and i + 1 < len(pattern):
            out.append(re.escape(pattern[i + 1]))
            i += 2
            continue
        out.append(".*" if c == "%" else "." if c == "_" else re.escape(c))
        i += 1
    return re.compile("".join(out), re.S)


_PY_OPS = {
    Filter.GE: lambda x, v: x >= v,
    Filter.GT: lambda x, v: x > v,
    Filter.NE: lambda x, v: x != v,
    Filter.EQ: lambda x, v: x == v,
    Filter.LE: lambda x, v: x <= v,
    Filter.LT: lambda x, v: x < v,
    Filter.IN: lambda x, v: x in v,
    Filter.LK: lambda x, v: _like_re(v).fullmatch(x) is not None,
}


def _py_keeps(tree, row):
    """Plain-Python WHERE: a NULL operand fails its leaf, which is exact
    for AND/OR trees (the IR has no NOT)."""
    kind = tree[0]
    if kind == "and":
        return _py_keeps(tree[1], row) and _py_keeps(tree[2], row)
    if kind == "or":
        return _py_keeps(tree[1], row) or _py_keeps(tree[2], row)
    _, col, op, value = tree
    x = row[col]
    return x is not None and _PY_OPS[op](x, value)


@pytest.fixture(scope="module")
def ir_groups(spark, tmp_path_factory):
    import sqlite3

    from feature_store_api_spark import FeatureStore
    from feature_store_api_spark.sources.connectors import (
        DbApiConnector,
        HopsFsConnector,
    )

    tmp = tmp_path_factory.mktemp("filter_ir")
    features = [Feature("k", "bigint"), Feature("tag", "string"),
                Feature("v", "double")]
    frame = spark.createDataFrame(_ROWS, "k long, tag string, v double")
    fs = FeatureStore(root=str(tmp / "fs"))
    managed = fs.create_feature_group("rows", primary_key=["k"])
    managed.insert(frame)

    frame.write.parquet(str(tmp / "rows_pq"))
    parquet = fs.create_external_feature_group(
        "rows_pq", HopsFsConnector("local"), path=str(tmp / "rows_pq"),
        data_format="parquet", primary_key=["k"],
    )
    parquet.set_features(features)

    db = str(tmp / "rows.db")
    conn = sqlite3.connect(db)
    conn.execute("CREATE TABLE src (k INTEGER, tag TEXT, v REAL)")
    conn.executemany("INSERT INTO src VALUES (?, ?, ?)", _ROWS)
    conn.commit()
    conn.close()
    dbapi = fs.create_external_feature_group(
        "rows_db", DbApiConnector("db", lambda: sqlite3.connect(db)),
        query="SELECT k, tag, v FROM src", primary_key=["k"],
    )
    dbapi.set_features(features)
    return fs, managed, parquet, dbapi


@pytest.mark.parametrize("case", sorted(_CASES))
def test_every_ir_consumer_keeps_the_same_rows(spark, ir_groups, case):
    from feature_store_api_spark.constructor.filter import (
        normalize_filters,
        remap_tree,
        weaken,
    )
    from feature_store_api_spark.sources.connectors import _plain_ident_leaf

    fs, managed, parquet, dbapi = ir_groups
    tree = normalize_filters(_CASES[case](managed))
    cols = ("k", "tag", "v")
    want = sorted(r[0] for r in _ROWS if _py_keeps(tree, dict(zip(cols, r))))

    def keys(df):
        return sorted(r["k"] for r in df.collect())

    q = managed.select(["k"]).filter(_CASES[case](managed))
    assert keys(q.read(spark)) == want, "compiler"
    assert keys(fs.sql(q.to_string(), spark)) == want, q.to_string()
    assert keys(
        parquet.read_source(spark, filters=_CASES[case](parquet))
    ) == want, "source residual"
    q_db = dbapi.select(["k"]).filter(_CASES[case](dbapi))
    assert keys(q_db.read(spark)) == want, "dbapi query"
    # the pushdown alone never drops a wanted row, and a tree that
    # pushes whole is evaluated exactly by the database
    pushed = keys(dbapi.read_source(spark, filters=_CASES[case](dbapi)))
    assert set(want) <= set(pushed), pushed
    if weaken(remap_tree(tree, cols), _plain_ident_leaf) == tree:
        assert pushed == want, "dbapi pushdown"
