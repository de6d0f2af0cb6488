"""Storage connectors (§1.1 StorageConnector parity): option-dict
shapes per connector type + a real file-based external feature group
read through the Query IR."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from feature_store_api_spark import FeatureStore
from feature_store_api_spark.sources.connectors import (
    BigQueryConnector,
    HopsFsConnector,
    JdbcConnector,
    KafkaConnector,
    RedshiftConnector,
    S3Connector,
    SnowflakeConnector,
)
from feature_store_api_spark.sources.readers import read_parquet


def test_jdbc_options():
    c = JdbcConnector(
        "mydb", "jdbc:mysql://h:3306/db", user="u", password="p",
        driver="com.mysql.cj.jdbc.Driver",
    )
    o = c.spark_options()
    assert o["url"] == "jdbc:mysql://h:3306/db"
    assert o["user"] == "u" and o["password"] == "p"
    assert o["driver"] == "com.mysql.cj.jdbc.Driver"
    with pytest.raises(ValueError, match="query"):
        c.read(None)  # JDBC requires a query


def test_redshift_builds_jdbc_url():
    c = RedshiftConnector(
        "rs", cluster_identifier="mycluster", database_name="dev",
        database_endpoint="abc.us-east-1.redshift.amazonaws.com",
        database_user_name="admin", database_password="x",
    )
    o = c.spark_options()
    assert o["url"].startswith("jdbc:redshift://mycluster.abc.us-east-1")
    assert o["url"].endswith(":5439/dev")
    assert o["driver"] == "com.amazon.redshift.jdbc42.Driver"


def test_snowflake_options_password_vs_token():
    base = dict(url="https://acct.snowflakecomputing.com", user="u",
                database="d", schema="s")
    c1 = SnowflakeConnector("sf", password="pw", warehouse="wh", table="t", **base)
    o1 = c1.spark_options()
    assert o1["sfPassword"] == "pw" and o1["sfWarehouse"] == "wh"
    assert o1["dbtable"] == "t"
    c2 = SnowflakeConnector("sf", token="tok", **base)
    o2 = c2.spark_options()
    assert o2["sfAuthenticator"] == "oauth" and o2["sfToken"] == "tok"


def test_bigquery_options():
    c = BigQueryConnector(
        "bq", parent_project="pp", key_path="/tmp/k.json",
        materialization_dataset="md",
    )
    o = c.spark_options()
    assert o["parentProject"] == "pp"
    assert o["credentialsFile"] == "/tmp/k.json"
    assert o["viewsEnabled"] == "true" and o["materializationDataset"] == "md"


def test_kafka_options_and_stream_requirement():
    c = KafkaConnector(
        "k", bootstrap_servers="b1:9092,b2:9092", security_protocol="SSL",
        ssl_truststore_location="/ts.jks", ssl_truststore_password="tp",
    )
    o = c.spark_options()
    assert o["kafka.bootstrap.servers"] == "b1:9092,b2:9092"
    assert o["kafka.security.protocol"] == "SSL"
    assert o["kafka.ssl.truststore.location"] == "/ts.jks"
    with pytest.raises(ValueError, match="stream"):
        c.read(None)


def test_s3_path_prefixing():
    c = S3Connector("s3", bucket="s3://my-bucket/", access_key="a", secret_key="b")
    assert c._prefix_path("data/file.parquet") == "s3a://my-bucket/data/file.parquet"


def test_external_fg_reads_through_query_ir(spark, sf_dir):
    """ExternalFeatureGroup over a csv dir: select/filter through the
    Query IR, values identical to the source table."""
    tmp = tempfile.mkdtemp(prefix="fsas_ext_")
    try:
        orders = read_parquet(spark, f"{sf_dir}/orders.parquet").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        orders.write.option("header", "true").csv(f"{tmp}/orders_csv")
        fs = FeatureStore(name="ext")
        conn = HopsFsConnector("local_fs")
        fg = fs.create_external_feature_group(
            "orders_ext", conn, path=f"{tmp}/orders_csv", data_format="csv",
            options={"header": "true", "inferSchema": "true"},
            primary_key=["o_orderkey"],
        )
        from feature_store_api_spark.feature import Feature

        fg.set_features([
            Feature("o_orderkey", "bigint"),
            Feature("o_custkey", "bigint"),
            Feature("o_totalprice", "double"),
        ])
        q = fg.select(["o_orderkey", "o_totalprice"]).filter(
            fg.o_totalprice > 200000
        )
        got = q.read(spark)
        want = orders.where(F.col("o_totalprice") > 200000)
        assert got.count() == want.count()
        assert got.agg(F.sum("o_totalprice")).first()[0] == pytest.approx(
            want.agg(F.sum("o_totalprice")).first()[0]
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_dbapi_distributed_read(spark, tmp_path):
    """The jarless DBAPI source executes range-partitioned queries
    INSIDE executors (Spark JDBC's model over PEP 249): partition
    predicates cover the full range incl. NULLs, every row arrives
    exactly once, pushdown WHERE runs database-side, and the
    connector surface wires through."""
    import sqlite3

    from feature_store_api_spark.sources.connectors import DbApiConnector
    from feature_store_api_spark.sources.dbapi_source import (
        _partition_predicates,
        read_dbapi,
        sqlite_connector,
    )

    db = str(tmp_path / "t.db")
    conn = sqlite3.connect(db)
    conn.execute("CREATE TABLE orders (k INTEGER, price REAL, tag TEXT)")
    conn.executemany(
        "INSERT INTO orders VALUES (?, ?, ?)",
        [(i, float(i) * 1.5, f"t{i % 3}") for i in range(1000)]
        + [(None, -1.0, "null-key")],
    )
    conn.commit()
    conn.close()

    out = read_dbapi(
        spark, sqlite_connector(db), table="orders",
        partition_column="k", num_partitions=8,
    )
    rows = out.collect()
    assert len(rows) == 1001  # exactly once, incl. the NULL-key row
    assert out.rdd.getNumPartitions() == 8
    got = {r["k"]: (r["price"], r["tag"]) for r in rows if r["k"] is not None}
    assert got[7] == (10.5, "t1")
    assert any(r["k"] is None and r["tag"] == "null-key" for r in rows)

    # pushdown query path + connector surface
    c = DbApiConnector(
        "mydb", sqlite_connector(db),
        partition_column="k", num_partitions=4,
    )
    q = c.read(spark, query="SELECT k, price FROM orders WHERE k % 3 = 1")
    ks = sorted(r["k"] for r in q.collect())
    assert ks == [i for i in range(1000) if i % 3 == 1]

    # stride predicates: full coverage, no overlap, NULLs in the first
    preds = _partition_predicates("k", 0, 100, 4)
    assert len(preds) == 4 and "IS NULL" in preds[0]

    # empty source without schema= fails loudly
    conn = sqlite3.connect(db)
    conn.execute("CREATE TABLE empty (a INTEGER)")
    conn.commit()
    conn.close()
    with pytest.raises(ValueError, match="schema"):
        read_dbapi(spark, sqlite_connector(db), table="empty")
    from pyspark.sql import types as T

    e = read_dbapi(
        spark, sqlite_connector(db), table="empty",
        schema=T.StructType([T.StructField("a", T.LongType())]),
    )
    assert e.count() == 0 and e.columns == ["a"]


class _RecordingCursor:
    def __init__(self, cur, log):
        self._cur, self._log = cur, log

    def execute(self, sql, *a):
        with open(self._log, "a") as fh:
            fh.write(sql + "\n")
        return self._cur.execute(sql, *a)

    def __getattr__(self, name):
        return getattr(self._cur, name)


class _RecordingConn:
    def __init__(self, db, log):
        import sqlite3

        self._conn, self._log = sqlite3.connect(db), log

    def cursor(self):
        return _RecordingCursor(self._conn.cursor(), self._log)

    def close(self):
        self._conn.close()


def _recording_connect(db, log):
    from functools import partial

    return partial(_RecordingConn, db, log)


def test_dbapi_write_roundtrip(spark, tmp_path):
    """write_dbapi appends a DataFrame into an existing table — one
    executor-side connection + executemany per PARTITION (Spark JDBC's
    write model); single-writer databases (sqlite) serialize partitions
    via busy retries; the rows round-trip exactly through read_dbapi."""
    import sqlite3

    from feature_store_api_spark.sources.connectors import DbApiConnector
    from feature_store_api_spark.sources.dbapi_source import (
        read_dbapi,
        sqlite_connector,
        write_dbapi,
    )

    db = str(tmp_path / "w.db")
    conn = sqlite3.connect(db)
    conn.execute("CREATE TABLE sink (k INTEGER, price REAL, tag TEXT)")
    conn.commit()
    conn.close()

    df = spark.createDataFrame(
        [(i, float(i) * 1.5, f"t{i % 3}") for i in range(500)],
        "k long, price double, tag string",
    ).repartition(8)
    write_dbapi(df, sqlite_connector(db), "sink")
    back = read_dbapi(
        spark, sqlite_connector(db), table="sink",
        partition_column="k", num_partitions=4,
    )
    got = sorted((r["k"], r["price"], r["tag"]) for r in back.collect())
    assert got == [(i, i * 1.5, f"t{i % 3}") for i in range(500)]

    # connector surface + append semantics (second write adds rows)
    c = DbApiConnector("mydb", sqlite_connector(db))
    c.write(df.where("k < 10"), "sink")
    n = sqlite3.connect(db).execute(
        "SELECT COUNT(*) FROM sink"
    ).fetchone()[0]
    assert n == 510


def test_dbapi_pushdown_and_option_coercion(spark, tmp_path):
    """filter=/columns= fold into every partition's statement so the
    DATABASE prunes rows and columns (pinned by recording the SQL the
    executors actually emit — the same pruning Spark JDBC gets from
    Catalyst pushdown), and string-valued option bounds coerce to
    numbers instead of breaking the stride arithmetic."""
    import sqlite3

    from feature_store_api_spark.sources.connectors import DbApiConnector
    from feature_store_api_spark.sources.dbapi_source import read_dbapi

    db = str(tmp_path / "t.db")
    conn = sqlite3.connect(db)
    conn.execute("CREATE TABLE orders (k INTEGER, price REAL, tag TEXT)")
    conn.executemany(
        "INSERT INTO orders VALUES (?, ?, ?)",
        [(i, float(i) * 1.5, f"t{i % 3}") for i in range(100)],
    )
    conn.commit()
    conn.close()
    log = str(tmp_path / "emitted.sql")

    out = read_dbapi(
        spark, _recording_connect(db, log), table="orders",
        partition_column="k", num_partitions=4,
        filter="k % 2 = 0", columns=["k", "price"],
    )
    rows = out.collect()
    assert out.columns == ["k", "price"]
    assert sorted(r["k"] for r in rows) == list(range(0, 100, 2))
    with open(log) as fh:
        emitted = [ln for ln in fh.read().splitlines()
                   if "LIMIT" not in ln and "MIN(" not in ln]
    assert emitted, "no executor statements recorded"
    for sql in emitted:
        assert "SELECT k, price FROM" in sql      # projection pushed
        assert "(k % 2 = 0) AND" in sql           # predicate pushed
    # bounds probe also narrowed by the filter
    assert len(emitted) == 4

    # option-driven bounds arrive as STRINGS (Spark options contract):
    # they must coerce, not compare lexicographically / crash
    c = DbApiConnector("mydb", _recording_connect(db, log))
    q = c.read(spark, query="SELECT k, tag FROM orders", options={
        "partition_column": "k", "num_partitions": "4",
        "lower_bound": "0", "upper_bound": "99",
        "filter": "k < 10", "columns": "k,tag",
    })
    got = sorted(r["k"] for r in q.collect())
    assert got == list(range(10))
    assert q.rdd.getNumPartitions() == 4


def test_dbapi_write_paramstyle(spark, tmp_path):
    """write_dbapi derives placeholders from the driver module's PEP 249
    ``paramstyle`` (psycopg2/MySQLdb advertise 'format' — a hardcoded
    qmark '?' would fail every insert through them); an explicit
    ``paramstyle=`` option wins over the probe."""
    import sqlite3

    from feature_store_api_spark.sources.connectors import DbApiConnector
    from feature_store_api_spark.sources.dbapi_source import (
        _paramstyle_of,
        sqlite_connector,
        write_dbapi,
    )

    db = str(tmp_path / "ps.db")
    conn = sqlite3.connect(db)
    conn.execute("CREATE TABLE sink (k INTEGER, tag TEXT)")
    conn.commit()
    conn.close()

    def format_connector(path):
        # sqlite3 wrapper that advertises paramstyle='format' on its
        # class's module (where PEP 249 pins the attribute) and only
        # accepts %s placeholders — a psycopg2 stand-in
        def connect():
            import sqlite3 as _sq
            import sys
            import types

            if "fake_pg_driver" not in sys.modules:
                m = types.ModuleType("fake_pg_driver")
                m.paramstyle = "format"
                sys.modules["fake_pg_driver"] = m

            class FormatCursor:
                def __init__(self, cur):
                    self._cur = cur

                def executemany(self, sql, rows):
                    if "%s" not in sql or "?" in sql:
                        raise RuntimeError(f"bad placeholders: {sql}")
                    return self._cur.executemany(
                        sql.replace("%s", "?"), rows
                    )

                def close(self):
                    self._cur.close()

            class FormatConnection:
                def __init__(self, c):
                    self._c = c

                def cursor(self):
                    return FormatCursor(self._c.cursor())

                def commit(self):
                    self._c.commit()

                def close(self):
                    self._c.close()

            FormatConnection.__module__ = "fake_pg_driver"
            return FormatConnection(_sq.connect(path))

        return connect

    df = spark.createDataFrame(
        [(i, f"t{i}") for i in range(20)], "k long, tag string"
    )
    # probe path: the fake driver's module paramstyle drives %s
    write_dbapi(df.coalesce(1), format_connector(db), "sink")
    # driver-side probe sanity
    c = format_connector(db)()
    assert _paramstyle_of(c) == "format"
    c.close()
    assert _paramstyle_of(sqlite3.connect(":memory:")) == "qmark"

    # explicit override: named style (sqlite3 accepts :name natively)
    conn2 = DbApiConnector("mydb", sqlite_connector(db))
    conn2.write(
        df, "sink",
        options={"paramstyle": "named", "num_partitions": "1",
                 "batch_size": "5", "busy_retries": "10"},
    )
    n = sqlite3.connect(db).execute("SELECT COUNT(*) FROM sink").fetchone()[0]
    assert n == 40
    got = sqlite3.connect(db).execute(
        "SELECT COUNT(DISTINCT k), COUNT(DISTINCT tag) FROM sink"
    ).fetchone()
    assert tuple(got) == (20, 20)


def test_external_fg_filter_ir_pushdown_dbapi(spark, tmp_path):
    """A ``Query.filter()`` over an external FG routes its Filter IR
    into the connector read: for DBAPI sources the predicate lands in
    the WHERE text of the statements the EXECUTORS emit — the database
    prunes, not a post-scan Spark filter (pinned by recording the SQL;
    the compiler still re-applies the exact predicate at the root)."""
    import sqlite3

    from feature_store_api_spark import FeatureStore
    from feature_store_api_spark.feature import Feature
    from feature_store_api_spark.sources.connectors import DbApiConnector

    db = str(tmp_path / "ext.db")
    conn = sqlite3.connect(db)
    conn.execute("CREATE TABLE src (k INTEGER, price REAL)")
    conn.executemany(
        "INSERT INTO src VALUES (?, ?)",
        [(i, float(i)) for i in range(100)],
    )
    conn.commit()
    conn.close()
    log = str(tmp_path / "emitted.sql")

    fs = FeatureStore(name="extpush")
    c = DbApiConnector("mydb", _recording_connect(db, log))
    fg = fs.create_external_feature_group(
        "src_ext", c, query="SELECT k, price FROM src",
        primary_key=["k"],
    )
    fg.set_features([Feature("k", "bigint"), Feature("price", "double")])
    q = fg.select_all().filter(fg.k >= 90)
    got = sorted(r["k"] for r in q.read(spark).collect())
    assert got == list(range(90, 100))
    with open(log) as fh:
        emitted = [ln for ln in fh.read().splitlines()
                   if "LIMIT" not in ln and "MIN(" not in ln]
    assert emitted, "no executor statements recorded"
    for sql in emitted:
        assert "k >= 90" in sql  # IR landed database-side


def test_external_fg_filter_ir_pushdown_iceberg(spark, tmp_path):
    """For an external ICEBERG FG the routed Filter IR prunes at
    MANIFEST level: the non-matching manifest avro is deleted from
    disk before the filtered read — an unpruned plan would open it and
    throw, so passing proves pruning planned only matching files."""
    import pyarrow as pa
    import pyarrow.parquet as pq_mod

    from feature_store_api_spark import FeatureStore
    from feature_store_api_spark.feature import Feature
    from feature_store_api_spark.sources.connectors import HopsFsConnector
    from tests.test_iceberg_reader import (
        _p_entry,
        _p_manifest,
        _p_manifest_list,
        _p_metadata,
    )

    root = str(tmp_path / "ice_ext")
    f1 = os.path.join(root, "data", "d1.parquet")
    f2 = os.path.join(root, "data", "d2.parquet")
    os.makedirs(os.path.dirname(f1), exist_ok=True)
    pq_mod.write_table(pa.table(
        {"k": [1], "v": [1.0], "part": ["a"]}), f1)
    pq_mod.write_table(pa.table(
        {"k": [2], "v": [2.0], "part": ["b"]}), f2)
    m1 = _p_manifest(root, "m1.avro", [_p_entry(f1, part="a")])
    m2 = _p_manifest(root, "m2.avro", [_p_entry(f2, part="b")])
    ml = _p_manifest_list(root, "s1.avro", [
        (m1, 1, [{"contains_null": False, "lower_bound": b"a",
                  "upper_bound": b"a"}]),
        (m2, 2, [{"contains_null": False, "lower_bound": b"b",
                  "upper_bound": b"b"}]),
    ])
    _p_metadata(root, ml)
    os.remove(m2)  # the pin

    fs = FeatureStore(name="extice")
    fg = fs.create_external_feature_group(
        "ice_ext", HopsFsConnector("local_fs"),
        path=root, data_format="iceberg", primary_key=["k"],
    )
    fg.set_features([
        Feature("k", "bigint"), Feature("v", "double"),
        Feature("part", "string"),
    ])
    q = fg.select_all().filter(fg.part == "a")
    rows = q.read(spark).collect()
    assert [(r["k"], r["part"]) for r in rows] == [(1, "a")]


def test_pushdown_hint_skipped_online_and_preview(spark, tmp_path):
    """The Filter IR hint must NOT reach the source when latest-per-key
    resolution runs first (online=True — pre-filtering would resurrect
    superseded versions) or when the preview contract strips filters
    (skip_filters=True)."""
    from feature_store_api_spark import FeatureStore
    from feature_store_api_spark.feature import Feature
    from feature_store_api_spark.plans.compiler import compile_query
    from feature_store_api_spark.sources.connectors import HopsFsConnector

    src = str(tmp_path / "v.parquet")
    # k=1 has v1 (price 5) superseded by v2 (price 10)
    spark.createDataFrame(
        [(1, 1, 5.0), (1, 2, 10.0)], "k long, ts long, price double"
    ).write.parquet(src)
    fs = FeatureStore(name="onl_hint")
    fg = fs.create_external_feature_group(
        "v_ext", HopsFsConnector("fsl"), path=src, data_format="parquet",
        primary_key=["k"], event_time="ts",
    )
    fg.set_features([
        Feature("k", "bigint"), Feature("ts", "bigint"),
        Feature("price", "double"),
    ])
    q = fg.select_all().filter(fg.price < 6)
    # offline: the superseded row matches (log view semantics)
    assert q.read(spark).count() == 1
    # online: latest-per-key FIRST (price=10), THEN the filter -> empty.
    # a pushed hint would resurrect v1 and wrongly return it
    assert compile_query(q, spark, online=True).count() == 0
    # preview contract: filters stripped entirely -> the latest row
    got = compile_query(q, spark, online=True, skip_filters=True)
    assert [(r["k"], r["price"]) for r in got.collect()] == [(1, 10.0)]


def test_pushdown_hint_tolerates_unsanitized_source_columns(spark, tmp_path):
    """A filtered external-FG read over a source whose PHYSICAL column
    names need sanitization ('Doc ID' -> doc_id) must still work: the
    pushed hint re-binds by sanitized twin instead of crashing on an
    unresolved column (r14 review regression)."""
    from feature_store_api_spark import FeatureStore
    from feature_store_api_spark.feature import Feature
    from feature_store_api_spark.sources.connectors import HopsFsConnector

    src = str(tmp_path / "raw_names")
    spark.createDataFrame(
        [(1, 5.0), (2, 6.0), (3, 7.0)], ["Doc ID", "The Price"]
    ).write.parquet(src)
    fs = FeatureStore(name="raw_hint")
    fg = fs.create_external_feature_group(
        "raw_ext", HopsFsConnector("fsl"), path=src,
        data_format="parquet", primary_key=["doc_id"],
    )
    fg.set_features([
        Feature("doc_id", "bigint"), Feature("the_price", "double"),
    ])
    q = fg.select_all().filter(fg.doc_id >= 2)
    got = sorted(r["doc_id"] for r in q.read(spark).collect())
    assert got == [2, 3]


def test_external_fg_projection_pushdown_dbapi(spark, tmp_path):
    """Selecting a feature subset from a DBAPI external FG projects
    DATABASE-side: the executor statements SELECT only the needed
    columns (+ keys), so wide tables never ship unused columns to
    Spark — pinned by recording the emitted SQL."""
    import sqlite3

    from feature_store_api_spark import FeatureStore
    from feature_store_api_spark.feature import Feature
    from feature_store_api_spark.sources.connectors import DbApiConnector

    db = str(tmp_path / "wide.db")
    conn = sqlite3.connect(db)
    conn.execute(
        "CREATE TABLE wide (k INTEGER, a REAL, b REAL, c TEXT, d TEXT)"
    )
    conn.executemany(
        "INSERT INTO wide VALUES (?, ?, ?, ?, ?)",
        [(i, float(i), float(i) * 2, f"c{i}", f"d{i}") for i in range(50)],
    )
    conn.commit()
    conn.close()
    log = str(tmp_path / "emitted.sql")

    fs = FeatureStore(name="projpush")
    c = DbApiConnector("mydb", _recording_connect(db, log))
    fg = fs.create_external_feature_group(
        "wide_ext", c, query="SELECT k, a, b, c, d FROM wide",
        primary_key=["k"],
    )
    fg.set_features([
        Feature("k", "bigint"), Feature("a", "double"),
        Feature("b", "double"), Feature("c", "string"),
        Feature("d", "string"),
    ])
    got = fg.select(["k", "a"]).read(spark)
    assert sorted(got.columns) == ["a", "k"]
    assert got.count() == 50
    with open(log) as fh:
        emitted = [ln for ln in fh.read().splitlines()
                   if "LIMIT" not in ln and "MIN(" not in ln]
    assert emitted, "no executor statements recorded"
    for sql in emitted:
        assert "SELECT k, a FROM" in sql       # projection pushed
        assert " b" not in sql.split("FROM")[0]  # unused cols absent


def test_dbapi_pushdown_dialect_stable_leaves_only():
    """The DBAPI WHERE pushdown drops rows database-side BEFORE the
    root predicate runs, so only dialect-stable leaves may be pushed
    (r15 advice): string range/LIKE/inequality evaluate under the
    database's collation (MySQL *_ci orders 'm' == 'M'), backslashes
    are escape-introducers under MySQL's default mode, an empty IN
    list is a syntax error, and non-finite floats have no literal.
    AND keeps the stable side; OR drops the whole branch."""
    from feature_store_api_spark.constructor.filter import (
        normalize_filters,
        weaken,
    )
    from feature_store_api_spark.sources.connectors import _plain_ident_leaf

    def push(f):
        return weaken(normalize_filters(f), _plain_ident_leaf)

    # numerics/bools: every operator pushes
    assert push(("k", ">", 5)) == ("leaf", "k", "GREATER_THAN", 5)
    assert push(("ok", "==", True)) is not None
    # temporals never push: TIMESTAMP '...' is a syntax error on
    # typeless engines, and a quoted string against an epoch-INTEGER
    # column compares by sqlite's type ordering (always false)
    from datetime import date, datetime
    assert push(("d", "<=", date(2024, 1, 1))) is None
    assert push(("d", "<", datetime(2024, 1, 1))) is None
    # string equality / IN push (ci collation keeps a superset the
    # root predicate re-narrows) — but never with a backslash
    assert push(("tag", "==", "a")) is not None
    assert push(("tag", "in", ["a", "b"])) is not None
    assert push(("tag", "==", "a\\b")) is None
    assert push(("tag", "in", ["a", "a\\b"])) is None
    # string range / LIKE / != can REJECT rows Spark keeps: never push
    assert push(("tag", ">", "m")) is None
    assert push(("tag", "!=", "M")) is None
    assert push(("leaf", "tag", "LIKE", "a%")) is None
    # empty IN emits 'IN ()' (syntax error): drop
    assert push(("k", "in", [])) is None
    # non-finite floats have no SQL literal
    assert push(("v", ">", float("nan"))) is None
    assert push(("v", "<", float("inf"))) is None
    # weakening: AND keeps the stable side, OR drops whole
    assert push([("k", ">", 5), ("tag", ">", "m")]) == (
        "leaf", "k", "GREATER_THAN", 5
    )
    assert push(("or", ("k", ">", 5), ("tag", ">", "m"))) is None


def test_dbapi_pushdown_unstable_filter_still_exact(spark, tmp_path):
    """A string-range filter is NOT emitted into executor SQL (dialect
    hazard) yet the query result is still exact — the compiler's root
    predicate does the filtering Spark-side."""
    import sqlite3

    from feature_store_api_spark import FeatureStore
    from feature_store_api_spark.feature import Feature
    from feature_store_api_spark.sources.connectors import DbApiConnector

    db = str(tmp_path / "ext2.db")
    conn = sqlite3.connect(db)
    conn.execute("CREATE TABLE src (k INTEGER, tag TEXT)")
    conn.executemany(
        "INSERT INTO src VALUES (?, ?)",
        [(i, t) for i, t in enumerate(["apple", "Mango", "zebra", "mint"])],
    )
    conn.commit()
    conn.close()
    log = str(tmp_path / "emitted2.sql")

    fs = FeatureStore(name="extpush2")
    c = DbApiConnector("mydb2", _recording_connect(db, log))
    fg = fs.create_external_feature_group(
        "src_ext2", c, query="SELECT k, tag FROM src",
        primary_key=["k"],
    )
    fg.set_features([Feature("k", "bigint"), Feature("tag", "string")])
    q = fg.select_all().filter((fg.tag > "m") & (fg.k >= 0))
    got = sorted(r["tag"] for r in q.read(spark).collect())
    assert got == ["mint", "zebra"]  # binary compare: 'Mango' excluded
    with open(log) as fh:
        emitted = fh.read()
    assert "tag" not in emitted.split("FROM")[0] or "tag >" not in emitted
    assert "k >= 0" in emitted  # the stable side still pushed
