"""Storage connectors: credential/config objects that turn into Spark
DataSource reads.

Parity: ``/root/reference/python/hsfs/storage_connector.py`` — HopsFS
(:222), S3 (:252), Redshift (:406), ADLS (:602), Snowflake (:745), JDBC
(:949), Kafka (:1038), GCS (:1349), BigQuery (:1495). The reference
classes mostly compute a ``spark_options()`` dict plus bucket/path
prefixing and hand it to ``spark.read.format(...)``; that is exactly
what these do — no remote metadata service holds the credentials, the
connector object does.

Connectors whose driver jars are not on the classpath in this runtime
(Snowflake, BigQuery, Kafka, cloud object stores) still build their
options correctly and are unit-tested at that level; ``read`` surfaces
Spark's own missing-data-source error untouched.
"""

from __future__ import annotations

import re
from typing import Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession

from ..constructor.filter import Filter


def _stable_value(value, op) -> bool:
    """True iff evaluating ``col <op> value`` database-side can never
    REJECT a row Spark's exact root predicate would keep. The pushdown
    is a pre-filter, not the final word — keeping extra rows is fine
    (the root predicate re-applies), dropping rows Spark wants is not.

    Dialect hazards this gates on:

    * string RANGE/LIKE/NOT_EQUALS compare under the database's
      collation (MySQL's default ``*_ci`` orders ``'m' == 'M'`` while
      Spark compares binary) — a ci database evaluates ``col <> 'M'``
      false for ``'m'`` and drops a row Spark keeps, so only EQUALS/IN
      are pushable for strings (ci equality keeps a *superset*);
    * backslashes in string literals are escape-introducers under
      MySQL's default ``NO_BACKSLASH_ESCAPES=off`` while ANSI treats
      them literally — a mangled literal matches the wrong rows, so
      strings containing ``\\`` (or an embedded NUL) are not pushed;
    * non-finite floats have no SQL literal (``repr(nan)`` emits the
      bare word ``nan``) — dropped;
    * an empty IN list emits ``col IN ()`` (syntax error) — dropped;
    * date/timestamp literals are dropped too: the ANSI
      ``TIMESTAMP '...'`` form is a syntax error on typeless engines
      (sqlite), and a bare quoted string against an epoch-INTEGER
      column compares by sqlite's type ordering (every integer sorts
      before every text) — ``col >= '2024-…'`` silently rejects ALL
      rows. Temporal predicates stay Spark-side.

    Numeric/bool values compare identically across dialects and pass
    for every operator."""
    import math

    if op == Filter.IN:
        vals = list(value) if isinstance(value, (list, tuple, set)) else None
        if not vals:
            return False
        return all(_stable_value(v, Filter.EQ) for v in vals)
    if value is None or isinstance(value, (bytes, bytearray)):
        return False
    if isinstance(value, bool):
        return True
    if isinstance(value, float) and not math.isfinite(value):
        return False
    if hasattr(value, "isoformat"):
        return False
    if isinstance(value, (int, float)):
        return True
    if isinstance(value, str):
        if op != Filter.EQ:
            return False
        return "\\" not in value and "\x00" not in value
    return False


def _plain_ident_leaf(leaf):
    """Keep-leaf function for :func:`~..constructor.filter.weaken`:
    the leaf if it is safe to evaluate database-side, else None. Two
    gates:

    * the bound column must be a PLAIN identifier: identifier QUOTING
      is dialect-dependent across PEP 249 drivers (ANSI double quotes
      are string literals on default-mode MySQL, backticks are
      MySQL-only), and a mis-quoted identifier silently evaluates as a
      constant — so names that would need quoting are not pushed;
    * the literal must be dialect-stable (:func:`_stable_value`):
      string range/LIKE/inequality under a foreign collation, or a
      backslash-mangled literal, can REJECT rows Spark would keep —
      and the root predicate cannot resurrect them."""
    _, name, op, value = leaf
    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
        return None
    return leaf if _stable_value(value, op) else None


class StorageConnector:
    """Base: a named source of DataFrames."""

    type = "BASE"

    def __init__(self, name: str, **kwargs) -> None:
        self.name = name
        self._options = dict(kwargs)

    def spark_options(self) -> Dict[str, str]:
        """Options handed to ``spark.read.options(**...)``."""
        return dict(self._options)

    def _prefix_path(self, path: Optional[str]) -> Optional[str]:
        return path

    def read(
        self,
        spark: SparkSession,
        query: Optional[str] = None,
        data_format: Optional[str] = None,
        options: Optional[Dict[str, str]] = None,
        path: Optional[str] = None,
        filters=None,
        columns=None,
    ) -> DataFrame:
        """Evaluate a query or load a path (parity
        ``storage_connector.py`` ``read`` on each class). ``filters``
        (Filter IR) is a pushdown hint: format readers that can prune
        on it do (Iceberg manifest pruning; WHERE text for SQL
        sources), the rest get it as a post-scan predicate Catalyst
        pushes into the file source."""
        from .readers import read as read_files

        opts = self.spark_options()
        opts.update(options or {})
        if query:
            raise ValueError(
                f"{type(self).__name__} does not execute SQL queries; "
                "pass a path + data_format"
            )
        if not path or not data_format:
            raise ValueError("file-based connectors need path and data_format")
        return read_files(
            spark, data_format, self._prefix_path(path), options=opts,
            filters=filters,
        )


class HopsFsConnector(StorageConnector):
    """Cluster/local filesystem (parity storage_connector.py:222-251)."""

    type = "HOPSFS"


class S3Connector(StorageConnector):
    """S3 bucket with access keys (parity storage_connector.py:252-405).

    ``spark_options`` are empty (credentials go into the Hadoop conf);
    ``prepare_spark`` applies them, mirroring the reference's
    engine-side ``setup_storage_connector``."""

    type = "S3"

    def __init__(
        self,
        name: str,
        bucket: str,
        access_key: Optional[str] = None,
        secret_key: Optional[str] = None,
        session_token: Optional[str] = None,
        region: Optional[str] = None,
        **kwargs,
    ) -> None:
        super().__init__(name, **kwargs)
        self.bucket = bucket.replace("s3://", "").strip("/")
        self.access_key = access_key
        self.secret_key = secret_key
        self.session_token = session_token
        self.region = region

    def spark_options(self) -> Dict[str, str]:
        return {}

    def prepare_spark(self, spark: SparkSession) -> None:
        conf = spark.sparkContext._jsc.hadoopConfiguration()
        if self.access_key:
            conf.set("fs.s3a.access.key", self.access_key)
        if self.secret_key:
            conf.set("fs.s3a.secret.key", self.secret_key)
        if self.session_token:
            conf.set(
                "fs.s3a.aws.credentials.provider",
                "org.apache.hadoop.fs.s3a.TemporaryAWSCredentialsProvider",
            )
            conf.set("fs.s3a.session.token", self.session_token)
        if self.region:
            conf.set("fs.s3a.endpoint.region", self.region)

    def _prefix_path(self, path: Optional[str]) -> Optional[str]:
        p = (path or "").lstrip("/")
        return f"s3a://{self.bucket}/{p}"

    def read(self, spark, **kw):
        self.prepare_spark(spark)
        return super().read(spark, **kw)


class JdbcConnector(StorageConnector):
    """Generic JDBC (parity storage_connector.py:949-1037)."""

    type = "JDBC"

    def __init__(
        self,
        name: str,
        connection_string: str,
        user: Optional[str] = None,
        password: Optional[str] = None,
        driver: Optional[str] = None,
        **kwargs,
    ) -> None:
        super().__init__(name, **kwargs)
        self.connection_string = connection_string
        self.user = user
        self.password = password
        self.driver = driver

    def spark_options(self) -> Dict[str, str]:
        opts = {"url": self.connection_string, **self._options}
        if self.user:
            opts["user"] = self.user
        if self.password:
            opts["password"] = self.password
        if self.driver:
            opts["driver"] = self.driver
        return opts

    def read(self, spark, query=None, data_format=None, options=None,
             path=None, filters=None, columns=None):
        # columns ignored: wrapping arbitrary user SQL in a projection
        # needs identifier knowledge a jarless offline probe cannot get
        if not query:
            raise ValueError("JDBC connector reads require a SQL query")
        opts = self.spark_options()
        opts.update(options or {})
        # filters: the Filter IR hint is NOT folded into the JDBC query
        # text — without a driver-side probe there is no way to verify
        # the IR's (engine-sanitized) names against the database's real
        # columns, and a wrong WHERE would fail reads that worked
        # before. The compiler applies the exact predicate at the plan
        # root; Spark's own JDBC pushdown then ships it when the names
        # align. (The jarless DBAPI sibling DOES push: it can probe.)
        # query pushdown: the whole statement runs database-side
        opts["query"] = query
        return spark.read.format("jdbc").options(**opts).load()


class DbApiConnector(StorageConnector):
    """PEP 249 connector: the jarless EXECUTABLE sibling of
    :class:`JdbcConnector` — the same range-partitioned pushdown
    execution model (``sources/dbapi_source.py``), running each
    partition's query inside an executor over any Python DBAPI driver
    (sqlite3 offline; psycopg2/mysqlclient/… where installed)."""

    type = "PYTHON_DBAPI"

    def __init__(
        self,
        name: str,
        connect,
        partition_column: Optional[str] = None,
        num_partitions: Optional[int] = None,
        **kwargs,
    ) -> None:
        super().__init__(name, **kwargs)
        self.connect = connect
        self.partition_column = partition_column
        self.num_partitions = num_partitions

    def read(self, spark, query=None, data_format=None, options=None,
             path=None, filters=None, columns=None):
        if not query:
            raise ValueError("DBAPI connector reads require a SQL query")
        from .dbapi_source import read_dbapi

        opts = dict(options or {})
        if filters is not None or columns is not None:
            # ONE LIMIT-0 probe resolves the query's real output
            # columns for BOTH hints. Filter IR -> SQL predicate
            # pushdown (lands in every partition statement AND narrows
            # the stride bounds probe), composing with an explicit
            # options filter; the IR's engine-SANITIZED names bind to
            # physical columns, unresolvable leaves drop conservatively
            # (AND keeps the other side, OR drops the branch), and only
            # plain identifiers are emitted (quoting is dialect-
            # dependent). Projection hint -> database-side SELECT list;
            # an explicit options columns wins; any ambiguity skips the
            # projection entirely — a hint must never fail or misread a
            # query that worked without it.
            from ..constructor.filter import (
                normalize_filters,
                remap_tree,
                weaken,
            )
            from ..plans.sql_emitter import filter_ir_to_sql

            cols = None
            try:
                conn = self.connect()
                try:
                    cur = conn.cursor()
                    cur.execute(
                        f"SELECT * FROM ({query}) __fsq_probe LIMIT 0"
                    )
                    cols = [d[0] for d in (cur.description or [])]
                finally:
                    conn.close()
            except Exception:
                cols = None  # probe failed: skip all hints, read as-is
            if cols is not None and filters is not None:
                tree = weaken(
                    remap_tree(normalize_filters(filters), cols),
                    _plain_ident_leaf,
                )
                pred = filter_ir_to_sql(tree) if tree is not None else None
                if pred:
                    prev = opts.get("filter")
                    opts["filter"] = (
                        f"({prev}) AND ({pred})" if prev else pred
                    )
            if (
                cols is not None
                and columns is not None
                and "columns" not in opts
            ):
                from ..feature import autofix_feature_name

                by_san: Dict[str, List[str]] = {}
                for c in cols:
                    by_san.setdefault(
                        autofix_feature_name(c), []
                    ).append(c)
                proj: List[str] = []
                ok = True
                for name in columns:
                    if name in cols:
                        phys = name
                    else:
                        twins = by_san.get(name, [])
                        if len(twins) > 1:
                            ok = False  # ambiguous: skip projection
                            break
                        if not twins:
                            continue  # absent (e.g. default-valued)
                        phys = twins[0]
                    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", phys):
                        ok = False  # would need dialect quoting
                        break
                    if phys not in proj:
                        proj.append(phys)
                if ok and proj and len(proj) < len(cols):
                    opts["columns"] = proj

        def _num(v):
            # options dicts are string-valued (Spark's own JDBC options
            # contract): a string bound would compare lexicographically
            # and break the stride arithmetic downstream
            if v is None or isinstance(v, (int, float)):
                return v
            s = str(v)
            return float(s) if any(c in s for c in ".eE") else int(s)

        return read_dbapi(
            spark,
            self.connect,
            query=query,
            partition_column=opts.get(
                "partition_column", self.partition_column
            ),
            num_partitions=int(
                opts.get("num_partitions", self.num_partitions or 0)
            ) or None,
            lower_bound=_num(opts.get("lower_bound")),
            upper_bound=_num(opts.get("upper_bound")),
            schema=opts.get("schema"),
            filter=opts.get("filter"),
            columns=opts.get("columns"),
        )

    def write(self, df, table: str, options=None) -> None:
        """Append ``df`` into an existing table — Spark JDBC's write
        model over PEP 249 (per-partition executor connections +
        executemany batches). Options coerce like the read side's:

        - ``batch_size`` / ``busy_retries``: ints (string-valued dicts
          accepted, Spark's own option contract);
        - ``paramstyle``: force a PEP 249 placeholder style instead of
          probing the driver module;
        - ``num_partitions``: repartition before writing — pass ``1``
          for single-writer targets (sqlite) so concurrent partitions
          don't spin in the busy-retry loop wasting executor time."""
        from .dbapi_source import write_dbapi

        opts = dict(options or {})
        # same resolution as read(): per-call option wins, else the
        # connector-level setting (a single-writer target configured
        # once with num_partitions=1 serializes both directions)
        num_parts = int(
            opts.get("num_partitions", self.num_partitions or 0) or 0
        )
        if num_parts == 1:
            # single-writer target: coalesce never shuffles and never
            # increases partition count, so no plan probe is needed
            # (df.rdd.getNumPartitions() would force full physical
            # planning just to pick an operator)
            df = df.coalesce(1)
        elif num_parts > 0:
            # an exact target width needs a shuffle anyway; repartition
            # handles both grow and shrink without probing the plan
            df = df.repartition(num_parts)
        write_dbapi(
            df, self.connect, table,
            batch_size=int(opts.get("batch_size", 10_000)),
            busy_retries=int(opts.get("busy_retries", 50)),
            paramstyle=opts.get("paramstyle"),
        )


class RedshiftConnector(JdbcConnector):
    """Redshift via its JDBC driver (parity storage_connector.py:406-604)."""

    type = "REDSHIFT"

    def __init__(
        self,
        name: str,
        cluster_identifier: str,
        database_name: str,
        database_port: int = 5439,
        database_endpoint: Optional[str] = None,
        database_user_name: Optional[str] = None,
        database_password: Optional[str] = None,
        iam_role: Optional[str] = None,
        **kwargs,
    ) -> None:
        url = (
            f"jdbc:redshift://{cluster_identifier}.{database_endpoint}"
            f":{database_port}/{database_name}"
        )
        super().__init__(
            name, url,
            user=database_user_name, password=database_password,
            driver="com.amazon.redshift.jdbc42.Driver", **kwargs,
        )
        self.iam_role = iam_role


class SnowflakeConnector(StorageConnector):
    """Snowflake Spark connector (parity storage_connector.py:745-948)."""

    type = "SNOWFLAKE"
    SPARK_FORMAT = "net.snowflake.spark.snowflake"

    def __init__(
        self,
        name: str,
        url: str,
        user: str,
        database: str,
        schema: str,
        password: Optional[str] = None,
        token: Optional[str] = None,
        warehouse: Optional[str] = None,
        role: Optional[str] = None,
        table: Optional[str] = None,
        application: Optional[str] = None,
        **kwargs,
    ) -> None:
        super().__init__(name, **kwargs)
        self.url = url
        self.user = user
        self.database = database
        self.schema = schema
        self.password = password
        self.token = token
        self.warehouse = warehouse
        self.role = role
        self.table = table
        self.application = application

    def spark_options(self) -> Dict[str, str]:
        opts = {
            "sfURL": self.url,
            "sfUser": self.user,
            "sfDatabase": self.database,
            "sfSchema": self.schema,
            **self._options,
        }
        if self.password:
            opts["sfPassword"] = self.password
        elif self.token:
            opts["sfAuthenticator"] = "oauth"
            opts["sfToken"] = self.token
        if self.warehouse:
            opts["sfWarehouse"] = self.warehouse
        if self.role:
            opts["sfRole"] = self.role
        if self.table:
            opts["dbtable"] = self.table
        if self.application:
            opts["application"] = self.application
        return opts

    def read(self, spark, query=None, data_format=None, options=None,
             path=None, filters=None, columns=None):
        opts = self.spark_options()
        opts.update(options or {})
        if query:
            opts.pop("dbtable", None)
            opts["query"] = query
        return spark.read.format(self.SPARK_FORMAT).options(**opts).load()


class BigQueryConnector(StorageConnector):
    """BigQuery Spark connector (parity storage_connector.py:1495-1686)."""

    type = "BIGQUERY"
    SPARK_FORMAT = "bigquery"

    def __init__(
        self,
        name: str,
        parent_project: str,
        key_path: Optional[str] = None,
        dataset: Optional[str] = None,
        query_table: Optional[str] = None,
        query_project: Optional[str] = None,
        materialization_dataset: Optional[str] = None,
        **kwargs,
    ) -> None:
        super().__init__(name, **kwargs)
        self.parent_project = parent_project
        self.key_path = key_path
        self.dataset = dataset
        self.query_table = query_table
        self.query_project = query_project
        self.materialization_dataset = materialization_dataset

    def spark_options(self) -> Dict[str, str]:
        opts = {"parentProject": self.parent_project, **self._options}
        if self.key_path:
            opts["credentialsFile"] = self.key_path
        if self.materialization_dataset:
            opts["materializationDataset"] = self.materialization_dataset
            opts["viewsEnabled"] = "true"
        if self.query_project:
            opts["project"] = self.query_project
        if self.dataset:
            opts["dataset"] = self.dataset
        return opts

    def read(self, spark, query=None, data_format=None, options=None,
             path=None, filters=None, columns=None):
        opts = self.spark_options()
        opts.update(options or {})
        reader = spark.read.format(self.SPARK_FORMAT).options(**opts)
        if query:
            if not self.materialization_dataset:
                raise ValueError("BigQuery SQL reads need materialization_dataset")
            return reader.load(query)
        if self.query_table:
            return reader.load(self.query_table)
        if path:
            return reader.load(path)
        raise ValueError("BigQuery read needs query, query_table or path")


class KafkaConnector(StorageConnector):
    """Kafka cluster (parity storage_connector.py:1038-1348): options for
    batch/stream reads and sinks; security config passthrough."""

    type = "KAFKA"

    def __init__(
        self,
        name: str,
        bootstrap_servers: str,
        security_protocol: str = "PLAINTEXT",
        ssl_truststore_location: Optional[str] = None,
        ssl_truststore_password: Optional[str] = None,
        ssl_keystore_location: Optional[str] = None,
        ssl_keystore_password: Optional[str] = None,
        **kwargs,
    ) -> None:
        super().__init__(name, **kwargs)
        self.bootstrap_servers = bootstrap_servers
        self.security_protocol = security_protocol
        self.ssl = {
            "kafka.ssl.truststore.location": ssl_truststore_location,
            "kafka.ssl.truststore.password": ssl_truststore_password,
            "kafka.ssl.keystore.location": ssl_keystore_location,
            "kafka.ssl.keystore.password": ssl_keystore_password,
        }

    def spark_options(self) -> Dict[str, str]:
        opts = {
            "kafka.bootstrap.servers": self.bootstrap_servers,
            "kafka.security.protocol": self.security_protocol,
            **self._options,
        }
        opts.update({k: v for k, v in self.ssl.items() if v})
        return opts

    def read_stream(
        self,
        spark: SparkSession,
        topic: str,
        topic_pattern: bool = False,
        starting_offsets: str = "earliest",
        include_metadata: bool = False,
        options: Optional[Dict[str, str]] = None,
    ) -> DataFrame:
        """Kafka stream source (parity engine/spark.py:951-1007)."""
        opts = self.spark_options()
        opts.update(options or {})
        opts["subscribePattern" if topic_pattern else "subscribe"] = topic
        opts["startingOffsets"] = starting_offsets
        df = spark.readStream.format("kafka").options(**opts).load()
        if include_metadata:
            return df.selectExpr(
                "key", "value", "topic", "partition", "offset",
                "timestamp", "timestampType",
            )
        return df.selectExpr("key", "value")

    def read(self, spark, query=None, data_format=None, options=None,
             path=None, filters=None, columns=None):
        raise ValueError(
            "Kafka connector is a stream source; use read_stream(topic=...)"
        )
