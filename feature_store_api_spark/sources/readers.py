"""Batch file readers.

Parity: ``/root/reference/python/hsfs/engine/spark.py:921-949``
(``read``: csv/tsv/parquet/orc/avro/tfrecord with default options from
``read_options`` :1129-1147). Plus a Spark-4 quirk fix: parquet columns
with nanosecond TIMESTAMP logical type surface as ``bigint`` under
``spark.sql.legacy.parquet.nanosAsLong``; we detect them in the footer
(pyarrow, driver-side, O(1)) and convert to ``timestamp_ntz`` via
``timestamp_micros`` so semantics match other engines (DuckDB truncates
nanos to micros the same way).
"""

from __future__ import annotations

import os
from typing import Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plan_memo import memo


def _nanos_timestamp_columns(path: str) -> List[str]:
    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover
        return []
    target = path
    if os.path.isdir(path):
        parts = [
            os.path.join(path, p)
            for p in os.listdir(path)
            if p.endswith(".parquet")
        ]
        if not parts:
            for root, _dirs, files in os.walk(path):
                parts = [os.path.join(root, f) for f in files if f.endswith(".parquet")]
                if parts:
                    break
        if not parts:
            return []
        target = parts[0]
    try:
        schema = pq.ParquetFile(target).schema
    except Exception:
        return []
    out = []
    for col in schema:
        lt = str(col.logical_type)
        if "Timestamp" in lt and "nanoseconds" in lt:
            out.append(col.name)
    return out


def _ensure_nanos_conf(spark: SparkSession) -> None:
    """Make nanosecond-timestamp parquet readable on ANY session.

    ``spark.sql.legacy.parquet.nanosAsLong`` is runtime-settable; without it
    Spark 4 throws ``PARQUET_TYPE_ILLEGAL`` on INT64 TIMESTAMP(NANOS) columns.
    The engine's own session factory sets it at build time, but callers may
    hand us a plain ``SparkSession`` — set it here so the read contract does
    not depend on who built the session.
    """
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:  # pragma: no cover - conf locked down; retry path covers
        pass


def _cache_key(spark: SparkSession, path: str):
    """The reader's :func:`~feature_store_api_spark.plan_memo.memo` key:
    it has no plan before it builds one, so the key is the file listing
    itself. None = don't cache. For directories the key folds in every
    top-level entry's (name, mtime) so an in-place part-file rewrite —
    which bumps the FILE's mtime but not the directory's — still
    invalidates; dirs containing SUBdirectories (partitioned layouts,
    where changes can hide arbitrarily deep) are never cached."""
    try:
        real = os.path.realpath(path)
        st = os.stat(real)
        key = (spark.sparkContext.applicationId, "read_parquet", real,
               st.st_mtime_ns)
        if not os.path.isdir(real):
            return key
        entries = []
        with os.scandir(real) as it:
            for e in it:
                if e.is_dir():
                    return None  # partitioned layout: opt out
                entries.append((e.name, e.stat().st_mtime_ns))
        return (*key, tuple(sorted(entries)))
    except OSError:
        return None


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` with the nanos-timestamp fix, memoized.

    ``spark.read.parquet`` pays a JVM file listing + footer schema read
    (~50-100 ms) EVERY call; for the repeated-scan shape (per-query
    catalog rebuilds, serving loops) that listing dominates small-query
    latency. A DataFrame is an immutable logical plan, so reuse is safe
    while the listing key above is unchanged.

    Self-join caveat: handing the IDENTICAL DataFrame object to two
    reads of the same path would change behavior for callers that join
    them (uncached they get independent plans; one shared plan can trip
    AMBIGUOUS_SELF_JOIN / trivially-true-condition analysis). So each
    key holds TWO independent plans and alternates hand-outs:
    consecutive reads of a path get distinct expression IDs (the
    join-shaped usage), while loops still alternate between two stored
    plans and never pay the listing again. (A 3+-way self-join of one
    path repeats a plan — alias both sides explicitly for that, as with
    any Spark self-join.)"""
    # [plans, hand-outs]; an uncacheable path gets a fresh entry per call
    entry = memo(_cache_key(spark, path), lambda: [[], 0])
    plans, n = entry
    if len(plans) <= min(n, 1):  # first hand-out, or the lazy twin
        plans.append(_build_parquet_plan(spark, path))
    entry[1] = n + 1
    return plans[n % 2]


def _build_parquet_plan(spark: SparkSession, path: str) -> DataFrame:
    nanos_cols = _nanos_timestamp_columns(path)
    if nanos_cols:
        _ensure_nanos_conf(spark)
    try:
        df = spark.read.parquet(path)
    except Exception as exc:  # backstop: footer probe missed, conf unset
        if "PARQUET_TYPE_ILLEGAL" not in str(exc):
            raise
        _ensure_nanos_conf(spark)
        df = spark.read.parquet(path)
    for c in nanos_cols:
        if c in df.columns and str(df.schema[c].dataType) in ("LongType()",):
            # integer `div` — a float division would lose precision on
            # ~1e18 nanosecond values (doubles carry only 53 bits)
            df = df.withColumn(
                c,
                F.timestamp_micros(F.expr(f"`{c}` div 1000")).cast("timestamp_ntz"),
            )
    return df


_DEFAULT_OPTIONS: Dict[str, Dict[str, str]] = {
    # parity engine/spark.py:1129-1147
    "csv": {"header": "true", "inferSchema": "true"},
    "tsv": {"header": "true", "inferSchema": "true", "delimiter": "\t"},
}


def _residual_where(df: DataFrame, filters) -> DataFrame:
    """Row predicate from a Filter IR hint (see read()): partial
    binding weakens conservatively, total loss raises loudly."""
    if filters is None:
        return df
    from .iceberg_prune import (
        bind_residual,
        filters_to_column,
        normalize_filters,
    )

    tree = bind_residual(
        normalize_filters(filters), df.columns, "the source"
    )
    return df.where(filters_to_column(tree)) if tree is not None else df


def read(
    spark: SparkSession,
    data_format: str,
    path: Optional[str] = None,
    options: Optional[Dict[str, str]] = None,
    schema=None,
    filters=None,
) -> DataFrame:
    """``filters`` (Filter IR / (col, op, value) tuples) is a pushdown
    hint: Iceberg reads prune at MANIFEST level on it; every other
    format applies it as a post-scan predicate immediately above the
    source so Catalyst pushes it into the file scan (PushedFilters /
    PartitionFilters) without waiting for the plan root."""
    fmt = data_format.lower()
    if filters is not None and fmt not in ("iceberg", "hudi", "delta"):
        # bind sanitized names to the source's PHYSICAL columns: a
        # partial binding weakens conservatively (the compiler
        # re-applies the exact predicate at plan root), a total loss
        # raises loudly instead of returning an unfiltered superset
        return _residual_where(
            read(spark, data_format, path, options, schema), filters
        )
    opts = dict(_DEFAULT_OPTIONS.get(fmt, {}))
    opts.update(options or {})
    if fmt == "parquet" and not opts and schema is None:
        return read_parquet(spark, path)
    if fmt == "avro":
        # jarless container-file reader (spark-avro not on classpath)
        from .avro_container import read_avro

        return read_avro(spark, path)
    if fmt == "delta":
        # jarless Delta transaction-log reader (snapshot / time travel /
        # file-level incremental via beginVersion[,endVersion] /
        # change data feed via readChangeFeed + startingVersion)
        from .delta_reader import (
            delta_incremental,
            read_delta,
            read_delta_cdf,
        )

        if str(opts.get("readChangeFeed", "")).lower() == "true":
            sv = opts.get("startingVersion")
            if sv is None:
                raise ValueError(
                    "readChangeFeed needs startingVersion (the first "
                    "version INCLUDED in the feed)"
                )
            ev = opts.get("endingVersion")
            # delta-spark's startingVersion is INCLUSIVE; the
            # (begin, end] internal window begins one below
            cdf = read_delta_cdf(
                spark, path, int(sv) - 1,
                int(ev) if ev is not None else None,
            )
            return _residual_where(cdf, filters)
        bv = opts.get("beginVersion")
        if bv is not None:
            ev = opts.get("endVersion")
            return _residual_where(
                delta_incremental(
                    spark, path, int(bv),
                    int(ev) if ev is not None else None,
                ),
                filters,
            )
        v = opts.get("versionAsOf")
        ts = opts.get("timestampAsOf")
        # filters prune add actions via partitionValues + stats
        # min/max before the relation is built (+ exact residual)
        return read_delta(
            spark, path,
            version=int(v) if v is not None else None,
            timestamp=int(ts) if ts is not None else None,
            filters=filters,
        )
    if fmt == "hudi":
        # jarless Hudi reader, COW + MOR: snapshot / as.of.instant, and
        # the incremental query type with begin/end instant options —
        # the same option names hudi-spark exposes
        from .hudi_reader import hudi_incremental, read_hudi

        if opts.get("hoodie.datasource.query.type") == "incremental":
            begin = opts.get("hoodie.datasource.read.begin.instanttime")
            if begin is None:
                raise ValueError(
                    "incremental Hudi reads need "
                    "hoodie.datasource.read.begin.instanttime"
                )
            return _residual_where(
                hudi_incremental(
                    spark, path, begin,
                    opts.get(
                        "hoodie.datasource.read.end.instanttime"
                    ),
                ),
                filters,
            )
        # filters prune FILE GROUPS by hive partition-dir values (the
        # MOR merge path bypasses Spark directory discovery) + exact
        # residual row predicate
        return read_hudi(
            spark, path, as_of_instant=opts.get("as.of.instant"),
            filters=filters,
        )
    if fmt == "iceberg":
        # jarless Iceberg v1/v2 reader (snapshot-id / as-of-timestamp /
        # branch / tag / start-snapshot-id incremental — the same
        # option names iceberg-spark exposes)
        from .iceberg_reader import iceberg_incremental, read_iceberg

        start = opts.get("start-snapshot-id")
        if start is not None:
            end = opts.get("end-snapshot-id")
            # filters prune at manifest level inside the incremental
            # planner too (plus the exact residual row predicate);
            # same direct-caller contract as the snapshot path below:
            # total bind loss raises, the bound predicate re-applies
            inc = iceberg_incremental(
                spark, path, int(start),
                int(end) if end is not None else None,
                filters=filters,
            )
            return (
                _residual_where(inc, filters)
                if filters is not None else inc
            )
        sid = opts.get("snapshot-id")
        ts = opts.get("as-of-timestamp")
        ref = opts.get("branch") or opts.get("tag")
        df = read_iceberg(
            spark, path,
            snapshot_id=int(sid) if sid is not None else None,
            timestamp_ms=int(ts) if ts is not None else None,
            ref=ref,
            filters=filters,
        )
        # read_iceberg weakens conservatively on bind loss (correct
        # for the hint path, whose caller re-applies the exact
        # predicate at plan root); a DIRECT caller has no safety net,
        # so mirror the sibling formats: bind against the OUTPUT
        # columns, raise on TOTAL loss, and re-apply the bound
        # predicate. The re-application is not redundant — the
        # internal residual was remapped against the CURRENT schema
        # first, so a column that left the schema while still present
        # in the physical files (no-field-id tables keep the wider
        # frame) is filtered only here.
        return _residual_where(df, filters) if filters is not None else df
    if fmt in ("tfrecord", "tfrecords"):
        if schema is None:
            raise ValueError(
                "tfrecord reads need an explicit schema (tf.train.Example "
                "features are unordered and untyped on disk)"
            )
        from .tfrecord import read_tfrecord

        return read_tfrecord(spark, path, schema)
    if fmt == "tsv":
        fmt = "csv"
    reader = spark.read.options(**opts)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.format(fmt).load(path)
