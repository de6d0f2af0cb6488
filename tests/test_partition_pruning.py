"""Partition-key pruning through the commit store (§4 parity: Hudi
partition path — core/hudi_engine.py:131-160)."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from feature_store_api_spark import FeatureStore
from feature_store_api_spark.sources.readers import read_parquet


@pytest.fixture(scope="module")
def part_fg(spark, sf_dir):
    tmp = tempfile.mkdtemp(prefix="fsas_pp_")
    fs = FeatureStore(root=tmp)
    fg = fs.create_feature_group(
        "orders_part", primary_key=["o_orderkey"],
        partition_key=["o_orderstatus"], event_time="o_orderdate",
    )
    fg.insert(read_parquet(spark, f"{sf_dir}/orders.parquet"), compute_stats=False)
    yield fg
    shutil.rmtree(tmp, ignore_errors=True)


def test_partition_filter_prunes_scan(spark, part_fg):
    """A filter on the declared partition key must reach the parquet
    scan as a PartitionFilter (pushed through the dedupe window)."""
    q = part_fg.select(["o_orderkey", "o_totalprice", "o_orderstatus"]).filter(
        part_fg.o_orderstatus == "F"
    )
    plan = q.read(spark)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the partition predicate, not just isnotnull, is in the scan
    assert "= F" in plan


def test_partition_filter_correct_rows(spark, sf_dir, part_fg, duck):
    q = part_fg.select(["o_orderkey"]).filter(part_fg.o_orderstatus == "F")
    got = q.read(spark).count()
    want = duck.execute(
        "SELECT COUNT(*) FROM orders WHERE o_orderstatus = 'F'"
    ).fetchone()[0]
    assert got == want


@pytest.mark.parametrize("fmt", ["HUDI", "ICEBERG"])
def test_lakehouse_backend_partition_key_prunes(spark, sf_dir, duck, fmt):
    """A declared partition_key on the HUDI/ICEBERG physical backends
    must prune like the default backend: the partition predicate
    reaches the scan as a PartitionFilter (directory/manifest level),
    not a row filter — the reference's headline format is BUILT on
    partition paths (core/hudi_engine.py:131-160) and must not
    scan-and-filter."""
    tmp = tempfile.mkdtemp(prefix=f"fsas_pp_{fmt.lower()}_")
    try:
        fs = FeatureStore(root=tmp)
        fg = fs.create_feature_group(
            f"orders_part_{fmt.lower()}", primary_key=["o_orderkey"],
            partition_key=["o_orderstatus"], event_time="o_orderdate",
            time_travel_format=fmt,
        )
        fg.insert(
            read_parquet(spark, f"{sf_dir}/orders.parquet"),
            compute_stats=False,
        )
        q = fg.select(["o_orderkey", "o_totalprice"]).filter(
            fg.o_orderstatus == "F"
        )
        df = q.read(spark)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan
        assert "= F" in plan
        want = duck.execute(
            "SELECT COUNT(*) FROM orders WHERE o_orderstatus = 'F'"
        ).fetchone()[0]
        assert df.count() == want
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_same_pk_moves_partition_keeps_hudi_identity(spark):
    """Upserting a pk whose partition value changed creates a record in
    the new partition and leaves the old one (Hudi non-global index)."""
    import pandas as pd

    tmp = tempfile.mkdtemp(prefix="fsas_pp2_")
    try:
        fs = FeatureStore(root=tmp)
        fg = fs.create_feature_group(
            "moves", primary_key=["pk"], partition_key=["part"]
        )
        fg.insert(spark.createDataFrame(pd.DataFrame(
            {"pk": [1, 2], "part": ["a", "a"], "v": [10, 20]}
        )))
        fg.insert(spark.createDataFrame(pd.DataFrame(
            {"pk": [1], "part": ["b"], "v": [11]}
        )))
        rows = {(r.pk, r.part): r.v for r in fg.read(spark).collect()}
        assert rows == {(1, "a"): 10, (2, "a"): 20, (1, "b"): 11}
        # same pk in the SAME partition still upserts in place
        fg.insert(spark.createDataFrame(pd.DataFrame(
            {"pk": [1], "part": ["a"], "v": [12]}
        )))
        rows = {(r.pk, r.part): r.v for r in fg.read(spark).collect()}
        assert rows[(1, "a")] == 12
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_read_parquet_cache_detects_inplace_file_rewrite(spark, tmp_path):
    """The plan cache must invalidate when a part FILE is rewritten
    in-place (file mtime bumps, directory mtime may not), and must skip
    caching for partitioned (subdirectory) layouts entirely."""
    import os
    import shutil
    import time

    from feature_store_api_spark import plan_memo
    from feature_store_api_spark.sources.readers import (
        _cache_key,
        read_parquet,
    )

    p = str(tmp_path / "flat.parquet")
    spark.createDataFrame([(1,)], "a int").coalesce(1).write.parquet(p)
    k1 = _cache_key(spark, p)
    assert k1 is not None
    assert read_parquet(spark, p).count() == 1
    assert k1 in plan_memo._CACHE
    time.sleep(0.01)
    # rewrite a part file in place (same name, new mtime)
    part = [f for f in os.listdir(p) if f.endswith(".parquet")][0]
    tmp2 = str(tmp_path / "two.parquet")
    spark.createDataFrame([(1,), (2,)], "a int").coalesce(1).write.parquet(tmp2)
    part2 = [f for f in os.listdir(tmp2) if f.endswith(".parquet")][0]
    shutil.copyfile(os.path.join(tmp2, part2), os.path.join(p, part))
    crc = os.path.join(p, f".{part}.crc")
    if os.path.exists(crc):
        os.remove(crc)  # local-FS checksum of the old bytes
    k2 = _cache_key(spark, p)
    assert k2 != k1  # file mtime folded into the key
    assert read_parquet(spark, p).count() == 2
    assert k2 in plan_memo._CACHE

    # partitioned layout: never cached
    pp = str(tmp_path / "parts.parquet")
    spark.createDataFrame([(1, "a")], "a int, b string").write.partitionBy(
        "b"
    ).parquet(pp)
    assert _cache_key(spark, pp) is None


def test_read_parquet_cache_self_join_safe(spark, tmp_path):
    """Two reads of the same unchanged path must be JOINABLE on an
    explicit column condition — pre-cache they were independent plans;
    the cache must not collapse them into one object and trip
    AMBIGUOUS_SELF_JOIN / trivially-true-condition analysis."""
    from pyspark.sql import functions as F

    from feature_store_api_spark.sources.readers import read_parquet

    p = str(tmp_path / "sj.parquet")
    spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "k long, v double"
    ).coalesce(1).write.parquet(p)

    a = read_parquet(spark, p)
    b = read_parquet(spark, p)
    joined = a.join(b, a["k"] == b["k"] - 1).select(
        a["k"].alias("left_k"), b["v"].alias("next_v")
    )
    got = sorted((r["left_k"], r["next_v"]) for r in joined.collect())
    assert got == [(1, 20.0), (2, 30.0)]

    # repeated hand-outs keep alternating cached plans (no relisting,
    # no unbounded growth) and stay joinable pairwise
    c, d = read_parquet(spark, p), read_parquet(spark, p)
    assert c.join(d, c["k"] == d["k"]).count() == 3
    assert c is a and d is b  # served from the plan memo
