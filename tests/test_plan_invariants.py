"""Machine-checked physical-plan invariants for the headline operators.

These are the `.explain("formatted")` audits from README pinned as
tests, so a regression that silently adds a shuffle, drops a pushed
filter, or sneaks Python into a JVM-only pipeline fails CI instead of
the 100 TB run.
"""

import pytest
from pyspark.sql import functions as F

from feature_store_api_spark.sources.readers import read_parquet


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_fused_multi_fg_pit_has_one_exchange(spark, sf_dir):
    """N feature groups over shared keys = ONE hash exchange total."""
    from feature_store_api_spark.operators.pit_join import point_in_time_join_many

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    orders = read_parquet(spark, f"{sf_dir}/orders.parquet")
    spine = ev.select("event_id", F.col("user_id").alias("ck"), "ts")
    f1 = orders.select(F.col("o_custkey").alias("ck"), "o_orderdate", "o_totalprice")
    f2 = orders.select(
        F.col("o_custkey").alias("ck"), "o_orderdate",
        F.col("o_totalprice").alias("p2"),
    )
    out = point_in_time_join_many(
        spine,
        [
            {"df": f1, "feature_ts": "o_orderdate", "features": ["o_totalprice"], "prefix": "a_"},
            {"df": f2, "feature_ts": "o_orderdate", "features": ["p2"], "prefix": "b_"},
        ],
        spine_keys_default=["ck"],
        spine_ts="ts",
    )
    plan = _plan(out)
    # AQE wraps the plan; count the shuffle exchanges it declares
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, plan[:2000]
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_single_fg_pit_sort_key_excludes_payload(spark, sf_dir):
    """The window sort orders by (ts, side) only — the payload struct
    must NOT appear in the Sort node (round-2's +60% regression)."""
    from feature_store_api_spark.operators.pit_join import point_in_time_join

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    orders = read_parquet(spark, f"{sf_dir}/orders.parquet")
    out = point_in_time_join(
        ev.select("event_id", F.col("user_id").alias("ck"), "ts"),
        orders.select(F.col("o_custkey").alias("ck"), "o_orderdate", "o_totalprice"),
        keys=["ck"], spine_ts="ts", feature_ts="o_orderdate",
        features=["o_totalprice"], prefix="o_",
    )
    plan = _plan(out)
    assert plan.count("Exchange hashpartitioning") == 1
    for line in plan.splitlines():
        if line.strip().startswith("+- Sort") or line.strip().startswith("Sort"):
            assert "__cand" not in line, line


def test_multi_join_broadcasts_dims_no_shuffle(spark, sf_dir):
    """b2 shape: both dimension joins broadcast; zero shuffle exchanges."""
    from feature_store_api_spark import testdata_catalog

    cat = testdata_catalog(spark, sf_dir)
    o, c, n = (cat.get_feature_group(x) for x in ("orders", "customer", "nation"))
    q = (
        o.select(["o_orderkey", "o_custkey", "o_totalprice"])
        .join(c.select(["c_custkey", "c_name", "c_nationkey"]),
              left_on=["o_custkey"], right_on=["c_custkey"])
        .join(n.select(["n_name"]),
              left_on=["c_nationkey"], right_on=["n_nationkey"], prefix="nat_")
        .filter(o.o_totalprice > 100000)
    )
    plan = _plan(q.read(spark))
    assert plan.count("BroadcastHashJoin") == 2
    assert "Exchange hashpartitioning" not in plan
    assert "PushedFilters" in plan


def test_scan_projection_prunes_columns(spark, sf_dir):
    """b1 shape: ReadSchema carries only the projected columns and the
    filters reach the parquet scan."""
    from feature_store_api_spark import testdata_catalog

    cat = testdata_catalog(spark, sf_dir)
    li = cat.get_feature_group("lineitem")
    q = (
        li.select(["l_orderkey", "l_extendedprice", "l_discount", "l_shipdate"])
        .filter((li.l_shipdate < "1996-01-01") & (li.l_discount >= 0.05))
    )
    plan = _plan(q.read(spark))
    assert "PushedFilters" in plan and "l_discount" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema and "l_comment" not in read_schema[0]
    assert "l_quantity" not in read_schema[0]


def test_text_ops_have_no_python_stage(spark, sf_dir):
    """Text analysis is pure Column expressions — no Arrow/Python eval
    node may appear in the plan."""
    from feature_store_api_spark.operators.text import analyze_documents

    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    plan = _plan(analyze_documents(d, "text", "doc_id"))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_online_lookup_prunes_bucket_partitions(spark, tmp_path):
    """A point lookup's Spark fallback plan prunes the base scan to the
    key's bucket directory."""
    from feature_store_api_spark.online.store import OnlineStore, _BUCKET

    store = OnlineStore(
        str(tmp_path), primary_key=["uid"], num_buckets=8,
        auto_compact_every=None,
    )
    df = spark.range(0, 100).select(
        F.col("id").alias("uid"), (F.col("id") * 2.0).alias("v")
    )
    store.upsert(df)
    store.compact(spark)
    b = store._bucket_of({"uid": 7})
    pruned = store._pruned(spark, [{"uid": 7}])
    plan = _plan(pruned)
    assert f"{_BUCKET} = {b}" in plan or f"{_BUCKET}#" in plan  # partition filter present


def test_stats_profile_cache_source_contract(spark, sf_dir, monkeypatch):
    """b6 invariant: describe()'s passes scan pruned parquet by default
    (no CacheManager entry — at warehouse scale the projection doesn't
    fit in cache and the cache write measured costlier than re-scans);
    with cache_source=True the later passes read the persisted narrow
    projection — N passes, ONE file scan."""
    import feature_store_api_spark.operators.statistics as stats_mod

    captured = {}
    orig = stats_mod.approx_percentiles_multi

    def spy(src, num_cols, pct, minmax, **kw):
        captured["cached"] = src.storageLevel.useMemory
        captured["plan"] = _plan(src.agg(F.min(num_cols[0])))
        return orig(src, num_cols, pct, minmax, **kw)

    monkeypatch.setattr(stats_mod, "approx_percentiles_multi", spy)
    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet")

    # default: no persist — passes scan the pruned source directly
    stats_mod.describe(li, ["l_quantity", "l_extendedprice"], exact_distinct=True)
    assert not captured["cached"]
    assert "InMemoryTableScan" not in captured["plan"]

    # opt-in: later passes read the materialized cache, not the source
    stats_mod.describe(
        li, ["l_quantity", "l_extendedprice"], exact_distinct=True,
        cache_source=True,
    )
    assert captured["cached"]
    plan = captured["plan"]
    assert "InMemoryTableScan" in plan, plan[:1500]
    # the only FileScan mention is the cache's own build plan, nested
    # under InMemoryRelation — no live parquet scan above the cache
    assert plan.index("InMemoryTableScan") < plan.index("FileScan"), plan[:1500]


def test_online_resolve_strategy_tracks_tail_bound(spark, tmp_path):
    """b7 invariant: the merge resolve uses the window plan only while
    the delta tail is provably short (counter <= 64); an unbounded tail
    must flip to the skew-immune partial max_by aggregation."""
    import os

    from feature_store_api_spark.online.store import OnlineStore

    store = OnlineStore(
        str(tmp_path), primary_key=["uid"], num_buckets=4,
        auto_compact_every=None,
    )
    store.upsert(spark.createDataFrame([(1, 10)], "uid long, v long"))
    short = _plan(store._resolve(store._raw(spark)))
    assert "Window" in short and "max_by" not in short

    with open(os.path.join(str(tmp_path), "_upserts_since_compact"), "w") as fh:
        fh.write("100")  # simulate a long un-compacted tail
    unbounded = _plan(store._resolve(store._raw(spark)))
    assert "Window" not in unbounded
    assert "partial_max_by" in unbounded  # map-side combine pre-shuffle


def test_select_survivors_quality_policy_uses_partial_max_by(spark):
    """Survivor selection's quality policy must be the skew-immune agg
    formulation: per-cluster winner via max_by with map-side partial
    aggregation, never a window sort (a viral duplicate cluster would
    funnel into one task)."""
    from feature_store_api_spark.operators.dedup import select_survivors

    docs = spark.createDataFrame(
        [(1, "a", 3), (2, "bb", 5)], "doc_id long, text string, q long"
    )
    clusters = spark.createDataFrame([(1, 1), (2, 1)], "doc_id long, cluster_id long")
    out = select_survivors(docs, clusters, order_by=["q"])
    plan = _plan(out)
    assert "partial_max_by" in plan
    assert "Window" not in plan


def test_paragraph_dedup_no_window_partial_agg(spark):
    """Paragraph dedup reassembles via array_sort inside a hash
    aggregate (partial-aggregated), never a per-doc window sort, and
    the repeated-paragraph membership test is a broadcast/anti join —
    no full-corpus shuffle on raw text."""
    from feature_store_api_spark.operators.text import remove_repeated_paragraphs

    df = spark.createDataFrame(
        [(1, "a\nb"), (2, "b\nc")], "doc_id long, text string"
    )
    plan = _plan(remove_repeated_paragraphs(df, "text", "doc_id"))
    assert "Window" not in plan
    assert "partial_count" in plan or "HashAggregate" in plan
    assert "EvalPython" not in plan


def test_ngram_jaccard_candidates_path_no_cartesian(spark):
    """The candidates path must plan as equi-joins — a CartesianProduct
    anywhere means the verification step degraded to all-pairs."""
    from feature_store_api_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumped"),
         (3, "completely different text here")],
        "doc_id long, text string",
    )
    cand = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    out = dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", threshold=0.1, candidates=cand
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert out.count() == 1


def test_exact_window_dedup_plan(spark, sf_dir):
    """No cartesian/nested-loop join, no Python stage, and the heavy
    window-generation expression must not be cloned below the
    repartition by InferFiltersFromGenerate (the round-6 10x trap)."""
    from feature_store_api_spark.operators.dedup import exact_window_dedup

    d = read_parquet(spark, f"{sf_dir}/documents.parquet").where(
        F.col("text").isNotNull()
    )
    out = exact_window_dedup(d, "text", "doc_id", window=10)
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Python" not in plan
    # the window table is checkpointed: downstream reads scan cached
    # partitions, so the generator filter can't clone the tokenizer
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan, plan[:1500]


def test_semantic_dedup_plan(spark, sf_dir):
    """Within-cluster self-join must be a hash/sort-merge equi-join on
    the cluster key — never a cartesian — with no Python stage; the
    assignment fold is checkpointed so it runs once."""
    from feature_store_api_spark.operators.similarity import semantic_dedup

    e = read_parquet(spark, f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    out = semantic_dedup(e, "embedding", num_clusters=4, threshold=0.99)
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Python" not in plan
    assert "ExistingRDD" in plan, plan[:1500]


def test_windowed_drift_single_wide_agg(spark, sf_dir):
    """One groupBy(window) wide agg: exactly one hash exchange, no
    Python, no join (the reference histogram is literal)."""
    from feature_store_api_spark.operators.monitoring import windowed_drift

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    out = windowed_drift(ev, "value", "ts", window="1 day", buckets=10)
    plan = _plan(out)
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]
    assert "Join" not in plan
    assert "Python" not in plan


def test_label_window_join_single_exchange(spark, sf_dir):
    """The forward label window is ONE hash exchange of (spine+events)
    — no range join, no row explosion, no extra shuffles past the
    union's exchange."""
    import re

    from feature_store_api_spark.operators.time_series import label_window_join

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    orders = read_parquet(spark, f"{sf_dir}/orders.parquet")
    spine = ev.select("event_id", F.col("user_id").alias("ck"), "ts")
    fut = orders.select(F.col("o_custkey").alias("ck"), "o_orderdate", "o_totalprice")
    plan = _plan(label_window_join(
        spine, fut, keys=["ck"], spine_ts="ts", event_ts="o_orderdate",
        value_col="o_totalprice", horizon="365 days", aggs=("count", "sum"),
    ))
    exchanges = re.findall(r"Exchange hashpartitioning\(ck", plan)
    assert len(exchanges) == 1, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # window frame is a RANGE frame over the numeric axis
    assert "specifiedwindowframe(RangeFrame" in plan, plan


def test_negative_sampling_no_cartesian(spark, sf_dir):
    """Negative sampling is hash-draw + equi-joins: never a cartesian /
    nested-loop against the candidate table, no Python in the plan."""
    from feature_store_api_spark.operators.splits import negative_sampling

    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet").where(
        F.col("l_linenumber") == 1
    )
    pos = li.select(F.col("l_suppkey").alias("u"), F.col("l_partkey").alias("it"))
    cand = read_parquet(spark, f"{sf_dir}/part.parquet").select(
        F.col("p_partkey").alias("it")
    )
    plan = _plan(negative_sampling(pos, cand, "u", "it", n_negatives=4))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the candidate index must be BUCKETED: no partition-less window
    # (a global row_number would funnel every candidate into ONE task —
    # Spark plans it as windowspecdefinition(<order> ...) with an empty
    # partition clause and a SinglePartition exchange feeding it)
    assert "SinglePartition" not in plan, plan
    import re as _re
    for spec in _re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "__nsb" in spec.split(",")[0], plan


def test_iceberg_read_pushes_filters_and_broadcasts_deletes(spark, tmp_path):
    """read_iceberg is one flat parquet relation: a filter on top
    reaches the scan as PushedFilters, and the pos-delete strip joins
    BROADCAST (never shuffles the data side by delete keys)."""
    import os

    from tests.test_iceberg_reader import (
        _entry, _manifest, _manifest_list, _pq, _snap, _write_metadata,
    )
    from feature_store_api_spark.sources.iceberg_reader import read_iceberg

    root = str(tmp_path / "ice")
    d1 = os.path.join(root, "data", "f1.parquet")
    _pq({"k": list(range(100)), "v": [float(i) for i in range(100)]}, d1)
    pd1 = os.path.join(root, "data", "del.parquet")
    _pq({"file_path": [f"file://{d1}"], "pos": [0]}, pd1)
    m1 = _manifest(root, "m1.avro",
                   [_entry(d1, seq=1), _entry(pd1, content=1, seq=2)])
    ml = _manifest_list(root, "s1.avro", [(m1, 0, 1)])
    _write_metadata(root, [_snap(1, 1_000, ml)], current=1)

    df = read_iceberg(spark, root).where(F.col("k") > 50).select("k")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(k), GreaterThan(k,50)]" in plan, plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan
    got = sorted(r["k"] for r in df.collect())
    assert got == list(range(51, 100))


def test_iceberg_avro_scan_is_one_spec_exchange(spark, tmp_path):
    """The avro-data-file scan is the DBAPI shape: one spec frame of
    file paths repartitioned once into mapInPandas — no driver decode,
    no extra exchange, no join in the avro-only path."""
    import os

    from feature_store_api_spark.sources.avro_container import _write_ocf
    from feature_store_api_spark.sources.iceberg_reader import read_iceberg
    from tests.test_iceberg_reader import (
        _entry, _manifest, _manifest_list, _snap, _write_metadata,
    )

    root = str(tmp_path / "ice_avro_plan")
    schema = {"type": "record", "name": "r", "fields": [
        {"name": "k", "type": "long"},
        {"name": "v", "type": ["null", "double"], "default": None}]}
    entries = []
    for i in range(3):
        p = os.path.join(root, "data", f"f{i}.avro")
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "wb") as fh:
            _write_ocf(iter([{"k": i, "v": float(i)}]), schema, fh)
        e = _entry(p, seq=1)
        e["data_file"]["file_format"] = "AVRO"
        entries.append(e)
    m1 = _manifest(root, "m1.avro", entries)
    ml = _manifest_list(root, "s1.avro", [(m1, 0, 1)])
    _write_metadata(root, [_snap(1, 1_000, ml)], current=1)
    df = read_iceberg(spark, root)
    assert sorted(r["k"] for r in df.collect()) == [0, 1, 2]
    final = _plan(df).split("== Initial Plan ==")[0]
    assert final.count("Exchange") == 1, final
    assert "CartesianProduct" not in final


def test_dbapi_read_partitions_match_spec(spark, tmp_path):
    """The DBAPI source's parallelism is the partition-spec frame:
    num_partitions tasks, one range predicate each, no extra exchange
    between the spec and the fetch."""
    import sqlite3

    from feature_store_api_spark.sources.dbapi_source import (
        read_dbapi, sqlite_connector,
    )

    db = str(tmp_path / "t.db")
    conn = sqlite3.connect(db)
    conn.execute("CREATE TABLE t (k INTEGER)")
    conn.executemany("INSERT INTO t VALUES (?)", [(i,) for i in range(100)])
    conn.commit(); conn.close()
    out = read_dbapi(spark, sqlite_connector(db), table="t",
                     partition_column="k", num_partitions=6)
    assert out.rdd.getNumPartitions() == 6
    # exactly one exchange: the spec repartition feeding mapInPandas
    # (AQE repeats the tree under "== Initial Plan ==" — count the
    # final section only)
    final = _plan(out).split("== Initial Plan ==")[0]
    assert final.count("Exchange") == 1, final


def test_plan_memo_is_the_only_cache():
    """Driver-side planning results are cached in one place, under one
    staleness rule: ``plan_memo``. A second module-level ``_…CACHE…``
    dict, or a second ``semanticHash`` key, would bring back a second
    contract (a semanticHash-only key served stale verdicts after an
    overwrite at the same path)."""
    import pathlib
    import re

    import feature_store_api_spark

    root = pathlib.Path(feature_store_api_spark.__file__).parent
    binding = re.compile(r"^_[A-Z_]*CACHE[A-Z_]*\s*[:=]", re.M)
    sources = sorted(root.rglob("*.py"))
    assert len(sources) > 10
    offenders = [
        str(path.relative_to(root))
        for path in sources
        if path.name != "plan_memo.py"
        and ("semanticHash" in path.read_text()
             or binding.search(path.read_text()))
    ]
    assert offenders == []
