"""LSM/merge-on-read online store: append-only upserts, bucketed base.

Scale contract: an upsert's write cost is O(batch) — a 1-row
micro-batch appends one small delta file and touches nothing else on
disk. Compaction (manual or every N upserts) folds deltas into a
bucket-partitioned base that point lookups prune to one directory.
"""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from feature_store_api_spark.online.store import OnlineStore, _BUCKET
from tests.conftest import spark_jobs


def _files(path):
    """{relpath: mtime_ns} of every parquet file under path."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                full = os.path.join(root, f)
                out[os.path.relpath(full, path)] = os.stat(full).st_mtime_ns
    return out


@pytest.fixture()
def store_dir():
    with tempfile.TemporaryDirectory(prefix="fsas_onlb_") as tmp:
        yield tmp


def test_single_row_upsert_appends_one_delta_file(spark, store_dir):
    store = OnlineStore(
        store_dir, primary_key=["uid"], num_buckets=8, auto_compact_every=None,
    )
    base = spark.range(0, 200).select(
        F.col("id").alias("uid"), (F.col("id") * 2).alias("v")
    )
    store.upsert(base)
    store.compact(spark)
    base_before = _files(store._base_path)
    assert len(base_before) > 1  # bucket-partitioned base

    one = spark.createDataFrame([(7, 999)], "uid long, v long")
    one = one.coalesce(1)
    store.upsert(one)
    # base untouched; delta gained exactly one file
    assert _files(store._base_path) == base_before
    delta = _files(store._delta_path)
    assert len(delta) == 1
    # value visible, everything else intact
    got = {r["uid"]: r["v"] for r in store.read(spark).collect()}
    assert got[7] == 999 and got[8] == 16 and len(got) == 200


def test_precombine_ordering_survives_merge(spark, store_dir):
    store = OnlineStore(
        store_dir, primary_key=["uid"], event_time="ts",
        precombine_key="seq", num_buckets=4,
    )
    df1 = spark.createDataFrame([(1, 10, 1, "a"), (2, 10, 1, "b")],
                                "uid long, ts long, seq long, val string")
    store.upsert(df1)
    # same event time, higher precombine wins; lower loses even if later
    df2 = spark.createDataFrame([(1, 10, 5, "winner"), (2, 10, 0, "loser")],
                                "uid long, ts long, seq long, val string")
    store.upsert(df2)
    got = {r["uid"]: r["val"] for r in store.read(spark).collect()}
    assert got[1] == "winner"
    assert got[2] == "b"  # seq 1 > 0: original row kept
    # resolution is identical after compaction
    store.compact(spark)
    got = {r["uid"]: r["val"] for r in store.read(spark).collect()}
    assert got == {1: "winner", 2: "b"}


def test_schema_widening_merges(spark, store_dir):
    store = OnlineStore(store_dir, primary_key=["uid"], num_buckets=4)
    store.upsert(spark.createDataFrame([(1, 1.0), (2, 2.0)], "uid long, x double"))
    store.upsert(
        spark.createDataFrame([(1, 9.0, "new")], "uid long, x double, extra string")
    )
    rows = {r["uid"]: r for r in store.read(spark).collect()}
    assert rows[1]["extra"] == "new" and rows[1]["x"] == 9.0
    assert rows[2]["extra"] is None and rows[2]["x"] == 2.0


def test_lookup_prunes_to_bucket(spark, store_dir):
    store = OnlineStore(
        store_dir, primary_key=["uid"], num_buckets=8, auto_compact_every=None,
    )
    store.upsert(
        spark.range(0, 100).select(F.col("id").alias("uid"), F.col("id").alias("v"))
    )
    store.compact(spark)
    vec = store.get_feature_vector(spark, {"uid": 42})
    assert vec == {"uid": 42, "v": 42}
    vecs = store.get_feature_vectors(spark, [{"uid": i} for i in (1, 5, 1000)])
    assert vecs[0]["v"] == 1 and vecs[1]["v"] == 5 and vecs[2] is None
    # the pruned scan reads one bucket, not the table
    pruned = store._pruned(spark, [{"uid": 42}])
    assert 0 < pruned.count() < 100


def test_auto_compaction_folds_deltas(spark, store_dir):
    store = OnlineStore(
        store_dir, primary_key=["uid"], num_buckets=4, auto_compact_every=3,
    )
    for i in range(3):
        store.upsert(
            spark.createDataFrame([(j, i) for j in range(10)], "uid long, v long")
        )
    # third upsert triggered compaction: delta cleared, base populated
    assert not store._has_parquet(store._delta_path)
    assert store._has_parquet(store._base_path)
    got = {r["uid"]: r["v"] for r in store.read(spark).collect()}
    assert got == {j: 2 for j in range(10)}
    # next upsert starts a fresh delta pile
    store.upsert(spark.createDataFrame([(0, 77)], "uid long, v long"))
    assert store._has_parquet(store._delta_path)
    assert store.read(spark).where(F.col("uid") == 0).first()["v"] == 77


def test_fs_sql_online_binds_latest_state(spark, tmp_path):
    from feature_store_api_spark import FeatureStore

    fs = FeatureStore(root=str(tmp_path / "sqlon"))
    fg = fs.create_feature_group(
        "clicks", primary_key=["uid"], event_time="ts", online_enabled=True
    )
    fg.insert(spark.createDataFrame(
        [(1, 100, 1.0), (1, 200, 5.0), (2, 50, 3.0)], "uid long, ts long, v double"
    ).selectExpr("uid", "timestamp_seconds(ts) AS ts", "v"))

    offline = fs.sql("SELECT count(*) AS n FROM clicks", spark).first()["n"]
    online = fs.sql("SELECT uid, v FROM clicks", spark, online=True).collect()
    assert offline == 3  # full history
    assert {r["uid"]: r["v"] for r in online} == {1: 5.0, 2: 3.0}  # latest per key


def _base_plus_delta(spark, store_dir):
    """Compacted base, then a delta that updates some keys with a later
    event time and adds a null-ts duplicate of key 3."""
    import datetime as dt

    store = OnlineStore(
        store_dir, primary_key=["uid"], event_time="ets",
        num_buckets=8, auto_compact_every=None,
    )
    t0 = dt.datetime(2024, 1, 1)
    t1 = dt.datetime(2024, 2, 1)
    rows = [(i, t0, float(i)) for i in range(50)]
    store.upsert(spark.createDataFrame(rows, "uid long, ets timestamp, v double"))
    store.compact(spark)  # base
    store.upsert(spark.createDataFrame(
        [(3, t1, 300.0), (7, t1, 700.0), (3, None, -1.0)],
        "uid long, ets timestamp, v double",
    ))
    return store, [{"uid": 3}, {"uid": 7}, {"uid": 11}, {"uid": 9999}]


def _null_event_times(spark, store_dir):
    """Null event times sort lowest; between two nulls the later upsert
    wins; a key with only a null event time is still served."""
    import datetime as dt

    store = OnlineStore(
        store_dir, primary_key=["uid"], event_time="ets",
        num_buckets=4, auto_compact_every=None,
    )
    t0 = dt.datetime(2024, 1, 1)
    schema = "uid long, ets timestamp, v double"
    store.upsert(spark.createDataFrame([(1, None, 1.0), (2, t0, 2.0)], schema))
    store.upsert(spark.createDataFrame(
        [(1, None, 10.0), (2, None, 20.0), (3, None, 3.0)], schema
    ))
    return store, [{"uid": 1}, {"uid": 2}, {"uid": 3}, {"uid": 4}]


def _precombine_ties_across_batches(spark, store_dir):
    """Equal event times across batches: the precombine key decides,
    and a full event-time/precombine tie goes to the later upsert."""
    store = OnlineStore(
        store_dir, primary_key=["uid"], event_time="ts",
        precombine_key="ver", num_buckets=4, auto_compact_every=None,
    )
    schema = "uid long, ts long, ver long, v string"
    store.upsert(spark.createDataFrame([(1, 10, 5, "a"), (2, 10, 5, "b")], schema))
    store.upsert(spark.createDataFrame([(1, 10, 5, "a2"), (2, 10, 4, "b2")], schema))
    store.upsert(spark.createDataFrame([(1, 10, 5, "a3"), (3, 9, 1, "c")], schema))
    return store, [{"uid": 1}, {"uid": 2}, {"uid": 3}]


def _keys_repeated_across_upserts(spark, store_dir):
    """A composite string/int key rewritten by most of five upserts,
    with no event time: the latest upsert that wrote a key wins."""
    store = OnlineStore(
        store_dir, primary_key=["region", "uid"], num_buckets=4,
        auto_compact_every=None,
    )
    for i in range(5):
        rows = [(r, u, i * 100 + u) for r in ("eu", "us") for u in range(8)
                if (u + i) % 4]
        store.upsert(spark.createDataFrame(rows, "region string, uid long, v long"))
    keys = [{"region": r, "uid": u} for r in ("us", "eu", "ap") for u in (0, 1, 3, 7)]
    return store, keys


def _widened_schema(spark, store_dir):
    """A later upsert adds a column: rows from older files serve it as
    None, as the Spark path's mergeSchema read does."""
    store = OnlineStore(
        store_dir, primary_key=["uid"], num_buckets=4, auto_compact_every=None,
    )
    store.upsert(spark.createDataFrame([(1, 1.0), (2, 2.0)], "uid long, x double"))
    store.upsert(spark.createDataFrame(
        [(1, 9.0, "new"), (3, 3.0, "three")], "uid long, x double, extra string"
    ))
    return store, [{"uid": 1}, {"uid": 2}, {"uid": 3}]


@pytest.mark.parametrize("build", [
    _base_plus_delta, _null_event_times, _precombine_ties_across_batches,
    _keys_repeated_across_upserts, _widened_schema,
], ids=lambda f: f.__name__.strip("_"))
def test_arrow_lookup_matches_spark_and_runs_no_job(spark, store_dir, build):
    """The pyarrow point-lookup path must (a) return exactly what the
    Spark plan returns — latest per key across base ∪ delta with the
    precombine/seq tie order — and (b) launch ZERO Spark jobs."""
    store, keys = build(spark, store_dir)
    with spark_jobs(spark) as jobs:
        fast = store._arrow_lookup(keys)
    assert jobs == []  # no Spark job
    assert fast is not None

    slow = store.lookup(store._pruned(spark, keys), keys)
    assert len(fast) == len(slow) == len(keys)
    assert any(s is not None for s in slow)
    for f, s in zip(fast, slow):
        if s is None:
            assert f is None
            continue
        assert set(f) == set(s)
        for c in s:
            assert f[c] == s[c], c
    if build is not _base_plus_delta:
        return
    assert fast[3] is None
    # the null-ts duplicate must NOT beat the real event time
    assert fast[0]["v"] == 300.0 and fast[1]["v"] == 700.0

    # the public API routes through the fast path for dict returns
    with spark_jobs(spark) as jobs:
        one = store.get_feature_vector(spark, {"uid": 3})
    assert jobs == []
    assert one["v"] == 300.0


def test_arrow_lookup_precombine_without_event_time_matches_spark(spark, store_dir):
    """With a precombine key but NO event time, the resolve order is
    arrival-sequence-first (latest upsert wins) — the arrow path must
    mirror the Spark path exactly or serving diverges from training."""
    store = OnlineStore(
        store_dir, primary_key=["uid"], event_time=None,
        precombine_key="ver", num_buckets=4, auto_compact_every=None,
    )
    # first upsert carries the HIGHER precombine value: a precombine-
    # first order would wrongly keep it; arrival order keeps the second
    store.upsert(spark.createDataFrame([(1, 9, "first")], "uid long, ver long, v string"))
    store.upsert(spark.createDataFrame([(1, 2, "second")], "uid long, ver long, v string"))

    slow = store.lookup(store._pruned(spark, [{"uid": 1}]), [{"uid": 1}])
    fast = store._arrow_lookup([{"uid": 1}])
    assert slow[0]["v"] == "second"
    assert fast is not None and fast[0]["v"] == "second"

    # within ONE batch (same seq) the precombine key is the tiebreak
    store.upsert(spark.createDataFrame(
        [(2, 1, "low"), (2, 5, "high")], "uid long, ver long, v string"
    ))
    slow = store.lookup(store._pruned(spark, [{"uid": 2}]), [{"uid": 2}])
    fast = store._arrow_lookup([{"uid": 2}])
    assert slow[0]["v"] == "high" and fast[0]["v"] == "high"


def test_upsert_counter_tracks_tail_with_autocompact_disabled(spark, store_dir):
    """The window-vs-agg strategy choice reads _upserts_since_compact;
    it must keep counting when auto-compaction is off (the unbounded-
    tail case is exactly when the skew-immune agg path matters)."""
    store = OnlineStore(
        store_dir, primary_key=["uid"], num_buckets=4, auto_compact_every=None,
    )
    for i in range(3):
        store.upsert(spark.createDataFrame([(1, i)], "uid long, v long"))
    assert store._counter("_upserts_since_compact") == 3
    # compaction resets the tail
    store.compact(spark)
    assert store._counter("_upserts_since_compact") == 0


def test_arrow_lookup_unions_columns_across_base_buckets(spark, store_dir):
    """Schema widening can leave a column present only in later-scanned
    base buckets; the arrow path must take the union of bucket schemas
    (the Spark path reads with mergeSchema=true)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    store = OnlineStore(
        store_dir, primary_key=["uid"], num_buckets=4, auto_compact_every=None,
    )
    # two keys in different buckets
    k_narrow = k_wide = None
    for cand in range(100):
        b = store._bucket_of({"uid": cand})
        if k_narrow is None:
            k_narrow, b_narrow = cand, b
        elif b != b_narrow:
            k_wide, b_wide = cand, b
            break
    assert b_narrow < b_wide  # narrow bucket scanned first

    def _write(bucket, rows, schema):
        d = os.path.join(store._base_path, f"{_BUCKET}={bucket}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(pa.table(rows, schema=schema), os.path.join(d, "part0.parquet"))

    _write(
        b_narrow,
        {"uid": [k_narrow], "v": [10], "_online_seq": [1]},
        pa.schema([("uid", pa.int64()), ("v", pa.int64()), ("_online_seq", pa.int64())]),
    )
    _write(
        b_wide,
        {"uid": [k_wide], "v": [20], "extra": ["x"], "_online_seq": [1]},
        pa.schema([
            ("uid", pa.int64()), ("v", pa.int64()),
            ("extra", pa.string()), ("_online_seq", pa.int64()),
        ]),
    )
    out = store._arrow_lookup([{"uid": k_narrow}, {"uid": k_wide}])
    assert out is not None
    assert out[0] == {"uid": k_narrow, "v": 10, "extra": None}
    assert out[1] == {"uid": k_wide, "v": 20, "extra": "x"}


def test_arrow_fallback_warns_once_and_counts(spark, store_dir, monkeypatch):
    """A degraded arrow path must not be silent: once-per-process
    RuntimeWarning + a per-store counter, and the Spark fallback still
    returns the correct row."""
    import warnings

    import pyarrow.parquet as pq

    import feature_store_api_spark.online.store as mod

    store = OnlineStore(
        store_dir, primary_key=["uid"], num_buckets=4, auto_compact_every=None,
    )
    store.upsert(spark.createDataFrame([(7, 70)], "uid long, v long"))

    def boom(*a, **k):
        raise RuntimeError("forced arrow failure")

    # the delta pile's file reader (OnlineStore._pile)
    monkeypatch.setattr(pq, "read_table", boom)
    monkeypatch.setattr(mod, "_ARROW_FALLBACK_WARNED", False)
    with pytest.warns(RuntimeWarning, match="degraded"):
        got = store.get_feature_vector(spark, {"uid": 7})
    assert got["v"] == 70  # Spark fallback served it
    assert store.arrow_fallback_count == 1
    # second degradation: counted, but no second process-level warning
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        got = store.get_feature_vector(spark, {"uid": 7})
    assert got["v"] == 70
    assert store.arrow_fallback_count == 2


def _count_decodes(monkeypatch):
    """Record every path the delta pile's reader decodes."""
    import pyarrow.parquet as pq

    decoded = []
    read = pq.read_table

    def counting(path, *a, **k):
        decoded.append(path)
        return read(path, *a, **k)

    monkeypatch.setattr(pq, "read_table", counting)
    return decoded


def _pair(store_dir, **kw):
    """A writer and a serving instance over one directory, as
    ``FeatureGroup.insert`` and ``init_serving`` hold them."""
    kw = dict(primary_key=["uid"], num_buckets=4, auto_compact_every=None, **kw)
    return OnlineStore(store_dir, **kw), OnlineStore(store_dir, **kw)


def test_pile_decodes_each_delta_file_once(spark, store_dir, monkeypatch):
    """k upserts interleaved with m lookups decode each delta file
    exactly once, and a row upserted between two lookups is served by
    the second."""
    decoded = _count_decodes(monkeypatch)
    writer, reader = _pair(store_dir, event_time="ts")
    schema = "uid long, ts long, v double"
    for i in range(4):
        writer.upsert(spark.createDataFrame(
            [(1, i, float(i)), (10 + i, 0, -1.0)], schema
        ).coalesce(1))
        for _ in range(3):
            got = reader.get_feature_vectors(spark, [{"uid": 1}, {"uid": 10 + i}])
            assert [g["v"] for g in got] == [float(i), -1.0]
    files = list(_files(writer._delta_path))
    assert len(files) == 4
    assert sorted(os.path.relpath(p, writer._delta_path) for p in decoded) == sorted(files)
    assert reader.arrow_fallback_count == 0
    stats = reader.pile_stats
    assert stats["files"] == 4 and stats["rows"] == 8 and stats["bytes"] > 0


def test_pile_follows_compact_and_truncate(spark, store_dir, monkeypatch):
    """compact() empties the pile into the base and truncate() drops
    both: the serving instance's next lookup reflects each, and no file
    is decoded twice."""
    decoded = _count_decodes(monkeypatch)
    writer, reader = _pair(store_dir)
    schema = "uid long, v long"
    writer.upsert(spark.createDataFrame([(1, 10), (2, 20)], schema))
    assert reader.get_feature_vector(spark, {"uid": 1})["v"] == 10
    writer.compact(spark)
    assert reader.get_feature_vector(spark, {"uid": 2})["v"] == 20  # from base
    assert reader.pile_stats == {"files": 0, "rows": 0, "bytes": 0}
    writer.upsert(spark.createDataFrame([(1, 11)], schema).coalesce(1))
    got = reader.get_feature_vectors(spark, [{"uid": 1}, {"uid": 2}])
    assert [g["v"] for g in got] == [11, 20]
    assert reader.pile_stats["files"] == 1
    writer.truncate()
    writer.upsert(spark.createDataFrame([(2, 22)], schema).coalesce(1))
    got = reader.get_feature_vectors(spark, [{"uid": 1}, {"uid": 2}])
    assert got[0] is None and got[1]["v"] == 22
    assert reader.pile_stats["rows"] == 1
    assert len(decoded) == len(set(decoded))
    assert reader.arrow_fallback_count == 0


def test_pile_ignores_in_flight_temporary_files(spark, store_dir):
    """A file under ``delta/_temporary/`` is an unfinished Spark write:
    neither lookup path may serve it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    store = OnlineStore(
        store_dir, primary_key=["uid"], num_buckets=4, auto_compact_every=None,
    )
    store.upsert(spark.createDataFrame([(1, 10)], "uid long, v long").coalesce(1))
    tmp = os.path.join(store._delta_path, "_temporary", "0")
    os.makedirs(tmp)
    pq.write_table(
        pa.table({"uid": [1], "v": [999], "_online_seq": pa.array([99], pa.int32()),
                  _BUCKET: pa.array([store._bucket_of({"uid": 1})], pa.int32())}),
        os.path.join(tmp, "part-x.parquet"),
    )
    assert store.get_feature_vector(spark, {"uid": 1})["v"] == 10
    assert store.pile_stats["files"] == 1
    assert store.read(spark).first()["v"] == 10


def test_external_fg_online_only_insert_and_serving(spark, tmp_path):
    """External groups: offline data stays external; insert() populates
    ONLY the online store (single entry per pk, newest wins) so the
    group can serve vectors (reference ExternalFeatureGroup.insert)."""
    import os

    from feature_store_api_spark import FeatureStore
    from feature_store_api_spark.sources.connectors import HopsFsConnector

    csv_dir = tmp_path / "ext"
    os.makedirs(csv_dir)
    with open(csv_dir / "data.csv", "w") as fh:
        fh.write("uid,score\n1,0.5\n2,0.7\n")

    fs = FeatureStore(root=str(tmp_path / "store"))
    conn = HopsFsConnector("files")
    fg = fs.create_external_feature_group(
        "ext_scores", conn, path=str(csv_dir / "data.csv"),
        data_format="csv", options={"header": "true", "inferSchema": "true"},
        primary_key=["uid"], online_enabled=True,
    )
    fg.insert(spark.createDataFrame([(1, 0.9), (3, 0.1)], "uid long, score double"))
    fg.insert(spark.createDataFrame([(1, 0.95)], "uid long, score double"))

    from feature_store_api_spark.online.store import OnlineStore

    store = OnlineStore.for_feature_group(fg)
    got = store.get_feature_vectors(spark, [{"uid": 1}, {"uid": 3}, {"uid": 9}])
    assert got[0]["score"] == 0.95  # newest wins
    assert got[1]["score"] == 0.1 and got[2] is None

    # offline read still comes from the external source, untouched
    offline = {r["uid"]: r["score"] for r in fg.read(spark).collect()}
    assert offline == {1: 0.5, 2: 0.7}

    # not-online-enabled groups refuse
    fg2 = fs.create_external_feature_group(
        "ext_plain", conn, path=str(csv_dir / "data.csv"),
        data_format="csv", primary_key=["uid"],
    )
    import pytest as _pytest
    with _pytest.raises(ValueError, match="online_enabled"):
        fg2.insert(spark.createDataFrame([(1, 0.9)], "uid long, score double"))


def test_insert_storage_targets(spark, tmp_path):
    """insert(storage=...) routes the write (reference feature_group.py
    insert storage kwarg): 'online' skips the offline commit log,
    'offline' skips the online store, None feeds both."""
    import pytest

    from feature_store_api_spark import FeatureStore

    fs = FeatureStore(root=str(tmp_path))
    fg = fs.create_feature_group(
        "st", primary_key=["k"], event_time="ts", online_enabled=True,
        auto_compact_every=None,
    )
    c = fg.insert(spark.createDataFrame(
        [(1, 10, 1.0)], "k long, ts long, v double"))
    assert c is not None
    # online-only: serving sees the new value, offline does not
    assert fg.insert(
        spark.createDataFrame([(1, 10, 9.0)], "k long, ts long, v double"),
        storage="online",
    ) is None
    from feature_store_api_spark.online.store import OnlineStore

    ov = OnlineStore.for_feature_group(fg).get_feature_vector(
        spark, {"k": 1})
    assert ov["v"] == 9.0
    assert [(r["k"], r["v"]) for r in fg.read(spark).collect()] == [(1, 1.0)]
    # offline-only: the commit lands, online keeps the old value
    c2 = fg.insert(
        spark.createDataFrame([(1, 10, 5.0)], "k long, ts long, v double"),
        storage="offline",
    )
    assert c2 is not None
    assert [(r["k"], r["v"]) for r in fg.read(spark).collect()] == [(1, 5.0)]
    assert OnlineStore.for_feature_group(fg).get_feature_vector(
        spark, {"k": 1})["v"] == 9.0
    with pytest.raises(ValueError, match="storage"):
        fg.insert(spark.createDataFrame(
            [(1, 10, 1.0)], "k long, ts long, v double"), storage="nope")


def test_insert_overwrite_truncates_online_content(spark, tmp_path):
    """insert(overwrite=True) on an online-enabled fg truncates the
    online store BEFORE upserting (reference
    feature_group_engine.py:181 delete_content): keys absent from the
    overwrite frame must stop serving, so online and offline snapshots
    agree."""
    from feature_store_api_spark import FeatureStore
    from feature_store_api_spark.online.store import OnlineStore

    fs = FeatureStore(root=str(tmp_path / "ovw"))
    fg = fs.create_feature_group(
        "ov", primary_key=["k"], event_time="ts", online_enabled=True,
        auto_compact_every=None,
    )
    fg.insert(spark.createDataFrame(
        [(1, 10, 1.0), (2, 10, 2.0), (3, 10, 3.0)],
        "k long, ts long, v double",
    ))
    store = OnlineStore.for_feature_group(fg)
    assert store.get_feature_vector(spark, {"k": 3})["v"] == 3.0

    # overwrite with a frame that drops key 3 and changes key 1
    fg.insert(
        spark.createDataFrame(
            [(1, 20, 9.0), (2, 20, 2.0)], "k long, ts long, v double"
        ),
        overwrite=True,
    )
    store = OnlineStore.for_feature_group(fg)
    assert store.get_feature_vector(spark, {"k": 1})["v"] == 9.0
    assert store.get_feature_vector(spark, {"k": 3}) is None  # gone
    # offline agrees: the snapshot is exactly the overwrite frame
    offline = {(r["k"], r["v"]) for r in fg.read(spark).collect()}
    assert offline == {(1, 9.0), (2, 2.0)}
    online = {(r["k"], r["v"]) for r in store.read(spark).collect()}
    assert online == offline
