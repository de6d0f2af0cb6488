"""CommitStore: upsert/insert/delete, time travel, incremental reads,
precombine tie-break, compaction, commit metadata counts."""

import datetime as dt
import os
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from feature_store_api_spark import FeatureStore


def ts(s):
    return dt.datetime.fromisoformat(s)


@pytest.fixture()
def fs(tmp_path):
    return FeatureStore(root=str(tmp_path))


def make_fg(fs, **kw):
    kw.setdefault("primary_key", ["pk"])
    kw.setdefault("event_time", "ets")
    return fs.create_feature_group("fg", **kw)


def df_of(spark, rows):
    return spark.createDataFrame(rows, "pk long, ets timestamp, state string, measurement double")


def test_upsert_and_snapshot(spark, fs):
    fg = make_fg(fs)
    c1 = fg.insert(df_of(spark, [
        (1, ts("2024-01-01"), "a", 1.0),
        (2, ts("2024-01-01"), "b", 2.0),
    ]))
    assert c1.rows_inserted == 2 and c1.rows_updated == 0
    c2 = fg.insert(df_of(spark, [
        (1, ts("2024-01-01"), "a2", 10.0),   # same identity → update
        (3, ts("2024-01-02"), "c", 3.0),     # new
    ]))
    assert c2.rows_inserted == 1 and c2.rows_updated == 1
    snap = {r["pk"]: r["measurement"] for r in fg.read(spark).collect()}
    assert snap == {1: 10.0, 2: 2.0, 3: 3.0}


def test_event_time_in_record_key(spark, fs):
    """Identity = pk + event_time: same pk at a new ts is a NEW row."""
    fg = make_fg(fs)
    fg.insert(df_of(spark, [(1, ts("2024-01-01"), "a", 1.0)]))
    fg.insert(df_of(spark, [(1, ts("2024-02-01"), "a", 2.0)]))
    assert fg.read(spark).count() == 2


def test_as_of_and_incremental(spark, fs):
    fg = make_fg(fs)
    c1 = fg.insert(df_of(spark, [(1, ts("2024-01-01"), "a", 1.0)]))
    c2 = fg.insert(df_of(spark, [(1, ts("2024-01-01"), "a", 2.0)]))
    c3 = fg.insert(df_of(spark, [(1, ts("2024-01-01"), "a", 3.0)]))
    assert fg.as_of(c1.commit_time).read(spark).collect()[0]["measurement"] == 1.0
    assert fg.as_of(c2.commit_time).read(spark).collect()[0]["measurement"] == 2.0
    # incremental pull (c1, c2]
    inc = fg.select_all().pull_changes(c1.commit_time, c2.commit_time).read(spark)
    assert [r["measurement"] for r in inc.collect()] == [2.0]
    # commit details newest-first
    details = fg.commit_details()
    assert [d["commit_time"] for d in details] == sorted(
        [c1.commit_time, c2.commit_time, c3.commit_time], reverse=True
    )


def test_delete_records(spark, fs):
    fg = make_fg(fs)
    fg.insert(df_of(spark, [
        (1, ts("2024-01-01"), "a", 1.0),
        (2, ts("2024-01-01"), "b", 2.0),
    ]))
    c = fg.commit_delete_record(df_of(spark, [(1, ts("2024-01-01"), "a", 1.0)]))
    assert c.rows_deleted == 1
    rows = fg.read(spark).collect()
    assert [r["pk"] for r in rows] == [2]


def test_precombine_tiebreak(spark, fs):
    fg = fs.create_feature_group(
        "fg2", primary_key=["pk"], event_time="ets", precombine_key="measurement"
    )
    fg.insert(
        spark.createDataFrame(
            [(1, ts("2024-01-01"), "lo", 1.0), (1, ts("2024-01-01"), "hi", 9.0)],
            "pk long, ets timestamp, state string, measurement double",
        )
    )
    rows = fg.read(spark).collect()
    assert len(rows) == 1 and rows[0]["state"] == "hi"


def test_compaction_preserves_snapshot(spark, fs):
    fg = make_fg(fs)
    fg.insert(df_of(spark, [(1, ts("2024-01-01"), "a", 1.0), (2, ts("2024-01-01"), "b", 2.0)]))
    fg.insert(df_of(spark, [(1, ts("2024-01-01"), "a", 5.0)]))
    before = sorted((r["pk"], r["measurement"]) for r in fg.read(spark).collect())
    fg.commit_store.compact(spark)
    after = sorted((r["pk"], r["measurement"]) for r in fg.read(spark).collect())
    assert before == after == [(1, 5.0), (2, 2.0)]


def test_partition_key_layout(spark, fs, tmp_path):
    fg = fs.create_feature_group(
        "fgp", primary_key=["pk"], event_time="ets", partition_key=["state"]
    )
    fg.insert(df_of(spark, [(1, ts("2024-01-01"), "x", 1.0), (2, ts("2024-01-01"), "y", 2.0)]))
    import os

    data = os.path.join(fg.location, "data")
    commits = os.listdir(data)
    assert any(c.startswith("_commit_time=") for c in commits)
    inner = os.listdir(os.path.join(data, [c for c in commits if c.startswith("_commit_time=")][0]))
    assert any(p.startswith("state=") for p in inner)


def test_dirty_names_sanitized(spark, fs):
    fg = fs.create_feature_group("fgd", primary_key=["primary_key"])
    df = spark.createDataFrame([(1, "a")], ["Primary Key", "staTe 1"])
    fg.insert(df)
    assert set(fg.read(spark).columns) == {"primary_key", "state_1"}


def test_insert_casts_to_declared_schema(spark, tmp_path):
    from feature_store_api_spark import FeatureStore
    from feature_store_api_spark.feature import Feature

    fs = FeatureStore(root=str(tmp_path))
    fg = fs.create_feature_group(
        "cast_fg", primary_key=["id"],
        features=[Feature("id", "bigint"), Feature("x", "double")],
    )
    src = spark.createDataFrame([(1, 10), (2, 20)], "id long, x int")
    fg.insert(src)
    out = fg.read(spark)
    assert dict((f.name, f.dataType.simpleString()) for f in out.schema.fields)["x"] == "double"
    assert {r["x"] for r in out.collect()} == {10.0, 20.0}

def test_auto_compaction_cadence(spark, tmp_path):
    """After every N delta commits a base commit is written, so a
    snapshot read windows over at most N+1 commit partitions no matter
    how many commits ever happened (Hudi inline-compaction parity,
    core/hudi_engine.py:171-224)."""
    import os
    from feature_store_api_spark.sources.commit_store import CommitStore, COMMIT_COL

    store = CommitStore(
        str(tmp_path), primary_key=["id"], auto_compact_every=3,
    )
    for i in range(7):
        df = spark.createDataFrame([(j, i) for j in range(5)], "id long, v long")
        store.write(df, compute_stats=False)

    log = store.commit_details()  # newest first
    bases = [c for c in log if c.get("base")]
    assert len(bases) == 2  # after commits 3 and 6
    assert store._commits_since_base() <= 3

    # snapshot reads start at the newest base: the commit partitions at
    # or after it number <= N+1
    last_base = max(c["commit_time"] for c in bases)
    data_dir = os.path.join(str(tmp_path), "data")
    tail = [
        d for d in os.listdir(data_dir)
        if d.startswith(COMMIT_COL + "=")
        and int(d.split("=")[1]) >= last_base
    ]
    assert len(tail) <= 4
    # the scan is pruned to those partitions
    plan = store.snapshot(spark)._jdf.queryExecution().executedPlan().toString()
    assert str(last_base) in plan
    # values: every id has the newest v
    got = {r["id"]: r["v"] for r in store.snapshot(spark).collect()}
    assert got == {j: 6 for j in range(5)}


def test_incremental_pull_ignores_compaction_base(spark, tmp_path):
    """A compaction inside the pull window must not report the whole
    table as changed — bases are rewrites, not changes."""
    from feature_store_api_spark.sources.commit_store import CommitStore

    store = CommitStore(str(tmp_path), primary_key=["id"], auto_compact_every=2)
    c1 = store.write(
        spark.createDataFrame([(j, 0) for j in range(10)], "id long, v long"),
        compute_stats=False,
    )
    # second write triggers auto-compaction (cadence 2)
    store.write(
        spark.createDataFrame([(1, 99)], "id long, v long"), compute_stats=False,
    )
    assert any(c.get("base") for c in store.commit_details())
    changed = store.snapshot(spark, start_commit=c1.commit_time).collect()
    assert {r["id"] for r in changed} == {1}
    assert changed[0]["v"] == 99


def test_append_features_schema_evolution(spark, tmp_path):
    from feature_store_api_spark import FeatureStore
    from feature_store_api_spark.feature import Feature

    fs = FeatureStore(root=str(tmp_path / "ae"))
    fg = fs.create_feature_group("evolve", primary_key=["k"])
    fg.insert(spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, v double"))
    fg.append_features([Feature("bonus", "double", default_value=9.5)])

    # storage stays untouched; the FG read surface reconciles the
    # declared column to typed NULLs for pre-evolution rows
    assert "bonus" not in fg.commit_store.snapshot(spark).columns
    raw = fg.read_source(spark)
    assert "bonus" in raw.columns
    assert all(r["bonus"] is None for r in raw.collect())
    # through a Query the declared default fills the gap
    out = fg.select(["k", "bonus"]).read(spark)
    assert {r["k"]: r["bonus"] for r in out.collect()} == {1: 9.5, 2: 9.5}
    # new inserts carry real values that override the default
    fg.insert(spark.createDataFrame([(3, 3.0, 1.25)], "k long, v double, bonus double"))
    out2 = fg.select(["k", "bonus"]).read(spark)
    assert {r["k"]: r["bonus"] for r in out2.collect()} == {1: 9.5, 2: 9.5, 3: 1.25}
    # the widened schema (and its default) survives a store restart
    from feature_store_api_spark import FeatureStore as _FS

    fg2 = _FS(root=fs.root).get_feature_group("evolve")
    assert fg2.get_feature("bonus").default_value == 9.5
    out3 = fg2.select(["k", "bonus"]).read(spark)
    assert {r["k"]: r["bonus"] for r in out3.collect()} == {1: 9.5, 2: 9.5, 3: 1.25}


def test_statistics_persist_per_commit(spark, tmp_path):
    from feature_store_api_spark import FeatureStore

    fs = FeatureStore(root=str(tmp_path / "st"))
    fg = fs.create_feature_group("stats_fg", primary_key=["k"])
    fg.insert(spark.createDataFrame([(i, float(i)) for i in range(10)], "k long, v double"))
    s1 = fg.compute_statistics(spark)
    assert s1["v"]["count"] == 10 and s1["v"]["max"] == 9.0
    c1 = fg.commit_details(limit=1)[0]["commit_time"]

    fg.insert(spark.createDataFrame([(100, 100.0)], "k long, v double"))
    s2 = fg.compute_statistics(spark)
    assert s2["v"]["count"] == 11

    # latest wins; commit-time pinning returns the older profile
    assert fg.get_statistics()["v"]["count"] == 11
    assert fg.get_statistics(commit_time=c1)["v"]["count"] == 10


def test_commit_log_lock_serializes_appends(spark, tmp_path):
    """Concurrent appends from threads must not lose commits."""
    import threading

    from feature_store_api_spark import FeatureStore

    fs = FeatureStore(root=str(tmp_path / "lock"))
    fg = fs.create_feature_group("locked", primary_key=["k"])
    fg.insert(spark.createDataFrame([(0, 0.0)], "k long, v double"))
    store = fg.commit_store

    from feature_store_api_spark.sources.commit_store import FeatureGroupCommit

    def append(i):
        store._append_log(FeatureGroupCommit(
            commit_time=10_000_000 + i, operation="upsert", rows_inserted=1
        ))

    threads = [threading.Thread(target=append, args=(i,)) for i in range(16)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    times = [c["commit_time"] for c in store._read_log()]
    assert len([t for t in times if 10_000_000 <= t < 10_000_100]) == 16  # no lost update


def test_vacuum_retention(spark, tmp_path):
    """25 commits + compaction + vacuum: pre-anchor partitions are
    physically deleted, as_of within retention stays oracle-exact, and
    time travel before the horizon raises (Delta VACUUM / Hudi cleaner
    parity)."""
    import os
    from feature_store_api_spark.sources.commit_store import CommitStore, COMMIT_COL

    store = CommitStore(
        str(tmp_path), primary_key=["id"], auto_compact_every=10,
    )
    commits = []
    for i in range(25):
        df = spark.createDataFrame([(j, i) for j in range(4)], "id long, v long")
        commits.append(store.write(df, compute_stats=False))

    log = store.commit_details()
    bases = sorted(c["commit_time"] for c in log if c.get("base"))
    assert len(bases) >= 2
    anchor = bases[-1]

    # retention window ending right after the newest base → everything
    # strictly older than it is vacuumable
    data_dir = os.path.join(str(tmp_path), "data")
    before_dirs = {d for d in os.listdir(data_dir) if d.startswith(COMMIT_COL)}
    removed = store.vacuum(retain_hours=0.0, now_ms=anchor + 1)
    assert removed and max(removed) < anchor

    # (a) old partition dirs physically gone, anchor + tail retained
    after_dirs = {d for d in os.listdir(data_dir) if d.startswith(COMMIT_COL)}
    assert after_dirs == {
        d for d in before_dirs if int(d.split("=")[1]) >= anchor
    }
    assert len(after_dirs) < len(before_dirs)

    # (b) snapshot and as_of WITHIN retention stay exact
    got = {r["id"]: r["v"] for r in store.snapshot(spark).collect()}
    assert got == {j: 24 for j in range(4)}
    mid = commits[21].commit_time  # within retention (>= anchor)
    assert mid >= anchor
    got_mid = {r["id"]: r["v"] for r in store.snapshot(spark, end_commit=mid).collect()}
    assert got_mid == {j: 21 for j in range(4)}

    # (c) reads before the horizon raise instead of silently emptying
    import pytest as _pytest
    with _pytest.raises(ValueError, match="vacuum"):
        store.snapshot(spark, end_commit=commits[3].commit_time)
    with _pytest.raises(ValueError, match="vacuum"):
        store.snapshot(
            spark,
            start_commit=commits[2].commit_time,
            end_commit=commits[8].commit_time,
        )

    # idempotent: nothing left to remove at the same horizon
    assert store.vacuum(retain_hours=0.0, now_ms=anchor + 1) == []

    # incremental pull AFTER the horizon still works
    changed = store.snapshot(
        spark, start_commit=commits[22].commit_time,
        end_commit=commits[24].commit_time,
    )
    assert changed.count() == 4  # ids re-upserted in (22, 24]


def test_vacuum_gap_before_anchor_raises_not_empty(spark, tmp_path):
    """as_of(t) with t strictly BETWEEN the newest vacuumed commit and
    the anchor base (a gap that can span days of wall time) must raise:
    the base that would serve it was vacuumed, so silently returning an
    empty snapshot would corrupt time-travel training reads."""
    import pytest as _pytest
    from feature_store_api_spark.sources.commit_store import CommitStore

    store = CommitStore(str(tmp_path), primary_key=["id"], auto_compact_every=None)
    c0 = store.write(
        spark.createDataFrame([(1, 0)], "id long, v long"), compute_stats=False
    )
    c1 = store.write(
        spark.createDataFrame([(1, 1)], "id long, v long"), compute_stats=False
    )
    store.compact(spark)
    c2 = store.write(
        spark.createDataFrame([(1, 2)], "id long, v long"), compute_stats=False
    )
    import time as _time

    _time.sleep(0.05)  # guarantee a real ms gap below the next commit
    base = store.compact(spark)  # second base = future vacuum anchor
    removed = store.vacuum(retain_hours=0.0, now_ms=base.commit_time + 1)
    assert removed and max(removed) < base.commit_time

    # t in the open gap (max(vacuumed), anchor): no surviving base <= t
    gap_t = base.commit_time - 1
    assert gap_t > max(removed)
    with _pytest.raises(ValueError, match="retention"):
        store.snapshot(spark, end_commit=gap_t)
    # exactly at / after the anchor still reads fine
    got = {r["id"]: r["v"] for r in store.snapshot(spark, end_commit=base.commit_time).collect()}
    assert got == {1: 2}


def test_multi_part_insert_one_commit_same_snapshot(spark, tmp_path):
    """N-part insert ≡ one insert: same commit count, same snapshot
    content (parity feature_group.py:2799,2934 — chunked parts
    accumulate into a single transmission)."""
    fs1 = FeatureStore(root=str(tmp_path / "chunked"))
    fs2 = FeatureStore(root=str(tmp_path / "whole"))
    parts = [
        df_of(spark, [(1, ts("2024-01-01"), "a", 1.0)]),
        df_of(spark, [(2, ts("2024-01-01"), "b", 2.0),
                      (3, ts("2024-01-02"), "c", 3.0)]),
        df_of(spark, [(1, ts("2024-01-03"), "a2", 9.0)]),  # same pk, new ets
    ]

    chunked = fs1.create_feature_group("fg", primary_key=["pk"], event_time="ets")
    for p in parts:
        assert chunked.multi_part_insert(p) is None
    commit = chunked.finalize_multi_part_insert()
    assert commit is not None

    whole = fs2.create_feature_group("fg", primary_key=["pk"], event_time="ets")
    whole.insert(parts[0].unionByName(parts[1]).unionByName(parts[2]))

    assert len(chunked.commit_details()) == len(whole.commit_details()) == 1
    a = sorted(map(tuple, chunked.read(spark).collect()))
    b = sorted(map(tuple, whole.read(spark).collect()))
    assert a == b and len(a) == 4  # identity is (pk, ets): both pk=1 rows kept

    # finalize with nothing buffered is a no-op
    assert chunked.finalize_multi_part_insert() is None
    assert len(chunked.commit_details()) == 1


def test_multi_part_insert_context_manager_and_guards(spark, tmp_path):
    fs = FeatureStore(root=str(tmp_path))
    fg = fs.create_feature_group("fg_cm", primary_key=["pk"], event_time="ets")
    with fg.multi_part_insert() as writer:
        writer.insert(df_of(spark, [(1, ts("2024-01-01"), "a", 1.0)]))
        writer.insert(df_of(spark, [(2, ts("2024-01-01"), "b", 2.0)]))
        # nothing written until exit
        assert len(fg.commit_details()) == 0
    assert len(fg.commit_details()) == 1
    assert fg.read(spark).count() == 2

    # mixed operations across parts must fail fast
    fg.multi_part_insert(df_of(spark, [(5, ts("2024-01-05"), "e", 5.0)]))
    with pytest.raises(ValueError, match="share one operation"):
        fg.multi_part_insert(
            df_of(spark, [(5, ts("2024-01-05"), "e", 5.0)]), operation="delete"
        )
    fg.finalize_multi_part_insert()
    assert len(fg.commit_details()) == 2


def test_backend_seam_custom_backend_drop_in(spark, tmp_path):
    """All physical I/O routes through the TimeTravelBackend seam: a
    wrapping backend sees every append/scan/drop/log call while the
    store's logical semantics (merge, time travel, vacuum) are
    unchanged — the drop-in contract a Delta/Hudi backend relies on."""
    from feature_store_api_spark.sources.backend import CommitLogBackend
    from feature_store_api_spark.sources.commit_store import CommitStore

    calls = []

    class SpyBackend(CommitLogBackend):
        def append_commit(self, df, partition_cols):
            calls.append(("append", tuple(partition_cols)))
            return super().append_commit(df, partition_cols)

        def scan(self, spark, filters=None):
            calls.append(("scan",))
            return super().scan(spark, filters=filters)

        def drop_commit(self, commit_time):
            calls.append(("drop", commit_time))
            return super().drop_commit(commit_time)

    loc = str(tmp_path / "seam")
    store = CommitStore(
        loc, primary_key=["pk"], event_time="ets",
        backend=SpyBackend(loc), auto_compact_every=None,
    )
    c1 = store.write(df_of(spark, [(1, ts("2024-01-01"), "a", 1.0)]))
    store.write(df_of(spark, [(1, ts("2024-01-01"), "a2", 2.0)]))
    store.compact(spark)
    got = {r["pk"]: r["state"] for r in store.snapshot(spark).collect()}
    assert got == {1: "a2"}
    removed = store.vacuum(retain_hours=0.0)
    assert c1.commit_time in removed
    kinds = [c[0] for c in calls]
    assert "append" in kinds and "scan" in kinds and ("drop", c1.commit_time) in calls
    # partition spec flows through the seam
    assert ("append", ("_commit_time",)) in calls


def test_multi_part_insert_aborted_body_commits_nothing(spark, tmp_path):
    """An exception inside the with-body must NOT persist the partial
    batch: the physical write happens at finalize here (unlike the
    reference, where each insert already transmitted), so exit-flush on
    error would silently commit a half-buffered batch."""
    fs = FeatureStore(root=str(tmp_path))
    fg = fs.create_feature_group("fg_abort", primary_key=["pk"], event_time="ets")
    with pytest.raises(RuntimeError, match="boom"):
        with fg.multi_part_insert() as writer:
            writer.insert(df_of(spark, [(1, ts("2024-01-01"), "a", 1.0)]))
            raise RuntimeError("boom")
    assert len(fg.commit_details()) == 0
    assert fg._multi_part_parts == []
    # the writer is reusable after the abort — a clean run commits once
    with fg.multi_part_insert() as writer:
        writer.insert(df_of(spark, [(2, ts("2024-01-02"), "b", 2.0)]))
    assert len(fg.commit_details()) == 1
    assert fg.read(spark).count() == 1


def test_cluster_by_sorts_row_groups_for_data_skipping(spark, tmp_path):
    """A declared cluster_by sorts every commit's rows within partitions,
    so parquet row-group min/max stats on the cluster column are
    non-overlapping and pushed predicates can skip row groups. Verified
    on the physical files via pyarrow metadata; rehydration preserves
    the declaration."""
    import glob
    import os

    import pyarrow.parquet as pq

    from feature_store_api_spark import FeatureStore

    fs = FeatureStore(root=str(tmp_path))
    fg = fs.create_feature_group(
        "clustered", primary_key=["k"], cluster_by=["ts"],
    )
    # shuffled ts values, small row groups so files hold several groups
    rows = [(i, (i * 7919) % 100_000, float(i)) for i in range(50_000)]
    df = spark.createDataFrame(rows, "k long, ts long, v double").coalesce(2)
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    old_block = hconf.get("parquet.block.size")
    hconf.set("parquet.block.size", str(64 * 1024))
    try:
        fg.insert(df, compute_stats=False)
    finally:
        if old_block is None:
            hconf.unset("parquet.block.size")
        else:
            hconf.set("parquet.block.size", old_block)

    def rg_ranges(root):
        out = []
        for f in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True):
            md = pq.ParquetFile(f).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            if "ts" not in idx or md.num_row_groups < 2:
                continue
            per_file = []
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(idx["ts"]).statistics
                per_file.append((st.min, st.max))
            out.append(per_file)
        return out

    files = rg_ranges(os.path.join(str(tmp_path), "clustered_1"))
    assert files, "expected at least one multi-row-group file"
    for per_file in files:
        # sorted within the file: each group's min >= previous group's max
        for (lo1, hi1), (lo2, hi2) in zip(per_file, per_file[1:]):
            assert lo2 >= hi1, (per_file,)

    # data unchanged; rehydrated store keeps the clustering declaration
    assert fg.read(spark).count() == 50_000
    fresh = FeatureStore(root=str(tmp_path)).get_feature_group("clustered")
    assert fresh.cluster_by == ["ts"]
    assert fresh.commit_store.cluster_by == ["ts"]


def test_insert_overwrite_truncates_snapshot_keeps_time_travel(spark, tmp_path):
    """insert(overwrite=True) is the reference's truncate-and-insert
    (Hudi insert_overwrite_table): the visible snapshot becomes exactly
    the new rows — dropped keys do NOT survive — while as_of below the
    overwrite still time-travels, incremental pulls report the
    overwrite's rows as changes (unlike compaction bases), and vacuum
    retires the pre-overwrite history."""
    import time as _time

    from feature_store_api_spark import FeatureStore

    fs = FeatureStore(root=str(tmp_path))
    fg = fs.create_feature_group(
        "ow", primary_key=["k"], event_time="ts", auto_compact_every=None
    )
    c1 = fg.insert(spark.createDataFrame(
        [(1, 10, 1.0), (2, 10, 2.0), (3, 10, 3.0)],
        "k long, ts long, v double"))
    c2 = fg.insert(
        spark.createDataFrame([(9, 20, 9.0)], "k long, ts long, v double"),
        overwrite=True,
    )
    rows = sorted((r["k"], r["v"]) for r in fg.read(spark).collect())
    assert rows == [(9, 9.0)]  # truncated: 1,2,3 gone
    # time travel below the overwrite still works
    pre = sorted(r["k"] for r in fg.as_of(c1.commit_time).read(spark).collect())
    assert pre == [1, 2, 3]
    # commit metadata: an overwrite commit, counted as inserts
    details = {c["commit_time"]: c for c in fg.commit_store.commit_details()}
    assert details[c2.commit_time]["operation"] == "overwrite"
    assert details[c2.commit_time]["rows_inserted"] == 1
    # incremental pull ACROSS the overwrite sees its rows as changes
    now = int(_time.time() * 1000) + 10_000
    pulled = sorted(
        r["k"] for r in
        fg.select_all().pull_changes(c1.commit_time + 1, now).read(spark).collect()
    )
    assert pulled == [9]
    # later upserts keep working on top of the overwrite
    fg.insert(spark.createDataFrame([(9, 20, 99.0)], "k long, ts long, v double"))
    assert [(r["k"], r["v"]) for r in fg.read(spark).collect()] == [(9, 99.0)]
    # vacuum retires the truncated history; the snapshot is unchanged
    fg.commit_store.vacuum(retain_hours=0.0)
    assert [(r["k"], r["v"]) for r in fg.read(spark).collect()] == [(9, 99.0)]


def test_backends_refuse_partition_layout_change(spark, tmp_path):
    """Partition layout is fixed at table creation on EVERY physical
    backend: the default parquet commit log probes its data tree (a
    changed partitionBy would break Spark's partition discovery) and
    the Delta backend checks the table's metaData.partitionColumns
    (delta.io PROTOCOL.md: existing add actions carry partitionValues
    for exactly those columns). Same posture as the Hudi/Iceberg
    backends."""
    import pytest

    from feature_store_api_spark.sources.backend import CommitLogBackend
    from feature_store_api_spark.sources.commit_store import COMMIT_COL
    from feature_store_api_spark.sources.delta_backend import DeltaLogBackend

    df = spark.createDataFrame(
        [(1, "a", 1.0, 1000, "upsert")],
        f"k long, part string, v double, {COMMIT_COL} long, _hoodie_op string",
    )
    for cls, sub in ((CommitLogBackend, "plog"), (DeltaLogBackend, "dlt")):
        flat = cls(str(tmp_path / f"{sub}_flat"))
        flat.append_commit(df, [COMMIT_COL])
        with pytest.raises(ValueError, match="partition columns|partition"):
            flat.append_commit(df, [COMMIT_COL, "part"])
        flat.append_commit(df, [COMMIT_COL])  # same layout still fine

        part = cls(str(tmp_path / f"{sub}_part"))
        part.append_commit(df, [COMMIT_COL, "part"])
        with pytest.raises(ValueError, match="partition columns|partition"):
            part.append_commit(df, [COMMIT_COL])
        part.append_commit(df, [COMMIT_COL, "part"])


@pytest.mark.parametrize("fmt", ["COMMITLOG", "DELTA", "ICEBERG", "HUDI"])
def test_insert_overwrite_on_every_backend(spark, tmp_path, fmt):
    """insert(overwrite=True) truncate-and-insert semantics hold on all
    four physical backends: the visible snapshot becomes exactly the
    overwrite frame, and time travel below the overwrite still works."""
    from feature_store_api_spark import FeatureStore

    fs = FeatureStore(root=str(tmp_path / fmt.lower()))
    fg = fs.create_feature_group(
        f"ovw_{fmt.lower()}", primary_key=["k"], event_time="ts",
        time_travel_format=fmt, auto_compact_every=None,
    )
    c1 = fg.insert(spark.createDataFrame(
        [(1, 10, 1.0), (2, 10, 2.0), (3, 10, 3.0)],
        "k long, ts long, v double"))
    fg.insert(
        spark.createDataFrame([(9, 20, 9.0)], "k long, ts long, v double"),
        overwrite=True,
    )
    snap = sorted((r["k"], r["v"]) for r in fg.read(spark).collect())
    assert snap == [(9, 9.0)]
    back = sorted(
        (r["k"], r["v"])
        for r in fg.as_of(c1.commit_time).read(spark).collect()
    )
    assert back == [(1, 1.0), (2, 2.0), (3, 3.0)]


def test_commit_backend_detects_inconsistent_layout(spark, tmp_path):
    """_existing_layout validates EVERY first-level branch (ADVICE r13):
    a stray ``col=val``-named directory left by a crashed partial write
    must raise loudly instead of the layout being decided by whichever
    branch sorts first."""
    import pytest

    from feature_store_api_spark.sources.backend import CommitLogBackend
    from feature_store_api_spark.sources.commit_store import COMMIT_COL

    df = spark.createDataFrame(
        [(1, "a", 1.0, 1000, "upsert")],
        f"k long, part string, v double, {COMMIT_COL} long, _hoodie_op string",
    )
    be = CommitLogBackend(str(tmp_path / "plog_bad"))
    be.append_commit(df, [COMMIT_COL, "part"])
    # simulate a foreign/crashed branch disagreeing on the partition
    # column at depth 0
    os.makedirs(os.path.join(be._data_path, "bogus=1"), exist_ok=True)
    with pytest.raises(ValueError, match="inconsistent partition layout"):
        be.append_commit(df, [COMMIT_COL, "part"])


def _resolve_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_lone_compaction_base_read_skips_resolve(spark, fs):
    """When the merge window is exactly one compaction base, the
    snapshot read must NOT pay the latest-per-key resolve: the base is
    a latest_per_key output, already unique per record key, and the
    resolve would shuffle the whole table to keep every row. Any
    commit after the base brings the resolve back."""
    fg = make_fg(fs)
    fg.insert(df_of(spark, [
        (1, ts("2024-01-01"), "a", 1.0),
        (2, ts("2024-01-01"), "b", 2.0),
    ]))
    fg.insert(df_of(spark, [(1, ts("2024-01-01"), "a", 5.0)]))
    before = sorted(
        (r["pk"], r["measurement"]) for r in fg.read(spark).collect()
    )
    fg.commit_store.compact(spark)

    fast = fg.read(spark)
    plan = _resolve_plan(fast)
    assert "Exchange hashpartitioning" not in plan, plan[:2000]
    assert "Window" not in plan, plan[:2000]
    assert sorted((r["pk"], r["measurement"]) for r in fast.collect()) == before

    # a delta on top of the base re-enables the resolve, result stays right
    fg.insert(df_of(spark, [(2, ts("2024-01-01"), "b", 9.0)]))
    merged = fg.read(spark)
    assert "Exchange hashpartitioning" in _resolve_plan(merged)
    assert sorted((r["pk"], r["measurement"]) for r in merged.collect()) == [
        (1, 5.0), (2, 9.0),
    ]


def test_lone_base_fast_path_requires_compaction(spark, fs):
    """An OVERWRITE base is user data — a batch with duplicate record
    keys relies on the read-side window to keep exactly one row, so
    the lone-base fast path must not fire for it."""
    fg = make_fg(fs)
    fg.insert(
        df_of(spark, [
            (1, ts("2024-01-01"), "first", 1.0),
            (1, ts("2024-01-01"), "second", 2.0),
        ]),
        overwrite=True,
    )
    out = fg.read(spark)
    assert "Exchange hashpartitioning" in _resolve_plan(out)
    assert out.count() == 1  # in-batch dup resolved by the window


def test_as_of_below_lone_base_keeps_resolve(spark, fs):
    """Time travel BELOW the compaction base reads multi-commit
    history and must still resolve; at-or-after the base it may skip."""
    fg = make_fg(fs)
    c1 = fg.insert(df_of(spark, [(1, ts("2024-01-01"), "a", 1.0)]))
    fg.insert(df_of(spark, [(1, ts("2024-01-01"), "a", 2.0)]))
    base = fg.commit_store.compact(spark)

    older = fg.as_of(c1.commit_time).read(spark)
    assert "Exchange hashpartitioning" in _resolve_plan(older)
    assert [r["measurement"] for r in older.collect()] == [1.0]

    at_base = fg.as_of(base.commit_time).read(spark)
    assert "Exchange hashpartitioning" not in _resolve_plan(at_base)
    assert [r["measurement"] for r in at_base.collect()] == [2.0]


def _force_window_resolve(store):
    """Context: disable both compaction-window fast paths, forcing the
    classic shuffle resolve (the reference plan for equivalence): the
    merge window keeps its commits, but its compaction base reads as a
    plain (overwrite) base."""
    from unittest import mock

    window = type(store)._window

    def plain(log, start_commit, end_commit):
        return [
            dict(c, operation="overwrite")
            for c in window(log, start_commit, end_commit)
        ]

    return mock.patch.object(type(store), "_window", staticmethod(plain))


def test_base_plus_small_tail_merge_on_read(spark, fs):
    """Compaction base + small delta tail: the base must stream through
    a broadcast anti join (never shuffled); only the tail pays the
    resolve. Results must be row-identical to the forced shuffle
    resolve across updates, inserts, deletes, delete-then-reinsert
    and null-keyed rows."""
    fg = make_fg(fs)
    fg.insert(df_of(spark, [
        (1, ts("2024-01-01"), "a", 1.0),
        (2, ts("2024-01-01"), "b", 2.0),
        (3, ts("2024-01-01"), "c", 3.0),
        (4, ts("2024-01-01"), "d", 4.0),
        (5, None, "nullts", 5.0),          # null event-time key part
    ]))
    fg.commit_store.compact(spark)
    # tail commit 1: update pk=1, insert pk=6, update the null-key row
    fg.insert(df_of(spark, [
        (1, ts("2024-01-01"), "a2", 10.0),
        (6, ts("2024-01-02"), "f", 6.0),
        (5, None, "nullts2", 50.0),
    ]))
    # tail commit 2: delete pk=2, delete-then-reinsert pk=3
    fg.commit_delete_record(df_of(spark, [
        (2, ts("2024-01-01"), "b", 2.0),
        (3, ts("2024-01-01"), "c", 3.0),
    ]))
    fg.insert(df_of(spark, [(3, ts("2024-01-01"), "c3", 33.0)]))

    out = fg.read(spark)
    plan = _resolve_plan(out)
    assert "LeftAnti" in plan, plan[:2000]
    assert "BroadcastHashJoin" in plan, plan[:2000]
    # the only key-shuffle is the small tail's resolve
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]

    got = sorted(
        ((r["pk"], r["state"], r["measurement"]) for r in out.collect()),
        key=str,
    )
    with _force_window_resolve(fg.commit_store):
        ref = fg.read(spark)
        assert "LeftAnti" not in _resolve_plan(ref)
        want = sorted(
            ((r["pk"], r["state"], r["measurement"]) for r in ref.collect()),
            key=str,
        )
    assert got == want
    assert got == sorted([
        (1, "a2", 10.0), (3, "c3", 33.0), (4, "d", 4.0),
        (5, "nullts2", 50.0), (6, "f", 6.0),
    ], key=str)


def test_base_tail_merge_respects_precombine(spark, fs):
    """Within one tail commit the precombine tie-break must still pick
    the max-precombine row, exactly as the full resolve does."""
    fg = fs.create_feature_group(
        "fg_pc", primary_key=["pk"], event_time="ets",
        precombine_key="measurement", auto_compact_every=None,
    )
    fg.insert(df_of(spark, [(1, ts("2024-01-01"), "base", 1.0)]))
    fg.commit_store.compact(spark)
    fg.insert(df_of(spark, [
        (1, ts("2024-01-01"), "low", 5.0),
        (1, ts("2024-01-01"), "high", 9.0),
    ]))
    out = fg.read(spark)
    assert "LeftAnti" in _resolve_plan(out)
    assert [(r["state"], r["measurement"]) for r in out.collect()] == [
        ("high", 9.0)
    ]


def test_base_tail_merge_requires_known_small_tail(spark, fs):
    """A tail commit with no recorded row counts (compute_stats=False)
    is ambiguous — possibly a huge stats-skipped write — and a tail
    over the broadcast gate is not small: both must fall back to the
    shuffle resolve."""
    fg = make_fg(fs)
    fg.insert(df_of(spark, [(1, ts("2024-01-01"), "a", 1.0)]))
    fg.commit_store.compact(spark)
    fg.insert(
        df_of(spark, [(2, ts("2024-01-01"), "b", 2.0)]),
        compute_stats=False,
    )
    assert "LeftAnti" not in _resolve_plan(fg.read(spark))
    assert fg.read(spark).count() == 2

    fg2 = fs.create_feature_group(
        "fg_gate", primary_key=["pk"], event_time="ets",
        auto_compact_every=None,
    )
    fg2.insert(df_of(spark, [(1, ts("2024-01-01"), "a", 1.0)]))
    fg2.commit_store.compact(spark)
    fg2.insert(df_of(spark, [(2, ts("2024-01-01"), "b", 2.0)]))
    assert "LeftAnti" in _resolve_plan(fg2.read(spark))
    saved = type(fg2.commit_store).MOR_TAIL_MAX_ROWS
    try:
        type(fg2.commit_store).MOR_TAIL_MAX_ROWS = 0
        assert "LeftAnti" not in _resolve_plan(fg2.read(spark))
    finally:
        type(fg2.commit_store).MOR_TAIL_MAX_ROWS = saved
    assert fg2.read(spark).count() == 2


@pytest.mark.parametrize(
    "fmt", ["COMMITLOG", "DELTA", "ICEBERG", "HUDI", "HUDI_MOR"]
)
def test_unlogged_commit_is_invisible(spark, tmp_path, fmt):
    """A commit is visible exactly when its log entry exists. Rows a
    backend holds without one (a write that crashed between landing its
    data and appending its log entry, or one still in flight) must not
    reach a snapshot, an as-of read or an incremental pull."""
    from feature_store_api_spark.sources.commit_store import COMMIT_COL, OP_COL

    fs = FeatureStore(root=str(tmp_path / fmt.lower()))
    fg = fs.create_feature_group(
        f"ghost_{fmt.lower()}", primary_key=["k"], event_time="ts",
        time_travel_format=fmt, auto_compact_every=None,
    )
    schema = "k long, ts long, v string"
    c1 = fg.insert(spark.createDataFrame([(1, 10, "a"), (2, 10, "b")], schema))
    store = fg.commit_store
    ghost_ct = store._next_commit_time()
    ghost = (
        spark.createDataFrame(
            [(1, 10, "GHOST", 1.0), (3, 10, "GHOST", 3.0)],
            schema + ", extra double",
        )
        .withColumn(COMMIT_COL, F.lit(ghost_ct))
        .withColumn(OP_COL, F.lit("upsert"))
    )
    store.backend.append_commit(ghost, [COMMIT_COL] + store.partition_key)
    assert [c["commit_time"] for c in store.commit_details()] == [c1.commit_time]

    def rows(df):
        return sorted((r["k"], r["v"]) for r in df.collect())

    logged = [(1, "a"), (2, "b")]
    assert rows(fg.read(spark)) == logged
    assert rows(fg.as_of(ghost_ct).read(spark)) == logged
    pulled = fg.select_all().pull_changes(c1.commit_time - 1, ghost_ct)
    assert rows(pulled.read(spark)) == logged
    if fmt == "COMMITLOG":
        # the plain backend reads with the logged commits' schemas, so
        # the unlogged commit's column is not read either. The Delta,
        # Iceberg and Hudi COW scans still show it: their own format
        # logs hold the ghost commit
        windows = [(None, None), (None, ghost_ct), (c1.commit_time - 1, ghost_ct)]
        for start, end in windows:
            assert store.snapshot(spark, start, end).columns == ["k", "ts", "v"]


def test_commit_time_allocation_is_reserved(tmp_path, monkeypatch):
    """Two writers in flight never share a commit time: the allocation
    is reserved under the log lock, so a second allocation before the
    first commit's log entry lands still gets a later time, from the
    same store object or from another one on the same location."""
    from feature_store_api_spark.sources import commit_store as cs

    monkeypatch.setattr(cs.time, "time", lambda: 1_700_000_000.0)
    loc = str(tmp_path / "alloc")
    a = cs.CommitStore(loc, primary_key=["id"])
    b = cs.CommitStore(loc, primary_key=["id"])
    first = a._next_commit_time()
    second = a._next_commit_time()
    third = b._next_commit_time()
    assert first < second < third


def test_insert_without_record_key_counts_as_inserted(spark, tmp_path):
    """An ``insert`` batch that carries none of the record-key columns
    can match no prior row: once a commit exists it must record every
    row as inserted instead of failing on an empty join key."""
    from feature_store_api_spark.sources.commit_store import CommitStore

    store = CommitStore(str(tmp_path / "nokey"), primary_key=["id"])
    store.write(spark.createDataFrame([(1, 1.0), (2, 2.0)], "id long, v double"))
    c = store.write(
        spark.createDataFrame([(3.0,), (4.0,), (5.0,)], "v double"),
        operation="insert",
    )
    assert (c.rows_inserted, c.rows_updated, c.rows_deleted) == (3, 0, 0)


def _stats(c):
    return (c.rows_inserted, c.rows_updated, c.rows_deleted)


def _reference_stats(spark, store, df, operation):
    """Commit counts by the direct formula: count the batch, then
    semi-join its record keys against the resolved prior snapshot."""
    n = df.count()
    if operation == "delete":
        return (0, 0, n)
    prior = None if operation == "overwrite" else store.snapshot_or_none(spark)
    key = [k for k in store.record_key if k in df.columns]
    if prior is None or not key:
        return (n, 0, 0)
    matched = df.select(key).join(prior.select(key), on=key, how="left_semi").count()
    return (n - matched, matched, 0)


_FORMATS = ["COMMITLOG", "DELTA", "ICEBERG", "HUDI", "HUDI_MOR"]


@pytest.mark.parametrize(
    "fmt, broadcast",
    [(f, True) for f in _FORMATS] + [("COMMITLOG", False)],
    ids=_FORMATS + ["COMMITLOG-sort_merge"],
)
def test_commit_stats_match_snapshot_formula(spark, tmp_path, fmt, broadcast):
    """Every commit's inserted/updated/deleted counts equal the direct
    formula (batch count, then a semi-join against the resolved prior
    snapshot) on each window shape the write path tells apart: first
    commit, plain tail, compaction and overwrite bases with tails, a
    delete in the window, duplicate batch keys, a null batch key,
    unlogged rows holding a batch key, and an empty batch. With
    broadcasts off the existence join behind ``rows_updated`` plans as
    a sort-merge join instead of a broadcast hash join."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    if not broadcast:
        spark.conf.set(key, "-1")
    try:
        _check_commit_stats(spark, tmp_path, fmt)
    finally:
        spark.conf.set(key, saved)


def _check_commit_stats(spark, tmp_path, fmt):
    from feature_store_api_spark.sources.commit_store import COMMIT_COL, OP_COL

    fs = FeatureStore(root=str(tmp_path / fmt.lower()))
    fg = fs.create_feature_group(
        f"stats_{fmt.lower()}", primary_key=["k"], event_time="ts",
        time_travel_format=fmt, auto_compact_every=None,
    )
    store = fg.commit_store
    schema = "k long, ts long, v double"

    def batch(*keys):
        return spark.createDataFrame([(k, 10, float(k)) for k in keys], schema)

    def ghost(*keys):
        ct = store._next_commit_time()
        rows = batch(*keys).withColumn(COMMIT_COL, F.lit(ct))
        store.backend.append_commit(
            rows.withColumn(OP_COL, F.lit("upsert")),
            [COMMIT_COL] + store.partition_key,
        )

    def write(df, want, operation="upsert"):
        ref = _reference_stats(spark, store, df, operation)
        got = _stats(store.write(df, operation=operation))
        assert got == ref == want, (operation, got, ref)

    write(batch(1, 2, 3, 4), (4, 0, 0))        # first commit
    write(batch(3, 4, 5, 6), (2, 2, 0))        # plain tail
    write(batch(5, 5, 7, 7), (2, 2, 0))        # duplicate batch keys
    null_key = spark.createDataFrame([(None, 10, 0.0), (7, 10, 7.0)], schema)
    write(null_key, (1, 1, 0))                 # a null key matches nothing
    write(null_key, (1, 1, 0))                 # not even a live null key
    write(batch(6).union(batch(7)), (0, 2, 0))  # a union batch
    store.compact(spark)
    write(batch(1, 8), (1, 1, 0))              # lone compaction base
    write(batch(8, 9), (1, 1, 0))              # compaction base + tail
    ghost(10)
    write(batch(10, 9), (1, 1, 0))             # unlogged key is not live
    write(batch(2), (0, 0, 1), "delete")
    write(batch(2, 3), (1, 1, 0))              # re-insert after a delete
    write(batch(2), (0, 1, 0))                 # live again after it
    ghost(11)
    write(batch(11), (1, 0, 0))                # unlogged, delete in window
    write(batch(1, 2, 50), (3, 0, 0), "overwrite")
    write(batch(2, 60), (1, 1, 0))             # overwrite base + tail
    write(batch(), (0, 0, 0))                  # empty batch
    assert _stats(store.write(batch(60, 61), compute_stats=False)) == (0, 0, 0)


def test_logged_schema_scan_matches_footer_merge(spark, tmp_path):
    """The plain backend reads with the schema the commit log records,
    not a ``mergeSchema`` footer merge. Its schema (names, types,
    nullability, order) and rows must equal a footer-merged read of the
    same data directory: over a type zoo, a commit that adds a column, a
    date-like string partition key (its inferred partition type must not
    change), a compaction base, vacuumed commits, and a log written
    without schemas, which keeps the footer merge."""
    from feature_store_api_spark.sources.commit_store import CommitStore
    from tests.conftest import spark_jobs

    store = CommitStore(
        str(tmp_path / "zoo"), primary_key=["k"], partition_key=["d"],
        auto_compact_every=None,
    )
    backend = store.backend
    zoo = (
        "k long, i int, x double, s string, b boolean, m decimal(10,2), "
        "day date, t timestamp, ntz timestamp_ntz, arr array<int>, "
        "kv map<string,double>, st struct<a:int,z:string>, d string"
    )

    def rows(k, with_added=False):
        row = (
            k, k, k / 2, f"s{k}", k % 2 == 0, Decimal(f"{k}.25"),
            dt.date(2024, 1, 1 + k), ts(f"2024-01-0{1 + k} 12:00:00"),
            dt.datetime(2024, 2, 1 + k, 8), [k, None], {"a": float(k)},
            (k, f"z{k}"), f"2024-03-0{1 + k % 2}",
        )
        return spark.createDataFrame(
            [row + ((k * 10,) if with_added else ())],
            zoo + (", added long" if with_added else ""),
        )

    def as_json(df):
        return sorted(r[0] for r in df.select(F.to_json(F.struct("*"))).collect())

    def check(logged=True):
        assert (backend._logged_schema() is not None) == logged
        merged = spark.read.option("mergeSchema", "true").parquet(
            backend._data_path
        )
        with spark_jobs(spark) as jobs:
            got = backend.scan(spark)
        if logged:
            assert jobs == []  # no footer job
        assert got.schema == merged.schema
        assert as_json(got) == as_json(merged)
        return got

    store.write(rows(0))
    assert dict(check().dtypes)["d"] == "date"
    store.write(rows(1, with_added=True))
    assert check().columns[-4:] == ["_op", "added", "_commit_time", "d"]
    store.compact(spark)
    store.write(rows(2))
    check()
    assert store.vacuum(retain_hours=0, now_ms=2**62)
    check()
    store.write(rows(3, with_added=True))
    check()
    with store._log_lock():
        log = store._read_log()
        for c in log:
            c.pop("schema")
        store._write_log(log)
    check(logged=False)
