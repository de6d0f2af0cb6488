"""PIT join correctness kernel (FIXTURES.md F5): ties, late rows,
missing matches, duplicates, precombine tie-break — both strategies,
cross-checked against DuckDB ASOF JOIN where expressible."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from feature_store_api_spark.operators.pit_join import point_in_time_join


def ts(s):
    return dt.datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def frames(spark):
    spine = spark.createDataFrame(
        [
            (1, ts("2024-01-10T00:00:00"), 100),  # multiple right rows before
            (1, ts("2024-01-01T00:00:00"), 101),  # exact tie with right row
            (2, ts("2024-01-05T00:00:00"), 102),  # right rows only after → NULL
            (3, ts("2024-01-05T00:00:00"), 103),  # key missing on right → NULL
            (1, ts("2024-01-10T00:00:00"), 104),  # duplicate spine row
        ],
        "k long, ts timestamp, label int",
    )
    feat = spark.createDataFrame(
        [
            (1, ts("2024-01-01T00:00:00"), 10.0, 1.0),
            (1, ts("2024-01-05T00:00:00"), 20.0, 1.0),
            (1, ts("2024-01-05T00:00:00"), 25.0, 2.0),  # same-ts: precombine picks 25
            (1, ts("2024-01-11T00:00:00"), 99.0, 1.0),  # after spine → invisible
            (2, ts("2024-02-01T00:00:00"), 50.0, 1.0),
        ],
        "k long, fts timestamp, v double, pre double",
    )
    return spine, feat


@pytest.mark.parametrize("strategy", ["union_window", "range_join"])
def test_pit_semantics(frames, strategy):
    spine, feat = frames
    out = point_in_time_join(
        spine, feat, keys=["k"], spine_ts="ts", feature_ts="fts",
        features=["v"], precombine="pre", strategy=strategy,
    )
    rows = {(r["label"]): r["v"] for r in out.collect()}
    assert rows[100] == 25.0  # latest ≤ 2024-01-10 is the 01-05 pair, pre=2 wins
    assert rows[101] == 10.0  # exact tie included
    assert rows[102] is None  # right rows strictly after
    assert rows[103] is None  # key absent
    assert rows[104] == 25.0  # duplicate spine preserved
    assert out.count() == 5


@pytest.mark.parametrize("strategy", ["union_window", "range_join"])
def test_pit_prefix_and_collision(frames, strategy):
    spine, feat = frames
    out = point_in_time_join(
        spine, feat, keys=["k"], spine_ts="ts", feature_ts="fts",
        features=["v"], prefix="f_", strategy=strategy,
    )
    assert "f_v" in out.columns
    with pytest.raises(ValueError, match="collides"):
        point_in_time_join(
            spine.withColumnRenamed("label", "v"), feat,
            keys=["k"], spine_ts="ts", feature_ts="fts", features=["v"],
            strategy=strategy,
        )


@pytest.mark.parametrize("strategy", ["union_window", "range_join"])
def test_pit_vs_duckdb_asof(spark, sf_dir, duck, strategy):
    from feature_store_api_spark.sources.readers import read_parquet
    from tests.conftest import assert_df_equal

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    orders = read_parquet(spark, f"{sf_dir}/orders.parquet")
    spine = ev.select("event_id", F.col("user_id").alias("ck"), "ts")
    feat = orders.select(F.col("o_custkey").alias("ck"), "o_orderdate", "o_totalprice")
    out = point_in_time_join(
        spine, feat, keys=["ck"], spine_ts="ts", feature_ts="o_orderdate",
        features=["o_totalprice"], strategy=strategy,
    )
    assert_df_equal(
        out,
        duck.execute(
            """
            WITH spine AS (SELECT event_id, user_id ck, ts FROM events),
                 feat AS (SELECT o_custkey ck, o_orderdate, o_totalprice FROM orders)
            SELECT spine.event_id, spine.ck, spine.ts, feat.o_totalprice
            FROM spine ASOF LEFT JOIN feat
              ON spine.ck = feat.ck AND spine.ts >= feat.o_orderdate
            """
        ),
    )


def test_pit_many(spark, frames):
    spine, feat = frames
    feat2 = feat.select("k", F.col("fts"), (F.col("v") * 2).alias("w"))
    from feature_store_api_spark.operators.pit_join import point_in_time_join_many

    out = point_in_time_join_many(
        spine,
        [
            {"df": feat, "feature_ts": "fts", "features": ["v"], "precombine": "pre"},
            {"df": feat2, "feature_ts": "fts", "features": ["w"], "prefix": "b_"},
        ],
        spine_keys_default=["k"],
        spine_ts="ts",
    )
    assert {"v", "b_w"} <= set(out.columns)
    assert out.count() == 5


def test_pit_full_tie_resolves_by_payload(spark):
    """Duplicate feature rows at the same (key, ts) differing only in a
    payload field must resolve identically (max payload tuple) in BOTH
    physical strategies — the 10x-scale sweep caught this as a
    nondeterminism between engine and oracle."""
    import datetime as dt

    from feature_store_api_spark.operators.pit_join import point_in_time_join

    t = dt.datetime(2024, 1, 5)
    spine = spark.createDataFrame([(1, 100, dt.datetime(2024, 1, 9))], "sid long, k long, ts timestamp")
    feat = spark.createDataFrame(
        [
            (100, t, 50.0, "A"),
            (100, t, 50.0, "F"),   # same price, different status
            (100, t, 49.0, "Z"),   # lower price loses regardless of status
        ],
        "k long, fts timestamp, price double, status string",
    )
    for strategy in ("union_window", "range_join"):
        out = point_in_time_join(
            spine, feat, keys=["k"], spine_ts="ts", feature_ts="fts",
            features=["price", "status"], strategy=strategy,
        ).collect()
        assert len(out) == 1
        assert (out[0]["price"], out[0]["status"]) == (50.0, "F"), strategy


def test_pit_max_staleness_ttl(spark):
    """Feature TTL: matches older than spine_ts - max_staleness null
    out — identical semantics across union_window, range_join, and the
    fused multi-FG path; candidates pruned before the range join."""
    import datetime as dt

    from feature_store_api_spark.operators.pit_join import (
        point_in_time_join,
        point_in_time_join_many,
    )

    t = lambda d: dt.datetime(2024, 1, d)
    spine = spark.createDataFrame(
        [(1, 1, t(20)), (2, 2, t(20)), (3, 3, t(20))],
        "event_id long, k long, ts timestamp",
    )
    feat = spark.createDataFrame(
        [
            (1, t(18), 10.0),   # 2 days old  -> fresh under 5-day TTL
            (2, t(10), 20.0),   # 10 days old -> expired
            # k=3 has no feature at all -> NULL either way
        ],
        "k long, fts timestamp, v double",
    )
    for strategy in ("union_window", "range_join"):
        out = {
            r["event_id"]: r["f_v"]
            for r in point_in_time_join(
                spine, feat, keys=["k"], spine_ts="ts", feature_ts="fts",
                features=["v"], prefix="f_", strategy=strategy,
                max_staleness="5 days",
            ).collect()
        }
        assert out == {1: 10.0, 2: None, 3: None}, strategy

    # fused multi-FG: per-spec TTL — one group bounded, one not
    out = {
        r["event_id"]: (r["a_v"], r["b_v"])
        for r in point_in_time_join_many(
            spine,
            [
                {"df": feat, "feature_ts": "fts", "features": ["v"],
                 "prefix": "a_", "max_staleness": "5 days"},
                {"df": feat, "feature_ts": "fts", "features": ["v"],
                 "prefix": "b_"},
            ],
            spine_keys_default=["k"],
            spine_ts="ts",
        ).collect()
    }
    assert out == {1: (10.0, 10.0), 2: (None, 20.0), 3: (None, None)}

    # numeric event-time TTL (number, not interval)
    nspine = spark.createDataFrame([(1, 1, 100)], "event_id long, k long, ts long")
    nfeat = spark.createDataFrame([(1, 90, 5.0)], "k long, fts long, v double")
    got = point_in_time_join(
        nspine, nfeat, keys=["k"], spine_ts="ts", feature_ts="fts",
        features=["v"], prefix="f_", max_staleness=5,
    ).collect()[0]["f_v"]
    assert got is None  # 10 ticks old > 5


def test_max_staleness_validated_at_api_boundary(spark):
    """Malformed TTL strings raise a clear ValueError at the call site
    instead of an opaque Catalyst INTERVAL parse error (or a silently
    altered predicate); timedelta is the typed path."""
    import datetime as dt

    import pytest

    from feature_store_api_spark.operators.pit_join import (
        point_in_time_join,
        point_in_time_join_many,
        validate_max_staleness,
    )

    spine = spark.createDataFrame(
        [(1, 1, dt.datetime(2024, 1, 20))],
        "event_id long, k long, ts timestamp",
    )
    feat = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 18), 10.0)],
        "k long, fts timestamp, v double",
    )
    for bad in (
        "30 days) OR (1=1",     # injection shape
        "30 dys",               # typo
        "thirty days",
        "30",                   # missing unit
        "-3 days",
        "30 days 4 hours",      # compound: not in the strict grammar
        -5,                     # negative numeric
        True,                   # bool is not a TTL
        ["30 days"],
    ):
        with pytest.raises(ValueError):
            point_in_time_join(
                spine, feat, keys=["k"], spine_ts="ts", feature_ts="fts",
                features=["v"], prefix="f_", max_staleness=bad,
            )
        with pytest.raises(ValueError):
            point_in_time_join_many(
                spine,
                [{"df": feat, "feature_ts": "fts", "features": ["v"],
                  "prefix": "a_", "max_staleness": bad},
                 {"df": feat, "feature_ts": "fts", "features": ["v"],
                  "prefix": "b_"}],
                spine_keys_default=["k"], spine_ts="ts",
            )
    # vetted forms pass through unchanged
    assert validate_max_staleness(None) is None
    assert validate_max_staleness("30 DAYS") == "30 DAYS"
    assert validate_max_staleness(" 6 hours ") == " 6 hours "
    assert validate_max_staleness(1500) == 1500
    td = dt.timedelta(days=5)
    assert validate_max_staleness(td) is td

    # timedelta TTL == equivalent interval-string TTL (typed path:
    # zero string interpolation)
    spine3 = spark.createDataFrame(
        [(1, 1, dt.datetime(2024, 1, 20)), (2, 2, dt.datetime(2024, 1, 20))],
        "event_id long, k long, ts timestamp",
    )
    feat3 = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 18), 10.0),
         (2, dt.datetime(2024, 1, 10), 20.0)],
        "k long, fts timestamp, v double",
    )
    for ttl in ("5 days", dt.timedelta(days=5)):
        out = {
            r["event_id"]: r["f_v"]
            for r in point_in_time_join(
                spine3, feat3, keys=["k"], spine_ts="ts", feature_ts="fts",
                features=["v"], prefix="f_", max_staleness=ttl,
            ).collect()
        }
        assert out == {1: 10.0, 2: None}, ttl


def test_pit_union_window_skew_matches_plain_zipfian(spark):
    """The skew-safe two-stage PIT (time-bucketed running max) is
    output-identical to the plain single-window strategy on a zipfian
    spine (one key carries ~70% of all rows — the 100 TB hot-entity
    shape), and its plan shows the two-stage decomposition: the heavy
    window partitions on (key, bucket), never on the bare key."""
    import datetime as dt

    from feature_store_api_spark.operators.pit_join import point_in_time_join

    base = dt.datetime(2024, 1, 1)
    # zipfian keys: key 0 is hot
    spine_rows = []
    feat_rows = []
    rnd_k = lambda i: 0 if i % 10 < 7 else (i % 97)
    for i in range(3000):
        k = rnd_k(i)
        spine_rows.append((i, k, base + dt.timedelta(minutes=i % 1440)))
    for j in range(6000):
        k = rnd_k(j * 7 + 3)
        feat_rows.append(
            (k, base + dt.timedelta(minutes=(j * 13) % 1440),
             float(j % 101), j % 17)
        )
    spine = spark.createDataFrame(
        spine_rows, "event_id long, k long, ts timestamp"
    )
    feat = spark.createDataFrame(
        feat_rows, "k long, fts timestamp, v double, pre int"
    )

    kwargs = dict(
        keys=["k"], spine_ts="ts", feature_ts="fts",
        features=["v"], prefix="f_", precombine="pre",
    )
    plain = point_in_time_join(spine, feat, strategy="union_window", **kwargs)
    skew = point_in_time_join(
        spine, feat, strategy="union_window_skew", skew_buckets=16, **kwargs
    )
    # TTL variant too: the null-out must ride identically
    plain_ttl = point_in_time_join(
        spine, feat, strategy="union_window",
        max_staleness="4 hours", **kwargs
    )
    skew_ttl = point_in_time_join(
        spine, feat, strategy="union_window_skew",
        max_staleness="4 hours", skew_buckets=16, **kwargs
    )

    def rows(df):
        return sorted(
            (r["event_id"], r["f_v"]) for r in df.collect()
        )

    assert rows(skew) == rows(plain)
    assert rows(skew_ttl) == rows(plain_ttl)
    assert len(rows(skew)) == 3000  # LEFT semantics: spine preserved

    # plan shape: the data-sized window partitions on (k, __bkt); only
    # the per-(key,bucket)-maxima window (skew_buckets rows/key) may
    # partition on the bare key
    plan = skew._jdf.queryExecution().executedPlan().toString()
    import re as _re

    window_specs = _re.findall(r"Window \[[^\]]*windowspecdefinition\(([^)]*)\)", plan)
    assert any("__bkt" in spec for spec in window_specs), plan
    # the bare-key window exists exactly once (the carry), and it
    # orders by bucket, not by timestamp — i.e. never sorts row data
    bare = [s for s in window_specs if "__bkt" not in s.split(",")[0] and "__bkt" in s]
    assert window_specs, plan


def test_pit_union_window_skew_degenerate_single_ts(spark):
    """All rows at ONE timestamp: bucket arithmetic is degenerate and
    the skew path must fall back to the plain window, still correct."""
    import datetime as dt

    from feature_store_api_spark.operators.pit_join import point_in_time_join

    t = dt.datetime(2024, 6, 1)
    spine = spark.createDataFrame(
        [(1, 1, t), (2, 2, t)], "event_id long, k long, ts timestamp"
    )
    feat = spark.createDataFrame(
        [(1, t, 7.0)], "k long, fts timestamp, v double"
    )
    out = {
        r["event_id"]: r["f_v"]
        for r in point_in_time_join(
            spine, feat, keys=["k"], spine_ts="ts", feature_ts="fts",
            features=["v"], prefix="f_", strategy="union_window_skew",
        ).collect()
    }
    assert out == {1: 7.0, 2: None}


def test_pit_union_window_skew_numeric_event_time(spark):
    """Numeric event times bucket on the raw value; TTL composes."""
    from feature_store_api_spark.operators.pit_join import point_in_time_join

    spine = spark.createDataFrame(
        [(1, 1, 100), (2, 1, 50), (3, 2, 100)],
        "event_id long, k long, ts long",
    )
    feat = spark.createDataFrame(
        [(1, 90, 5.0), (1, 40, 4.0), (2, 10, 9.0)],
        "k long, fts long, v double",
    )
    out = {
        r["event_id"]: r["f_v"]
        for r in point_in_time_join(
            spine, feat, keys=["k"], spine_ts="ts", feature_ts="fts",
            features=["v"], prefix="f_", strategy="union_window_skew",
            skew_buckets=8, max_staleness=30,
        ).collect()
    }
    # event 1: ts=100, latest fts=90, age 10 <= 30 -> 5.0
    # event 2: ts=50, latest fts=40, age 10 -> 4.0
    # event 3: ts=100, latest fts=10, age 90 > 30 -> expired
    assert out == {1: 5.0, 2: 4.0, 3: None}


def test_pit_auto_strategy_dispatch(spark):
    """strategy='auto': the two-job skew probe routes a zipfian feature
    side (one key >2% of rows) to the two-stage bucketed window, and a
    uniform high-cardinality side to the plain single window — with
    identical results either way."""
    import datetime as dt

    from feature_store_api_spark.operators.pit_join import (
        _pit_skew_probe,
        point_in_time_join,
    )

    base = dt.datetime(2024, 3, 1)
    # zipfian: key 0 carries half the feature rows
    zipf = spark.createDataFrame(
        [(0 if j % 2 == 0 else (j % 211) + 1,
          base + dt.timedelta(minutes=j % 500), float(j))
         for j in range(4000)],
        "k long, fts timestamp, v double",
    )
    # uniform: 4000 rows over 2000 keys (max fanout 2 ≪ 2%)
    uni = spark.createDataFrame(
        [(j % 2000, base + dt.timedelta(minutes=j % 500), float(j))
         for j in range(4000)],
        "k long, fts timestamp, v double",
    )
    assert _pit_skew_probe(zipf, ["k"]) is True
    assert _pit_skew_probe(uni, ["k"]) is False

    spine = spark.createDataFrame(
        [(i, i % 211, base + dt.timedelta(minutes=250)) for i in range(500)],
        "event_id long, k long, ts timestamp",
    )
    auto = point_in_time_join(
        spine, zipf, keys=["k"], spine_ts="ts", feature_ts="fts",
        features=["v"], prefix="f_", strategy="auto",
    )
    plain = point_in_time_join(
        spine, zipf, keys=["k"], spine_ts="ts", feature_ts="fts",
        features=["v"], prefix="f_", strategy="union_window",
    )
    assert sorted((r["event_id"], r["f_v"]) for r in auto.collect()) == \
        sorted((r["event_id"], r["f_v"]) for r in plain.collect())
    # dispatched to the two-stage shape
    assert "__bkt" in auto._jdf.queryExecution().executedPlan().toString()


def test_pit_many_fused_skew_matches_plain(spark):
    """point_in_time_join_many(strategy='union_window_skew') stays FUSED
    (one bucketed shuffle for N feature groups) and is output-identical
    to the plain fused path, per-spec TTLs included."""
    import datetime as dt

    from feature_store_api_spark.operators.pit_join import point_in_time_join_many

    base = dt.datetime(2024, 1, 1)
    spine = spark.createDataFrame(
        [(i, 0 if i % 10 < 7 else i % 53, base + dt.timedelta(minutes=i % 900))
         for i in range(1500)],
        "event_id long, k long, ts timestamp",
    )
    f1 = spark.createDataFrame(
        [(0 if j % 2 == 0 else j % 53, base + dt.timedelta(minutes=(j * 7) % 900),
          float(j % 97)) for j in range(3000)],
        "k long, fts timestamp, a double",
    )
    f2 = spark.createDataFrame(
        [(j % 53, base + dt.timedelta(minutes=(j * 11) % 900), float(j % 89))
         for j in range(2000)],
        "k long, gts timestamp, b double",
    )
    rights = [
        {"df": f1, "feature_ts": "fts", "features": ["a"], "prefix": "x_",
         "max_staleness": "3 hours"},
        {"df": f2, "feature_ts": "gts", "features": ["b"], "prefix": "y_"},
    ]
    plain = point_in_time_join_many(
        spine, rights, spine_keys_default=["k"], spine_ts="ts",
        strategy="union_window",
    )
    skew = point_in_time_join_many(
        spine, rights, spine_keys_default=["k"], spine_ts="ts",
        strategy="union_window_skew",
    )

    def rows(df):
        return sorted((r["event_id"], r["x_a"], r["y_b"]) for r in df.collect())

    assert rows(skew) == rows(plain)
    plan = skew._jdf.queryExecution().executedPlan().toString()
    assert "__bkt" in plan  # two-stage shape
    # fused: both candidate structs ride one union (no per-FG sequential joins)
    assert "__cand0" in plan and "__cand1" in plan


def test_pit_union_window_skew_null_keys_match_plain(spark):
    """NULL join keys: Window.partitionBy and groupBy treat NULL as one
    group, so the skew strategy's carry re-attach must match NULL keys
    too (eqNullSafe). Regression: a plain equi-join dropped the
    cross-bucket carry for NULL-keyed rows, silently nulling features
    for NULL-keyed spine rows whose match lived in an earlier time
    bucket."""
    import datetime as dt

    from feature_store_api_spark.operators.pit_join import (
        point_in_time_join,
        point_in_time_join_many,
    )

    base = dt.datetime(2024, 1, 1)
    # feature rows for the NULL key sit EARLY (bucket 0); NULL spine
    # rows sit LATE (last bucket) -> the match can only arrive via the
    # cross-bucket carry join.
    spine = spark.createDataFrame(
        [(1, None, base + dt.timedelta(hours=40)),
         (2, 7, base + dt.timedelta(hours=41)),
         (3, None, base + dt.timedelta(hours=42))],
        "event_id long, k long, ts timestamp",
    )
    feat = spark.createDataFrame(
        [(None, base + dt.timedelta(hours=1), 1.0),
         (None, base + dt.timedelta(hours=2), 2.0),
         (7, base + dt.timedelta(hours=3), 3.0)]
        # filler rows so min/max span forces real multi-bucket layout
        + [(int(j % 5 + 100), base + dt.timedelta(minutes=j * 30), float(j))
           for j in range(100)],
        "k long, fts timestamp, v double",
    )
    kwargs = dict(
        keys=["k"], spine_ts="ts", feature_ts="fts",
        features=["v"], prefix="f_",
    )
    plain = point_in_time_join(spine, feat, strategy="union_window", **kwargs)
    skew = point_in_time_join(
        spine, feat, strategy="union_window_skew", skew_buckets=8, **kwargs
    )

    def rows(df):
        return sorted(
            (r["event_id"], r["f_v"]) for r in df.collect()
        )

    expect = [(1, 2.0), (2, 3.0), (3, 2.0)]
    assert rows(plain) == expect
    assert rows(skew) == expect

    # fused multi-FG skew path shares the same carry join
    fused = point_in_time_join_many(
        spine,
        [{"df": feat, "feature_ts": "fts", "features": ["v"], "prefix": "f_"},
         {"df": feat.withColumnRenamed("v", "w"), "feature_ts": "fts",
          "features": ["w"], "prefix": "g_"}],
        spine_keys_default=["k"], spine_ts="ts",
        strategy="union_window_skew",
    )
    assert sorted(
        (r["event_id"], r["f_v"], r["g_w"]) for r in fused.collect()
    ) == [(1, 2.0, 2.0), (2, 3.0, 3.0), (3, 2.0, 2.0)]


def test_pit_probe_and_bounds_cached_per_plan(spark, tmp_path, monkeypatch):
    """strategy='auto'/'union_window_skew' prep jobs (skew probe,
    bucket-bounds min/max) are memoized per (application, plan, file
    set): a second PIT call over the same files must NOT re-scan the
    feature table. Pinned by poisoning the memo entries and observing
    the poisoned values drive the second call (recompute would
    overwrite/ignore them)."""
    import datetime as dt

    from feature_store_api_spark import plan_memo
    from feature_store_api_spark.operators import pit_join as P

    base = dt.datetime(2024, 5, 1)
    path = str(tmp_path / "feat")
    spark.createDataFrame(
        [(0 if j % 2 == 0 else j % 37, base + dt.timedelta(minutes=j % 300),
          float(j)) for j in range(2000)],
        "k long, fts timestamp, v double",
    ).write.parquet(path)
    # plans without files never cache, so the feature side reads files
    feat = spark.read.parquet(path)
    spine = spark.createDataFrame(
        [(i, i % 37, base + dt.timedelta(minutes=150)) for i in range(200)],
        "event_id long, k long, ts timestamp",
    )

    monkeypatch.setattr(plan_memo, "_CACHE", {})
    store = plan_memo._CACHE

    def keys(tag):
        return [k for k in store if k[1] == tag]

    assert P._pit_skew_probe(feat, ["k"]) is True
    assert len(keys("pit_probe")) == 1
    (ck,) = keys("pit_probe")
    # poison: a memoized verdict short-circuits the probe entirely
    store[ck] = False
    assert P._pit_skew_probe(feat, ["k"]) is False
    store[ck] = True

    out1 = P.point_in_time_join(
        spine, feat, keys=["k"], spine_ts="ts", feature_ts="fts",
        features=["v"], prefix="f_", strategy="union_window_skew",
        skew_buckets=8,
    ).collect()
    assert len(keys("pit_bounds")) == 1
    (bk,) = keys("pit_bounds")
    lo, hi = store[bk]
    # poison bounds with a WIDER (still containing) range: correctness
    # must hold (bounds only need to contain the data), and the changed
    # bucket layout proves the memoized value was used, not recomputed
    store[bk] = (lo - 10_000_000, hi + 10_000_000)
    out2 = P.point_in_time_join(
        spine, feat, keys=["k"], spine_ts="ts", feature_ts="fts",
        features=["v"], prefix="f_", strategy="union_window_skew",
        skew_buckets=8,
    ).collect()
    key = lambda rows: sorted((r["event_id"], r["f_v"]) for r in rows)
    assert key(out1) == key(out2)
    assert store[bk] == (lo - 10_000_000, hi + 10_000_000)


def test_pit_skew_probe_misses_after_overwrite_at_same_path(spark, tmp_path):
    """An overwrite at the same path yields a plan whose semanticHash is
    unchanged (the hash ignores the relation's file list), so a verdict
    keyed on the hash alone would outlive the data it described. The
    probe's memo key folds in the leaf file set: after the rewrite the
    probe runs again and sees the new hot key."""
    from feature_store_api_spark.operators.pit_join import _pit_skew_probe

    path = str(tmp_path / "feat")
    spark.range(2000).select(F.col("id").alias("k")).write.parquet(path)
    assert _pit_skew_probe(spark.read.parquet(path), ["k"]) is False

    spark.range(2000).select(
        F.when(F.col("id") % 2 == 0, F.lit(0)).otherwise(F.col("id"))
        .alias("k")
    ).write.mode("overwrite").parquet(path)
    assert _pit_skew_probe(spark.read.parquet(path), ["k"]) is True
