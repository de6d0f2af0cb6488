"""Splits, FeatureView PIT compilation, batch data."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from feature_store_api_spark import FeatureStore
from feature_store_api_spark.feature_view import FeatureView
from feature_store_api_spark.operators.splits import (
    random_split,
    split_labels,
    time_series_split,
)


def ts(s):
    return dt.datetime.fromisoformat(s)


def test_random_split_partitions(spark, catalog):
    df = catalog.get_feature_group("orders").read(spark)
    parts = random_split(df, {"train": 0.7, "test": 0.3}, seed=42)
    n = df.count()
    nt, ns = parts["train"].count(), parts["test"].count()
    assert nt + ns == n
    assert 0.6 < nt / n < 0.8
    # deterministic under re-evaluation
    assert parts["train"].count() == nt
    # disjoint
    assert parts["train"].join(parts["test"], on="o_orderkey", how="inner").count() == 0


def test_time_series_split(spark, catalog, duck):
    ev = catalog.get_feature_group("events").read(spark)
    parts = time_series_split(
        ev, "ts", [("train", None, "2024-06-01"), ("test", "2024-06-01", None)]
    )
    o_train = duck.execute(
        "SELECT COUNT(*) FROM events WHERE ts < TIMESTAMP '2024-06-01'"
    ).fetchone()[0]
    assert parts["train"].count() == o_train
    assert parts["train"].count() + parts["test"].count() == ev.count()


def test_split_labels(spark):
    df = spark.createDataFrame([(1, 2.0, 1)], "a long, b double, label int")
    x, y = split_labels(df, ["label"])
    assert x.columns == ["a", "b"] and y.columns == ["label"]


@pytest.fixture()
def pit_fixtures(spark, tmp_path):
    fs = FeatureStore(root=str(tmp_path))
    spine_df = spark.createDataFrame(
        [(1, ts("2024-01-10"), 1), (2, ts("2024-01-10"), 0), (1, ts("2024-01-02"), 1)],
        "cid long, ts timestamp, label int",
    )
    spine = fs.get_or_create_spine_group(
        "spine", spine_df, primary_key=["cid"], event_time="ts"
    )
    profile = fs.create_feature_group("profile", primary_key=["cid"], event_time="ts")
    profile.insert(
        spark.createDataFrame(
            [
                (1, ts("2024-01-01"), 10.0),
                (1, ts("2024-01-05"), 20.0),
                (2, ts("2024-01-11"), 99.0),  # after both spine rows → NULL
            ],
            "cid long, ts timestamp, bal double",
        )
    )
    return fs, spine, profile


def test_feature_view_pit(spark, pit_fixtures):
    fs, spine, profile = pit_fixtures
    q = spine.select_all().join(profile.select(["bal"]), on=["cid"])
    fv = FeatureView("fv", q, labels=["label"])
    out = fv.training_data(spark)
    rows = {(r["cid"], r["ts"].isoformat()): r["bal"] for r in out.collect()}
    assert rows[(1, "2024-01-10T00:00:00")] == 20.0
    assert rows[(1, "2024-01-02T00:00:00")] == 10.0
    assert rows[(2, "2024-01-10T00:00:00")] is None


def test_feature_view_batch_drops_labels(spark, pit_fixtures):
    fs, spine, profile = pit_fixtures
    q = spine.select_all().join(profile.select(["bal"]), on=["cid"])
    fv = FeatureView("fv", q, labels=["label"])
    out = fv.get_batch_data(spark, start_time="2024-01-05")
    assert "label" not in out.columns
    assert out.count() == 2  # only spine rows at/after 01-05


def test_feature_view_train_test_split(spark, pit_fixtures):
    fs, spine, profile = pit_fixtures
    q = spine.select_all().join(profile.select(["bal"]), on=["cid"])
    fv = FeatureView("fv", q, labels=["label"])
    x_train, x_test, y_train, y_test = fv.train_test_split(spark, test_size=0.5, seed=7)
    assert x_train.count() + x_test.count() == 3
    assert "label" not in x_train.columns and y_train.columns == ["label"]


def test_feature_view_time_split(spark, pit_fixtures):
    fs, spine, profile = pit_fixtures
    q = spine.select_all().join(profile.select(["bal"]), on=["cid"])
    fv = FeatureView("fv", q)
    tr, te = fv.train_test_split_by_time(
        spark, train_start=None, train_end="2024-01-05",
        test_start="2024-01-05", test_end=None,
    )
    assert tr.count() == 1 and te.count() == 2


def test_feature_view_train_validation_test_split(spark, pit_fixtures):
    fs, spine, profile = pit_fixtures
    q = spine.select_all().join(profile.select(["bal"]), on=["cid"])
    fv = FeatureView("fv", q, labels=["label"])
    x_tr, x_va, x_te, y_tr, y_va, y_te = fv.train_validation_test_split(
        spark, validation_size=0.3, test_size=0.3, seed=11
    )
    assert x_tr.count() + x_va.count() + x_te.count() == 3
    for x in (x_tr, x_va, x_te):
        assert "label" not in x.columns
    for y in (y_tr, y_va, y_te):
        assert y.columns == ["label"]
    with pytest.raises(ValueError):
        fv.train_validation_test_split(spark, validation_size=0.6, test_size=0.5)


def test_get_batch_data_applies_transformations(spark, pit_fixtures):
    from feature_store_api_spark.functions.builtin_transformations import (
        min_max_scaler,
    )

    fs, spine, profile = pit_fixtures
    q = spine.select_all().join(profile.select(["bal"]), on=["cid"])
    fv = FeatureView(
        "fv", q, labels=["label"],
        transformation_functions=[min_max_scaler("bal")],
    )
    out = fv.get_batch_data(spark)
    assert "min_max_scaler_bal" in out.columns and "bal" not in out.columns
    vals = [r["min_max_scaler_bal"] for r in out.collect() if r["min_max_scaler_bal"] is not None]
    assert vals and all(0.0 <= v <= 1.0 for v in vals)
    # training-run stats can be injected for skew-safe scoring
    stats = {"bal": {"min": 0.0, "max": 40.0}}
    out2 = fv.get_batch_data(spark, stats=stats)
    got = {r["cid"]: r["min_max_scaler_bal"] for r in out2.collect() if r["min_max_scaler_bal"] is not None}
    assert got[1] in (0.25, 0.5)  # 10/40 or 20/40 under injected range
    raw = fv.get_batch_data(spark, transformed=False)
    assert "bal" in raw.columns


def test_stratified_sample_fractions_and_determinism(spark, sf_dir):
    from feature_store_api_spark.operators.splits import stratified_sample
    from feature_store_api_spark.sources.readers import read_parquet

    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    kw = dict(strata_col="lang", fractions={"en": 0.6}, key_cols=["doc_id"],
              seed=7, default_fraction=0.05)
    s1 = stratified_sample(d, **kw)
    s2 = stratified_sample(d, **kw)
    assert s1.count() == s2.count()
    assert s1.exceptAll(s2).count() == 0  # identical row set
    # per-stratum fraction lands near target
    import pyspark.sql.functions as F
    tot = {r["lang"]: r["count"] for r in d.groupBy("lang").count().collect()}
    got = {r["lang"]: r["count"] for r in s1.groupBy("lang").count().collect()}
    if tot.get("en", 0) >= 50:
        assert 0.4 <= got.get("en", 0) / tot["en"] <= 0.8
    # xxhash fast path also deterministic
    f1 = stratified_sample(d, "lang", {"en": 0.6}, ["doc_id"], seed=7,
                           default_fraction=0.05, hash_fn="xxhash64")
    f2 = stratified_sample(d, "lang", {"en": 0.6}, ["doc_id"], seed=7,
                           default_fraction=0.05, hash_fn="xxhash64")
    assert f1.exceptAll(f2).count() == 0


def test_spine_schema_contract(spark, pit_fixtures):
    """A passed spine missing a join key or carrying a wrong key dtype
    must fail loudly up front (parity core/feature_view_engine.py:
    218-234), not as an opaque analysis error inside the PIT plan."""
    fs, spine, profile = pit_fixtures
    q = spine.select_all().join(profile.select(["bal"]), on=["cid"])
    fv = FeatureView("fv_contract", q, labels=["label"])

    # missing key column
    bad = spark.createDataFrame([(ts("2024-01-10"),)], "ts timestamp")
    with pytest.raises(ValueError, match="missing required column"):
        fv.training_data(spark, spine=bad)
    # wrong key dtype
    bad2 = spark.createDataFrame(
        [("1", ts("2024-01-10"))], "cid string, ts timestamp"
    )
    with pytest.raises(ValueError, match="dtype mismatch"):
        fv.training_data(spark, spine=bad2)
    # a conforming spine still works
    good = spark.createDataFrame(
        [(1, ts("2024-01-10"))], "cid long, ts timestamp"
    )
    out = fv.training_data(spark, spine=good).collect()
    assert len(out) == 1 and out[0]["bal"] == 20.0


def test_spine_coercible_key_dtype_accepted(spark, pit_fixtures):
    """A spine key whose type safely widens to the feature group's
    (int vs bigint) must pass validation — Spark's join coerces it
    anyway; only genuinely incompatible families (string vs numeric)
    should raise."""
    fs, spine, profile = pit_fixtures
    q = spine.select_all().join(profile.select(["bal"]), on=["cid"])
    fv = FeatureView("fv_coerce", q, labels=["label"])
    narrow = spark.createDataFrame(
        [(1, ts("2024-01-10"))], "cid int, ts timestamp"
    )  # cid int vs FG bigint: safe widening
    out = fv.training_data(spark, spine=narrow).collect()
    assert len(out) == 1 and out[0]["bal"] == 20.0


def test_spine_numeric_vs_timestamp_event_time_rejected(spark, pit_fixtures):
    """A spine event-time column of bigint (epoch seconds) or double
    against a timestamp feature-group key must be REJECTED: Spark's
    implicit cast would compile, but the PIT as-of comparison then
    silently misses — the exact failure the validation exists to catch.
    Same-family widenings (date vs timestamp) stay accepted."""
    fs, spine, profile = pit_fixtures
    q = spine.select_all().join(profile.select(["bal"]), on=["cid"])
    fv = FeatureView("fv_family", q, labels=["label"])

    epoch = spark.createDataFrame(
        [(1, 1704844800)], "cid long, ts bigint"
    )  # ts epoch-seconds vs FG timestamp: cross-family → reject
    with pytest.raises(ValueError, match="dtype mismatch"):
        fv.training_data(spark, spine=epoch)

    dbl = spark.createDataFrame(
        [(1, 1704844800.0)], "cid long, ts double"
    )
    with pytest.raises(ValueError, match="dtype mismatch"):
        fv.training_data(spark, spine=dbl)

    dated = spark.createDataFrame(
        [(1, ts("2024-01-10"))], "cid long, ts timestamp"
    ).select("cid", F.to_date("ts").alias("ts"))  # date vs timestamp: same family
    out = fv.training_data(spark, spine=dated).collect()
    assert len(out) == 1


def test_fg_declared_max_staleness_applies_in_view_pit(spark, tmp_path):
    """A feature group's declared max_staleness (feature TTL) rides into
    FeatureView PIT reads: expired features null out; metadata survives
    store rehydration."""
    import datetime as dt

    from feature_store_api_spark import FeatureStore

    fs = FeatureStore(root=str(tmp_path))
    t = lambda d: dt.datetime(2024, 1, d)
    left = fs.create_feature_group("ttl_spine", primary_key=["k"], event_time="ts")
    left.insert(spark.createDataFrame(
        [(1, t(20), 0.0), (2, t(20), 0.0)], "k long, ts timestamp, label double"
    ))
    feat = fs.create_feature_group(
        "ttl_feat", primary_key=["k"], event_time="fts",
        max_staleness="5 days",
    )
    feat.insert(spark.createDataFrame(
        [(1, t(18), 10.0), (2, t(10), 20.0)], "k long, fts timestamp, v double"
    ))
    fv = fs.create_feature_view(
        "ttl_view", left.select_all().join(feat.select(["v"]), on=["k"])
    )
    out = {r["k"]: r["v"] for r in fv.get_batch_data(spark).collect()}
    assert out == {1: 10.0, 2: None}

    # TTL survives rehydration from the sidecar metadata
    fs2 = FeatureStore(root=str(tmp_path))
    assert fs2.get_feature_group("ttl_feat").max_staleness == "5 days"
    out2 = {r["k"]: r["v"]
            for r in fs2.get_feature_view("ttl_view").get_batch_data(spark).collect()}
    assert out2 == {1: 10.0, 2: None}


def test_negative_sampling_semantics(spark):
    """Negatives never collide with positives, draws are deterministic
    across runs, at most n_negatives per positive pair, labels correct,
    and both hash functions produce valid (if different) samples."""
    from feature_store_api_spark.operators.splits import negative_sampling

    pos = spark.createDataFrame(
        [(u, i) for u in range(6) for i in (u, u + 1, u + 2)],
        "user_id long, item_id long",
    )
    cand = spark.createDataFrame([(i,) for i in range(40)], "item_id long")

    for hf in ("xxhash64", "md5_64"):
        out = negative_sampling(
            pos, cand, "user_id", "item_id", n_negatives=3, seed=7, hash_fn=hf
        ).collect()
        got_pos = {(r["user_id"], r["item_id"]) for r in out if r["label"] == 1}
        got_neg = {(r["user_id"], r["item_id"]) for r in out if r["label"] == 0}
        assert got_pos == {(u, i) for u in range(6) for i in (u, u + 1, u + 2)}
        assert not (got_pos & got_neg), hf  # anti-join holds
        assert all(0 <= i < 40 for _, i in got_neg), hf
        # per positive pair at most n_negatives draws -> per user at most
        # 3 * n_negatives distinct negatives
        from collections import Counter

        per_user = Counter(u for u, _ in got_neg)
        assert all(c <= 9 for c in per_user.values()), hf
        # deterministic: same seed -> same set
        again = negative_sampling(
            pos, cand, "user_id", "item_id", n_negatives=3, seed=7, hash_fn=hf
        ).collect()
        assert {(r["user_id"], r["item_id"], r["label"]) for r in again} == {
            (r["user_id"], r["item_id"], r["label"]) for r in out
        }

    import pytest

    with pytest.raises(ValueError, match="empty candidates"):
        negative_sampling(pos, cand.limit(0), "user_id", "item_id")


def test_negative_sampling_offsets_cache_gates(spark, tmp_path, monkeypatch):
    """The bucket-offsets memo only engages for file-backed candidate
    frames (a files-less source can change underneath an identical
    canonical plan — never cached), and an in-place rewrite of the
    candidate files misses via the file-set key so samples always come
    from the live catalog."""
    from feature_store_api_spark import plan_memo
    from feature_store_api_spark.operators import splits as sp

    monkeypatch.setattr(plan_memo, "_CACHE", {})

    def offsets_entries():
        return [k for k in plan_memo._CACHE if k[1] == "ns_offsets"]

    pos = spark.createDataFrame(
        [(u, u) for u in range(4)], "user_id long, item_id long"
    )
    local_cand = spark.createDataFrame(
        [(i,) for i in range(30)], "item_id long"
    )
    sp.negative_sampling(
        pos, local_cand, "user_id", "item_id", n_negatives=2, seed=3
    ).collect()
    assert not offsets_entries(), "files-less candidates must not cache"

    path = str(tmp_path / "cand")
    spark.range(20, 40).select(F.col("id").alias("item_id")).write.mode(
        "overwrite"
    ).parquet(path)
    file_cand = spark.read.parquet(path)
    out1 = sp.negative_sampling(
        pos, file_cand, "user_id", "item_id", n_negatives=2, seed=3
    ).collect()
    assert len(offsets_entries()) == 1, "file-backed candidates cache"
    assert all(
        20 <= r["item_id"] < 40 for r in out1 if r["label"] == 0
    )

    # in-place rewrite through the same path: the file-set key must
    # miss and the negatives must come from the NEW catalog only
    spark.range(100, 120).select(F.col("id").alias("item_id")).write.mode(
        "overwrite"
    ).parquet(path)
    out2 = sp.negative_sampling(
        pos, spark.read.parquet(path), "user_id", "item_id",
        n_negatives=2, seed=3,
    ).collect()
    negs2 = [r["item_id"] for r in out2 if r["label"] == 0]
    assert negs2 and all(100 <= i < 120 for i in negs2)
    assert len(offsets_entries()) == 2


def test_feature_view_pit_strategy_override(spark, tmp_path):
    """get_batch_data(pit_strategy='union_window_skew') produces the
    same rows as the default strategy and keeps the fused two-stage
    plan shape; default_pit_strategy attribute works as the sticky
    form."""
    import datetime as dt

    from feature_store_api_spark import FeatureStore

    fs = FeatureStore(root=str(tmp_path))
    base = dt.datetime(2024, 1, 1)
    spine_fg = fs.create_feature_group(
        "sv_spine", primary_key=["k"], event_time="ts"
    )
    spine_fg.insert(spark.createDataFrame(
        [(i % 7, base + dt.timedelta(hours=i), float(i)) for i in range(60)],
        "k long, ts timestamp, y double",
    ))
    feat_fg = fs.create_feature_group(
        "sv_feat", primary_key=["k"], event_time="fts"
    )
    feat_fg.insert(spark.createDataFrame(
        [(i % 7, base + dt.timedelta(hours=i - 1), float(i * 2))
         for i in range(120)],
        "k long, fts timestamp, v double",
    ))
    fv = fs.create_feature_view(
        "sv_view", spine_fg.select_all().join(feat_fg.select(["v"]), on=["k"]),
    )
    plain = fv.get_batch_data(spark, transformed=False)
    skew = fv.get_batch_data(
        spark, transformed=False, pit_strategy="union_window_skew"
    )
    rows = lambda df: sorted(map(tuple, df.collect()))
    assert rows(skew) == rows(plain)
    assert "__bkt" in skew._jdf.queryExecution().executedPlan().toString()

    fv.default_pit_strategy = "union_window_skew"
    sticky = fv.get_batch_data(spark, transformed=False)
    assert "__bkt" in sticky._jdf.queryExecution().executedPlan().toString()
    assert rows(sticky) == rows(plain)
