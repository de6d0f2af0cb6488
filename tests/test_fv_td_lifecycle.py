"""FeatureView training-dataset lifecycle + tags + misc parity
(reference feature_view.py create_*/get_*/delete_*/purge_*,
add_tag family, transform/compute_on_demand_features, primary_keys)."""

import pytest
from pyspark.sql import functions as F

from feature_store_api_spark import FeatureStore


@pytest.fixture()
def fv(spark, tmp_path):
    fs = FeatureStore(root=str(tmp_path))
    fg = fs.create_feature_group("base", primary_key=["k"])
    fg.insert(spark.createDataFrame(
        [(i, float(i), i % 2) for i in range(100)], "k long, x double, label int"
    ))
    return fs.create_feature_view("v", fg.select_all(), labels=["label"])


def test_td_lifecycle(spark, fv):
    m1 = fv.create_train_test_split(spark, test_size=0.3, seed=7)
    m2 = fv.create_train_validation_test_split(
        spark, validation_size=0.2, test_size=0.2, seed=7
    )
    assert [m["version"] for m in fv.get_training_datasets()] == [1, 2]
    assert set(m2["splits"]) == {"test", "train", "validation"}

    # read-back wrappers
    x_tr, x_te, y_tr, y_te = fv.get_train_test_split(spark, version=1)
    assert "label" not in x_tr.columns and y_te.columns == ["label"]
    assert x_tr.count() + x_te.count() == 100
    six = fv.get_train_validation_test_split(spark, version=2)
    assert sum(s.count() for s in six[:3]) == 100

    # statistics getter + recreate determinism
    assert fv.get_training_dataset_statistics(1) is not None
    before = sorted(r["k"] for r in fv.read_training_dataset(spark, 1, "train").collect())
    fv.recreate_training_dataset(spark, version=1)
    after = sorted(r["k"] for r in fv.read_training_dataset(spark, 1, "train").collect())
    assert before == after

    # purge keeps metadata, delete removes the version
    fv.purge_training_data(1)
    assert fv.get_training_dataset_statistics(1) is not None
    with pytest.raises(Exception):
        fv.read_training_dataset(spark, 1, "train").count()
    fv.delete_training_dataset(2)
    assert [m["version"] for m in fv.get_training_datasets()] == [1]
    fv.delete_all_training_datasets()
    assert fv.get_training_datasets() == []
    with pytest.raises(FileNotFoundError):
        fv.delete_training_dataset(9)


def test_fv_tags_and_td_tags(fv):
    fv.add_tag("owner", "ml-team")
    fv.add_tag("tier", 1)
    assert fv.get_tag("owner") == "ml-team"
    assert fv.get_tags() == {"owner": "ml-team", "tier": 1}
    fv.delete_tag("tier")
    assert fv.get_tags() == {"owner": "ml-team"}

    fv.add_training_dataset_tag(3, "purpose", "eval")
    assert fv.get_training_dataset_tag(3, "purpose") == "eval"
    assert fv.get_training_dataset_tags(3) == {"purpose": "eval"}
    assert fv.get_tags() == {"owner": "ml-team"}  # TD tags are separate
    fv.delete_training_dataset_tag(3, "purpose")
    assert fv.get_training_dataset_tags(3) == {}


def test_misc_parity(spark, fv, tmp_path):
    assert fv.primary_keys == ["k"] == fv.serving_keys
    assert "base" in fv.get_batch_query().lower()

    from feature_store_api_spark.functions.builtin_transformations import (
        min_max_scaler,
    )

    fv.transformation_functions.append(min_max_scaler("x"))
    out = fv.transform(spark.createDataFrame([(0.0,), (50.0,), (100.0,)], "x double"))
    vals = [r["min_max_scaler_x"] for r in out.orderBy("min_max_scaler_x").collect()]
    assert vals == [0.0, 0.5, 1.0]

    # delete() drops view + TDs
    fv.create_train_test_split(spark, seed=1)
    fv.delete()
    fs = FeatureStore(root=str(tmp_path))
    with pytest.raises(Exception):
        fs.get_feature_view("v")


def test_init_batch_scoring_pins_td_stats(spark, tmp_path):
    """get_batch_data scales with the BOUND training dataset's train-
    split statistics, not the batch frame's own — training/serving
    consistency (parity init_batch_scoring)."""
    from feature_store_api_spark import FeatureStore
    from feature_store_api_spark.functions.builtin_transformations import (
        min_max_scaler,
    )

    fs = FeatureStore(root=str(tmp_path))
    fg = fs.create_feature_group("sc", primary_key=["k"])
    fg.insert(spark.createDataFrame(
        [(i, float(i)) for i in range(101)], "k long, x double"  # x in 0..100
    ))
    fv = fs.create_feature_view(
        "scv", fg.select_all(),
        transformation_functions=[min_max_scaler("x")],
    )
    meta = fv.create_train_test_split(spark, test_size=0.2, seed=5)
    assert fv.get_last_accessed_training_dataset() == meta["version"]

    fv.init_batch_scoring(meta["version"])
    out = fv.get_batch_data(spark)
    vals = {r["k"]: r["min_max_scaler_x"] for r in out.collect()}
    # under pinned train stats the mapping is fixed: x=trainmin -> 0.0;
    # crucially values OUTSIDE the train split's range can leave [0,1],
    # which self-computed batch stats would never produce
    stats = fv.get_training_dataset_statistics(meta["version"])["x"]
    lo, hi = stats["min"], stats["max"]
    for k, v in vals.items():
        assert abs(v - (k - lo) / (hi - lo)) < 1e-9

    # logging now defaults its td-version metadata to the bound TD
    fv.enable_logging()
    fv.log(spark.createDataFrame([(1, 0.5)], "k long, score double"))
    back = fv.read_log(spark).collect()
    assert back[0]["td_version"] == meta["version"]


def test_legacy_store_level_training_dataset_api(spark, tmp_path):
    """Thin parity aliases for the reference's deprecated store-level
    TrainingDataset API (feature_store.py:337,376,1207): lazy create →
    save(Query or DataFrame) materializes splits → get/read round-trips,
    versions auto-increment, and a DeprecationWarning points at
    FeatureView."""
    import warnings

    from feature_store_api_spark import FeatureStore

    fs = FeatureStore(root=str(tmp_path))
    fg = fs.create_feature_group("legacy_src", primary_key=["k"])
    fg.insert(spark.createDataFrame(
        [(i, float(i)) for i in range(40)], "k long, v double"
    ))

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        td = fs.create_training_dataset(
            "legacy_td", data_format="parquet",
            splits={"train": 0.75, "test": 0.25}, seed=11,
        )
        assert any(issubclass(x.category, DeprecationWarning) for x in w)
    assert td.version == 1
    # lazy: nothing on disk until save
    import os
    assert not os.path.exists(td.location) or not os.listdir(td.location)

    td.save(fg.select_all(), spark=spark)
    assert sorted(td.split_dirs) == ["test", "train"]
    tr = td.read("train", spark=spark)
    te = td.read("test", spark=spark)
    assert tr.count() + te.count() == 40

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DeprecationWarning)
        got = fs.get_training_dataset("legacy_td")
        assert got.version == 1 and got.data_format == "parquet"
        assert got.read("train", spark=spark).count() == tr.count()

        td2 = fs.create_training_dataset("legacy_td", data_format="csv")
        assert td2.version == 2  # auto-increment
        td2.save(fg.read(spark), spark=spark)  # plain DataFrame path
        assert fs.get_training_dataset("legacy_td").version == 2
        assert len(fs.get_training_datasets("legacy_td")) == 2
        assert fs.get_training_dataset("legacy_td", version=1).version == 1
        assert td2.read(spark=spark).count() == 40  # lone split default

        import pytest as _pt
        with _pt.raises(KeyError):
            fs.get_training_dataset("absent")


def test_fv_schema_and_transformation_introspection(spark, tmp_path):
    """schema/features properties, transformed_features, typed
    transformation-function accessors (incl. the reference's typo'd
    public names), update_last_accessed_training_dataset, and
    FeatureView.clean by name."""
    from feature_store_api_spark import FeatureStore
    from feature_store_api_spark.feature_view import FeatureView
    from feature_store_api_spark.functions.udf import (
        TransformationFunction,
        udf,
    )

    fs = FeatureStore(root=str(tmp_path))
    fg = fs.create_feature_group("introspect_src", primary_key=["k"])
    fg.insert(spark.createDataFrame([(1, 2.0, 3.0)], "k long, a double, b double"))

    @udf("double", drop=["a"])
    def a_plus_one(a):
        return a + 1

    fv = fs.create_feature_view(
        "introspect", fg.select_all(),
        transformation_functions=[a_plus_one],
    )
    names = [f.name for f in fv.schema]
    assert names == [f.name for f in fv.features]
    assert set(["k", "a", "b"]).issubset(set(names))
    tf_out = fv.transformed_features()
    # default output naming: <fn>_<input> (reference convention)
    assert "a_plus_one_a" in tf_out and "a" not in tf_out and "b" in tf_out

    assert len(fv.model_dependent_transformation_functions) == 1
    assert fv.on_demand_transformation_functions == []
    # the reference's typo'd public names stay callable
    assert len(fv.model_dependent_tranformation_functions) == 1
    assert fv.on_demand_tranformation_functions == []

    fv.update_last_accessed_training_dataset(7)
    assert fv.get_last_accessed_training_dataset() == 7

    # clean-by-name removes the view without rehydrating it
    FeatureView.clean(fs, "introspect", 1)
    import pytest as _pt
    with _pt.raises(KeyError):
        FeatureStore(root=str(tmp_path)).get_feature_view("introspect")


def test_fv_clean_strict_stem_and_training_data(spark, tmp_path):
    """clean('v', 1) must not absorb 'v' v10 or a view named 'v_1b'
    (strict stem match) and must remove v1's training-dataset root."""
    import os

    from feature_store_api_spark import FeatureStore
    from feature_store_api_spark.feature_view import FeatureView

    fs = FeatureStore(root=str(tmp_path))
    fg = fs.create_feature_group("clean_src", primary_key=["k"])
    fg.insert(spark.createDataFrame([(i, float(i)) for i in range(10)],
                                    "k long, v double"))
    v1 = fs.create_feature_view("cv", fg.select_all(), version=1)
    v10 = fs.create_feature_view("cv", fg.select_all(), version=10)
    v1.create_training_dataset(spark, data_format="parquet")
    v10.create_training_dataset(spark, data_format="parquet")
    td10 = os.path.join(str(tmp_path), "_training_datasets", "cv_10")
    td1 = os.path.join(str(tmp_path), "_training_datasets", "cv_1")
    assert os.path.isdir(td1) and os.path.isdir(td10)

    FeatureView.clean(fs, "cv", 1)
    fresh = FeatureStore(root=str(tmp_path))
    with pytest.raises(KeyError):
        fresh.get_feature_view("cv", 1)
    assert fresh.get_feature_view("cv", 10).version == 10  # untouched
    assert not os.path.exists(td1)  # training data gone
    assert os.path.isdir(td10)


def test_legacy_td_namespace_isolated_from_view_tds(spark, tmp_path):
    """A legacy TrainingDataset named like a view must not share the
    view's _training_datasets dir (delete_all_training_datasets on the
    view would destroy the legacy data)."""
    import os
    import warnings

    from feature_store_api_spark import FeatureStore

    fs = FeatureStore(root=str(tmp_path))
    fg = fs.create_feature_group("iso_src", primary_key=["k"])
    fg.insert(spark.createDataFrame([(1, 1.0)], "k long, v double"))
    fv = fs.create_feature_view("shared_name", fg.select_all())
    fv.create_training_dataset(spark, data_format="parquet")
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DeprecationWarning)
        td = fs.create_training_dataset("shared_name", data_format="parquet")
        td.save(fg.read(spark), spark=spark)
    fv.delete_all_training_datasets()
    # legacy data survives the view's purge
    assert td.read(spark=spark).count() == 1
    assert "_legacy_training_datasets" in td.location


def test_fv_clean_does_not_absorb_underscore_named_view(spark, tmp_path):
    """clean('v', 1) must not delete the metadata (or sidecars) of a
    DIFFERENT view literally named 'v_1' at version 2 — its file
    'v_1_2.json' starts with the 'v_1_' prefix a naive match absorbs."""
    import os

    from feature_store_api_spark import FeatureStore
    from feature_store_api_spark.feature_view import FeatureView

    fs = FeatureStore(root=str(tmp_path))
    fg = fs.create_feature_group("clean_src2", primary_key=["k"])
    fg.insert(spark.createDataFrame([(1, 1.0)], "k long, v double"))
    fs.create_feature_view("v", fg.select_all(), version=1)
    other = fs.create_feature_view("v_1", fg.select_all(), version=2)
    other.add_tag("keep", "me")  # sidecar v_1_2_tags.json

    FeatureView.clean(fs, "v", 1)
    fresh = FeatureStore(root=str(tmp_path))
    with pytest.raises(KeyError):
        fresh.get_feature_view("v", 1)
    survivor = fresh.get_feature_view("v_1", 2)
    assert survivor.version == 2
    assert survivor.get_tag("keep") == "me"  # sidecar survived too


def test_fv_clean_removes_monitoring_results_dir(spark, tmp_path):
    """clean() must delete the '{name}_{version}_monitoring_results'
    directory run_feature_monitoring writes (regression: the strict
    sidecar regex omitted it and monitoring artifacts leaked), while a
    DIFFERENT view's results dir survives."""
    import os
    from datetime import datetime

    from feature_store_api_spark import FeatureStore
    from feature_store_api_spark.feature_view import FeatureView

    fs = FeatureStore(root=str(tmp_path))
    fg = fs.create_feature_group("mon_src", primary_key=["k"], event_time="ts")
    fg.insert(spark.createDataFrame(
        [(i, datetime(2024, 1, 1 + i % 5), float(i)) for i in range(20)],
        "k long, ts timestamp, v double",
    ))
    fv = fs.create_feature_view("mclean", fg.select_all(), version=1)
    other = fs.create_feature_view("mclean", fg.select_all(), version=10)
    for view in (fv, other):
        view.create_statistics_monitoring("m1", feature_name="v").save()
        view.run_feature_monitoring("m1", spark, now=datetime(2024, 1, 8))
    base = os.path.join(str(tmp_path), "_feature_views")
    res1 = os.path.join(base, "mclean_1_monitoring_results")
    res10 = os.path.join(base, "mclean_10_monitoring_results")
    assert os.path.isdir(res1) and os.path.isdir(res10)

    FeatureView.clean(fs, "mclean", 1)
    assert not os.path.exists(res1)   # leaked before the regex fix
    assert os.path.isdir(res10)       # strict stem: v10 untouched


def test_batch_window_pushes_event_bounds_into_sources(spark, tmp_path):
    """get_batch_data(start_time, end_time) routes the event-time
    window into every source read as a Filter IR hint instead of only
    filtering above the PIT plan (parity: the reference embeds the
    range per FG server-side, core/feature_view_engine.py:187-244):

    * spine FG: BOTH bounds (its rows outside the window die at the
      root predicate anyway) — physically pinned: the out-of-window
      partition's files are DELETED from disk and the windowed read
      still works, so the partition-pruned scan never opened them;
    * PIT feature FG: only `event_time < end` (PIT-safe — a feature
      row at/after the window end can never win an as-of match against
      an in-window spine row); pinned by spying read_source kwargs;
    * results are IDENTICAL to the unpartitioned/unhinted path."""
    import datetime as dt
    import glob
    import os as _os

    from feature_store_api_spark import FeatureStore
    from feature_store_api_spark.feature_group import FeatureGroup

    t_jan = dt.datetime(2024, 1, 15)
    t_feb = dt.datetime(2024, 2, 15)
    rows = [(k, t_jan, float(k)) for k in range(4)] + [
        (k, t_feb, float(k) * 10) for k in range(4)
    ]
    feat_rows = [(k, dt.datetime(2024, 1, 1), k * 100.0) for k in range(4)] + [
        (k, dt.datetime(2024, 3, 1), -1.0) for k in range(4)
    ]

    def build(root, partitioned):
        fs = FeatureStore(root=root)
        left = fs.create_feature_group(
            "bw_left", primary_key=["k"], event_time="ts",
            partition_key=["ts"] if partitioned else (),
        )
        left.insert(spark.createDataFrame(
            rows, "k long, ts timestamp_ntz, x double"))
        feat = fs.create_feature_group(
            "bw_feat", primary_key=["k"], event_time="fts",
        )
        feat.insert(spark.createDataFrame(
            feat_rows, "k long, fts timestamp_ntz, v double"))
        fv = fs.create_feature_view(
            "bw_v", left.select_all().join(feat.select(["v"]), on=["k"]),
        )
        return left, feat, fv

    def rowset(df):
        return sorted((r["k"], r["x"], r["v"]) for r in df.collect())

    # unpartitioned reference result for the January window
    _l0, _f0, fv0 = build(str(tmp_path / "flat"), partitioned=False)
    expect = rowset(fv0.get_batch_data(
        spark, start_time=dt.datetime(2024, 1, 1),
        end_time=dt.datetime(2024, 2, 1),
    ))
    assert expect == [(0, 0.0, 0.0), (1, 1.0, 100.0),
                      (2, 2.0, 200.0), (3, 3.0, 300.0)]

    left, feat, fv = build(str(tmp_path / "part"), partitioned=True)

    # spy: record the filters hint each FG read receives
    seen = {}
    orig = FeatureGroup.read_source

    def spy(self, spark_, start_time=None, end_time=None, filters=None,
            columns=None):
        seen[self.name] = filters
        return orig(self, spark_, start_time, end_time, filters=filters,
                    columns=columns)

    FeatureGroup.read_source = spy
    try:
        got = fv.get_batch_data(
            spark, start_time=dt.datetime(2024, 1, 1),
            end_time=dt.datetime(2024, 2, 1),
        )
        # physical pin AFTER the plan is built (the file index has
        # already listed every surviving file): delete the February
        # partition's parquet files — an unpruned plan holds them in
        # its file index and dies reading them at execution; the
        # pruned plan never touches them
        feb = glob.glob(_os.path.join(
            left.location, "**", "ts=2024-02-15*", "*.parquet"),
            recursive=True)
        assert feb, "expected a hive partition dir for the Feb slice"
        for p in feb:
            _os.remove(p)
        # plan pin: the subtree lands in the spine scan's
        # PartitionFilters — BELOW the PIT window the root predicate
        # cannot cross (backend.scan applies it over the file source)
        plan = got._jdf.queryExecution().executedPlan().toString()
        pf = [ln for ln in plan.splitlines()
              if "PartitionFilters" in ln and "ts#" in ln.split(
                  "PartitionFilters")[1][:200]]
        assert any(
            "2024-01-01" in ln.split("PartitionFilters")[1][:300]
            for ln in pf
        ), f"no ts PartitionFilters in plan:\n{plan[:4000]}"
        assert rowset(got) == expect
    finally:
        FeatureGroup.read_source = orig

    # spine got both bounds, feature side only the PIT-safe upper
    lf = seen["bw_left"]
    assert [(c, o) for (c, o, _v) in lf] == [("ts", ">="), ("ts", "<")]
    ff = seen["bw_feat"]
    assert [(c, o) for (c, o, _v) in ff] == [("fts", "<")]
    assert ff[0][2] == dt.datetime(2024, 2, 1)

    # no window -> no hints (and the spy shape still matches)
    FeatureGroup.read_source = spy
    try:
        seen.clear()
        fv.get_batch_data(spark)
        assert seen["bw_left"] is None and seen["bw_feat"] is None
    finally:
        FeatureGroup.read_source = orig


def test_batch_window_ttl_lower_bound_on_feature_side(spark, tmp_path):
    """With a declared max_staleness TTL the feature side also gets a
    PIT-safe LOWER bound (start - staleness): a surviving spine row at
    spine_ts >= start can only match feature_ts >= spine_ts -
    staleness, so older feature history prunes too. Results must stay
    identical to the TTL-only (unhinted-lower) semantics."""
    import datetime as dt

    from feature_store_api_spark import FeatureStore
    from feature_store_api_spark.feature_group import FeatureGroup

    fs = FeatureStore(root=str(tmp_path))
    left = fs.create_feature_group(
        "tb_left", primary_key=["k"], event_time="ts")
    left.insert(spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 10)), (2, dt.datetime(2024, 1, 12)),
         (3, dt.datetime(2024, 1, 10)), (4, dt.datetime(2024, 1, 10))],
        "k long, ts timestamp_ntz"))
    feat = fs.create_feature_group(
        "tb_feat", primary_key=["k"], event_time="fts",
        max_staleness="7 days")
    feat.insert(spark.createDataFrame(
        [
            (1, dt.datetime(2023, 6, 1), -1.0),   # stale: never matchable
            (1, dt.datetime(2024, 1, 9), 9.0),
            (2, dt.datetime(2024, 1, 11), 11.0),
            # k=3's ONLY match sits in [start - ttl, start): the exact
            # interval the widened lower bound must keep — a bound
            # narrowed to >= start would wrongly NULL this row
            (3, dt.datetime(2024, 1, 5), 35.0),
            # k=4's only row is older than start - ttl: TTL nulls it
            # with or without the hint
            (4, dt.datetime(2023, 12, 25), -4.0),
        ],
        "k long, fts timestamp_ntz, v double"))
    fv = fs.create_feature_view(
        "tb_view", left.select_all().join(feat.select(["v"]), on=["k"]))

    seen = {}
    orig = FeatureGroup.read_source

    def spy(self, spark_, start_time=None, end_time=None, filters=None,
            columns=None):
        seen[self.name] = filters
        return orig(self, spark_, start_time, end_time, filters=filters,
                    columns=columns)

    FeatureGroup.read_source = spy
    try:
        got = fv.get_batch_data(
            spark, start_time=dt.datetime(2024, 1, 8),
            end_time=dt.datetime(2024, 1, 15),
        )
        rows = sorted((r["k"], r["v"]) for r in got.collect())
    finally:
        FeatureGroup.read_source = orig
    assert rows == [(1, 9.0), (2, 11.0), (3, 35.0), (4, None)]
    ff = seen["tb_feat"]
    assert [(c, o) for (c, o, _v) in ff] == [("fts", ">="), ("fts", "<")]
    assert ff[0][2] == dt.datetime(2024, 1, 1)   # start - 7 days
    assert ff[1][2] == dt.datetime(2024, 1, 15)

    # without a TTL the lower bound must NOT be pushed
    feat.max_staleness = None
    FeatureGroup.read_source = spy
    try:
        seen.clear()
        fv.get_batch_data(
            spark, start_time=dt.datetime(2024, 1, 8),
            end_time=dt.datetime(2024, 1, 15),
        ).collect()
    finally:
        FeatureGroup.read_source = orig
    assert [(c, o) for (c, o, _v) in seen["tb_feat"]] == [("fts", "<")]

    # a TTL written in any case the TTL validator accepts prunes too
    feat.max_staleness = "30 Days"
    FeatureGroup.read_source = spy
    try:
        seen.clear()
        fv.get_batch_data(
            spark, start_time=dt.datetime(2024, 1, 8),
            end_time=dt.datetime(2024, 1, 15),
        ).collect()
    finally:
        FeatureGroup.read_source = orig
    ff = seen["tb_feat"]
    assert [(c, o) for (c, o, _v) in ff] == [("fts", ">="), ("fts", "<")]
    assert ff[0][2] == dt.datetime(2023, 12, 9)   # start - 30 days


def test_time_splits_training_dataset_pushes_window_hull(spark, tmp_path):
    """create_training_dataset(time_splits=) pushes the splits' convex
    hull [min(start), max(end)) into the source scans the same way
    get_batch_data pushes its window (spine both bounds, feature sides
    the PIT-safe upper bound); an unbounded split side leaves that
    side unhinted. Split contents must be byte-identical to the
    unhinted path."""
    import datetime as dt

    from feature_store_api_spark import FeatureStore
    from feature_store_api_spark.feature_group import FeatureGroup

    fs = FeatureStore(root=str(tmp_path))
    left = fs.create_feature_group(
        "ts_left", primary_key=["k"], event_time="ts",
        partition_key=["ts"])
    left.insert(spark.createDataFrame(
        [(k, dt.datetime(2024, 1, d), float(k))
         for k, d in [(1, 2), (2, 10), (3, 12), (4, 20), (5, 28)]],
        "k long, ts timestamp_ntz, x double"))
    fv = fs.create_feature_view("ts_view", left.select_all())

    seen = {}
    orig = FeatureGroup.read_source

    def spy(self, spark_, start_time=None, end_time=None, filters=None,
            columns=None):
        seen[self.name] = filters
        return orig(self, spark_, start_time, end_time, filters=filters,
                    columns=columns)

    splits = [
        ("train", dt.datetime(2024, 1, 8), dt.datetime(2024, 1, 15)),
        ("test", dt.datetime(2024, 1, 15), dt.datetime(2024, 1, 25)),
    ]
    FeatureGroup.read_source = spy
    try:
        meta = fv.create_training_dataset(spark, time_splits=splits)
    finally:
        FeatureGroup.read_source = orig
    hint = seen["ts_left"]
    assert [(c, o) for (c, o, _v) in hint] == [("ts", ">="), ("ts", "<")]
    assert hint[0][2] == dt.datetime(2024, 1, 8)    # min(start)
    assert hint[1][2] == dt.datetime(2024, 1, 25)   # max(end)
    td = fv.read_training_dataset(spark, meta["version"])
    assert sorted(r["k"] for r in td["train"].collect()) == [2, 3]
    assert sorted(r["k"] for r in td["test"].collect()) == [4]  # k=5 out

    # an unbounded end leaves the upper side unhinted
    FeatureGroup.read_source = spy
    try:
        seen.clear()
        fv.create_training_dataset(
            spark,
            time_splits=[("train", dt.datetime(2024, 1, 8), None)],
        )
    finally:
        FeatureGroup.read_source = orig
    assert [(c, o) for (c, o, _v) in seen["ts_left"]] == [("ts", ">=")]
