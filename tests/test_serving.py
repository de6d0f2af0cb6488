"""Online feature-vector serving (§3.3 parity: vector_server /
online_store_sql_engine): per-FG lookups stitched on serving keys,
passed features, serving-time transformations, key validation."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from feature_store_api_spark import FeatureStore
from feature_store_api_spark.feature_view import FeatureView
from feature_store_api_spark.sources.readers import read_parquet
from tests.conftest import spark_jobs


@pytest.fixture(scope="module")
def served(spark, sf_dir):
    tmp = tempfile.mkdtemp(prefix="fsas_serve_")
    fs = FeatureStore(root=tmp)
    ev = read_parquet(spark, f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "ts", "value"
    )
    profile = fs.create_feature_group(
        "profile", primary_key=["user_id"], event_time="ts",
        precombine_key="event_id", online_enabled=True,
    )
    profile.insert(ev, compute_stats=False)
    # second FG keyed the same way but under a different pk name
    agg = fs.create_feature_group(
        "user_totals", primary_key=["uid"], online_enabled=True,
    )
    totals = ev.groupBy(F.col("user_id").alias("uid")).agg(
        F.round(F.sum("value"), 6).alias("total_value"),
        F.count(F.lit(1)).alias("n_events"),
    )
    agg.insert(totals, compute_stats=False)

    q = profile.select(["user_id", "ts", "value"]).join(
        agg.select(["total_value", "n_events"]),
        left_on=["user_id"], right_on=["uid"], prefix="agg_",
    )
    yield {"fs": fs, "ev": ev, "q": q, "profile": profile, "agg": agg}
    shutil.rmtree(tmp, ignore_errors=True)


def _latest_row(ev, uid):
    return (
        ev.where(F.col("user_id") == uid)
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .first()
    )


def test_single_lookup_stitches_feature_groups(spark, served):
    fv = FeatureView("sv1", served["q"])
    vec = fv.get_feature_vector(spark, {"user_id": 3})
    latest = _latest_row(served["ev"], 3)
    assert vec["value"] == pytest.approx(latest["value"])
    exp = served["ev"].where(F.col("user_id") == 3).agg(
        F.sum("value"), F.count(F.lit(1))
    ).first()
    assert vec["agg_total_value"] == pytest.approx(exp[0], rel=1e-6)
    assert vec["agg_n_events"] == exp[1]


def test_batch_lookup_order_and_misses(spark, served):
    fv = FeatureView("sv2", served["q"])
    vecs = fv.get_feature_vectors(
        spark, [{"user_id": 7}, {"user_id": 999999}, {"user_id": 0}]
    )
    assert vecs[1] is None  # unknown key → no vector
    assert vecs[0]["value"] == pytest.approx(_latest_row(served["ev"], 7)["value"])
    assert vecs[2]["value"] == pytest.approx(_latest_row(served["ev"], 0)["value"])


def test_passed_features_override(spark, served):
    fv = FeatureView("sv3", served["q"])
    server = fv.init_serving(spark)
    vec = server.get_feature_vector(
        spark, {"user_id": 3}, passed_features={"value": 42.0}
    )
    assert vec["value"] == 42.0


def test_serving_transformation_matches_batch(spark, served):
    from feature_store_api_spark.functions.builtin_transformations import (
        min_max_scaler,
    )

    ev = served["ev"]
    fv = FeatureView(
        "sv4", served["q"], transformation_functions=[min_max_scaler("value")]
    )
    fv.init_serving(spark, training_df=ev)
    vec = fv.get_feature_vector(spark, {"user_id": 3})
    stats = ev.agg(F.min("value"), F.max("value")).first()
    lo, hi = stats[0], stats[1]
    raw = _latest_row(ev, 3)["value"]
    assert "value" not in vec  # input dropped by the transformation
    assert vec["min_max_scaler_value"] == pytest.approx((raw - lo) / (hi - lo))


def test_missing_serving_key_raises(spark, served):
    fv = FeatureView("sv5", served["q"])
    server = fv.init_serving(spark)
    with pytest.raises(ValueError, match="user_id"):
        server.get_feature_vector(spark, {"wrong_key": 1})


def test_serving_on_demand_then_model_dependent(spark, served):
    """model-dependent UDFs may consume on-demand outputs at serve time
    (reference order: on-demand first, vector_server.py:924-978)."""
    from feature_store_api_spark.functions.udf import udf

    @udf(float, mode="on_demand")
    def doubled(value):
        return value * 2.0

    @udf(float)
    def shifted(doubled_value):
        return doubled_value + 1.0

    fv = FeatureView(
        "sv6", served["q"],
        transformation_functions=[doubled, shifted("doubled_value")],
    )
    uid = served["ev"].select("user_id").first()["user_id"]
    latest = _latest_row(served["ev"], uid)
    server = fv.init_serving(spark)
    vec = server.get_feature_vector(spark, {"user_id": uid})
    assert vec["doubled_value"] == pytest.approx(2.0 * latest["value"])
    assert vec["shifted_doubled_value"] == pytest.approx(
        2.0 * latest["value"] + 1.0
    )


def test_request_parameters_feed_on_demand_udf(spark, served):
    from feature_store_api_spark.functions.udf import udf

    @udf(float, mode="on_demand")
    def boosted(value, boost):
        return value * boost

    fv = FeatureView("sv_rp", served["q"], transformation_functions=[boosted("value", "boost")])
    server = fv.init_serving(spark)
    vec = server.get_feature_vector(
        spark, {"user_id": 3}, request_parameters={"boost": 4.0}
    )
    latest = _latest_row(served["ev"], 3)
    assert vec["boosted_value_boost"] == pytest.approx(latest["value"] * 4.0)


def test_transform_fast_path_runs_no_spark_job(spark, served):
    """Single-vector transformations apply driver-side in pandas — no
    Spark job may be launched by the transform step (VERDICT r2 #4:
    serving latency)."""
    from feature_store_api_spark.functions.builtin_transformations import (
        min_max_scaler,
    )
    from feature_store_api_spark.functions.udf import udf

    @udf(float)
    def plus_one(value):
        return value + 1.0

    fv = FeatureView(
        "sv_fast", served["q"],
        transformation_functions=[min_max_scaler("value"), plus_one],
    )
    server = fv.init_serving(spark, training_df=served["ev"])
    rows = [{"user_id": 3, "value": 10.0, "agg_total_value": 1.0,
             "agg_n_events": 2, "ts": None, "event_id": 1}]
    with spark_jobs(spark) as jobs:
        out = server._transform(spark, list(rows))
    assert jobs == []  # zero Spark jobs on the fast path
    assert out[0]["plus_one_value"] == pytest.approx(11.0)
    assert "min_max_scaler_value" in out[0] and "value" not in out[0]


def test_pandas_twins_match_column_exprs(spark, served):
    """Every builtin's pandas twin must produce the Spark expression's
    values on the same data + stats (no semantic fork)."""
    import pandas as pd

    from feature_store_api_spark.functions import builtin_transformations as bt
    from feature_store_api_spark.functions.udf import (
        apply_transformations, apply_transformations_pandas,
    )

    ev = served["ev"].limit(200)
    tfs = [
        bt.min_max_scaler("value"),
        bt.standard_scaler("value"),
        bt.robust_scaler("value"),
        bt.label_encoder("user_id"),
        bt.one_hot_encoder("user_id"),
    ]
    spark_out = apply_transformations(ev, tfs, train_df=ev).toPandas()
    from feature_store_api_spark.functions.udf import transformation_stats_for

    stats = transformation_stats_for(tfs, ev)
    pd_out = apply_transformations_pandas(ev.toPandas(), tfs, stats=stats)
    assert list(spark_out.columns) == list(pd_out.columns)
    so = spark_out.sort_values("event_id").reset_index(drop=True)
    po = pd_out.sort_values("event_id").reset_index(drop=True)
    for c in so.columns:
        a, b = so[c], po[c]
        if a.dtype.kind == "f":
            assert ((a - b).abs().fillna(0) < 1e-9).all(), c
        else:
            assert (a == b).all(), c


def test_list_return_type_matches_training_order(spark, served):
    from feature_store_api_spark.functions.builtin_transformations import (
        min_max_scaler,
    )

    fv = FeatureView(
        "sv_list", served["q"],
        transformation_functions=[min_max_scaler("value")],
    )
    server = fv.init_serving(spark)
    d = server.get_feature_vector(spark, {"user_id": 3})
    l = server.get_feature_vector(spark, {"user_id": 3}, return_type="list")
    order = [c for c in server._feature_order if c not in server._serving_keys]
    assert l == [d.get(c) for c in order]
    assert "min_max_scaler_value" in order  # transformed name, training order
    # misses stay None in list form
    ls = server.get_feature_vectors(
        spark, [{"user_id": 999999}], return_type="list"
    )
    assert ls == [None]


def test_live_serving_full_request_runs_no_spark_job(spark, served):
    """pin_snapshots=False + pandas transforms: a complete single-vector
    request (lookup through pyarrow + driver-side transform) launches
    ZERO Spark jobs and returns the same vector as pinned mode."""
    from feature_store_api_spark.functions.builtin_transformations import (
        min_max_scaler,
    )

    fv_pinned = FeatureView(
        "sv_live_a", served["q"],
        transformation_functions=[min_max_scaler("value")],
    )
    pinned = fv_pinned.init_serving(spark, training_df=served["ev"])
    want = pinned.get_feature_vector(spark, {"user_id": 3})

    fv_live = FeatureView(
        "sv_live_b", served["q"],
        transformation_functions=[min_max_scaler("value")],
    )
    live = fv_live.init_serving(
        spark, training_df=served["ev"], pin_snapshots=False
    )
    with spark_jobs(spark) as jobs:
        got = live.get_feature_vector(spark, {"user_id": 3})
    assert jobs == []  # zero jobs end-to-end
    assert set(got) == set(want)
    for c in want:
        assert got[c] == pytest.approx(want[c]) if isinstance(want[c], float) else got[c] == want[c], c
    # misses still surface as None in live mode
    assert live.get_feature_vector(spark, {"user_id": 999999}) is None


def test_transformed_vector_keeps_int_features(spark, tmp_path):
    """The serving transform must not upcast int features to float: a
    row whose values are all numeric comes back with the same Python
    types as the untransformed vector."""
    from feature_store_api_spark.functions.builtin_transformations import (
        min_max_scaler,
    )

    fs = FeatureStore(root=str(tmp_path))
    fg = fs.create_feature_group("ints", primary_key=["uid"], online_enabled=True)
    fg.insert(
        spark.createDataFrame(
            [(1, 10, 0.5), (2, 20, 1.5)], "uid long, cnt long, x double"
        ),
        compute_stats=False,
    )
    q = fg.select(["uid", "cnt", "x"])
    plain = FeatureView("ints_plain", q).init_serving(
        spark, pin_snapshots=False
    )
    scaled = FeatureView(
        "ints_scaled", q, transformation_functions=[min_max_scaler("x")]
    ).init_serving(spark, pin_snapshots=False)
    raw = plain.get_feature_vector(spark, {"uid": 1})
    vec = scaled.get_feature_vector(spark, {"uid": 1})
    assert raw == {"uid": 1, "cnt": 10, "x": 0.5}
    assert vec == {"uid": 1, "cnt": 10, "min_max_scaler_x": 0.0}
    assert type(vec["uid"]) is int and type(vec["cnt"]) is int
    many = scaled.get_feature_vectors(spark, [{"uid": 2}, {"uid": 1}])
    assert [type(v["cnt"]) for v in many] == [int, int]


def test_inference_helper_columns_served_separately(spark, tmp_path):
    """Declared inference helpers are excluded from feature vectors and
    served via get_inference_helper(s) (parity feature_view.py:735-830,
    vector_server.py:96-106); training/batch frames drop helpers per
    the reference's default flags."""
    from feature_store_api_spark import FeatureStore

    fs = FeatureStore(root=str(tmp_path))
    fg = fs.create_feature_group(
        "prof_h", primary_key=["uid"], online_enabled=True
    )
    fg.insert(spark.createDataFrame(
        [(1, 10.0, "ctx-a", 7), (2, 20.0, "ctx-b", 8)],
        "uid long, bal double, context string, thelp long",
    ))
    fv = fs.create_feature_view(
        "hview",
        fg.select(["uid", "bal", "context", "thelp"]),
        inference_helper_columns=["context"],
        training_helper_columns=["thelp"],
    )
    fv.init_serving(spark)

    vec = fv.get_feature_vector(spark, {"uid": 1})
    assert "context" not in vec and vec["bal"] == 10.0

    helper = fv.get_inference_helper(spark, {"uid": 1})
    assert helper == {"context": "ctx-a"}
    helpers = fv.get_inference_helpers(spark, [{"uid": 2}, {"uid": 99}])
    assert helpers[0] == {"context": "ctx-b"} and helpers[1] is None

    # list-form vectors exclude helpers too
    lst = fv.get_feature_vector(spark, {"uid": 1}, return_type="list")
    assert "ctx-a" not in lst

    # batch data: helpers dropped by default, inference helpers on demand
    bd = fv.get_batch_data(spark)
    assert "context" not in bd.columns and "thelp" not in bd.columns
    bd2 = fv.get_batch_data(spark, inference_helper_columns=True)
    assert "context" in bd2.columns and "thelp" not in bd2.columns

    # training data: inference helpers always out, training helpers opt-in
    td = fv.training_data(spark)
    assert "context" not in td.columns and "thelp" not in td.columns
    td2 = fv.training_data(spark, training_helper_columns=True)
    assert "thelp" in td2.columns and "context" not in td2.columns

    # undeclared helpers -> clear error
    fv2 = fs.create_feature_view("hview2", fg.select(["uid", "bal"]))
    fv2.init_serving(spark)
    with pytest.raises(ValueError, match="no\\s+inference_helper"):
        fv2.get_inference_helper(spark, {"uid": 1})


def test_serving_withholds_expired_features(spark, tmp_path):
    """A feature group's max_staleness applies at SERVING time: a hit
    whose event_time is older than now - TTL is withheld (same as a
    miss); fresh keys serve normally."""
    import datetime as dt

    from feature_store_api_spark import FeatureStore
    from feature_store_api_spark.feature_view import FeatureView

    fs = FeatureStore(root=str(tmp_path))
    now = dt.datetime.utcnow()
    fg = fs.create_feature_group(
        "ttl_serve", primary_key=["k"], event_time="ts",
        online_enabled=True, max_staleness="1 days",
    )
    fg.insert(spark.createDataFrame(
        [
            (1, now - dt.timedelta(hours=2), 10.0),   # fresh
            (2, now - dt.timedelta(days=3), 20.0),    # expired
        ],
        "k long, ts timestamp, v double",
    ))
    fv = fs.create_feature_view("ttl_sv", fg.select_all())
    server = fv.init_serving(spark)
    vecs = server.get_feature_vectors(spark, [{"k": 1}, {"k": 2}])
    assert vecs[0] is not None and vecs[0]["v"] == 10.0
    assert vecs[1] is None  # expired hit == miss


def test_serving_ttl_numeric_event_time_needs_clock(spark, tmp_path):
    """A numeric max_staleness on a numeric event time is enforced when
    the caller supplies clock=, and WARNS (never silently skips) when
    it cannot be — batch PIT reads enforce the same TTL, so a silent
    skip would be exactly the training/serving skew the feature
    prevents."""
    import warnings

    from feature_store_api_spark import FeatureStore

    fs = FeatureStore(root=str(tmp_path))
    fg = fs.create_feature_group(
        "ttl_num", primary_key=["k"], event_time="ts",
        online_enabled=True, max_staleness=10,
    )
    fg.insert(spark.createDataFrame(
        [(1, 95, 1.0), (2, 50, 2.0)], "k long, ts long, v double",
    ))
    fv = fs.create_feature_view("ttl_num_sv", fg.select_all())
    server = fv.init_serving(spark)

    # with a numeric clock: ts >= clock - TTL ⇒ k=1 fresh, k=2 expired
    vecs = server.get_feature_vectors(spark, [{"k": 1}, {"k": 2}], clock=100)
    assert vecs[0] is not None and vecs[0]["v"] == 1.0
    assert vecs[1] is None

    # without a clock: unfiltered, but loudly
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        vecs = server.get_feature_vectors(spark, [{"k": 1}, {"k": 2}])
    assert vecs[0]["v"] == 1.0 and vecs[1]["v"] == 2.0
    assert any("numeric event time" in str(x.message) for x in w)


def test_serving_ttl_declaration_validated(tmp_path):
    """A malformed TTL fails at feature-group DECLARATION, not at first
    read."""
    import pytest

    from feature_store_api_spark import FeatureStore

    fs = FeatureStore(root=str(tmp_path))
    with pytest.raises(ValueError, match="max_staleness"):
        fs.create_feature_group(
            "ttl_bad", primary_key=["k"], event_time="ts",
            online_enabled=True, max_staleness="1 dayz",
        )


@pytest.fixture()
def keyed_view(spark, tmp_path):
    """``ev`` (pk ``eid``) joins ``us`` on the non-pk column ``cust``;
    ``us`` joins ``rg`` on ``rid``."""
    fs = FeatureStore(root=str(tmp_path))
    ev = fs.create_feature_group("kv_ev", primary_key=["eid"])
    ev.insert(spark.createDataFrame(
        [(1, 3, 1.0)], "eid long, cust long, amt double"))
    us = fs.create_feature_group("kv_us", primary_key=["cust"])
    us.insert(spark.createDataFrame(
        [(3, "n3", 1)], "cust long, nm string, rid long"))
    rg = fs.create_feature_group("kv_rg", primary_key=["rid"])
    rg.insert(spark.createDataFrame([(1, "west")], "rid long, region string"))
    return ev, us, rg


def test_serving_keys_include_left_join_keys(spark, keyed_view):
    """An entry without a non-pk join key gets the "Serving key(s)
    missing" error, not a raw KeyError from the lookup."""
    ev, us, _rg = keyed_view
    fv = FeatureView("kv1", ev.select_all().join(us.select(["nm"]), on=["cust"]))
    server = fv.init_serving(spark, pin_snapshots=False)
    assert server._serving_keys == ["eid", "cust"]
    with pytest.raises(ValueError, match="Serving key.*cust"):
        server.get_feature_vector(spark, {"eid": 1})


def test_serving_rejects_nested_joins(spark, keyed_view):
    """Serving looks up directly joined groups only; a nested join's
    features would be in the training frame but never in a vector
    (training/serving skew), so init_serving refuses it."""
    ev, us, rg = keyed_view
    fv = FeatureView("kv2", ev.select_all().join(
        us.select(["nm"]).join(rg.select(["region"]), on=["rid"]),
        on=["cust"]))
    with pytest.raises(ValueError, match="nested"):
        fv.init_serving(spark, pin_snapshots=False)
