"""Built-in statistics-driven transformations.

Parity: ``/root/reference/python/hsfs/builtin_transformations.py:26-66``
(min_max_scaler, standard_scaler, robust_scaler, label_encoder,
one_hot_encoder). Unlike the reference's pandas UDFs, these provide
native Column-expression fast paths — pure Catalyst expressions, no
Python worker round-trip, so scaling a 100 TB training set stays inside
whole-stage codegen. Formulas are identical.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .udf import TransformationFunction, TransformationStatistics


def _stats_of(stats, feature):
    s = getattr(stats, feature, None)
    if not s:
        raise ValueError(f"Statistics for feature {feature!r} not bound")
    return s


def _make(name, column_expr, return_type="double", output_column_names=None,
          stat_fields=None, pandas_expr=None):
    # fn body used only in the (never-taken) pandas fallback; the
    # column_expr fast path is authoritative for Spark plans and the
    # pandas_expr twin for driver-side serving
    def fn(feature, statistics=None):  # pragma: no cover
        raise NotImplementedError(f"{name} runs via its Column expression")

    fn.__name__ = name
    stats_decl = TransformationStatistics("feature")
    tf = TransformationFunction(
        fn,
        return_type,
        drop=["feature"],  # scalers/encoders replace their input
        statistics=stats_decl,
        column_expr=column_expr,
        output_column_names=output_column_names,
        stat_fields=stat_fields,
        pandas_expr=pandas_expr,
    )
    tf.arity = 1
    return tf


# the three scalers are ``(x - center) / scale``; each reads its
# (center, scale) from the statistics, or None when they are None (the
# statistics of a frame with no rows), and then emits a typed null
def _min_max_params(s):
    if s["min"] is None or s["max"] is None:
        return None
    lo, hi = float(s["min"]), float(s["max"])
    return lo, (hi - lo) or 1.0


def _standard_params(s):
    if s["mean"] is None:
        return None
    return float(s["mean"]), float(s["stddev"] or 1.0) or 1.0


def _robust_params(s):
    p = s["percentiles"]
    if not p or None in p:
        return None
    p25, p50, p75 = [float(v) for v in p]
    return p50, (p75 - p25) or 1.0


def _scaler(params):
    """The Column form and the pandas twin of one scaler."""

    def column(cols, stats):
        cs = params(_stats_of(stats, "feature"))
        if cs is None:
            return [F.lit(None).cast("double")]
        return [(cols[0] - F.lit(cs[0])) / F.lit(cs[1])]

    def pandas(series, stats):
        cs = params(_stats_of(stats, "feature"))
        if cs is None:
            import pandas as pd

            return [pd.Series(float("nan"), index=series[0].index)]
        return [(series[0] - cs[0]) / cs[1]]

    return column, pandas


_min_max, _min_max_pd = _scaler(_min_max_params)
_standard, _standard_pd = _scaler(_standard_params)
_robust, _robust_pd = _scaler(_robust_params)


def _label_encode(cols, stats):
    s = _stats_of(stats, "feature")
    vals = sorted(v for v in s.get("unique_values", []) if v is not None)
    expr = F.lit(-1)
    # build right-to-left when/otherwise chain; unseen values → -1
    out = None
    for i, v in enumerate(vals):
        clause = F.when(cols[0] == F.lit(v), F.lit(i))
        out = clause if out is None else out.when(cols[0] == F.lit(v), F.lit(i))
    return [out.otherwise(expr).cast("long") if out is not None else expr.cast("long")]


def _one_hot(cols, stats):
    s = _stats_of(stats, "feature")
    vals = sorted(v for v in s.get("unique_values", []) if v is not None)
    return [
        F.when(cols[0] == F.lit(v), F.lit(True)).otherwise(F.lit(False))
        for v in vals
    ]


def _one_hot_names(features, stats):
    # dynamic arity: one output per unique value (hopsworks_udf.py:617-628)
    s = (stats or {}).get(features[0], {})
    vals = sorted(v for v in s.get("unique_values", []) if v is not None)
    base = f"one_hot_encoder_{'_'.join(features)}"
    return [f"{base}_{i}" for i in range(len(vals))] or [base]


# -- driver-side pandas twins (ms-latency serving; formula parity with
# the Column expressions is pinned by tests/test_udf.py) ---------------

def _quantile_bin(cols, stats):
    s = _stats_of(stats, "feature")
    p25, p50, p75 = [float(p) for p in s["percentiles"]]
    c = cols[0]
    return [
        F.when(c.isNull(), F.lit(None))
        .when(c <= F.lit(p25), F.lit(0))
        .when(c <= F.lit(p50), F.lit(1))
        .when(c <= F.lit(p75), F.lit(2))
        .otherwise(F.lit(3))
        .cast("long")
    ]


def _quantile_bin_pd(series, stats):
    s = _stats_of(stats, "feature")
    p25, p50, p75 = [float(p) for p in s["percentiles"]]

    def bin_of(v):
        if v is None or v != v:  # None / NaN
            return None
        if v <= p25:
            return 0
        if v <= p50:
            return 1
        if v <= p75:
            return 2
        return 3

    return [series[0].map(bin_of)]


def _label_encode_pd(series, stats):
    s = _stats_of(stats, "feature")
    vals = sorted(v for v in s.get("unique_values", []) if v is not None)
    mapping = {v: i for i, v in enumerate(vals)}
    return [series[0].map(lambda v: mapping.get(v, -1))]


def _one_hot_pd(series, stats):
    s = _stats_of(stats, "feature")
    vals = sorted(v for v in s.get("unique_values", []) if v is not None)
    return [(series[0] == v).fillna(False) for v in vals]


# each builtin declares EXACTLY the stat fields its formula reads, so
# the shared train-split stats pass computes nothing else (a
# min_max+standard list = one narrow aggregate, zero extra scans)
min_max_scaler = _make(
    "min_max_scaler", _min_max, stat_fields=("min", "max"),
    pandas_expr=_min_max_pd,
)
standard_scaler = _make(
    "standard_scaler", _standard, stat_fields=("mean", "stddev"),
    pandas_expr=_standard_pd,
)
robust_scaler = _make(
    "robust_scaler", _robust, stat_fields=("percentiles",),
    pandas_expr=_robust_pd,
)
# quartile binning (beyond the reference's five builtins): train-split
# quartile edges -> ordinal bins 0-3, nulls stay null; shares the
# percentile stat field with robust_scaler so combining them costs no
# extra stats pass
quantile_binner = _make(
    "quantile_binner", _quantile_bin, return_type="bigint",
    stat_fields=("percentiles",),
    pandas_expr=_quantile_bin_pd,
)
label_encoder = _make(
    "label_encoder", _label_encode, return_type="bigint",
    stat_fields=("unique_values",),
    pandas_expr=_label_encode_pd,
)
one_hot_encoder = _make(
    "one_hot_encoder", _one_hot, return_type="boolean",
    output_column_names=_one_hot_names,
    stat_fields=("unique_values",),
    pandas_expr=_one_hot_pd,
)
# one_hot's output count depends on statistics; mark multi_output so the
# apply path expands correctly
one_hot_encoder.multi_output = True
