"""Transformation functions: the ``@udf`` decorator surface.

Parity: ``/root/reference/python/hsfs/hopsworks_udf.py:44-927`` — a
pandas-Series-based UDF with declared return type(s), optional ``drop``
of input features, optional statistics binding
(``transformation_statistics.py``), output naming
``fnname_feat1_feat2`` (``hopsworks_udf.py:464-482``), and two modes
(MODEL_DEPENDENT vs ON_DEMAND, ``hopsworks_udf.py:35-41``).

Functions are plain Python closures registered in-process; execution is
an Arrow-vectorized ``pandas_udf`` (the fast path the reference also
uses, ``hopsworks_udf.py:649-654``), or a native Column expression when
the transformation provides one (built-in scalers). For restart
survival, ``to_dict``/``from_dict`` round-trip a UDF through captured
source (parity ``hopsworks_udf.py:353-566``) — revived in a scoped
namespace, never ``__main__``.
"""

from __future__ import annotations

import inspect
from typing import Callable, Dict, List, Optional, Sequence, Union

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..feature import ddl_to_spark_type


class TransformationStatistics:
    """Declares which features' statistics a UDF needs injected.

    Parity: ``/root/reference/python/hsfs/transformation_statistics.py``.
    After binding, each declared feature is an attribute holding the
    stats dict (min/max/mean/stddev/percentiles/unique_values).
    """

    def __init__(self, *features: str) -> None:
        self._features = [f.lower() for f in features]
        for f in self._features:
            setattr(self, f, None)

    @property
    def features(self) -> List[str]:
        return self._features

    def bind(self, stats: Dict[str, Dict]) -> "TransformationStatistics":
        bound = TransformationStatistics(*self._features)
        for f in self._features:
            setattr(bound, f, stats.get(f, {}))
        return bound


class TransformationFunction:
    """A declared transformation: fn + return type(s) + bound features."""

    MODEL_DEPENDENT = "model_dependent"
    ON_DEMAND = "on_demand"

    def __init__(
        self,
        fn: Callable,
        return_type: Union[str, T.DataType, Sequence],
        drop: Optional[Sequence[str]] = None,
        mode: str = MODEL_DEPENDENT,
        statistics: Optional[TransformationStatistics] = None,
        column_expr: Optional[Callable] = None,
        output_column_names: Optional[Callable] = None,
        stat_fields: Optional[Sequence[str]] = None,
        pandas_expr: Optional[Callable] = None,
    ) -> None:
        self.fn = fn
        self.name = fn.__name__
        rts = return_type if isinstance(return_type, (list, tuple)) else [return_type]
        self.return_types: List[T.DataType] = [
            ddl_to_spark_type(rt) if isinstance(rt, str) else rt for rt in rts
        ]
        self.multi_output = isinstance(return_type, (list, tuple))
        self.drop = [d.lower() for d in (drop or [])]
        self.mode = mode
        self.statistics = statistics
        self._column_expr = column_expr  # fast path: fn(cols, stats) -> [Column]
        # driver-side twin of column_expr for ms-latency serving:
        # (list[pd.Series], bound_stats) -> list[pd.Series]. The
        # reference keeps the same python/spark engine duality
        # (builtin_transformations.py runs under both engines); parity
        # of the twins is pinned by tests.
        self._pandas_expr = pandas_expr
        self._output_column_names = output_column_names
        # which stat fields this UDF actually reads (None = unknown →
        # compute the full profile). Builtins declare exactly what they
        # use so the train-split stats pass stays ONE narrow aggregate
        # instead of a full multi-pass profile — at 100 TB each avoided
        # pass is a full re-execution of the upstream (PIT-join) plan.
        self.stat_fields = set(stat_fields) if stat_fields is not None else None
        # input parameter names from signature (minus the statistics kwarg)
        self.param_names = [
            p.name
            for p in inspect.signature(fn).parameters.values()
            if p.name != "statistics"
        ]
        self.arity = len(self.param_names)
        # unbound UDFs default to their parameter names as feature names
        # (the reference's convention: @udf args name the input features,
        # hopsworks_udf.py:110-140); __call__ rebinds explicitly
        self.features: List[str] = [p.lower() for p in self.param_names]

    def __call__(self, *features: str) -> "TransformationFunction":
        bound = TransformationFunction(
            self.fn,
            self.return_types if self.multi_output else self.return_types[0],
            drop=self.drop,
            mode=self.mode,
            statistics=self.statistics,
            column_expr=self._column_expr,
            output_column_names=self._output_column_names,
            stat_fields=self.stat_fields,
            pandas_expr=self._pandas_expr,
        )
        bound.features = [f.lower() for f in features]
        if len(bound.features) != self.arity:
            raise ValueError(
                f"{self.name} expects {self.arity} feature(s), got {len(bound.features)}"
            )
        return bound

    # -- output naming (parity hopsworks_udf.py:464-482) -------------------
    def dropped_features(self) -> List[str]:
        """Input features removed from the output: ``drop`` names refer
        to the UDF's parameter names (hopsworks_udf.py:44-85) and map
        positionally to the bound features. Unknown names pass through
        as-is (so callers may also drop by actual column name)."""
        out = []
        for d in self.drop:
            if d in self.param_names:
                out.append(self.features[self.param_names.index(d)])
            else:
                out.append(d)
        return out

    def output_names(self, stats: Optional[Dict] = None) -> List[str]:
        if self._output_column_names is not None:
            return self._output_column_names(self.features, stats)
        base = f"{self.name}_{'_'.join(self.features)}"
        if self.multi_output:
            return [f"{base}_{i}" for i in range(len(self.return_types))]
        return [base]

    # -- application -------------------------------------------------------
    def stat_columns(self) -> List[str]:
        """Input columns whose statistics this UDF needs: each declared
        statistics arg name maps positionally to the bound feature
        (parity: statistics args mirror UDF parameters,
        ``hopsworks_udf.py:353-462``)."""
        if self.statistics is None:
            return []
        out = []
        for decl in self.statistics.features:
            idx = self.param_names.index(decl)
            out.append(self.features[idx])
        return out

    def _bind_stats(self, stats: Optional[Dict]):
        """Re-key column-name-keyed ``stats`` to the UDF's declared arg
        names (statistics args mirror UDF parameters)."""
        if self.statistics is None:
            return None
        rekeyed = {}
        for decl in self.statistics.features:
            col = self.features[self.param_names.index(decl)]
            if col in (stats or {}):
                rekeyed[decl] = stats[col]
        return self.statistics.bind(rekeyed)

    def columns(self, stats: Optional[Dict] = None) -> List:
        """Output Columns for one DataFrame select. ``stats`` is keyed by
        actual column name; statistics binding re-keys them to the UDF's
        declared arg names."""
        bound_stats = self._bind_stats(stats)
        names = self.output_names(stats)

        if self._column_expr is not None:
            cols = self._column_expr(
                [F.col(f) for f in self.features], bound_stats
            )
            return [c.alias(n) for c, n in zip(cols, names)]

        # Arrow-vectorized pandas UDF path
        if self.multi_output:
            rt = T.StructType(
                [T.StructField(n, t, True) for n, t in zip(names, self.return_types)]
            )
        else:
            rt = self.return_types[0]

        fn, statics = self.fn, bound_stats

        multi = self.multi_output

        def wrapped(*series):
            out = fn(*series, statistics=statics) if statics is not None else fn(*series)
            if multi:
                # struct fields map by NAME through Arrow; align the
                # user frame's columns to the declared output names
                # (a tuple/list of Series is accepted like the
                # reference's multi-output UDFs)
                if isinstance(out, (tuple, list)):
                    out = pd.concat(list(out), axis=1)
                else:
                    out = out.copy()
                out.columns = names
            return out

        # Spark 4 infers the UDF eval type from type hints — annotate the
        # wrapper to declare Series->Series (or ->DataFrame for struct out)
        wrapped.__annotations__ = {
            "series": pd.Series,
            "return": pd.DataFrame if self.multi_output else pd.Series,
        }
        pudf = F.pandas_udf(wrapped, returnType=rt)
        applied = pudf(*[F.col(f) for f in self.features])
        if self.multi_output:
            return [applied.getField(n).alias(n) for n in names]
        return [applied.alias(names[0])]

    # -- driver-side (pandas) application ----------------------------------
    def supports_pandas(self) -> bool:
        """True when this transformation can run on the driver without a
        Spark job: python UDFs are pandas-native already; builtins need
        their declared ``pandas_expr`` twin."""
        return self._pandas_expr is not None or self._column_expr is None

    def pandas_outputs(self, pdf, stats: Optional[Dict] = None) -> List:
        """Output Series computed driver-side — the ms-latency serving
        twin of :meth:`columns`. Same stats binding, same output naming,
        outputs coerced to the declared return types."""
        bound_stats = self._bind_stats(stats)
        names = self.output_names(stats)
        series = [pdf[f] for f in self.features]
        if self._pandas_expr is not None:
            outs = list(self._pandas_expr(series, bound_stats))
        elif self._column_expr is not None:
            raise NotImplementedError(
                f"{self.name} has no pandas twin; use the Spark path"
            )
        else:
            out = (
                self.fn(*series, statistics=bound_stats)
                if bound_stats is not None
                else self.fn(*series)
            )
            if self.multi_output:
                outs = (
                    list(out)
                    if isinstance(out, (tuple, list))
                    else [out.iloc[:, i] for i in range(out.shape[1])]
                )
            else:
                outs = [out]
        rts = list(self.return_types)
        if len(rts) < len(outs):  # dynamic arity (one-hot): one type for all
            rts = rts + [rts[-1]] * (len(outs) - len(rts))
        coerced = []
        for s, rt in zip(outs, rts):
            dtype = _pandas_dtype_for(rt)
            if dtype is not None:
                try:
                    s = s.astype(dtype)
                except (ValueError, TypeError):
                    pass  # nulls in int columns etc. — keep as computed
            coerced.append(s)
        return coerced


    # -- serialization (parity hopsworks_udf.py:353-566) -------------------
    def to_dict(self) -> Dict:
        """Serializable form, so a registered transformation survives a
        process restart (the reference round-trips UDF source the same
        way). Built-in column-expr transformations serialize by factory
        name + bound features; Python UDFs capture dedented source."""
        if self._column_expr is not None:
            return {
                "kind": "builtin",
                "name": self.name,
                "features": list(self.features),
            }
        import textwrap

        try:
            src = textwrap.dedent(inspect.getsource(self.fn))
        except (OSError, TypeError) as exc:
            raise ValueError(
                f"Cannot serialize transformation {self.name!r}: its source "
                "is unavailable (defined interactively?) — declare it in a "
                "module file to make it registry-serializable"
            ) from exc
        lines = src.splitlines()
        i = 0
        while i < len(lines) and not lines[i].lstrip().startswith("def "):
            i += 1  # strip decorator lines — source is re-declared bare
        return {
            "kind": "python",
            "name": self.name,
            "source": "\n".join(lines[i:]),
            "return_types": [t.simpleString() for t in self.return_types],
            "multi_output": self.multi_output,
            "drop": list(self.drop),
            "mode": self.mode,
            "statistics": self.statistics.features if self.statistics else None,
            "features": list(self.features),
        }

    @classmethod
    def from_dict(cls, d: Dict) -> "TransformationFunction":
        """Revive a serialized transformation. Python sources execute in
        a FRESH namespace (never ``__main__`` — unlike the reference's
        exec-into-module trick, nothing leaks into caller scope)."""
        if d["kind"] == "builtin":
            from . import builtin_transformations as bt

            factory = getattr(bt, d["name"])
            return factory(*d["features"])
        class _Namespace(dict):
            # the captured def may reference enclosing names in default
            # values (the common `statistics=stats` idiom); they resolve
            # to None here — harmless, since bound statistics are passed
            # explicitly at call time
            def __missing__(self, key):
                return None

        namespace: Dict = _Namespace()
        exec(  # noqa: S102 — scoped namespace, reference-parity revive
            compile(d["source"], f"<transformation:{d['name']}>", "exec"),
            namespace,
        )
        fn = namespace[d["name"]]
        stats = (
            TransformationStatistics(*d["statistics"]) if d["statistics"] else None
        )
        rt = d["return_types"] if d["multi_output"] else d["return_types"][0]
        tf = cls(fn, rt, drop=d["drop"], mode=d["mode"], statistics=stats)
        tf.features = list(d["features"])
        return tf

    def to_json(self) -> str:
        import json

        return json.dumps(self.to_dict())

    @classmethod
    def from_json(cls, s: str) -> "TransformationFunction":
        import json

        return cls.from_dict(json.loads(s))


def udf(
    return_type,
    drop: Optional[Sequence[str]] = None,
    mode: str = "model_dependent",
    statistics: Optional[TransformationStatistics] = None,
):
    """Declare a transformation function (parity ``hopsworks_udf.py:44-85``)::

        @udf(float)
        def plus_one(value):
            return value + 1
    """
    _PY = {int: T.LongType(), float: T.DoubleType(), str: T.StringType(), bool: T.BooleanType()}

    def conv(rt):
        return _PY.get(rt, rt)

    rt = [conv(r) for r in return_type] if isinstance(return_type, (list, tuple)) else conv(return_type)

    def deco(fn: Callable) -> TransformationFunction:
        return TransformationFunction(fn, rt, drop=drop, mode=mode, statistics=statistics)

    return deco


def transformation_stats_for(
    transformations: Sequence[TransformationFunction], train_df: DataFrame
) -> Dict[str, Dict]:
    """Compute the train-split statistics every statistics-bound UDF in
    the list needs — once, so multiple splits share one stats pass.

    Per-feature field requirements are unioned across transformations:
    a feature only used by ``min_max_scaler`` gets min/max from the one
    scalar aggregate and skips the distinct/percentile/unique passes
    entirely (``None`` = a custom UDF reads arbitrary fields → full
    profile for that feature)."""
    need: Dict[str, Optional[set]] = {}
    for t in transformations:
        flds = getattr(t, "stat_fields", None)
        for f in t.stat_columns():
            if flds is None:
                need[f] = None
            elif f not in need:
                need[f] = set(flds)
            elif need[f] is not None:
                need[f].update(flds)
    if not need:
        return {}
    from ..operators.statistics import transformation_statistics

    return transformation_statistics(train_df, sorted(need), fields=need)


def apply_transformations(
    df: DataFrame,
    transformations: Sequence[TransformationFunction],
    train_df: Optional[DataFrame] = None,
    stats: Optional[Dict[str, Dict]] = None,
) -> DataFrame:
    """Apply transformations, dropping declared inputs, ordered
    deterministically by output column name (``feature_view.py:405``).
    Statistics-bound UDFs get stats computed on ``train_df`` (the train
    split — ``core/transformation_function_engine.py:198-259``); pass
    precomputed ``stats`` to share one stats pass across splits.

    Two phases in the reference's order (vector_server.py:924-978):
    on-demand UDFs whose outputs aren't materialized yet run FIRST, so
    model-dependent UDFs may consume on-demand outputs; each phase is
    ONE select (parity ``engine/spark.py:1267-1328``).

    When the statistics come from ``df`` itself (no ``stats``, no other
    ``train_df``) and some transformation is statistics-bound, ``df``
    is materialized ONCE (an eager ``localCheckpoint``, parity
    ``engine/spark.py:703``) and both the statistics pass and the
    returned projection read that checkpoint: the upstream (PIT-join)
    plan runs once instead of once per consumer. The call is then
    eager and the returned rows are fixed at call time. The checkpoint
    frees itself when the frame is garbage-collected; streaming frames
    stay lazy."""
    transformations = list(transformations)
    same_frame = train_df is None or train_df is df
    # ON_DEMAND UDFs whose outputs are already materialized (ingest-time
    # insert wrote them) are skipped entirely — the serving contract is
    # "compute on demand only when absent" (vector_server.py:924-978);
    # re-applying them here would emit a duplicate output column.
    transformations = [
        t for t in transformations
        if not (
            t.mode == TransformationFunction.ON_DEMAND
            and all(n in df.columns for n in t.output_names())
        )
    ]
    pending_od = [
        t for t in transformations
        if t.mode == TransformationFunction.ON_DEMAND
        and t.output_names()[0] not in df.columns
    ]
    rest = [t for t in transformations if t not in pending_od]
    if pending_od and rest:
        df = _apply_one_phase(df, pending_od, None)
        if not same_frame:
            train_df = _apply_one_phase(train_df, pending_od, None)
        transformations = rest
    if stats is None:
        if same_frame:
            if not df.isStreaming and any(
                t.stat_columns() for t in transformations
            ):
                df = df.localCheckpoint(eager=True)
            train_df = df
        stats = transformation_stats_for(transformations, train_df)
    return _apply_one_phase(df, transformations, stats)


def _pandas_dtype_for(dt: T.DataType) -> Optional[str]:
    """numpy dtype matching a Spark scalar type (None = leave as-is)."""
    if isinstance(dt, T.DoubleType):
        return "float64"
    if isinstance(dt, T.FloatType):
        return "float32"
    if isinstance(dt, T.LongType):
        return "int64"
    if isinstance(dt, T.IntegerType):
        return "int32"
    if isinstance(dt, T.BooleanType):
        return "bool"
    return None


def supports_pandas_path(
    transformations: Sequence[TransformationFunction],
) -> bool:
    """True when every transformation can run driver-side in pandas."""
    return all(t.supports_pandas() for t in transformations)


def apply_transformations_pandas(
    pdf,
    transformations: Sequence[TransformationFunction],
    stats: Optional[Dict[str, Dict]] = None,
):
    """Driver-side twin of :func:`apply_transformations` for ms-latency
    serving: SAME TransformationFunction objects, SAME phase order
    (pending on-demand first, then the rest sorted by output name), SAME
    drop semantics — applied to a pandas frame with zero Spark jobs.
    ``stats`` must be the precomputed (train-split) statistics; this
    path never computes stats itself (a serving request is not a
    statistical population)."""
    transformations = [
        t for t in transformations
        if not (
            t.mode == TransformationFunction.ON_DEMAND
            and all(n in pdf.columns for n in t.output_names())
        )
    ]
    pending_od = [
        t for t in transformations
        if t.mode == TransformationFunction.ON_DEMAND
        and t.output_names()[0] not in pdf.columns
    ]
    rest = [t for t in transformations if t not in pending_od]
    if pending_od and rest:
        pdf = _apply_one_phase_pandas(pdf, pending_od, stats)
        transformations = rest
    return _apply_one_phase_pandas(pdf, transformations, stats)


def _apply_one_phase_pandas(
    pdf,
    transformations: Sequence[TransformationFunction],
    stats: Optional[Dict[str, Dict]],
):
    ordered = sorted(transformations, key=lambda t: t.output_names(stats)[0])
    drop = {d for t in ordered for d in t.dropped_features()}
    out = pdf[[c for c in pdf.columns if c not in drop]].copy()
    # all outputs evaluate against the INPUT frame — one-select parity
    for t in ordered:
        for n, s in zip(t.output_names(stats), t.pandas_outputs(pdf, stats)):
            out[n] = s
    return out


def _apply_one_phase(
    df: DataFrame,
    transformations: Sequence[TransformationFunction],
    stats: Optional[Dict[str, Dict]],
) -> DataFrame:
    if stats is None:
        stats = transformation_stats_for(transformations, df)
    ordered = sorted(transformations, key=lambda t: t.output_names(stats)[0])
    # only explicitly declared drops are removed (reference default keeps
    # UDF inputs in the output; builtins declare drop="feature")
    drop = {d for t in ordered for d in t.dropped_features()}
    keep = [F.col(c) for c in df.columns if c not in drop]
    new_cols = [c for t in ordered for c in t.columns(stats)]
    return df.select(*keep, *new_cols)
