"""Per-entity time-series feature operators: lags, deltas, trailing
rolling aggregates.

The reference computes point-in-time features but leaves within-entity
history features (previous value, change since last event, trailing-1h
mean) to the user; a training-data pipeline needs them as first-class
operators. All are single-shuffle window plans: one hash exchange on
the entity key, per-partition sort, whole-stage-codegen window frames —
no Python, no row explosion.

Scale notes (100 TB): the shuffle is on the entity key, so skew follows
the hottest entity. Unlike latest-per-key, these produce one OUTPUT row
per input row, so the map-side-combine trick cannot apply — for
pathological keys, bound the history first (event-time filter) or
pre-aggregate to a coarser grain.
"""

from __future__ import annotations

from typing import Dict, Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["lag_features", "rolling_features", "label_window_join"]


def lag_features(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_cols: Sequence[str],
    lags: Sequence[int] = (1,),
    deltas: bool = True,
    order_tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Previous values and change-since-previous per entity.

    Adds ``<col>_lag<n>`` for each requested lag and (``deltas=True``)
    ``<col>_delta`` = current − lag-1. Ordering is (ts, *tiebreak) so
    ties cannot reorder rows between runs."""
    order = [F.col(ts_col).asc()] + [F.col(c).asc() for c in order_tiebreak]
    w = Window.partitionBy(*keys).orderBy(*order)
    out = df
    for c in value_cols:
        for n in lags:
            out = out.withColumn(f"{c}_lag{n}", F.lag(F.col(c), n).over(w))
        if deltas:
            out = out.withColumn(
                f"{c}_delta", F.col(c) - F.lag(F.col(c), 1).over(w)
            )
    return out


def rolling_features(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    trailing: str = "1 hour",
    aggs: Optional[Dict[str, Column]] = None,
) -> DataFrame:
    """Trailing-range aggregates per row: for each event, aggregate the
    entity's events in ``[t - trailing, t]`` (both ends inclusive —
    Spark ``RANGE BETWEEN`` semantics, mirrored by the SQL oracle).

    Implemented as a RANGE window over epoch MICROSECONDS (whole-second
    truncation would flip boundary rows vs sub-second-precise engines),
    so rows with equal timestamps share one frame regardless of sort
    ties."""
    from pyspark.sql import types as T

    micros = _interval_seconds(trailing) * 1_000_000
    dt = df.schema[ts_col].dataType
    if isinstance(dt, T.TimestampNTZType):
        # TZ-free epoch for naive timestamps
        epoch = F.expr(
            f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', `{ts_col}`)"
        )
    else:
        epoch = F.unix_micros(F.col(ts_col))
    w = (
        Window.partitionBy(*keys)
        .orderBy(epoch)
        .rangeBetween(-micros, 0)
    )
    out = df
    named = aggs or {
        "trailing_cnt": F.count(F.lit(1)),
        "trailing_sum": F.sum(value_col),
        "trailing_avg": F.avg(value_col),
        "trailing_min": F.min(value_col),
        "trailing_max": F.max(value_col),
    }
    for name, expr in named.items():
        out = out.withColumn(name, expr.over(w))
    return out


_UNITS = {
    "second": 1, "seconds": 1, "minute": 60, "minutes": 60,
    "hour": 3600, "hours": 3600, "day": 86400, "days": 86400,
    "week": 604800, "weeks": 604800,
}


def _interval_seconds(spec: str) -> int:
    parts = spec.strip().split()
    if len(parts) != 2 or parts[1].lower() not in _UNITS:
        raise ValueError(
            f"trailing must look like '2 hours', got {spec!r}"
        )
    return int(parts[0]) * _UNITS[parts[1].lower()]


def _axis_micros(df: DataFrame, ts_col: str):
    """Numeric RANGE-frame axis for a timestamp-ish column: epoch
    MICROSECONDS for temporal types (micro, not second, resolution —
    whole-second truncation flips boundary rows), the value cast to
    long for integral numeric event times."""
    from pyspark.sql import types as T

    dt = df.schema[ts_col].dataType
    if isinstance(dt, T.TimestampNTZType):
        return F.expr(
            f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', `{ts_col}`)"
        )
    if isinstance(dt, (T.TimestampType,)):
        return F.unix_micros(F.col(ts_col))
    if isinstance(dt, T.DateType):
        return F.datediff(F.col(ts_col), F.lit("1970-01-01")).cast("long") * F.lit(
            86_400_000_000
        )
    return F.col(ts_col).cast("long")


_LABEL_AGGS = ("count", "sum", "avg", "min", "max")


def label_window_join(
    spine: DataFrame,
    events: DataFrame,
    keys: Sequence[str],
    spine_ts: str,
    event_ts: str,
    value_col: str,
    horizon,
    aggs: Sequence[str] = ("count", "sum"),
    prefix: str = "label_",
) -> DataFrame:
    """Forward label construction: for each spine row, aggregate the
    entity's events STRICTLY AFTER the spine timestamp up to (and
    including) ``spine_ts + horizon`` — "did/what the user do in the
    next N days", the label side of a training set. The PIT join looks
    backward for features; this looks forward for labels, and using
    both against one spine guarantees no feature/label time overlap
    (leakage) by construction.

    Spark-first shape (same posture as the PIT union-window): tag and
    union spine + events on the key, ONE window per key ordered by the
    numeric time axis with a ``RANGE BETWEEN 1 FOLLOWING AND horizon
    FOLLOWING`` frame, conditional aggregates over event rows only —
    one hash shuffle of (spine + events), no row explosion no matter
    how many events fall in each horizon (a range join would produce
    |spine-row × events-in-horizon| intermediates before re-grouping).

    ``horizon``: interval string ('7 days'), ``datetime.timedelta``, or
    a number (for integral numeric event times; temporal axes resolve
    at microseconds, so "strictly after" = +1 us). ``aggs`` from
    {count, sum, avg, min, max}; ``count`` counts event ROWS (null
    values included), the value aggregates skip null values. Rows with
    no in-horizon events get count 0 and NULL value aggregates (LEFT
    semantics, spine preserved).

    Scale: one shuffle on the key; a zipfian hot key serializes its
    sort like any per-key window — bound the horizon or pre-bucket as
    in pit_join's skew strategy if an entity can dominate."""
    import datetime as _dt

    from ..operators.pit_join import staleness_delta

    keys = list(keys)
    bad = [a for a in aggs if a not in _LABEL_AGGS]
    if bad:
        raise ValueError(f"Unknown label aggs {bad}; choose from {_LABEL_AGGS}")
    delta = staleness_delta(horizon)
    if delta is None:
        raise ValueError("horizon is required")
    if isinstance(delta, _dt.timedelta):
        span = delta // _dt.timedelta(microseconds=1)
    else:
        span = int(delta)
    if span <= 0:
        raise ValueError(f"horizon must be positive, got {horizon!r}")

    # key columns equal the union key on side=1 rows — recover them
    # from the union itself instead of shipping a `__s_<k>` twin
    # through the shuffle (r15, guide §2.3), unless a type mismatch
    # means the union would coerce the key column's type
    spine_fields = {f.name: f.dataType for f in spine.schema.fields}
    ev_fields = {f.name: f.dataType for f in events.schema.fields}
    recover = {
        k: k for k in keys
        if k in spine_fields and ev_fields.get(k) == spine_fields[k]
    }
    carry = [c for c in spine.columns if c not in recover]
    ev_side = events.select(
        *[F.col(k) for k in keys],
        _axis_micros(events, event_ts).alias("__ax"),
        F.lit(0).alias("__side"),
        F.col(value_col).cast("double").alias("__v"),
        *[
            F.lit(None).cast(spine.schema[c].dataType).alias(f"__s_{c}")
            for c in carry
        ],
    )
    spine_side = spine.select(
        *[F.col(k) for k in keys],
        _axis_micros(spine, spine_ts).alias("__ax"),
        F.lit(1).alias("__side"),
        F.lit(None).cast("double").alias("__v"),
        *[F.col(c).alias(f"__s_{c}") for c in carry],
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__ax").asc())
        .rangeBetween(1, span)
    )
    is_event = F.col("__side") == 0
    exprs = {
        "count": F.count(F.when(is_event, F.lit(1))),
        "sum": F.sum(F.when(is_event, F.col("__v"))),
        "avg": F.avg(F.when(is_event, F.col("__v"))),
        "min": F.min(F.when(is_event, F.col("__v"))),
        "max": F.max(F.when(is_event, F.col("__v"))),
    }
    u = ev_side.unionByName(spine_side)
    for a in aggs:
        u = u.withColumn(f"{prefix}{a}", exprs[a].over(w))
    return u.where(F.col("__side") == 1).select(
        *[
            (F.col(recover[c]) if c in recover else F.col(f"__s_{c}"))
            .alias(c)
            for c in spine.columns
        ],
        *[F.col(f"{prefix}{a}") for a in aggs],
    )
