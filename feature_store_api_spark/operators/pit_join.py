"""Point-in-time (as-of) join.

Parity target: the reference's server-generated ``pit_query`` /
``pit_query_asof`` (surfaced at
``/root/reference/python/hsfs/constructor/fs_query.py:32-43,77-82``,
selected at ``constructor/query.py:597-607``): for each left (spine)
row, pick from the right feature group the latest row with
``right.event_time <= left.event_time``, per primary key, with LEFT
semantics (no match → NULL features).

Two physical strategies, both pure DataFrame ops:

* ``union_window`` (default, the 100 TB path): tag spine and feature
  rows, union them, and run one running ``max(struct(ts, precombine,
  payload))`` window per key ordered by (event time, side). Cost = ONE
  hash shuffle of (spine + features) on the join key — no range-join
  row explosion, no matter how many feature rows precede each spine
  row — and the sort key is just (ts, side): the payload rides in the
  commutative agg buffer, not in every sort record. Ties
  (right.ts == left.ts) are included by sorting feature rows before
  spine rows at equal timestamps; multiple feature rows at the same
  timestamp resolve by the precombine tie-break
  (``core/hudi_engine.py:141-149``), then by the lexicographic max
  payload (total deterministic order).

* ``range_join``: left join on ``key AND right.ts <= left.ts`` then
  ``row_number() == 1`` per spine row ordered by right.ts desc. Quadratic
  per key in the worst case, but the right side can be broadcast when
  small — useful when features ≪ spine.

* ``union_window_skew``: the union-window's running max decomposed
  into time-range buckets — a zipfian hot key spreads across
  ``skew_buckets`` partitions instead of serializing one partition's
  sort. Output hash-identical to ``union_window``.

* ``auto``: a two-job skew probe (freqItems candidates + one scalar
  verify agg) picks between ``union_window`` and ``union_window_skew``.
"""

from __future__ import annotations

import datetime as _dt
import re
from typing import List, Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plan_memo import memo, plan_key

_SPINE_UID = "__spine_uid"

# strict TTL grammar: "<n> <unit>" with a whitelisted unit. Anything
# else (typos, stray parens, injection attempts) is rejected at the
# API boundary with a clear ValueError instead of surfacing as an
# opaque Catalyst INTERVAL parse error — or worse, silently altering
# the freshness predicate — far from the call site.
_STALENESS_RE = re.compile(
    r"^\s*(\d+)\s+(millisecond|second|minute|hour|day|week)s?\s*$",
    re.IGNORECASE,
)


def validate_max_staleness(max_staleness):
    """Validate/normalize a feature-TTL value at the API boundary.

    Accepted: ``None``; a ``datetime.timedelta`` (the typed path); a
    non-negative int/float (numeric event times); or an interval string
    matching ``'<n> <millisecond|second|minute|hour|day|week>[s]'``.
    Returns the value unchanged (timedelta included). Raises
    ``ValueError`` otherwise — BEFORE anything reaches
    ``F.expr(f"INTERVAL ...")``.
    """
    if max_staleness is None:
        return None
    if isinstance(max_staleness, _dt.timedelta):
        if max_staleness < _dt.timedelta(0):
            raise ValueError(
                f"max_staleness must be non-negative, got {max_staleness!r}"
            )
        return max_staleness
    if isinstance(max_staleness, bool):
        raise ValueError(f"Invalid max_staleness: {max_staleness!r}")
    if isinstance(max_staleness, (int, float)):
        if max_staleness < 0:
            raise ValueError(
                f"max_staleness must be non-negative, got {max_staleness!r}"
            )
        return max_staleness
    if isinstance(max_staleness, str):
        if _STALENESS_RE.match(max_staleness):
            return max_staleness
        raise ValueError(
            f"Invalid max_staleness interval {max_staleness!r}: expected "
            "'<n> <millisecond|second|minute|hour|day|week>[s]' (e.g. "
            "'30 days', '6 hours'), a datetime.timedelta, or a number "
            "for numeric event times"
        )
    raise ValueError(
        f"Invalid max_staleness type {type(max_staleness).__name__!r}: "
        "expected interval string, datetime.timedelta, or number"
    )


def point_in_time_join(
    spine: DataFrame,
    feature_df: DataFrame,
    keys: Sequence[str],
    spine_ts: str,
    feature_ts: str,
    features: Optional[Sequence[str]] = None,
    prefix: Optional[str] = None,
    precombine: Optional[str] = None,
    strategy: str = "union_window",
    max_staleness=None,
    skew_buckets: int = 32,
) -> DataFrame:
    """As-of join one feature DataFrame onto a spine.

    Returns the spine columns (unchanged, duplicates preserved) plus the
    selected ``features`` (renamed with ``prefix`` if given) from the
    latest feature row at-or-before each spine row's timestamp.

    ``max_staleness`` (feature TTL, the Feast-style freshness bound): a
    feature older than ``spine_ts - max_staleness`` is treated as
    EXPIRED — the joined columns come back NULL instead of silently
    serving stale state. Interval string ('30 days') for timestamps, a
    number for numeric event times. Under the range strategy the bound
    also prunes candidates BEFORE the join (tighter row explosion on
    hot keys).

    EAGERNESS: ``strategy='auto'`` and ``'union_window_skew'`` run
    scan-only prep jobs at CALL time (the skew probe; the bucket-bounds
    min/max) rather than being fully lazy like the other strategies.
    Both results are memoized per (application, plan, leaf file set)
    (``plan_memo``), so repeated calls over the same files pay them
    once; a frame that lists no files pays them on every call."""
    max_staleness = validate_max_staleness(max_staleness)
    keys = list(keys)
    if features is None:
        features = [
            c for c in feature_df.columns if c not in keys and c != feature_ts
        ]
    features = list(features)
    out_names = [(prefix + f) if prefix else f for f in features]
    for n in out_names:
        if n in spine.columns:
            raise ValueError(
                f"PIT output column {n!r} collides with a spine column; use prefix="
            )

    if strategy == "auto":
        strategy = (
            "union_window_skew"
            if _pit_skew_probe(feature_df, keys)
            else "union_window"
        )
    if strategy == "union_window":
        return _pit_union_window(
            spine, feature_df, keys, spine_ts, feature_ts, features,
            out_names, precombine, max_staleness,
        )
    if strategy == "union_window_skew":
        return _pit_union_window_skew(
            spine, feature_df, keys, spine_ts, feature_ts, features,
            out_names, precombine, max_staleness, skew_buckets=skew_buckets,
        )
    if strategy == "range_join":
        return _pit_range_join(
            spine, feature_df, keys, spine_ts, feature_ts, features,
            out_names, precombine, max_staleness,
        )
    raise ValueError(f"Unknown PIT strategy {strategy!r}")


def _staleness_cutoff(ts_col, max_staleness):
    """spine_ts - TTL: the oldest feature timestamp still usable.
    ``max_staleness`` is an INTERVAL string ('30 days', '6 hours') or a
    ``datetime.timedelta`` for temporal timestamps, or a number for
    numeric event times. Callers validate via
    ``validate_max_staleness`` before this interpolates anything."""
    if isinstance(max_staleness, _dt.timedelta):
        # lit(timedelta) → DayTimeIntervalType literal: the typed path,
        # no string interpolation at all
        return ts_col - F.lit(max_staleness)
    if isinstance(max_staleness, str):
        m = _STALENESS_RE.match(max_staleness)
        if not m:  # defense in depth behind validate_max_staleness
            raise ValueError(f"Invalid max_staleness {max_staleness!r}")
        # re-render from the PARSED parts — only vetted tokens reach expr
        return ts_col - F.expr(f"INTERVAL {int(m.group(1))} {m.group(2).upper()}")
    return ts_col - F.lit(max_staleness)


def _pit_skew_probe(
    feature_df: DataFrame,
    keys: Sequence[str],
    support: float = 0.02,
) -> bool:
    """Does any single key hold > ``support`` of all feature rows?

    Two cheap single-pass jobs, NO shuffle: (1) ``stat.freqItems``
    (Karp/Misra-Gries counter sketch, partials merged on the driver)
    proposes candidate hot keys — it can produce FALSE POSITIVES on
    uniform data, so (2) one scalar aggregate verifies the candidates'
    true counts against ``support * total``. A hot key serializes the
    plain union-window's per-key sort onto one partition; the skew
    strategy is output-identical, so dispatching to it on a confirmed
    candidate is always safe.

    The verdict is memoized per (application, feature plan, leaf file
    set, keys) (``plan_memo``): repeated reads of the same files probe
    ONCE, not once per PIT call (``strategy='auto'`` otherwise re-scans
    the feature table twice per call — real money at 100 TB)."""

    def probe() -> bool:
        probe_col = (
            F.col(keys[0]).cast("string")
            if len(keys) == 1
            else F.concat_ws("\x1f", *[F.col(k).cast("string") for k in keys])
        )
        sample = feature_df.select(probe_col.alias("__k"))
        cand = sample.stat.freqItems(["__k"], support=support).first()[0]
        if not cand:
            return False
        # verify EVERY candidate: freqItems(support=s) returns at most
        # ~1/s entries (50 at the default), so the verify agg stays one
        # bounded scalar row — an arbitrary truncation here could drop
        # the one true hot key when a sketch-churned tail precedes it
        cand = list(cand)
        row = sample.agg(
            F.count(F.lit(1)).alias("__n"),
            *[
                F.sum((F.col("__k") == F.lit(c)).cast("long")).alias(f"__c{i}")
                for i, c in enumerate(cand)
            ],
        ).first()
        total = row["__n"] or 0
        return total > 0 and any(
            (row[f"__c{i}"] or 0) > support * total for i in range(len(cand))
        )

    return memo(plan_key("pit_probe", feature_df, tuple(keys), support), probe)


def _cand_struct_type(feature_df, feature_ts, features, precombine):
    """The (t[, p], v) candidate struct's type, built Python-side from
    the feature frame's (cached) schema — analyzing the constructed
    side frame instead costs one Catalyst round trip PER feature group
    per call (~100 ms of driver latency on the fused multi-FG path).

    Without a precombine key the ``p`` field is omitted entirely
    (r15): it was a constant 0.0 riding every feature row through the
    union shuffle and the window agg buffers — 8 bytes/row of pure
    ballast. The running max's total order is unchanged: with ``p``
    constant, comparison fell through to ``v`` exactly as (t, v)
    does."""
    from pyspark.sql import types as T

    fields = {f.name: f for f in feature_df.schema.fields}
    struct = [
        T.StructField("t", fields[feature_ts].dataType,
                      fields[feature_ts].nullable),
    ]
    if precombine:
        struct.append(T.StructField("p", T.DoubleType(), True))
    struct.append(
        T.StructField(
            "v",
            T.StructType(
                [
                    T.StructField(f, fields[f].dataType, fields[f].nullable)
                    for f in features
                ]
            ),
            False,
        )
    )
    return T.StructType(struct)


def _pit_recover_map(spine, keys, spine_ts, feature_schemas, feature_ts_types):
    """Spine columns recoverable from the union's own columns instead
    of riding the shuffle twice as ``__s_<c>`` ballast (r15, guide
    §2.3 "project before the exchange"):

    * a key column equals the union key on side=1 rows — recoverable
      whenever NO feature side's key type widens the union column
      (unionByName would otherwise change the output type);
    * the spine timestamp equals ``__ts`` on side=1 rows — recoverable
      when every feature_ts has the identical type.

    Returns ``{spine_col: union_col}``. Everything else still rides as
    ``__s_<c>``."""
    recover = {}
    spine_fields = {f.name: f.dataType for f in spine.schema.fields}
    for k in keys:
        if k in spine_fields and all(
            fs.get(k) == spine_fields[k] for fs in feature_schemas
        ):
            recover[k] = k
    if (
        spine_ts in spine_fields
        and spine_ts not in recover
        and all(t == spine_fields[spine_ts] for t in feature_ts_types)
    ):
        recover[spine_ts] = "__ts"
    return recover


def _pit_build_union(
    spine, feature_df, keys, spine_ts, feature_ts, features, precombine
):
    """The shared union frame both union-window strategies sort: keys +
    ``__ts`` + ``__side`` (0=feature, 1=spine) + the ``__cand``
    (ts[, precombine], payload) struct (NULL on spine rows so running
    maxes skip them) + the NON-recoverable spine payload columns (NULL
    on feature rows; key/spine_ts columns are recovered from the union
    itself — see :func:`_pit_recover_map`)."""
    payload = F.struct(*[F.col(f) for f in features])
    cand_fields = [F.col(feature_ts).alias("t")]
    if precombine:
        cand_fields.append(F.col(precombine).cast("double").alias("p"))
    cand_fields.append(payload.alias("v"))
    cand = F.struct(*cand_fields)
    cand_type = _cand_struct_type(feature_df, feature_ts, features, precombine)
    recover = _pit_recover_map(
        spine, keys, spine_ts,
        [{f.name: f.dataType for f in feature_df.schema.fields}],
        [feature_df.schema[feature_ts].dataType],
    )
    carry = [c for c in spine.columns if c not in recover]

    fg_side = feature_df.select(
        *[F.col(k) for k in keys],
        F.col(feature_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        cand.alias("__cand"),
        *[F.lit(None).cast(spine.schema[c].dataType).alias(f"__s_{c}")
          for c in carry],
    )
    spine_side = spine.select(
        *[F.col(k) for k in keys],
        F.col(spine_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(cand_type).alias("__cand"),
        *[F.col(c).alias(f"__s_{c}") for c in carry],
    )
    return fg_side.unionByName(spine_side), recover


def _pit_project_out(matched, spine, features, out_names, max_staleness,
                     recover):
    """Final projection shared by the union-window strategies: restore
    spine columns (recoverable ones straight from the union columns),
    unpack the matched payload, apply the TTL null-out."""
    if max_staleness is not None:
        # __ts on the surviving (side=1) rows IS the spine timestamp
        fresh = F.col("__match").getField("t") >= _staleness_cutoff(
            F.col("__ts"), max_staleness
        )
        out_cols = [
            F.when(fresh, F.col("__match").getField("v").getField(f))
            .alias(n)
            for f, n in zip(features, out_names)
        ]
    else:
        out_cols = [
            F.col("__match").getField("v").getField(f).alias(n)
            for f, n in zip(features, out_names)
        ]
    return matched.select(
        *[
            (F.col(recover[c]) if c in recover else F.col(f"__s_{c}"))
            .alias(c)
            for c in spine.columns
        ],
        *out_cols,
    )


def _pit_union_window(
    spine, feature_df, keys, spine_ts, feature_ts, features, out_names,
    precombine, max_staleness=None,
) -> DataFrame:
    # feature rows (side=0) sort before spine rows (side=1) at equal ts,
    # so an exact-tie feature row IS visible to the spine row (<= match).
    # The match is the running lexicographic MAX of (ts, precombine,
    # payload) over the expanding frame: latest ts wins, then max
    # precombine, then max payload — a TOTAL deterministic pick, so
    # duplicate feature rows can never flip the answer between runs (or
    # against the SQL oracle). Because max is commutative, tie ORDER
    # among equal-(ts, side) rows is irrelevant, which keeps the window
    # SORT KEY at just (ts, side) — the payload rides in the O(1)/row
    # incremental agg buffer instead of fattening every sort record
    # (round 2 sorted by the full payload struct: +60% on b4).
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__ts").asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    unioned, recover = _pit_build_union(
        spine, feature_df, keys, spine_ts, feature_ts, features, precombine
    )
    matched = unioned.withColumn(
        "__match", F.max(F.col("__cand")).over(w)
    ).where(F.col("__side") == 1)
    return _pit_project_out(
        matched, spine, features, out_names, max_staleness, recover
    )


def _bucketed_running_max(
    unioned: DataFrame, keys, cand_cols: List[str], skew_buckets: int
):
    """Shared two-stage (time-bucket) decomposition of per-key running
    maxes over a tagged union frame. Returns the side=1 rows with one
    ``__match_<cand>`` column per entry of ``cand_cols``, or ``None``
    when bucketing is degenerate (empty input / single distinct ts) and
    the caller should fall back to the plain single window."""
    ts_t = unioned.schema["__ts"].dataType.typeName()
    if ts_t in ("timestamp", "timestamp_ntz"):
        axis = F.unix_micros(F.col("__ts").cast("timestamp"))
    elif ts_t == "date":
        axis = F.datediff(F.col("__ts"), F.lit("1970-01-01")).cast("long")
    else:
        axis = F.col("__ts").cast("double")
    unioned = unioned.withColumn("__axis", axis)
    # bucket bounds: one column-pruned min/max agg, memoized per plan
    # and file set — a repeated skew PIT over the same files pays this
    # scan only once (any monotone bucketing gives the same output, so
    # the bounds matter for balance only, not correctness)
    lo, hi = memo(
        plan_key("pit_bounds", unioned),
        lambda: tuple(unioned.agg(F.min("__axis"), F.max("__axis")).first()),
    )
    if lo is None or hi is None or not (hi > lo):
        return None
    width = (float(hi) - float(lo)) / skew_buckets
    bucket = F.least(
        F.floor((F.col("__axis") - F.lit(float(lo))) / F.lit(width)),
        F.lit(skew_buckets - 1),
    ).cast("int")
    unioned = unioned.withColumn("__bkt", bucket).drop("__axis")

    w_local = (
        Window.partitionBy(*keys, "__bkt")
        .orderBy(F.col("__ts").asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = unioned
    for c in cand_cols:
        staged = staged.withColumn(f"__local_{c}", F.max(c).over(w_local))

    w_carry = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__bkt").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = unioned.groupBy(*keys, "__bkt").agg(
        *[F.max(c).alias(f"__bmax_{c}") for c in cand_cols]
    )
    for c in cand_cols:
        carry = carry.withColumn(
            f"__carry_{c}", F.max(f"__bmax_{c}").over(w_carry)
        )
    # NULL join keys: groupBy/Window.partitionBy treat NULL as one group,
    # so the carry re-attach must match NULLs too — a plain equi-join
    # would silently drop the cross-bucket carry for NULL-keyed rows and
    # diverge from the plain union_window output. eqNullSafe (<=>) keeps
    # this a hash-joinable equi-condition (no cartesian fallback).
    carry = carry.select(
        *[F.col(k).alias(f"__ck_{k}") for k in keys],
        F.col("__bkt").alias("__ck_bkt"),
        *[f"__carry_{c}" for c in cand_cols],
    )
    join_cond = F.col("__bkt") == F.col("__ck_bkt")
    for k in keys:
        join_cond = join_cond & F.col(k).eqNullSafe(F.col(f"__ck_{k}"))
    matched = (
        staged.join(carry, on=join_cond, how="left")
        .drop("__ck_bkt", *[f"__ck_{k}" for k in keys])
        .where(F.col("__side") == 1)
    )
    for c in cand_cols:
        matched = matched.withColumn(
            f"__match_{c}",
            F.greatest(F.col(f"__local_{c}"), F.col(f"__carry_{c}")),
        )
    return matched


def _fused_skew_match(unioned, keys, n_cands: int, skew_buckets: int):
    """Multi-candidate skew decomposition; falls back to the plain
    fused window on degenerate bucketing."""
    cand_cols = [f"__cand{i}" for i in range(n_cands)]
    matched = _bucketed_running_max(unioned, keys, cand_cols, skew_buckets)
    if matched is None:
        w = (
            Window.partitionBy(*keys)
            .orderBy(F.col("__ts").asc(), F.col("__side").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        matched = unioned
        for i in range(n_cands):
            matched = matched.withColumn(
                f"__match{i}", F.max(F.col(f"__cand{i}")).over(w)
            )
        return matched.where(F.col("__side") == 1)
    for i in range(n_cands):
        matched = matched.withColumn(f"__match{i}", F.col(f"__match___cand{i}"))
    return matched


def _pit_union_window_skew(
    spine, feature_df, keys, spine_ts, feature_ts, features, out_names,
    precombine, max_staleness=None, skew_buckets: int = 32,
) -> DataFrame:
    """Skew-safe union-window PIT: a running max decomposed into
    time-range buckets so ONE hot key spreads over ``skew_buckets``
    partitions instead of serializing its millions of rows into a
    single partition's sort (the plain strategy's worst case at 100 TB
    with zipfian keys — AQE skew-join handles joins, not windows).

    Because max is commutative/associative, a prefix max decomposes
    exactly: for a row in bucket b,

        match = max( running-max within bucket b up to the row,
                     max over ALL rows of buckets < b )

    Stage 1 windows partition on (key, ts-bucket) — per-partition work
    is ~1/skew_buckets of the hot key. Stage 2's carry-in is a window
    over the per-(key, bucket) maxima — ``skew_buckets`` rows per key,
    trivially small — joined back on (key, bucket), an equi-join AQE
    can further split if one bucket is still hot. Bucket bounds come
    from one min/max agg over the union (a columnar scan Spark answers
    from statistics where available). Output is hash-identical to the
    plain strategy: same total (ts, precombine, payload) max, same tie
    semantics (equal timestamps land in the same bucket by
    construction)."""
    unioned, recover = _pit_build_union(
        spine, feature_df, keys, spine_ts, feature_ts, features, precombine
    )
    matched = _bucketed_running_max(unioned, keys, ["__cand"], skew_buckets)
    if matched is None:
        # empty input or a single distinct timestamp: bucketing is
        # degenerate (everything lands in bucket 0) — the plain
        # single-window path is both correct and cheaper
        return _pit_union_window(
            spine, feature_df, keys, spine_ts, feature_ts, features,
            out_names, precombine, max_staleness,
        )
    matched = matched.withColumn("__match", F.col("__match___cand"))
    return _pit_project_out(
        matched, spine, features, out_names, max_staleness, recover
    )


def _pit_range_join(
    spine, feature_df, keys, spine_ts, feature_ts, features, out_names,
    precombine, max_staleness=None,
) -> DataFrame:
    uid = F.monotonically_increasing_id()
    s = spine.withColumn(_SPINE_UID, uid)
    carry = [f for f in features if f not in keys]
    if precombine and precombine not in carry and precombine not in keys:
        carry.append(precombine)
    r = feature_df.select(
        *[F.col(k).alias(f"__r_{k}") for k in keys],
        F.col(feature_ts).alias("__r_ts"),
        *[F.col(f).alias(f"__r_{f}") for f in carry],
    )
    cond = None
    for k in keys:
        c = F.col(k) == F.col(f"__r_{k}")
        cond = c if cond is None else (cond & c)
    cond = cond & (F.col("__r_ts") <= F.col(spine_ts))
    if max_staleness is not None:
        # TTL prunes candidates BEFORE the join — bounds the per-key
        # row explosion to the staleness window
        cond = cond & (
            F.col("__r_ts")
            >= _staleness_cutoff(F.col(spine_ts), max_staleness)
        )
    joined = s.join(r, on=cond, how="left")

    order = [F.col("__r_ts").desc_nulls_last()]
    if precombine:
        order.append(F.col(f"__r_{precombine}").desc_nulls_last())
    # full-tie determinism: the carried payload itself breaks remaining
    # ties, matching the union+window strategy and the SQL oracles
    order.append(
        F.struct(*[F.col(f"__r_{f}") for f in carry]).desc_nulls_last()
    )
    w = Window.partitionBy(_SPINE_UID).orderBy(*order)
    picked = (
        joined.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
    )
    return picked.select(
        *[F.col(c) for c in spine.columns],
        *[
            F.col(f"__r_{f}").alias(n)
            for f, n in zip(features, out_names)
        ],
    )


def point_in_time_join_many(
    spine: DataFrame,
    rights: List[dict],
    spine_keys_default: Optional[Sequence[str]] = None,
    spine_ts: str = "ts",
    strategy: str = "union_window",
) -> DataFrame:
    """As-of join several feature groups onto one spine.

    ``rights`` entries: dicts with ``df``, ``feature_ts``, optional
    ``keys`` (default ``spine_keys_default``), ``features``, ``prefix``,
    ``precombine``. Mirrors the multi-FG PIT query of a FeatureView
    (``constructor/fs_query.py:32-43``).

    When every feature group joins on the SAME keys (the common
    FeatureView shape) and no per-spec strategy override is given, all
    of them fuse into ONE union + ONE window carrying a running max per
    feature group — a single hash shuffle of (spine + all features)
    instead of one shuffle per feature group. N-FG PIT at 100 TB is
    then exactly as many shuffles as 1-FG PIT. Mixed keys or explicit
    strategies fall back to the sequential per-FG joins.
    """
    if (
        strategy in ("union_window", "union_window_skew")
        and len(rights) > 1
        and all("strategy" not in spec for spec in rights)
    ):
        key_sets = {
            tuple(spec.get("keys") or list(spine_keys_default or []))
            for spec in rights
        }
        if len(key_sets) == 1:
            return _pit_union_window_many(
                spine, rights, list(key_sets.pop()), spine_ts,
                skew=(strategy == "union_window_skew"),
            )
    out = spine
    for spec in rights:
        out = point_in_time_join(
            out,
            spec["df"],
            keys=spec.get("keys") or list(spine_keys_default or []),
            spine_ts=spine_ts,
            feature_ts=spec["feature_ts"],
            features=spec.get("features"),
            prefix=spec.get("prefix"),
            precombine=spec.get("precombine"),
            strategy=spec.get("strategy", strategy),
            max_staleness=spec.get("max_staleness"),
        )
    return out


def _pit_union_window_many(
    spine: DataFrame, rights: List[dict], keys: List[str], spine_ts: str,
    skew: bool = False, skew_buckets: int = 32,
) -> DataFrame:
    """Fused multi-FG union-window PIT: one (ts, pre, payload) candidate
    struct COLUMN per feature group, all riding the same union and the
    same window sort — the running max of each resolves independently
    with the identical total tie order as the single-FG path.

    ``skew=True``: the same time-range-bucket decomposition as the
    single-FG ``union_window_skew``, generalized to N candidate
    columns — N feature groups against a zipfian spine still cost ONE
    (bucketed) shuffle instead of N sequential skew-safe joins."""
    specs = []
    taken = set(spine.columns)
    for i, spec in enumerate(rights):
        feature_df = spec["df"]
        feature_ts = spec["feature_ts"]
        features = spec.get("features")
        if features is None:
            features = [
                c for c in feature_df.columns
                if c not in keys and c != feature_ts
            ]
        features = list(features)
        prefix = spec.get("prefix")
        out_names = [(prefix + f) if prefix else f for f in features]
        for n in out_names:
            if n in taken:
                raise ValueError(
                    f"PIT output column {n!r} collides with a spine or "
                    "earlier feature column; use prefix="
                )
            taken.add(n)
        specs.append(
            {
                "df": feature_df,
                "ts": feature_ts,
                "features": features,
                "out_names": out_names,
                "pre": spec.get("precombine"),
                "ttl": validate_max_staleness(spec.get("max_staleness")),
            }
        )

    recover = _pit_recover_map(
        spine, keys, spine_ts,
        [{f.name: f.dataType for f in s["df"].schema.fields} for s in specs],
        [s["df"].schema[s["ts"]].dataType for s in specs],
    )
    carry = [c for c in spine.columns if c not in recover]

    sides = []
    cand_types = {}
    for i, s in enumerate(specs):
        cand_fields = [F.col(s["ts"]).alias("t")]
        if s["pre"]:
            cand_fields.append(F.col(s["pre"]).cast("double").alias("p"))
        cand_fields.append(
            F.struct(*[F.col(f) for f in s["features"]]).alias("v")
        )
        cand = F.struct(*cand_fields)
        side = s["df"].select(
            *[F.col(k) for k in keys],
            F.col(s["ts"]).alias("__ts"),
            F.lit(0).alias("__side"),
            cand.alias(f"__cand{i}"),
        )
        cand_types[i] = _cand_struct_type(
            s["df"], s["ts"], s["features"], s["pre"]
        )
        sides.append((i, side))

    fg_sides = []
    for i, side in sides:
        fg_sides.append(
            side.select(
                *[F.col(k) for k in keys],
                "__ts",
                "__side",
                *[
                    F.col(f"__cand{j}")
                    if j == i
                    else F.lit(None).cast(cand_types[j]).alias(f"__cand{j}")
                    for j in range(len(specs))
                ],
                *[
                    F.lit(None).cast(spine.schema[c].dataType).alias(f"__s_{c}")
                    for c in carry
                ],
            )
        )
    spine_side = spine.select(
        *[F.col(k) for k in keys],
        F.col(spine_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        *[
            F.lit(None).cast(cand_types[j]).alias(f"__cand{j}")
            for j in range(len(specs))
        ],
        *[F.col(c).alias(f"__s_{c}") for c in carry],
    )

    unioned = spine_side
    for fg in fg_sides:
        unioned = unioned.unionByName(fg)
    if skew:
        matched = _fused_skew_match(unioned, keys, len(specs), skew_buckets)
    else:
        w = (
            Window.partitionBy(*keys)
            .orderBy(F.col("__ts").asc(), F.col("__side").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        matched = unioned
        for i in range(len(specs)):
            matched = matched.withColumn(
                f"__match{i}", F.max(F.col(f"__cand{i}")).over(w)
            )
        matched = matched.where(F.col("__side") == 1)

    def _field(i, s, f):
        v = F.col(f"__match{i}").getField("v").getField(f)
        if s["ttl"] is None:
            return v
        fresh = F.col(f"__match{i}").getField("t") >= _staleness_cutoff(
            F.col("__ts"), s["ttl"]
        )
        return F.when(fresh, v)

    return matched.select(
        *[
            (F.col(recover[c]) if c in recover else F.col(f"__s_{c}"))
            .alias(c)
            for c in spine.columns
        ],
        *[
            _field(i, s, f).alias(n)
            for i, s in enumerate(specs)
            for f, n in zip(s["features"], s["out_names"])
        ],
    )
