"""Point-in-time (as-of) join.

Parity target: the reference's server-generated ``pit_query`` /
``pit_query_asof`` (surfaced at
``/root/reference/python/hsfs/constructor/fs_query.py:32-43,77-82``,
selected at ``constructor/query.py:597-607``): for each left (spine)
row, pick from EACH right feature group the latest row with
``right.event_time <= left.event_time``, per primary key, with LEFT
semantics (no match → NULL features).

One union-window kernel (:func:`_pit_union_window_many`) serves one
feature group or N groups that share their keys. It tags spine and
feature rows, unions them, and runs one running
``max(struct(ts, precombine, payload))`` per feature group over one
window per key ordered by (event time, side). Cost = ONE hash shuffle
of (spine + features) on the join key, however many groups ride it —
no range-join row explosion, and the sort key is just (ts, side): the
payload rides in the commutative agg buffer, not in every sort record.
Ties (right.ts == left.ts) are included by sorting feature rows before
spine rows at equal timestamps; multiple feature rows at the same
timestamp resolve by the precombine tie-break
(``core/hudi_engine.py:141-149``), then by the lexicographic max
payload (total deterministic order).

The ``strategy`` names pick how the kernel runs its window:

* ``union_window`` (default): one plain running-max window.
* ``union_window_skew``: the running max decomposed into time-range
  buckets — a zipfian hot key spreads across ``skew_buckets``
  partitions instead of serializing one partition's sort. Output
  hash-identical to ``union_window``.
* ``auto``: a two-job skew probe per feature group (freqItems
  candidates + one scalar verify agg) picks between the two.

``range_join`` is the one other algorithm: left join on
``key AND right.ts <= left.ts`` then ``row_number() == 1`` per spine
row ordered by right.ts desc. Quadratic per key in the worst case, but
the right side can be broadcast when small — useful when features ≪
spine, and the reference the kernel is tested against.
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


def staleness_delta(max_staleness):
    """The one TTL parser: a validated ``max_staleness`` as a
    ``datetime.timedelta`` (interval strings in any case, timedeltas),
    the number itself for numeric event times, or None."""
    max_staleness = validate_max_staleness(max_staleness)
    if isinstance(max_staleness, str):
        m = _STALENESS_RE.match(max_staleness)
        return _dt.timedelta(**{m.group(2).lower() + "s": int(m.group(1))})
    return max_staleness


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
    keys = list(keys)
    spec = {
        "df": feature_df, "feature_ts": feature_ts, "features": features,
        "prefix": prefix, "precombine": precombine,
        "max_staleness": validate_max_staleness(max_staleness),
    }
    if strategy == "range_join":
        features, out_names = _spec_outputs(spec, keys, set(spine.columns))
        return _pit_range_join(
            spine, feature_df, keys, spine_ts, feature_ts, features,
            out_names, precombine, spec["max_staleness"],
        )
    return _pit_union_window_many(
        spine, [spec], keys, spine_ts,
        skew=_use_skew(strategy, [feature_df], keys),
        skew_buckets=skew_buckets,
    )


def _use_skew(strategy: str, feature_dfs, keys) -> bool:
    """Whether the kernel runs the time-bucketed running max:
    ``union_window_skew`` always, ``union_window`` never, ``auto`` when
    the skew probe finds a hot key in any feature group."""
    if strategy == "auto":
        return any(_pit_skew_probe(df, keys) for df in feature_dfs)
    if strategy in ("union_window", "union_window_skew"):
        return strategy == "union_window_skew"
    raise ValueError(f"Unknown PIT strategy {strategy!r}")


def _spec_outputs(spec: dict, keys, taken: set):
    """A spec's feature columns (default: every column but the keys and
    the event time) and their output names. Each name is added to
    ``taken``; one already there raises."""
    feature_df, feature_ts = spec["df"], spec["feature_ts"]
    features = spec.get("features")
    if features is None:
        features = [
            c for c in feature_df.columns if c not in keys and c != feature_ts
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
    return features, out_names


def _staleness_cutoff(ts_col, max_staleness):
    """spine_ts - TTL: the oldest feature timestamp still usable. A
    temporal TTL becomes a typed DayTimeIntervalType literal (no string
    ever reaches ``F.expr``); a numeric one subtracts as a number."""
    return ts_col - F.lit(staleness_delta(max_staleness))


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


def _bucketed_running_max(
    unioned: DataFrame, keys, cand_cols: List[str], skew_buckets: int
):
    """Two-stage (time-bucket) decomposition of per-key running maxes
    over a tagged union frame. Returns the side=1 rows with one
    ``__match_<cand>`` column per entry of ``cand_cols``, or ``None``
    when bucketing is degenerate (empty input / single distinct ts) and
    the caller should fall back to the plain single window.

    Because max is commutative/associative, a prefix max decomposes
    exactly: for a row in bucket b,

        match = max( running-max within bucket b up to the row,
                     max over ALL rows of buckets < b )

    Stage 1 windows partition on (key, ts-bucket) — per-partition work
    is ~1/skew_buckets of the hot key. Stage 2's carry-in is a window
    over the per-(key, bucket) maxima — ``skew_buckets`` rows per key —
    joined back on (key, bucket), an equi-join AQE can further split if
    one bucket is still hot. Equal timestamps land in the same bucket by
    construction, so the tie semantics are the plain window's."""
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
    ``precombine``, ``max_staleness``. Mirrors the multi-FG PIT query of
    a FeatureView (``constructor/fs_query.py:32-43``).

    When every feature group joins on the SAME keys (the common
    FeatureView shape, one group included), all of them fuse into ONE
    union + ONE window carrying a running max per feature group — a
    single hash shuffle of (spine + all features) instead of one shuffle
    per feature group. N-FG PIT at 100 TB is then exactly as many
    shuffles as 1-FG PIT. ``auto`` probes every group once and runs the
    fused window bucketed if any of them is skewed. Mixed key sets join
    one group at a time; so does ``range_join``, which has no fused
    form.
    """
    def keys_of(spec):
        return list(spec.get("keys") or spine_keys_default or [])

    key_sets = {tuple(keys_of(s)) for s in rights}
    if strategy != "range_join" and len(key_sets) == 1:
        keys = keys_of(rights[0])
        return _pit_union_window_many(
            spine, rights, keys, spine_ts,
            skew=_use_skew(strategy, [s["df"] for s in rights], keys),
        )
    out = spine
    for spec in rights:
        out = point_in_time_join(
            out,
            spec["df"],
            keys=keys_of(spec),
            spine_ts=spine_ts,
            feature_ts=spec["feature_ts"],
            features=spec.get("features"),
            prefix=spec.get("prefix"),
            precombine=spec.get("precombine"),
            strategy=strategy,
            max_staleness=spec.get("max_staleness"),
        )
    return out


def _pit_union_window_many(
    spine: DataFrame, specs: List[dict], keys: List[str], spine_ts: str,
    skew: bool = False, skew_buckets: int = 32,
) -> DataFrame:
    """The union-window as-of kernel for N >= 1 feature groups joined on
    the same ``keys`` (``specs`` entries as in
    :func:`point_in_time_join_many`).

    Each feature group becomes one (ts[, precombine], payload) candidate
    struct COLUMN, NULL on every other side's rows; all of them ride one
    union (feature sides first, the spine last) and one window sort, and
    the running max of each resolves independently. Feature rows
    (side=0) sort before spine rows (side=1) at equal ts, so an
    exact-tie feature row IS visible to the spine row (<= match). The
    match is the running lexicographic MAX of (ts, precombine, payload)
    over the expanding frame: latest ts wins, then max precombine, then
    max payload — a TOTAL deterministic pick, so duplicate feature rows
    can never flip the answer between runs (or against the SQL oracle).
    Because max is commutative, tie ORDER among equal-(ts, side) rows is
    irrelevant, which keeps the window SORT KEY at just (ts, side) — the
    payload rides in the O(1)/row incremental agg buffer instead of
    fattening every sort record (round 2 sorted by the full payload
    struct: +60% on b4).

    ``skew=True``: the running maxes decompose into time-range buckets
    (:func:`_bucketed_running_max`) so ONE hot key spreads over
    ``skew_buckets`` partitions instead of serializing its millions of
    rows into a single partition's sort (the plain window's worst case
    at 100 TB with zipfian keys — AQE skew-join handles joins, not
    windows). Output is hash-identical to the plain window; on empty
    input or a single distinct timestamp the bucketing is degenerate and
    the plain window runs instead.

    Each group's ``max_staleness`` nulls its features when the match is
    older than the spine timestamp minus that TTL."""
    taken = set(spine.columns)
    groups = []
    for spec in specs:
        features, out_names = _spec_outputs(spec, keys, taken)
        groups.append(
            {
                "df": spec["df"],
                "ts": spec["feature_ts"],
                "features": features,
                "out_names": out_names,
                "pre": spec.get("precombine"),
                "ttl": validate_max_staleness(spec.get("max_staleness")),
            }
        )
    recover = _pit_recover_map(
        spine, keys, spine_ts,
        [{f.name: f.dataType for f in g["df"].schema.fields} for g in groups],
        [g["df"].schema[g["ts"]].dataType for g in groups],
    )
    carry = [c for c in spine.columns if c not in recover]
    cands = [f"__cand{i}" for i in range(len(groups))]
    cand_types = [
        _cand_struct_type(g["df"], g["ts"], g["features"], g["pre"])
        for g in groups
    ]

    sides = []
    for i, g in enumerate(groups):
        cand_fields = [F.col(g["ts"]).alias("t")]
        if g["pre"]:
            cand_fields.append(F.col(g["pre"]).cast("double").alias("p"))
        cand_fields.append(
            F.struct(*[F.col(f) for f in g["features"]]).alias("v")
        )
        sides.append(
            g["df"].select(
                *[F.col(k) for k in keys],
                F.col(g["ts"]).alias("__ts"),
                F.lit(0).alias("__side"),
                *[
                    F.struct(*cand_fields).alias(c)
                    if j == i
                    else F.lit(None).cast(t).alias(c)
                    for j, (c, t) in enumerate(zip(cands, cand_types))
                ],
                *[
                    F.lit(None).cast(spine.schema[c].dataType).alias(f"__s_{c}")
                    for c in carry
                ],
            )
        )
    sides.append(
        spine.select(
            *[F.col(k) for k in keys],
            F.col(spine_ts).alias("__ts"),
            F.lit(1).alias("__side"),
            *[F.lit(None).cast(t).alias(c) for c, t in zip(cands, cand_types)],
            *[F.col(c).alias(f"__s_{c}") for c in carry],
        )
    )
    unioned = sides[0]
    for side in sides[1:]:
        unioned = unioned.unionByName(side)

    matched = (
        _bucketed_running_max(unioned, keys, cands, skew_buckets)
        if skew else None
    )
    if matched is None:
        w = (
            Window.partitionBy(*keys)
            .orderBy(F.col("__ts").asc(), F.col("__side").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        matched = unioned
        for c in cands:
            matched = matched.withColumn(f"__match_{c}", F.max(c).over(w))
        matched = matched.where(F.col("__side") == 1)

    def field(c, g, f):
        v = F.col(f"__match_{c}").getField("v").getField(f)
        if g["ttl"] is None:
            return v
        # __ts on the surviving (side=1) rows IS the spine timestamp
        fresh = F.col(f"__match_{c}").getField("t") >= _staleness_cutoff(
            F.col("__ts"), g["ttl"]
        )
        return F.when(fresh, v)

    return matched.select(
        *[
            (F.col(recover[c]) if c in recover else F.col(f"__s_{c}"))
            .alias(c)
            for c in spine.columns
        ],
        *[
            field(c, g, f).alias(n)
            for c, g in zip(cands, groups)
            for f, n in zip(g["features"], g["out_names"])
        ],
    )
