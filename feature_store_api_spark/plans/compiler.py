"""Query → DataFrame compiler.

This replaces the reference's remote SQL generation boundary
(``/root/reference/python/hsfs/core/query_constructor_api.py:23-31`` →
server-built SQL strings in ``constructor/fs_query.py:26-62``) with a
local, declarative compile to DataFrame operations. Catalyst then does
predicate pushdown, column pruning, join strategy selection and AQE —
nothing here hand-schedules physical execution.

Semantics compiled (parity ``constructor/query.py``):
  * per-feature-group source binding, with time-travel bounds
  * join chain with explicit / inferred (pk-intersection) keys,
    USING-style key merge when the key names match on both sides
  * right-side ``prefix`` renaming (``constructor/join.py:43,51``)
  * projection pruning before each join (keeps only selected features,
    join keys, and filter-referenced columns — so Catalyst's pruning
    reaches the scans and unrelated name collisions can't poison a join)
  * ambiguity detection (``constructor/query.py:661-752``)
  * filters applied as one conjunction over the joined result (WHERE
    semantics — ``constructor/query.py:775-785``); filters of semi/anti
    sub-queries are applied to the right side BEFORE the join, since
    their columns don't survive
  * final projection in declaration order
  * as-of mode (``PitRead``, FeatureView reads): the one planner of
    point-in-time reads (parity: one constructor builds both ``query``
    and ``pit_query``, ``constructor/fs_query.py:32-43``)
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass
from typing import List, Optional, Set, Tuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..constructor.filter import filters_to_column, normalize_filters
from ..constructor.join import JoinType
from ..feature import autofix_feature_name
from ..operators.pit_join import point_in_time_join_many, staleness_delta


@dataclass(frozen=True)
class PitRead:
    """As-of mode of :func:`compile_query`, passed by FeatureView reads.

    The root reads ``spine`` when given (every spine column passes
    through), else the left feature group. When the left group has an
    event time, a join whose group has one is compiled like any other
    join (keys, prefixes, nested joins, defaults, hints), keeps its
    event time and precombine key, has its right keys aliased to the
    left key names, and becomes one ``point_in_time_join_many`` spec;
    all specs run in ONE call after the plain joins, so groups sharing
    the spine keys fuse into one union + window. A PIT-joined group's
    event time stays out of the output. Its ``join_type`` applies to
    the as-of match: ``inner`` keeps the spine rows that have one,
    ``left_semi`` does too but adds no features, ``left_anti`` keeps
    the rows without one (a TTL-expired match counts as none; semi and
    anti apply the side's own filter before the match); ``right``,
    ``full`` and ``cross`` raise.

    ``start_ms``/``end_ms`` (epoch millis) are the EVENT-time window
    the caller re-applies exactly on the plan (``get_batch_data``);
    here they only become source pushdown hints, so date/time
    partitioned history prunes files instead of full-scanning (parity:
    the reference embeds the range per FG server-side,
    ``core/feature_view_engine.py:187-244,411-436``):

    * the spine side gets BOTH bounds — spine rows outside the window
      are dropped by the exact root predicate anyway;
    * each PIT feature side gets ``event_time < end`` always: with
      every surviving spine row at ``spine_ts < end``, a feature row at
      ``feature_ts >= end`` can never win the as-of match;
    * a feature side gets the LOWER bound ``start - max_staleness``
      only when its group declares a TTL: a surviving spine row can
      only pick ``feature_ts >= spine_ts - staleness >= start -
      staleness``. Without a TTL an older row may still be the as-of
      match inside the window, so no lower bound is pushed;
    * a PIT side never receives its own query filter as a hint: that
      filter applies after the as-of match (WHERE semantics)."""

    spine: Optional[DataFrame] = None
    strategy: str = "union_window"
    start_ms: Optional[int] = None
    end_ms: Optional[int] = None


def _event_bound_hint(fg, start_ms=None, end_ms=None):
    """Filter IR hint over ``fg``'s event-time column for an event-time
    window, or None when it can't be expressed safely.

    Only TIMESTAMP-declared event times produce a hint: the root
    predicate compares ``timestamp_millis(ms)``, so a datetime value is
    instant-identical under the engine's pinned-UTC session; a LONG
    event time has unknowable units and a DATE needs day-boundary
    rounding — both skip (skipping a hint is always sound, it just
    doesn't prune).

    The hint rides ``read_source(filters=)``: managed groups push only
    its partition-key subtree pre-merge (commit_store contract),
    file-backed externals apply it as a pre-plan predicate Catalyst
    pushes into the scan."""
    et = fg.event_time
    if not et:
        return None
    ftype = None
    for f in (getattr(fg, "_features", None) or []):
        if f.name == et:
            t = f.type  # declared as a string OR a Spark DataType
            ftype = (
                t.simpleString() if hasattr(t, "simpleString")
                else str(t or "")
            ).lower()
            break
    if ftype not in ("timestamp", "timestamp_ntz"):
        return None

    def ms_to_dt(ms):
        return _dt.datetime(1970, 1, 1) + _dt.timedelta(milliseconds=int(ms))

    leaves = []
    if start_ms is not None:
        leaves.append((et, ">=", ms_to_dt(start_ms)))
    if end_ms is not None:
        leaves.append((et, "<", ms_to_dt(end_ms)))
    return leaves or None


def _normalize_columns(df: DataFrame) -> DataFrame:
    """Sanitize incoming column names (parity ``engine/spark.py:302-338``)."""
    renames = {c: autofix_feature_name(c) for c in df.columns}
    if all(k == v for k, v in renames.items()):
        return df
    return df.select([F.col("`" + c.replace("`", "``") + "`").alias(n)
                      for c, n in renames.items()])


def _join_keys(q, join) -> Tuple[List[str], List[str]]:
    """Resolve one join's key lists: explicit, or the maximal matching
    subset of the two sides' primary keys (constructor/query.py:246-249)."""
    fg = q.left_feature_group
    if join.on:
        keys = [autofix_feature_name(k) for k in join.on]
        return keys, keys
    if join.left_on:
        return (
            [autofix_feature_name(k) for k in join.left_on],
            [autofix_feature_name(k) for k in join.right_on],
        )
    if join.join_type == JoinType.CROSS:
        return [], []
    rpk = set(join.query.left_feature_group.primary_key)
    keys = [k for k in fg.primary_key if k in rpk]
    if not keys:
        raise ValueError(
            f"No join keys: primary keys of {fg.name!r} and "
            f"{join.query.left_feature_group.name!r} share no names; "
            "pass on= or left_on=/right_on="
        )
    return keys, keys


def _compile_node(
    q,
    spark: SparkSession,
    online: bool,
    filter_refs: Set[Tuple[int, str]],
    extra_keep: Tuple[str, ...] = (),
    skip_filters: bool = False,
    pit: Optional[PitRead] = None,
    window: Optional[Tuple[Optional[int], Optional[int]]] = None,
):
    """Compile one Query node. ``pit`` (root only) selects the as-of
    mode; ``window`` marks a PIT-joined side and carries its event
    window (``PitRead`` has the rules).

    Returns ``(df, selected_outnames, colmap, pending)`` where ``colmap``
    maps ``(id(feature_group), feature_name) -> column name in df`` and
    ``pending`` is the list of Logic trees still to be applied at the
    root (semi/anti sub-query filters are consumed inline).
    """
    fg = q.left_feature_group
    # pushdown HINT: when this node's own filter references ONLY this
    # FG's features, hand it to the source — Iceberg prunes manifests
    # / data files on it and SQL sources emit WHERE text (reference
    # parity: iceberg-spark planFiles / JDBC pushdown). The exact
    # predicate is STILL applied at the plan root below, so sources
    # that ignore the hint lose nothing but I/O.
    flt_hint = None
    # never push when the caller will NOT apply the root predicate
    # (skip_filters preview contract) or when latest-per-key resolution
    # runs first (online): pre-filtering the source would resurrect
    # superseded versions / filter the preview sample
    if not skip_filters and not online and q._filter is not None:
        try:
            refs = q._filter.referenced_features()
        except Exception:
            refs = None
        # default-valued features are excluded: the root predicate
        # evaluates coalesce(col, default) while every pushed evaluator
        # (source where, SQL WHERE, file pruning) sees the raw column —
        # a NULL that coalesces into a match would be dropped at the
        # source
        if refs and all(
            f.feature_group is fg and f.default_value is None
            for f in refs
        ):
            flt_hint = q._filter
    # projection HINT: the columns this node can possibly keep from its
    # source — selected features, keys a parent join needs, this node's
    # own join keys, and filter-referenced features of this FG. File
    # sources ignore it (Catalyst prunes columns into the scan); SQL
    # sources project DATABASE-side so wide tables don't ship unused
    # columns. Names the source cannot resolve are simply dropped from
    # the pushed projection (a default-valued feature may legitimately
    # be absent), never an error.
    cols_hint: Optional[List[str]] = None
    if not skip_filters:
        cols_hint = []
        for c in (
            [f.name for f in q.left_features]
            + list(extra_keep)
            + [k for j in q.joins for k in _join_keys(q, j)[0]]
            + [f.name for f in fg.features if (id(fg), f.name) in filter_refs]
            # identity/ordering columns stay readable even when
            # unselected: online latest-per-key resolution and
            # downstream tooling key on them
            + list(fg.primary_key)
            + list(getattr(fg, "partition_key", []) or [])
            + ([fg.event_time] if fg.event_time else [])
            + ([getattr(fg, "precombine_key", None)]
               if getattr(fg, "precombine_key", None) else [])
        ):
            if c not in cols_hint:
                cols_hint.append(c)
    # event-window HINT (``PitRead`` has the rules): a PIT side pushes
    # its window only — its own filter applies after the as-of match
    if window is not None:
        flt_hint = None
    elif pit is not None:
        window = (pit.start_ms, pit.end_ms)
    bounds = _event_bound_hint(fg, *window) if window else None
    if bounds:
        flt_hint = bounds if flt_hint is None else [flt_hint, *bounds]
    spine = pit.spine if pit is not None else None
    if spine is not None:
        df = spine
    else:
        df = _normalize_columns(
            fg.read_source(
                spark, q.start_time, q.end_time,
                filters=flt_hint, columns=cols_hint,
            )
        )
    if online:
        df = _latest_per_key(df, fg)
    as_of = pit is not None and bool(fg.event_time)

    colmap = {(id(fg), f.name): f.name for f in fg.features if f.name in df.columns}
    sel = list(df.columns) if spine is not None else [f.name for f in q.left_features]
    # pending filters are SCOPED: each carries the column map of the
    # sub-query it was attached to, so a self-join's two sides resolve
    # the same Feature to their own columns (the reference gets this via
    # per-alias SQL scoping, constructor/query.py:698-752)
    pending: List = []

    # columns this node's own frame must keep: selected + join keys
    # (this node's left keys, and keys a parent join needs from us) +
    # filter-referenced features of this FG. A left key not present in
    # this source may be produced by one of this node's own joins —
    # validated at join time, so only keys present here are kept.
    own_keys = [k for j in q.joins for k in _join_keys(q, j)[0]]
    own_filter_cols = [
        name
        for (fgid, fname), name in colmap.items()
        if (fgid, fname) in filter_refs
    ]
    # default values (parity feature.py:200-207, feature_group.py:853):
    # a feature appended after data was written is absent from old
    # commits — materialize it as its default; NULLs in present columns
    # also fall back to the default
    for feat in q.left_features:
        if feat.default_value is None:
            continue
        default = F.lit(feat.default_value)
        if feat.type is not None:
            default = default.cast(feat.type)
        if feat.name not in df.columns:
            df = df.withColumn(feat.name, default)
        else:
            df = df.withColumn(feat.name, F.coalesce(F.col(feat.name), default))

    missing_sel = [c for c in sel if c not in df.columns]
    if missing_sel:
        raise KeyError(
            f"Columns {missing_sel} not present in source of {fg.name!r}"
        )
    missing_extra = [c for c in extra_keep if c not in df.columns]
    if missing_extra:
        raise KeyError(
            f"Join key(s) {missing_extra} not present in {fg.name!r}"
        )
    keep = []
    for c in sel + list(extra_keep) + own_filter_cols:
        if c not in keep:
            keep.append(c)
    for c in own_keys + ([fg.event_time] if as_of else []):
        if c in df.columns and c not in keep:
            keep.append(c)
    df = df.select(*keep)
    colmap = {k: v for k, v in colmap.items() if v in keep}

    if q._filter is not None:
        pending.append((q._filter, colmap))

    specs: List[dict] = []
    matches: List[Tuple[str, str]] = []
    for join in q.joins:
        how = join.join_type
        lkeys, rkeys = _join_keys(q, join)
        rfg = join.query.left_feature_group
        extra, side = tuple(rkeys), None
        if as_of and rfg.event_time:
            if how in (JoinType.RIGHT, JoinType.FULL, JoinType.CROSS):
                raise ValueError(
                    f"A {how!r} join to {rfg.name!r} has no as-of meaning: "
                    "a group with an event time is as-of joined in a view "
                    "read; use left, inner, left_semi or left_anti"
                )
            pre = getattr(rfg, "precombine_key", None)
            extra += (rfg.event_time,) + ((pre,) if pre else ())
            ttl = staleness_delta(getattr(rfg, "max_staleness", None))
            lower = None
            if pit.start_ms is not None and isinstance(ttl, _dt.timedelta):
                lower = pit.start_ms - ttl // _dt.timedelta(milliseconds=1)
            side = (lower, pit.end_ms)
        rdf, rsel, rcolmap, rpending = _compile_node(
            join.query, spark, online, filter_refs,
            extra_keep=extra, skip_filters=skip_filters, window=side,
        )
        semi = how in (JoinType.LEFT_SEMI, JoinType.LEFT_ANTI)
        if semi:
            # right-side filters can't apply post-join (nor, as-of, after
            # the match); consume them now
            for logic, scope in rpending:
                rdf = rdf.where(_scoped_column(logic, scope))
        using = bool(lkeys) and lkeys == rkeys
        absent = [k for k in lkeys if k not in df.columns]
        if absent:
            raise KeyError(
                f"Left join key(s) {absent} not available when joining "
                f"{join.query.left_feature_group.name!r}; select them or "
                "order joins so the producing join comes first"
            )

        if side:
            # as-of join: right keys aliased to the left key names; the
            # selected and filter-referenced columns ride as features
            rdf = rdf.select(
                *[F.col(r).alias(l) for l, r in zip(lkeys, rkeys)],
                *[c for c in rdf.columns if c not in lkeys],
            )
            wanted = set() if semi else set(rsel) | {
                v for k, v in rcolmap.items() if k in filter_refs
            }
            feats = [
                c for c in rdf.columns
                if c in wanted and c not in lkeys and c != rfg.event_time
            ]
            marker = []
            if how != JoinType.LEFT:
                # a non-null constant rides as one more feature: it is
                # NULL exactly when the spine row has no as-of match (or
                # a TTL-expired one), which a NULL feature can't tell
                marker = [f"__pit_match{len(specs)}"]
                rdf = rdf.withColumn(marker[0], F.lit(True))
                matches.append((how, (join.prefix or "") + marker[0]))
            specs.append({
                "df": rdf, "keys": lkeys, "feature_ts": rfg.event_time,
                "features": feats + marker, "prefix": join.prefix,
                "precombine": pre,
                "max_staleness": getattr(rfg, "max_staleness", None),
            })
            if semi:
                continue
            ren = dict(zip(rkeys, lkeys))
            ren.update((c, (join.prefix or "") + c) for c in feats)
        elif semi:
            rdf = rdf.select(*[F.col(k) for k in rkeys])
            if using:
                df = df.join(rdf, on=list(rkeys), how=how)
            else:
                df = df.join(rdf, on=_eq_cond(lkeys, rkeys), how=how)
            continue
        else:
            # prefix rename on the right (parity join.py:43,51); USING
            # keys keep their name so Spark merges them
            ren = {
                c: c if using and c in rkeys else (join.prefix or "") + c
                for c in rdf.columns
            }
            # collision handling: a collision on a USER-SELECTED column
            # is an ambiguity error; a filter-only column is aliased
            # internally
            merge_keys = set(rkeys) if using else set()
            left_cols = set(df.columns)
            tmp_i = 0
            for c in list(ren):
                n = ren[c]
                if n in left_cols and n not in merge_keys:
                    if c in rsel:
                        raise ValueError(
                            f"Ambiguous column {n!r} on both sides of join "
                            f"with {rfg.name!r}; use prefix="
                        )
                    ren[c] = f"__j{id(join) % 10007}_{tmp_i}_{n}"
                    tmp_i += 1

            if any(k != v for k, v in ren.items()):
                rdf = rdf.select([F.col(c).alias(n) for c, n in ren.items()])
            rkeys = [ren[k] for k in rkeys]
            if how == JoinType.CROSS:
                df = df.crossJoin(rdf)
            elif using:
                df = df.join(rdf, on=list(rkeys), how=how)
            else:
                df = df.join(rdf, on=_eq_cond(lkeys, rkeys), how=how)

        for logic, scope in rpending:
            pending.append((logic, {k: ren.get(v, v) for k, v in scope.items()}))
        sel.extend(ren[s] for s in rsel if s in ren)
        for key, v in rcolmap.items():
            if v in ren and key not in colmap:
                colmap[key] = ren[v]

    if specs:
        df = point_in_time_join_many(
            df, specs, spine_ts=fg.event_time, strategy=pit.strategy,
        )
    # join types of as-of joins; the markers drop out of the final
    # projection
    for how, marker in matches:
        hit = F.col(marker).isNotNull()
        df = df.where(~hit if how == JoinType.LEFT_ANTI else hit)
    return df, sel, colmap, pending


def _eq_cond(lkeys: List[str], rkeys: List[str]) -> Column:
    cond = None
    for l, r in zip(lkeys, rkeys):
        c = F.col(l) == F.col(r)
        cond = c if cond is None else (cond & c)
    return cond


def _latest_per_key(df: DataFrame, fg) -> DataFrame:
    """Online view: newest row per primary key (parity of the online
    store's upsert semantics, SURVEY §2.5 / ``core/hudi_engine.py:141-149``)."""
    from ..operators.dedup import latest_per_key

    if not fg.primary_key or not fg.event_time:
        return df
    pre = getattr(fg, "precombine_key", None)
    return latest_per_key(
        df, fg.primary_key, order_by=[fg.event_time],
        tie_breakers=[pre] if pre else [],
    )


def _colmap_name(colmap):
    """Filter leaf -> plan column: the feature's own group entry in
    ``colmap``, else the one column of that feature name."""
    def name(feature) -> str:
        fg = feature.feature_group
        if fg is not None:
            col = colmap.get((id(fg), feature.name))
            if col is not None:
                return col
        hits = {v for (fgid, fname), v in colmap.items() if fname == feature.name}
        if len(hits) == 1:
            return next(iter(hits))
        if len(hits) > 1:
            raise ValueError(f"Ambiguous filter feature {feature.name!r}")
        raise KeyError(f"Filter feature {feature.name!r} not found in plan")

    return name


def _scoped_column(logic, colmap) -> Column:
    return filters_to_column(normalize_filters(logic, name=_colmap_name(colmap)))


def compile_query(
    q, spark: SparkSession, online: bool = False, skip_filters: bool = False,
    pit: Optional[PitRead] = None,
) -> DataFrame:
    """``skip_filters=True`` compiles the plan WITHOUT the query's
    WHERE conditions — the online-preview contract: the reference's
    preview statement strips everything from `` WHERE `` and appends
    LIMIT (``core/online_store_sql_engine.py:464-465``); it also hands
    sources no filter/projection hints. ``pit`` is the as-of mode of
    FeatureView reads (:class:`PitRead`)."""
    logic_all = q.filters
    filter_refs = (
        {
            (id(f.feature_group), f.name)
            for f in logic_all.referenced_features()
            if f.feature_group is not None
        }
        if logic_all is not None
        else set()
    )
    df, sel, colmap, pending = _compile_node(
        q, spark, online, filter_refs, skip_filters=skip_filters, pit=pit,
    )

    cond = None
    if not skip_filters:
        for logic, scope in pending:
            c = _scoped_column(logic, scope)
            cond = c if cond is None else (cond & c)
    if cond is not None:
        df = df.where(cond)

    # final projection, declaration order, first occurrence wins
    out, seen = [], set()
    for name in sel:
        if name not in seen:
            seen.add(name)
            out.append(name)
    return df.select(*out)


def compile_query_online(q, spark: SparkSession) -> DataFrame:
    """Online read: every feature group collapsed to latest-per-key
    before the join/filter plan (parity ``constructor/query.py:135-207``
    ``online=True`` path)."""
    return compile_query(q, spark, online=True)
