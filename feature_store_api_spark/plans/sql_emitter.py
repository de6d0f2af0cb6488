"""SQL emission for Query plans: ``query.to_string()``.

The reference returns server-generated SQL for a query
(``constructor/query.py:93`` → ``constructor/fs_query.py:26-62``); this
engine compiles locally, so the SQL string is a *debugging/portability
artifact* generated from the same IR. The emitter mirrors
:mod:`.compiler` node for node — same key inference, prefix renames,
collision rules, default-value coalescing, scoped filters — and the
test suite proves equivalence by executing the emitted SQL through
``FeatureStore.sql`` (temp views) against the compiled DataFrame.

Table references follow the ``fs.sql`` view contract: version 1 groups
bind as ``<name>``, any version as ``<name>_<version>``.

Not expressible here (raises ``ValueError``): time-travel bounds (the
views carry no commit dimension) and PIT joins (compiled, not
templated).
"""

from __future__ import annotations

import math
from typing import Dict, List, Tuple

from ..constructor.filter import Filter, normalize_filters
from ..constructor.join import JoinType
from .compiler import _colmap_name, _join_keys

__all__ = ["emit_sql"]


def _q(ident: str) -> str:
    # embedded backticks escape by doubling (Spark's quoting rule)
    return "`" + ident.replace("`", "``") + "`"


def _lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float) and not math.isfinite(v):
        # repr() gives the bare words nan/inf, which parse as columns
        word = "NaN" if math.isnan(v) else "Infinity" if v > 0 else "-Infinity"
        return f"CAST('{word}' AS DOUBLE)"
    if isinstance(v, (int, float)):
        return repr(v)
    if isinstance(v, (list, tuple, set)):
        return "(" + ", ".join(_lit(x) for x in v) + ")"
    if hasattr(v, "isoformat"):
        kind = "DATE" if not hasattr(v, "hour") else "TIMESTAMP"
        return f"{kind} '{v.isoformat(sep=' ') if kind == 'TIMESTAMP' else v.isoformat()}'"
    # Spark's parser drops an unknown escape ('C:\dir' reads C:dir), so
    # every backslash is doubled; ANSI parsers never see one (the DBAPI
    # pushdown keeps backslashes out, connectors._stable_value)
    s = str(v).replace("\\", "\\\\").replace("'", "''")
    return f"'{s}'"


_SQL_OPS = {
    Filter.GE: ">=", Filter.GT: ">", Filter.NE: "<>", Filter.EQ: "=",
    Filter.LE: "<=", Filter.LT: "<", Filter.LK: "LIKE",
}


def _pred_sql(tree: tuple) -> str:
    """SQL text of a normalized filter tree; column names print as the
    tree holds them."""
    if tree[0] != "leaf":
        return f"({_pred_sql(tree[1])} {tree[0].upper()} {_pred_sql(tree[2])})"
    _, col, op, value = tree
    if op == Filter.IN:
        values = list(value)
        # an empty IN is never true; the IR has no NOT, so FALSE is
        # equivalent inside a WHERE
        return f"{col} IN {_lit(values)}" if values else "FALSE"
    return f"{col} {_SQL_OPS[op]} {_lit(value)}"


def _scoped_sql(logic, colmap) -> str:
    """A query filter bound to one plan scope's columns, quoted."""
    name = _colmap_name(colmap)
    return _pred_sql(normalize_filters(logic, name=lambda f: _q(name(f))))


def _view_name(fg) -> str:
    return fg.name if fg.version == 1 else f"{fg.name}_{fg.version}"


class _Emit:
    """One emitted node: a SELECT over the base view and joined
    subqueries, with every output column explicitly aliased."""

    def __init__(self, sql: str, sel: List[str], colmap: Dict, pending: List):
        self.sql = sql
        self.sel = sel
        self.colmap = colmap
        self.pending = pending


def _emit_node(q, filter_refs, extra_keep: Tuple[str, ...] = ()) -> _Emit:
    if q.start_time is not None or q.end_time is not None:
        raise ValueError(
            "to_string cannot express time-travel bounds; use read()/compile()"
        )
    fg = q.left_feature_group
    base_alias = "t0"
    colmap = {(id(fg), f.name): f.name for f in fg.features}
    sel = [f.name for f in q.left_features]
    pending: List = []

    own_keys = [k for j in q.joins for k in _join_keys(q, j)[0]]
    own_filter_cols = [
        name for (fgid, fname), name in colmap.items() if (fgid, fname) in filter_refs
    ]

    # projection with default-value coalescing (compiler parity)
    proj: List[str] = []
    keep: List[str] = []
    for c in sel + list(extra_keep) + own_filter_cols + own_keys:
        if c not in keep:
            keep.append(c)
    declared = {f.name: f for f in fg.features}
    for c in keep:
        feat = declared.get(c)
        if feat is not None and feat.default_value is not None:
            proj.append(
                f"COALESCE({base_alias}.{_q(c)}, {_lit(feat.default_value)}) AS {_q(c)}"
            )
        else:
            proj.append(f"{base_alias}.{_q(c)} AS {_q(c)}")
    sql = (
        f"SELECT {', '.join(proj)} FROM {_q(_view_name(fg))} AS {base_alias}"
    )
    colmap = {k: v for k, v in colmap.items() if v in keep}

    if q._filter is not None:
        pending.append((q._filter, dict(colmap)))

    # wrap so joins can attach: SELECT ... FROM (node) l JOIN (sub) r
    out_sql = f"(" + sql + ")"
    alias_i = 0
    left_alias = "l0"
    cur = f"{out_sql} AS {left_alias}"
    cur_cols = list(keep)

    for join in q.joins:
        how = join.join_type
        lkeys, rkeys = _join_keys(q, join)
        sub = _emit_node(join.query, filter_refs, extra_keep=tuple(rkeys))
        alias_i += 1
        r_alias = f"r{alias_i}"

        if how in (JoinType.LEFT_SEMI, JoinType.LEFT_ANTI):
            conds = [
                f"{left_alias}.{_q(lk)} = {r_alias}.{_q(rk)}"
                for lk, rk in zip(lkeys, rkeys)
            ]
            rsql = sub.sql
            for logic, scope in sub.pending:
                rsql = (
                    f"(SELECT * FROM {rsql} AS __f{alias_i} "
                    f"WHERE {_scoped_sql(logic, scope)})"
                )
            word = "EXISTS" if how == JoinType.LEFT_SEMI else "NOT EXISTS"
            semi = (
                f"{word} (SELECT 1 FROM {rsql} AS {r_alias} "
                f"WHERE {' AND '.join(conds)})"
            )
            next_alias = f"l{alias_i}"
            cur = f"(SELECT * FROM {cur} WHERE {semi}) AS {next_alias}"
            left_alias = next_alias
            continue

        using = bool(lkeys) and lkeys == rkeys

        # prefix rename on the right, with the compiler's collision rules
        ren: Dict[str, str] = {}
        r_cols = [c for c in _dedupe(sub_sel_cols(sub))]
        for c in r_cols:
            if using and c in rkeys:
                ren[c] = c
            else:
                ren[c] = (join.prefix + c) if join.prefix else c
        merge_keys = set(rkeys) if using else set()
        tmp_i = 0
        for c in list(ren):
            n = ren[c]
            if n in cur_cols and (not using or n not in merge_keys):
                if c in sub.sel:
                    raise ValueError(
                        f"Ambiguous column {n!r} on both sides of join with "
                        f"{join.query.left_feature_group.name!r}; use prefix="
                    )
                ren[c] = f"__j{alias_i}_{tmp_i}_{n}"
                tmp_i += 1

        rsql = (
            "(SELECT "
            + ", ".join(f"{_q(c)} AS {_q(n)}" for c, n in ren.items())
            + f" FROM {sub.sql} AS __p{alias_i})"
        )
        rkeys_out = [ren[k] for k in rkeys]
        rsel = [ren[s] for s in sub.sel]
        rcolmap = {k: ren[v] for k, v in sub.colmap.items()}
        for logic, scope in sub.pending:
            pending.append((logic, {k: ren.get(v, v) for k, v in scope.items()}))

        # output projection for this join level: merged USING keys follow
        # Spark's side rules (inner/left → left, right → right, full →
        # coalesce); everything else passes through by name
        merged: Dict[str, str] = {}
        if using:
            for lk, rk in zip(lkeys, rkeys_out):
                if how == JoinType.RIGHT:
                    merged[lk] = f"{r_alias}.{_q(rk)}"
                elif how == JoinType.FULL:
                    merged[lk] = f"COALESCE({left_alias}.{_q(lk)}, {r_alias}.{_q(rk)})"
                else:
                    merged[lk] = f"{left_alias}.{_q(lk)}"
        out_proj = []
        for c in cur_cols:
            out_proj.append(f"{merged.get(c, f'{left_alias}.{_q(c)}')} AS {_q(c)}")
        new_cols = list(cur_cols)
        for c, n in ren.items():
            if using and n in merge_keys:
                continue
            out_proj.append(f"{r_alias}.{_q(n)} AS {_q(n)}")
            new_cols.append(n)

        if how == JoinType.CROSS:
            joint = f"{cur} CROSS JOIN {rsql} AS {r_alias}"
        else:
            conds = " AND ".join(
                f"{left_alias}.{_q(lk)} = {r_alias}.{_q(rk)}"
                for lk, rk in zip(lkeys, rkeys_out)
            )
            word = {
                JoinType.INNER: "JOIN",
                JoinType.LEFT: "LEFT JOIN",
                JoinType.RIGHT: "RIGHT JOIN",
                JoinType.FULL: "FULL JOIN",
            }[how]
            joint = f"{cur} {word} {rsql} AS {r_alias} ON {conds}"
        next_alias = f"l{alias_i}"
        cur = f"(SELECT {', '.join(out_proj)} FROM {joint}) AS {next_alias}"
        left_alias = next_alias
        cur_cols = new_cols

        sel.extend(rsel)
        for key, v in rcolmap.items():
            if v in cur_cols and key not in colmap:
                colmap[key] = v

    body = f"SELECT * FROM {cur}"
    return _Emit(f"({body})", sel, colmap, pending)


def _dedupe(xs):
    seen = set()
    for x in xs:
        if x not in seen:
            seen.add(x)
            yield x


def sub_sel_cols(sub: _Emit) -> List[str]:
    """Columns a node's subquery exposes: its keep list in order —
    reconstructed from sel + colmap values (every kept column is one or
    the other)."""
    cols = list(sub.sel)
    for v in sub.colmap.values():
        if v not in cols:
            cols.append(v)
    return cols


def emit_sql(q) -> str:
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
    node = _emit_node(q, filter_refs)
    where = [
        _scoped_sql(logic, scope) for logic, scope in node.pending
    ]
    out, seen = [], set()
    for name in node.sel:
        if name not in seen:
            seen.add(name)
            out.append(name)
    sql = (
        "SELECT "
        + ", ".join(_q(c) for c in out)
        + f" FROM {node.sql} AS __root"
    )
    if where:
        sql += " WHERE " + " AND ".join(where)
    return sql


def filter_ir_to_sql(filters) -> str:
    """Emit a standalone ANSI-SQL predicate from a Filter IR tree (or
    normalized-tuple form) — the pushdown string connector reads hand
    to an external database (``WHERE`` text, no table aliases, column
    names unquoted). It needs no plan colmap: it is used BEFORE a plan
    exists, at source-read time."""
    tree = normalize_filters(filters)
    return "" if tree is None else _pred_sql(tree)
