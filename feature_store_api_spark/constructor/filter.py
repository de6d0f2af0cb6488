"""Predicate IR: ``Filter`` leaves and ``Logic`` boolean trees.

Semantics follow the reference surface (parity targets:
``/root/reference/python/hsfs/constructor/filter.py:24-215`` — conditions
GE/GT/NE/EQ/LE/LT/IN/LIKE; Logic types AND/OR/SINGLE). Users build
``Filter``/``Logic`` objects and the registry stores them as JSON; every
consumer compiles from one normalized tuple tree instead of JSON shipped
to a remote SQL generator:

* :func:`normalize_filters` builds ``("and"|"or", left, right)`` /
  ``("leaf", column, OP, value)`` from the objects or from
  ``(col, op, value)`` tuples;
* :func:`filters_to_column` compiles a tree to a Spark Column;
* :func:`weaken` drops leaves conservatively (:func:`remap_tree`,
  :func:`partition_subtree` and the DBAPI pushdown gate are keep-leaf
  functions over it);
* :func:`residual_where` binds a tree to a frame's columns and filters
  the frame by it.
"""

from __future__ import annotations

from typing import Any, Callable, Dict, List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class Filter:
    """A single comparison: ``<feature> <condition> <value>``."""

    GE = "GREATER_THAN_OR_EQUAL"
    GT = "GREATER_THAN"
    NE = "NOT_EQUALS"
    EQ = "EQUALS"
    LE = "LESS_THAN_OR_EQUAL"
    LT = "LESS_THAN"
    IN = "IN"
    LK = "LIKE"

    _CONDITIONS = {GE, GT, NE, EQ, LE, LT, IN, LK}

    def __init__(self, feature: "Feature", condition: str, value: Any) -> None:
        if condition not in self._CONDITIONS:
            raise ValueError(f"Unknown filter condition: {condition}")
        self._feature = feature
        self._condition = condition
        self._value = value

    @property
    def feature(self) -> "Feature":
        return self._feature

    @property
    def condition(self) -> str:
        return self._condition

    @property
    def value(self) -> Any:
        return self._value

    def __and__(self, other):
        return Logic.single(self) & other

    def __or__(self, other):
        return Logic.single(self) | other

    def __repr__(self) -> str:
        return f"Filter({self._feature.name!r} {self._condition} {self._value!r})"

    # -- serialization (parity: the reference ships the Filter tree as
    # JSON to its query-constructor service; here it round-trips a saved
    # feature view through the local registry) ---------------------------
    def to_dict(self) -> dict:
        fg = self._feature.feature_group
        value = self._value
        if hasattr(value, "isoformat"):  # datetime/date → JSON-safe
            value = value.isoformat()
        elif isinstance(value, (list, tuple, set)):
            value = [
                v.isoformat() if hasattr(v, "isoformat") else v for v in value
            ]
        return {
            "feature": self._feature.name,
            "feature_group": [fg.name, fg.version] if fg is not None else None,
            "condition": self._condition,
            "value": value,
        }

    @classmethod
    def from_dict(cls, d: dict, resolve) -> "Filter":
        """``resolve(feature_name, fg_ref)`` returns the Feature; values
        serialized from datetimes come back as ISO strings, which the
        filter compiler already coerces against timestamp features."""
        return cls(resolve(d["feature"], d.get("feature_group")), d["condition"], d["value"])

    def referenced_features(self):
        return [self._feature]


class Logic:
    """Boolean tree over :class:`Filter` leaves (AND / OR / SINGLE)."""

    AND = "AND"
    OR = "OR"
    SINGLE = "SINGLE"

    def __init__(self, type_: str, left=None, right=None) -> None:
        self._type = type_
        self._left = left  # Filter | Logic | None
        self._right = right  # Filter | Logic | None

    @classmethod
    def single(cls, f: Filter) -> "Logic":
        return cls(cls.SINGLE, left=f)

    @staticmethod
    def _coerce(x):
        if isinstance(x, Filter):
            return Logic.single(x)
        if isinstance(x, Logic):
            return x
        raise TypeError(f"Cannot combine filter with {type(x)}")

    def __and__(self, other):
        return Logic(self.AND, left=self, right=self._coerce(other))

    def __or__(self, other):
        return Logic(self.OR, left=self, right=self._coerce(other))

    @property
    def type(self) -> str:
        return self._type

    def referenced_features(self):
        out = []
        for side in (self._left, self._right):
            if side is not None:
                out.extend(side.referenced_features())
        return out

    def __repr__(self) -> str:
        if self._type == self.SINGLE:
            return repr(self._left)
        return f"({self._left!r} {self._type} {self._right!r})"

    def to_dict(self) -> dict:
        def enc(side):
            if side is None:
                return None
            kind = "filter" if isinstance(side, Filter) else "logic"
            return {kind: side.to_dict()}

        return {"type": self._type, "left": enc(self._left), "right": enc(self._right)}

    @classmethod
    def from_dict(cls, d: dict, resolve) -> "Logic":
        def dec(side):
            if side is None:
                return None
            if "filter" in side:
                return Filter.from_dict(side["filter"], resolve)
            return cls.from_dict(side["logic"], resolve)

        return cls(d["type"], left=dec(d.get("left")), right=dec(d.get("right")))


# ---------------------------------------------------------------------------
# the normalized tuple tree
# ---------------------------------------------------------------------------

_SYMBOL_OPS = {
    "=": Filter.EQ, "==": Filter.EQ, "!=": Filter.NE, "<>": Filter.NE,
    ">": Filter.GT, ">=": Filter.GE, "<": Filter.LT, "<=": Filter.LE,
    "in": Filter.IN, "like": Filter.LK,
}


def normalize_filters(
    filters, name: Optional[Callable[["Feature"], str]] = None
) -> Optional[tuple]:
    """Normalize to ``("and"|"or", left, right)`` /
    ``("leaf", column, OP, value)`` — accepts a :class:`Filter`/
    :class:`Logic` tree, a single ``(col, op, value)`` tuple, a list of
    tuples (implicit AND) or an already normalized tree. ``name`` maps
    a Filter leaf's feature to its column (default ``feature.name``).
    Returns ``None`` for no filter."""
    if filters is None:
        return None
    name = name or (lambda feature: feature.name)
    if isinstance(filters, tuple) and len(filters) == 3 and isinstance(
        filters[0], str
    ) and filters[0] not in ("and", "or", "leaf"):
        filters = [filters]
    if isinstance(filters, list):
        node = None
        for t in filters:
            leaf = _norm_one(t, name)
            node = leaf if node is None else ("and", node, leaf)
        return node
    return _norm_one(filters, name)


def _norm_one(f, name) -> tuple:
    if isinstance(f, Filter):
        return ("leaf", name(f.feature), f.condition, f.value)
    if isinstance(f, Logic) and f.type == Logic.SINGLE:
        return _norm_one(f._left, name)
    if isinstance(f, Logic) and f.type in (Logic.AND, Logic.OR):
        return (f.type.lower(), _norm_one(f._left, name),
                _norm_one(f._right, name))
    if isinstance(f, tuple):
        if f and f[0] in ("and", "or"):
            return (f[0], _norm_one(f[1], name), _norm_one(f[2], name))
        if f and f[0] == "leaf":
            return f
        col, op, value = f
        op_n = _SYMBOL_OPS.get(str(op).lower(), str(op).upper())
        if op_n not in Filter._CONDITIONS:
            raise ValueError(f"unknown filter op {op!r}")
        return ("leaf", col, op_n, value)
    raise ValueError(f"cannot normalize filter {f!r}")


_COLUMN_OPS = {
    Filter.GE: lambda c, v: c >= v,
    Filter.GT: lambda c, v: c > v,
    Filter.NE: lambda c, v: c != v,
    Filter.EQ: lambda c, v: c == v,
    Filter.LE: lambda c, v: c <= v,
    Filter.LT: lambda c, v: c < v,
    Filter.IN: lambda c, v: c.isin(list(v)),
    Filter.LK: lambda c, v: c.like(v),
}


def filters_to_column(tree: tuple):
    """Compile a normalized tree to a Spark Column."""
    kind = tree[0]
    if kind == "leaf":
        _, name, op, value = tree
        # physical names may contain dots (field access syntax in
        # col()): backtick-quote anything that would misparse
        if "." in name or "`" in name:
            name = "`" + name.replace("`", "``") + "`"
        return _COLUMN_OPS[op](F.col(name), value)
    left, right = filters_to_column(tree[1]), filters_to_column(tree[2])
    return (left & right) if kind == "and" else (left | right)


def weaken(tree: Optional[tuple], keep_leaf) -> Optional[tuple]:
    """The sub-predicate of ``tree`` whose leaves ``keep_leaf`` keeps.
    ``keep_leaf(leaf)`` returns the leaf (possibly rebound) or None to
    drop it. A dropped leaf leaves an AND's other side standing (a
    superset predicate, safe for a pushdown or pruning hint) and drops
    a whole OR (a weakened OR would be a SUBSET — unsafe). Returns None
    when nothing survives."""
    if tree is None:
        return None
    kind = tree[0]
    if kind == "leaf":
        return keep_leaf(tree)
    left, right = weaken(tree[1], keep_leaf), weaken(tree[2], keep_leaf)
    if kind == "or":
        return None if left is None or right is None else ("or", left, right)
    if left is None:
        return right
    return left if right is None else ("and", left, right)


def remap_tree(tree: Optional[tuple], columns) -> Optional[tuple]:
    """Bind a normalized tree's (engine-sanitized) column names to the
    PHYSICAL columns of a concrete source, weakening conservatively
    (:func:`weaken`): a leaf resolves to the exact physical name, else
    to the unique physical column whose sanitized form matches (the
    compiler normalizes sources the same way, so the root predicate
    will bind the same column); an unresolvable leaf (appended feature
    with a default value, sanitize collision) drops.

    Returns None when nothing survives — the caller skips the filter
    entirely (the engine compiler re-applies the exact predicate at the
    plan root; direct callers should pass physical names)."""
    from ..feature import autofix_feature_name

    cols = list(columns)
    colset = set(cols)
    by_sanitized: Dict[str, List[str]] = {}
    for c in cols:
        by_sanitized.setdefault(autofix_feature_name(c), []).append(c)

    def keep(leaf):
        _, name, op, value = leaf
        if name in colset:
            return leaf
        twins = by_sanitized.get(name, [])
        # absent or ambiguous: drop
        return ("leaf", twins[0], op, value) if len(twins) == 1 else None

    return weaken(tree, keep)


def partition_subtree(tree: Optional[tuple], partition_cols) -> Optional[tuple]:
    """The sub-predicate over ``partition_cols`` only (:func:`weaken`).
    Partition values are part of the record identity, so EVERY version
    of a record shares them — pre-filtering a merge-on-read scan on
    this subtree can never resurrect a superseded version, which makes
    it the safe pushdown for the commit store's backends."""
    cols = set(partition_cols)
    return weaken(tree, lambda leaf: leaf if leaf[1] in cols else None)


def bind_residual(tree: Optional[tuple], columns, source: str) -> Optional[tuple]:
    """Bind a residual predicate to concrete output columns. PARTIAL
    loss weakens conservatively (:func:`remap_tree` — the engine
    compiler re-applies the exact predicate at plan root), but TOTAL
    loss raises: a direct caller whose filter binds to NOTHING would
    otherwise get a silently unfiltered superset."""
    if tree is None:
        return None
    bound = remap_tree(tree, columns)
    if bound is None:
        raise ValueError(
            f"filter references no resolvable column of {source} "
            f"(available: {sorted(columns)}) — nothing could be bound, "
            "refusing to return an unfiltered result"
        )
    return bound


def residual_where(df: DataFrame, filters, source: str) -> DataFrame:
    """``df`` filtered by a Filter IR hint bound to its own columns
    (:func:`bind_residual`: partial binding weakens, total loss
    raises)."""
    tree = bind_residual(normalize_filters(filters), df.columns, source)
    return df if tree is None else df.where(filters_to_column(tree))
