"""Manifest-level file pruning for the jarless Iceberg reader.

The Iceberg spec's scan planning operands are NOT directory names:
pruning is defined over (1) the manifest list's per-manifest partition
field summaries (``manifest_file.partitions`` — contains_null +
lower/upper bound per partition field, field ids 507-511), and (2) each
manifest entry's ``data_file.partition`` tuple and per-column
``lower_bounds``/``upper_bounds`` stat maps (iceberg.apache.org/spec
"Scan Planning"; the reference consumes this via iceberg-spark's
planFiles, storage_connector.py read path). This module evaluates the
engine's normalized Filter IR tree (:mod:`..constructor.filter`)
conservatively against those operands so a filtered
read of a NON-hive-layout or transform-partitioned table drops data
files — and whole manifests — before the Spark scan is built, instead
of scanning every file. "Conservative" = a file is only dropped when
the predicate provably matches no row of it; on any uncertainty
(unknown transform, undecodable bound, type mismatch) the file is kept
and the residual row-level filter settles it.

Bounds use the spec's single-value binary serialization (little-endian
ints/longs/floats/doubles, UTF-8 strings, date = int days, timestamps =
long micros). Partition tuples are plain Avro values.

Transforms: identity is exact; truncate/year/month/day/hour are
order-preserving so range predicates compare in partition space;
bucket[N] and anything unrecognized never prune.
"""

from __future__ import annotations

import re
import struct
from datetime import date, datetime, timedelta, timezone
from typing import Any, Callable, Dict, List, Optional, Tuple

from ..constructor.filter import Filter

__all__ = ["ScanPruner", "decode_bound", "encode_bound"]

_EPOCH = datetime(1970, 1, 1)
_EPOCH_D = date(1970, 1, 1)


# ---------------------------------------------------------------------------
# single-value binary decode (spec: Appendix D "Single-value
# serialization")
# ---------------------------------------------------------------------------

def decode_bound(raw, ice_type) -> Optional[Any]:
    """Decode one bound; None = undecodable (no pruning on it)."""
    if raw is None or not isinstance(ice_type, str):
        return None
    b = bytes(raw) if isinstance(raw, (bytearray, memoryview)) else raw
    if isinstance(b, str):
        b = b.encode("utf-8", "surrogateescape")
    try:
        if ice_type == "boolean":
            return b[0] != 0
        if ice_type == "int":
            return struct.unpack("<i", b)[0]
        if ice_type == "long":
            return struct.unpack("<q", b)[0]
        if ice_type == "float":
            return struct.unpack("<f", b)[0]
        if ice_type == "double":
            return struct.unpack("<d", b)[0]
        if ice_type == "date":
            return _EPOCH_D + timedelta(days=struct.unpack("<i", b)[0])
        if ice_type in ("timestamp", "timestamptz"):
            us = struct.unpack("<q", b)[0]
            return _EPOCH + timedelta(microseconds=us)
        if ice_type == "string":
            return b.decode("utf-8")
        # uuid is 16-byte big-endian binary per the spec, NOT text —
        # returning None keeps the file (no pruning on uuid bounds)
    except (struct.error, UnicodeDecodeError, IndexError):
        return None
    return None


def encode_bound(value, ice_type) -> Optional[bytes]:
    """Encode one bound per the spec's Appendix D single-value binary
    serialization — the exact inverse of :func:`decode_bound`, used by
    the write path (``iceberg_backend``) to stamp per-column
    ``lower_bounds``/``upper_bounds`` into manifest entries. ``None``
    = unencodable: the stat is simply OMITTED, which every reader
    treats as "no pruning on this column" (always sound).

    NaN floats are refused: a NaN bound poisons range comparisons in
    readers that predate contains_nan handling (see ``_coerce``)."""
    if value is None or not isinstance(ice_type, str):
        return None
    try:
        if ice_type == "boolean":
            return b"\x01" if value else b"\x00"
        if ice_type == "int":
            return struct.pack("<i", int(value))
        if ice_type == "long":
            return struct.pack("<q", int(value))
        if ice_type in ("float", "double"):
            if _isnan(float(value)):
                return None
            fmt = "<f" if ice_type == "float" else "<d"
            return struct.pack(fmt, float(value))
        if ice_type == "date":
            d = value.date() if isinstance(value, datetime) else value
            if not isinstance(d, date):
                return None
            return struct.pack("<i", (d - _EPOCH_D).days)
        if ice_type in ("timestamp", "timestamptz"):
            if not isinstance(value, datetime):
                return None
            v = value
            if v.tzinfo is not None:
                v = v.astimezone(timezone.utc).replace(tzinfo=None)
            delta = v - _EPOCH
            us = (
                (delta.days * 86400 + delta.seconds) * 1_000_000
                + delta.microseconds
            )
            return struct.pack("<q", us)
        if ice_type == "string":
            return value.encode("utf-8") if isinstance(value, str) else None
    except (struct.error, OverflowError, TypeError, ValueError):
        return None
    return None


# ---------------------------------------------------------------------------
# value coercion + conservative range tests
# ---------------------------------------------------------------------------

def _isnan(v) -> bool:
    import math

    return isinstance(v, float) and math.isnan(v)


def _coerce(bound, value):
    """Make (bound, value) comparable; None on irreconcilable types
    (caller keeps the file)."""
    if bound is None or value is None:
        return None
    if isinstance(bound, datetime) or isinstance(value, datetime):
        bound = _as_dt(bound)
        value = _as_dt(value)
        if bound is None or value is None:
            return None
        # normalize tz: compare in UTC, treat naive as UTC
        if bound.tzinfo is not None:
            bound = bound.astimezone(timezone.utc).replace(tzinfo=None)
        if value.tzinfo is not None:
            value = value.astimezone(timezone.utc).replace(tzinfo=None)
        return bound, value
    if isinstance(bound, date) or isinstance(value, date):
        bound = _as_date(bound)
        value = _as_date(value)
        if bound is None or value is None:
            return None
        return bound, value
    if isinstance(bound, bool) or isinstance(value, bool):
        if isinstance(bound, bool) and isinstance(value, bool):
            return bound, value
        return None
    if isinstance(bound, (int, float)) and isinstance(value, (int, float)):
        # NaN is unordered: legacy Iceberg/Java writers put NaN into
        # float upper_bounds (before contains_nan existed), and every
        # comparison against it is False — which would UNSOUNDLY prune
        # a file the residual can't resurrect. Symmetrically a NaN
        # filter value must not prune anything (Spark orders NaN
        # greatest, so e.g. col < NaN matches all non-NaN rows).
        # Treat either side as undecodable: the file is kept and the
        # row-level residual settles it.
        if _isnan(bound) or _isnan(value):
            return None
        return bound, value
    if isinstance(bound, str) and isinstance(value, str):
        return bound, value
    if isinstance(bound, (int, float)) and isinstance(value, str):
        try:
            # compare as floats: int(value) would TRUNCATE ('3.5' -> 3)
            # and wrongly prune the boundary file Spark's residual
            # filter (which casts to double) still matches.
            # float('nan') parses — same NaN keep-the-file rule.
            b, v = float(bound), float(value)
        except ValueError:
            return None
        if _isnan(b) or _isnan(v):
            return None
        return b, v
    if isinstance(bound, str) and isinstance(value, (int, float)):
        return None  # lexicographic vs numeric order differ: keep
    return None


def _as_dt(v) -> Optional[datetime]:
    if isinstance(v, datetime):
        return v
    if isinstance(v, date):
        return datetime(v.year, v.month, v.day)
    if isinstance(v, str):
        try:
            return datetime.fromisoformat(v)
        except ValueError:
            return None
    return None


def _as_date(v) -> Optional[date]:
    if isinstance(v, datetime):
        return v.date()
    if isinstance(v, date):
        return v
    if isinstance(v, str):
        try:
            return datetime.fromisoformat(v).date()
        except ValueError:
            return None
    if isinstance(v, int):  # spec day ordinal
        return _EPOCH_D + timedelta(days=v)
    return None


def _like_prefix(pattern: str) -> Optional[str]:
    """Literal prefix of a SQL LIKE pattern (up to the first
    unescaped wildcard); None when the pattern starts with one."""
    out = []
    i = 0
    while i < len(pattern):
        c = pattern[i]
        if c == "\\" and i + 1 < len(pattern):
            out.append(pattern[i + 1])
            i += 2
            continue
        if c in ("%", "_"):
            break
        out.append(c)
        i += 1
    return "".join(out) or None


def _range_may_match(op: str, value, lo, hi) -> bool:
    """May any x in [lo, hi] satisfy ``x <op> value``? Missing bounds
    are unbounded; any coercion failure keeps the file."""
    if op == Filter.IN:
        vs = list(value) if isinstance(value, (list, tuple, set)) else [value]
        return any(_range_may_match(Filter.EQ, v, lo, hi) for v in vs)
    if op == Filter.LK:
        if not isinstance(value, str):
            return True
        p = _like_prefix(value)
        if p is None:
            return True
        # strings matching the pattern share prefix p: may match iff
        # [lo, hi] intersects [p, p+MAX)
        ok = True
        if hi is not None and isinstance(hi, str):
            ok = ok and hi >= p
        if lo is not None and isinstance(lo, str):
            ok = ok and lo[: len(p)] <= p
        return ok
    if op == Filter.NE:
        if lo is None or hi is None:
            return True
        cl = _coerce(lo, value)
        ch = _coerce(hi, value)
        if cl is None or ch is None:
            return True
        # all rows equal to value only when lo == hi == value
        return not (cl[0] == cl[1] and ch[0] == ch[1])
    if op == Filter.EQ:
        if lo is not None:
            c = _coerce(lo, value)
            if c is not None and c[0] > c[1]:
                return False
        if hi is not None:
            c = _coerce(hi, value)
            if c is not None and c[0] < c[1]:
                return False
        return True
    if op in (Filter.GT, Filter.GE):
        if hi is None:
            return True
        c = _coerce(hi, value)
        if c is None:
            return True
        return c[0] > c[1] if op == Filter.GT else c[0] >= c[1]
    if op in (Filter.LT, Filter.LE):
        if lo is None:
            return True
        c = _coerce(lo, value)
        if c is None:
            return True
        return c[0] < c[1] if op == Filter.LT else c[0] <= c[1]
    return True


# ---------------------------------------------------------------------------
# partition transforms (order-preserving ones prune ranges)
# ---------------------------------------------------------------------------

_UNSUPPORTED = object()

_TRUNC_RE = re.compile(r"^truncate\[(\d+)\]$")


def _transform_value(transform: str, value):
    """Map a predicate value into partition space; ``_UNSUPPORTED``
    when the transform cannot prune."""
    t = (transform or "identity").lower()
    if t == "identity":
        return value
    m = _TRUNC_RE.match(t)
    if m:
        w = int(m.group(1))
        if isinstance(value, bool) or w <= 0:
            return _UNSUPPORTED
        if isinstance(value, str):
            return value[:w]
        if isinstance(value, int):
            return value - (value % w)
        return _UNSUPPORTED
    if t in ("year", "month", "day", "hour"):
        dt = _as_dt(value)
        if dt is None:
            return _UNSUPPORTED
        if dt.tzinfo is not None:
            dt = dt.astimezone(timezone.utc).replace(tzinfo=None)
        if t == "year":
            return dt.year - 1970
        if t == "month":
            return (dt.year - 1970) * 12 + dt.month - 1
        if t == "day":
            return (dt.date() - _EPOCH_D).days
        return int((dt - _EPOCH).total_seconds() // 3600)
    return _UNSUPPORTED


def _part_value_ordinal(transform: str, pv):
    """Normalize a stored partition value to the transform's compare
    space (date-typed day values -> epoch-day ints)."""
    t = (transform or "identity").lower()
    if t in ("year", "month", "day", "hour"):
        if isinstance(pv, bool):
            return _UNSUPPORTED
        if isinstance(pv, int):
            return pv
        if t == "day":
            d = _as_date(pv)
            return (d - _EPOCH_D).days if d is not None else _UNSUPPORTED
        return _UNSUPPORTED
    return pv


def _result_type(transform: str, source_type) -> Optional[str]:
    """Iceberg type of the TRANSFORMED partition value (what summary
    bounds are encoded with)."""
    t = (transform or "identity").lower()
    if t == "identity" or _TRUNC_RE.match(t):
        return source_type if isinstance(source_type, str) else None
    if t == "day":
        # written as date by most writers; decode_bound(date) yields a
        # date we re-ordinalize in _coerce/_as_date
        return "date"
    if t in ("year", "month", "hour") or t.startswith("bucket"):
        return "int"
    return None


def _transformed_leaf_range_match(
    transform: str, op: str, value, lo, hi, identity: bool
) -> bool:
    """Leaf test against bounds that live in PARTITION space."""
    if identity:
        return _range_may_match(op, value, lo, hi)
    if op == Filter.IN:
        vs = list(value) if isinstance(value, (list, tuple, set)) else [value]
        return any(
            _transformed_leaf_range_match(
                transform, Filter.EQ, v, lo, hi, False
            )
            for v in vs
        )
    if op in (Filter.NE, Filter.LK):
        return True  # not order-preserving enough to prune safely
    tv = _transform_value(transform, value)
    if tv is _UNSUPPORTED:
        return True
    # order-preserving transform: x <op> v can only hold when t(x)
    # satisfies the CLOSED version of the comparison against t(v)
    relaxed = {
        Filter.GT: Filter.GE, Filter.GE: Filter.GE, Filter.LT: Filter.LE,
        Filter.LE: Filter.LE, Filter.EQ: Filter.EQ,
    }[op]
    if isinstance(lo, date) or isinstance(hi, date):
        lo = (_as_date(lo) - _EPOCH_D).days if lo is not None else None
        hi = (_as_date(hi) - _EPOCH_D).days if hi is not None else None
    return _range_may_match(relaxed, tv, lo, hi)


# ---------------------------------------------------------------------------
# the pruner
# ---------------------------------------------------------------------------

def _as_id_map(m) -> Dict[int, Any]:
    """Bounds/stat maps arrive as dicts (our codec) or key/value record
    arrays (iceberg-java's Avro map encoding)."""
    if not m:
        return {}
    if isinstance(m, dict):
        return {int(k): v for k, v in m.items()}
    out = {}
    for kv in m:
        if isinstance(kv, dict) and "key" in kv:
            out[int(kv["key"])] = kv.get("value")
    return out


class ScanPruner:
    """Evaluates a normalized filter tree against manifest-list rows
    (``keep_manifest``) and manifest entries (``keep_entry``)."""

    def __init__(self, meta: Dict, tree: tuple) -> None:
        self.tree = tree
        # current schema: name -> (id, iceberg type)
        schemas = meta.get("schemas") or []
        cur = None
        for s in schemas:
            if s.get("schema-id") == meta.get("current-schema-id"):
                cur = s
                break
        if cur is None:
            cur = schemas[-1] if schemas else (meta.get("schema") or {})
        self.col_info: Dict[str, Tuple[int, Any]] = {
            f["name"]: (int(f["id"]), f.get("type"))
            for f in (cur.get("fields") or [])
        }
        self.id_to_name = {i: n for n, (i, _) in self.col_info.items()}
        # partition specs by id; each field {name, transform,
        # source-id, field-id}
        self.specs: Dict[int, List[Dict]] = {}
        for sp in meta.get("partition-specs") or []:
            self.specs[int(sp.get("spec-id") or 0)] = list(
                sp.get("fields") or []
            )
        if not self.specs and meta.get("partition-spec"):
            self.specs[0] = list(meta["partition-spec"])
        self.default_spec = int(meta.get("default-spec-id") or 0)

    def _ambiguous_tz(self, name: str, value) -> bool:
        """True when comparing ``value`` against a ``timestamptz``
        column is session-timezone-dependent: Spark interprets a NAIVE
        datetime/string in the session zone, while bounds decode as
        UTC instants — pruning on that comparison could drop files the
        residual filter still matches. Tz-aware values are exact."""
        info = self.col_info.get(name)
        if info is None or info[1] != "timestamptz":
            return False
        vs = value if isinstance(value, (list, tuple, set)) else [value]
        for v in vs:
            if isinstance(v, datetime):
                if v.tzinfo is None:
                    return True
            elif isinstance(v, str):
                try:
                    if datetime.fromisoformat(v).tzinfo is None:
                        return True
                except ValueError:
                    return True
            else:
                return True  # date / anything else: zone-ambiguous
        return False

    # -- spec helpers -------------------------------------------------------
    def _fields_for(self, spec_id: Optional[int]) -> List[Dict]:
        sid = self.default_spec if spec_id is None else int(spec_id)
        return self.specs.get(sid, self.specs.get(self.default_spec, []))

    def _source_name(self, spec_field: Dict) -> Optional[str]:
        src = spec_field.get("source-id")
        if src is None:
            src = spec_field.get("source_id")
        if src is not None and int(src) in self.id_to_name:
            return self.id_to_name[int(src)]
        # fall back to the spec field's own name (identity fields of
        # our backend and most writers name them after the column)
        name = spec_field.get("name")
        return name if name in self.col_info else None

    # -- manifest-list level ------------------------------------------------
    def keep_manifest(self, mf: Dict, spec_id: Optional[int] = None) -> bool:
        """May any file in this manifest match? Uses the manifest's
        ``partitions`` field summaries when present (absent -> keep)."""
        summaries = mf.get("partitions")
        if not summaries:
            return True
        fields = self._fields_for(
            spec_id if spec_id is not None else mf.get("partition_spec_id")
        )
        if not fields:
            return True
        by_src: Dict[str, List[Tuple[Dict, Dict]]] = {}
        for f, s in zip(fields, summaries):
            nm = self._source_name(f)
            if nm is not None and isinstance(s, dict):
                by_src.setdefault(nm, []).append((f, s))

        def leaf(node) -> bool:
            _, name, op, value = node
            if self._ambiguous_tz(name, value):
                return True
            for f, s in by_src.get(name, ()):  # all spec fields on col
                transform = f.get("transform") or "identity"
                rt = _result_type(
                    transform, self.col_info.get(name, (0, None))[1]
                )
                lo = decode_bound(s.get("lower_bound"), rt)
                hi = decode_bound(s.get("upper_bound"), rt)
                ok = _transformed_leaf_range_match(
                    transform, op, value, lo, hi,
                    identity=(transform or "identity").lower() == "identity",
                )
                if not ok:
                    # contains_null doesn't save it: null rows can't
                    # satisfy any comparison in the IR either
                    return False
            return True

        return self._eval(self.tree, leaf)

    # -- entry level ---------------------------------------------------------
    def keep_entry(
        self,
        data_file: Dict,
        spec_id: Optional[int],
        partition_only: bool = False,
    ) -> bool:
        """``partition_only=True`` is the DELETE-file mode: a delete
        file applies within its partition (spec "Scan Planning"), so a
        delete whose partition can't intersect any kept data file is
        dead weight — sound regardless of the residual row filter.
        Column BOUNDS on a delete file describe the DELETED rows, and
        pruning on them is only sound while the residual predicate is
        guaranteed to re-filter resurrected rows — which a weakened
        remap can't promise — so bounds are skipped in this mode."""
        fields = self._fields_for(spec_id)
        part = data_file.get("partition")
        part = part if isinstance(part, dict) else {}
        lowers = _as_id_map(data_file.get("lower_bounds"))
        uppers = _as_id_map(data_file.get("upper_bounds"))

        def leaf(node) -> bool:
            _, name, op, value = node
            if self._ambiguous_tz(name, value):
                return True
            # 1. partition tuple: exact per-file value per spec field
            for f in fields:
                if self._source_name(f) != name:
                    continue
                key = f.get("name")
                if key not in part:
                    continue
                pv = part.get(key)
                transform = (f.get("transform") or "identity").lower()
                if pv is None:
                    # all rows NULL on the source column: no comparison
                    # in the IR (EQ/NE/ranges/IN/LIKE) matches NULL
                    return False
                if transform == "identity":
                    if not self._identity_match(op, value, pv):
                        return False
                else:
                    pv_o = _part_value_ordinal(transform, pv)
                    if pv_o is not _UNSUPPORTED and not (
                        _transformed_leaf_range_match(
                            transform, op, value, pv_o, pv_o, False
                        )
                    ):
                        return False
            # 2. column stats: lower/upper bounds by field id
            info = None if partition_only else self.col_info.get(name)
            if info is not None:
                fid, ftype = info
                lo = decode_bound(lowers.get(fid), ftype)
                hi = decode_bound(uppers.get(fid), ftype)
                if (lo is not None or hi is not None) and not (
                    _range_may_match(op, value, lo, hi)
                ):
                    return False
            return True

        return self._eval(self.tree, leaf)

    @staticmethod
    def _identity_match(op: str, value, pv) -> bool:
        """Exact test: every row of the file has the partition value."""
        if op == Filter.IN:
            vs = (
                list(value)
                if isinstance(value, (list, tuple, set)) else [value]
            )
            return any(
                ScanPruner._identity_match(Filter.EQ, v, pv) for v in vs
            )
        if op == Filter.LK:
            if not isinstance(value, str) or not isinstance(pv, str):
                return True
            rx = _like_to_re(value)
            return rx.match(pv) is not None
        c = _coerce(pv, value)
        if c is None:
            return True
        a, b = c
        return {
            Filter.EQ: a == b, Filter.NE: a != b, Filter.GT: a > b,
            Filter.GE: a >= b, Filter.LT: a < b, Filter.LE: a <= b,
        }[op]

    @staticmethod
    def _eval(tree: tuple, leaf: Callable[[tuple], bool]) -> bool:
        kind = tree[0]
        if kind == "and":
            return ScanPruner._eval(tree[1], leaf) and ScanPruner._eval(
                tree[2], leaf
            )
        if kind == "or":
            return ScanPruner._eval(tree[1], leaf) or ScanPruner._eval(
                tree[2], leaf
            )
        return leaf(tree)


def _like_to_re(pattern: str):
    out = []
    i = 0
    while i < len(pattern):
        c = pattern[i]
        if c == "\\" and i + 1 < len(pattern):
            out.append(re.escape(pattern[i + 1]))
            i += 2
            continue
        if c == "%":
            out.append(".*")
        elif c == "_":
            out.append(".")
        else:
            out.append(re.escape(c))
        i += 1
    return re.compile("^" + "".join(out) + "$", re.DOTALL)
