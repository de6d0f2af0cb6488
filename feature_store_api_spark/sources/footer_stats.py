"""Per-column bounds from a parquet file's FOOTER — the one place the
package reads row-group statistics.

Every consumer that trusts footer min/max instead of a data pass goes
through :func:`footer_stats`: Delta ``add.stats``, Iceberg manifest
bounds, the staged ``_commit_time`` of the Hudi/Iceberg backends, and
the ``describe``/drift min/max shortcut. One set of trust rules keeps
them from drifting apart (a bound sound for one and poisonous for
another is a bug in both)."""

from __future__ import annotations

import math
from typing import Dict, Tuple

#: parquet-mr omits >4 KB binary stats but other writers may truncate;
#: a truncated MAX is unsound as an upper bound, so longer string or
#: binary stats are not trusted
_MAX_BOUND_LEN = 4000


def footer_stats(source) -> Dict[str, Tuple]:
    """``name -> (min, max, null_count, value_count)`` per TOP-LEVEL
    column of a parquet file (``source`` is a path or an already-read
    ``FileMetaData``). Nested paths carry a ``.`` and are skipped.

    Soundness over coverage: the moment ANY row group lacks a usable
    min/max for a column that has non-null values, both bounds drop to
    None (readers treat an absent bound as unbounded — never prunes).
    Non-finite float bounds drop too (NaN is poisonous to range tests,
    and neither NaN nor ±inf is valid JSON), as do string/binary
    bounds longer than 4,000 chars/bytes; INT96 timestamps simply have
    no footer stats, so their bounds are naturally absent. A column
    with no non-null values has no bounds. ``null_count`` falls to
    None when any chunk doesn't report it; ``value_count`` is rows
    including nulls."""
    if isinstance(source, str):
        import pyarrow.parquet as pq

        source = pq.read_metadata(source)
    stats: Dict[str, list] = {}  # name -> [min, max, nulls, rows, ok]
    for rg_i in range(source.num_row_groups):
        rg = source.row_group(rg_i)
        for c_i in range(rg.num_columns):
            col = rg.column(c_i)
            path = col.path_in_schema
            if "." in path:
                continue
            st = col.statistics
            s = stats.setdefault(path, [None, None, 0, 0, True])
            s[3] += rg.num_rows
            nc = st.null_count if st is not None else None
            if nc is None:
                s[2] = None
            elif s[2] is not None:
                s[2] += int(nc)
            n_vals = (
                rg.num_rows - int(nc)
                if nc is not None else rg.num_rows
            )
            if st is None or not st.has_min_max:
                if n_vals > 0:
                    s[4] = False  # values exist but no bounds: unusable
                continue
            mn, mx = st.min, st.max
            if any(
                isinstance(v, float) and not math.isfinite(v)
                or isinstance(v, (str, bytes)) and len(v) > _MAX_BOUND_LEN
                for v in (mn, mx)
            ):
                s[4] = False
                continue
            if s[0] is None or _stat_lt(mn, s[0]):
                s[0] = mn
            if s[1] is None or _stat_lt(s[1], mx):
                s[1] = mx
    return {
        name: (mn if ok else None, mx if ok else None, nulls, rows)
        for name, (mn, mx, nulls, rows, ok) in stats.items()
    }


def footer_min(source, column: str):
    """The trusted footer minimum of one column, or None."""
    return footer_stats(source).get(column, (None,))[0]


def _stat_lt(a, b) -> bool:
    try:
        return a < b
    except TypeError:
        return False
