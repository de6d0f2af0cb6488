"""The one process-global memo for driver-side planning results.

The engine plans on the Spark driver, and a few planning steps pay a
JVM file listing or a scan-only job whose answer is fixed for a given
input: ``read_parquet``'s plans, the PIT skew probe's verdict, the skew
strategy's bucket bounds and ``negative_sampling``'s bucket counts.
They all keep their results here, under one bound.

The staleness rule (:func:`plan_key`): a result is reused only for the
same application, the same analyzed plan AND the same leaf file set
(``read_parquet`` has no plan before it builds one, so it keys on the
file listing itself: path, mtime, each entry's name and mtime). The
file set is needed because ``semanticHash`` ignores which files a
relation lists, so an overwrite at the same path hashes equal; writers
emit unique part names, so a rewrite changes the set. A plan that lists
no files (a local relation, a JDBC/DBAPI view whose data can change
under an identical plan) or that cannot be hashed is never cached.
"""

from __future__ import annotations

import threading
from typing import Any, Callable, Dict, Hashable, Optional

from pyspark.sql import DataFrame

#: entries kept; when full, the oldest half is dropped
_BOUND = 256
_CACHE: Dict[Hashable, Any] = {}
_LOCK = threading.Lock()
_MISSING = object()


def plan_key(tag: str, df: DataFrame, *extra) -> Optional[tuple]:
    """``(app id, tag, analyzed semanticHash, sorted input files,
    *extra)``, or None when ``df`` cannot be hashed or lists no files.
    ``tag`` names the caller so two results for one plan never collide."""
    try:
        files = tuple(sorted(df.inputFiles()))
        if not files:
            return None
        return (
            df.sparkSession.sparkContext.applicationId,
            tag,
            df._jdf.queryExecution().analyzed().semanticHash(),
            files,
            *extra,
        )
    except Exception:  # plan cannot be listed or hashed: never cache
        return None


def memo(key: Optional[Hashable], compute: Callable[[], Any]) -> Any:
    """The stored value for ``key``, else ``compute()`` stored under it.
    A None key computes and stores nothing."""
    if key is None:
        return compute()
    value = _CACHE.get(key, _MISSING)
    if value is _MISSING:
        value = compute()
        with _LOCK:
            if len(_CACHE) >= _BOUND:
                for k in list(_CACHE)[: _BOUND // 2]:
                    del _CACHE[k]
            value = _CACHE.setdefault(key, value)
    return value
