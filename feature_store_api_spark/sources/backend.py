"""Physical storage backends for the time-travel commit store.

:class:`CommitStore` owns the LOGICAL time-travel semantics (record
identity, merge-on-read window dedupe, commit metadata counts,
retention guards). Everything PHYSICAL — how commit files land on
storage, how they are scanned back, how superseded commits are
destroyed, and where the transaction log lives — goes through this
interface, so a real lakehouse format is a drop-in when its jars
exist.

Mapping to the reference's engines (``core/delta_engine.py:116-170``,
``core/hudi_engine.py:102-224``) and to real formats:

===================  ============================  =========================
TimeTravelBackend    Delta Lake                    Hudi
===================  ============================  =========================
``append_commit``    ``df.write.format("delta")``  upsert/bulk-insert write
                     append (delta_engine.py:116)  (hudi_engine.py:126-160)
``scan``             snapshot/``timestampAsOf``    snapshot / incremental
                     read (delta_engine.py:141)    query (hudi_engine.py:193)
``drop_commit``      ``VACUUM`` file removal       cleaner service
                     (delta_engine.py:158-170)
``read_log`` /       ``_delta_log`` JSON actions   ``.hoodie`` timeline
``write_log`` /
``log_lock``
===================  ============================  =========================

Visibility rule: a commit is visible exactly when the store's log
holds its entry, and the store appends that entry only after
``append_commit`` has landed the data. ``scan`` returns raw rows of
every commit the backend holds, logged or not; the store filters the
scan to the logged commits of the read's window and resolves row
versions itself (merge-on-read, the Hudi-MOR-like design documented
in :mod:`.commit_store`). The same rule holds for the schema on the
plain backend: each log entry records its commit's data schema (as
Delta's log carries ``metaData``), and :class:`CommitLogBackend` reads
with the fold of the live entries' schemas, so an unlogged commit's
columns are not read either and no job merges file footers.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import contextmanager
from typing import Dict, List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructField, StructType

_LOG = "_commits.json"
_DATA = "data"


class TimeTravelBackend:
    """Contract for the commit store's physical I/O (see module doc)."""

    def append_commit(self, df: DataFrame, partition_cols: Sequence[str]) -> None:
        """Persist one commit's rows (the frame already carries the
        commit-time and op columns)."""
        raise NotImplementedError

    def append_base_commit(
        self, df: DataFrame, partition_cols: Sequence[str]
    ) -> None:
        """Persist a BASE commit (compaction / overwrite restatement):
        the store will treat this commit as a vacuum anchor, so its
        files must be SELF-CONTAINED — readable after every older
        commit's files are physically destroyed. The default backends'
        commits are all self-contained, so this defaults to a plain
        append; log-structured backends (Hudi MOR) override it to lay
        down fresh base file groups instead of log appends."""
        self.append_commit(df, partition_cols)

    def scan(
        self, spark: SparkSession, filters=None
    ) -> Optional[DataFrame]:
        """All live commit rows (schema-unioned), or None before the
        first commit. ``filters`` is an optional PARTITION-ONLY
        pushdown subtree (see ``constructor.filter.partition_subtree``) —
        backends that can prune files/groups on it do; ignoring it is
        always correct (the store and compiler re-apply exact
        predicates)."""
        raise NotImplementedError

    def drop_commit(self, commit_time: int) -> bool:
        """Physically destroy one commit's files (vacuum). Returns
        whether anything existed."""
        raise NotImplementedError

    def read_log(self) -> List[Dict]:
        raise NotImplementedError

    def write_log(self, log: List[Dict]) -> None:
        raise NotImplementedError

    def log_lock(self):
        """Context manager serializing log read-modify-write cycles."""
        raise NotImplementedError


class CommitLogBackend(TimeTravelBackend):
    """Default backend: parquet commit partitions + a JSON commit log.

    * rows land under ``data/_commit_time=<epoch_ms>/`` (plus user
      partition keys) — the commit id is a real partition column, so
      time travel is partition pruning;
    * the log is ``_commits.json``, guarded by an O_EXCL lockfile with
      stale-holder reclaim (the reference offloads this to Hudi/Delta's
      transaction log).
    """

    def __init__(self, location: str) -> None:
        self.location = location
        os.makedirs(location, exist_ok=True)

    # -- data ---------------------------------------------------------------
    @property
    def _data_path(self) -> str:
        return os.path.join(self.location, _DATA)

    def _existing_layout(self) -> "Optional[List[str]]":
        """Partition-dir column names of the existing data tree, or
        None when the table holds no data yet.

        Cost is bounded O(depth): the ROOT level validates ALL sibling
        directories (one listdir — that is where a crashed partial
        write or a foreign ``col=val`` dir realistically lands, and a
        full-tree walk would cost O(commits x partitions) on EVERY
        append for a ``_commit_time``-partitioned store); deeper levels
        probe one representative branch, still refusing loudly when the
        siblings listed there disagree on the partition column."""
        root = self._data_path
        if not os.path.isdir(root):
            return None
        cols: List[str] = []
        saw_data = False
        path = root
        while True:
            try:
                entries = sorted(os.listdir(path))
            except FileNotFoundError:
                break
            saw_data = saw_data or any(
                n.endswith(".parquet") for n in entries
            )
            names = set()
            subs: List[str] = []
            for n in entries:
                if "=" in n and os.path.isdir(os.path.join(path, n)):
                    names.add(n.partition("=")[0])
                    subs.append(n)
            if not names:
                break
            if len(names) > 1:
                raise ValueError(
                    f"commit store at {self.location!r} has an "
                    f"inconsistent partition layout: sibling directories "
                    f"disagree on the partition column at depth "
                    f"{len(cols)} ({sorted(names)}). This usually means "
                    "a crashed partial write or a foreign directory in "
                    "the data tree — clean it up before writing."
                )
            cols.append(names.pop())
            # descend the first NON-EMPTY branch: a crashed write can
            # leave an empty sibling that sorts first, and following it
            # would truncate the inferred layout (falsely refusing
            # every subsequent write of the true, deeper layout)
            nxt = None
            for sub in subs:
                cand = os.path.join(path, sub)
                try:
                    if os.listdir(cand):
                        nxt = cand
                        break
                except FileNotFoundError:
                    continue
            if nxt is None:
                break
            path = nxt
        return cols if (cols or saw_data) else None

    def append_commit(self, df: DataFrame, partition_cols: Sequence[str]) -> None:
        # partition layout is fixed at table creation: appending a
        # different partitionBy into the same tree would make Spark's
        # partition discovery fail (conflicting partition columns) or,
        # worse, silently misread — refuse at write time, the same
        # posture as the Hudi/Iceberg/Delta backends
        existing = self._existing_layout()
        if existing is not None and existing != list(partition_cols):
            raise ValueError(
                f"commit store at {self.location!r} was created with "
                f"partition columns {existing or '(none)'}; refusing to "
                f"write with partition columns "
                f"{list(partition_cols) or '(none)'} — partition layout "
                "is fixed at table creation. Recreate the feature group "
                "(new version) to change partitioning."
            )
        (
            df.write.partitionBy(list(partition_cols))
            .mode("append")
            .parquet(self._data_path)
        )

    def scan(
        self, spark: SparkSession, filters=None
    ) -> Optional[DataFrame]:
        """The parquet commit tree, read with the logged schema
        (:meth:`_logged_schema`): the data columns every live logged
        commit recorded, then the partition columns from partition
        discovery with their inferred types — the schema a
        ``mergeSchema`` footer merge gives, without its job. A log that
        cannot give one keeps the footer merge."""
        # ``filters`` is the store's PARTITION-ONLY subtree. For a
        # simple scan-filter plan Catalyst would prune directories from
        # the root predicate alone — but hints arrive precisely when
        # the exact predicate sits ABOVE a barrier Catalyst cannot push
        # through (the PIT window-over-union, version resolution), so
        # the subtree is applied HERE, directly over the file source,
        # where it lands in PartitionFilters. Safe: partition values
        # are part of the record identity (every version of a record
        # shares them), and the caller re-applies the exact predicate.
        if not os.path.exists(self._data_path):
            return None
        schema = self._logged_schema()
        reader = (
            spark.read.schema(schema) if schema is not None
            else spark.read.option("mergeSchema", "true")
        )
        df = reader.parquet(self._data_path)
        if filters is not None:
            from ..constructor.filter import filters_to_column, remap_tree

            bound = remap_tree(filters, df.columns)
            if bound is not None:
                df = df.where(filters_to_column(bound))
        return df

    def _logged_schema(self) -> Optional[StructType]:
        """The data columns of every live logged commit, folded oldest
        first in first-seen column order (the order a ``mergeSchema``
        footer merge gives). None — keep the footer merge — when there
        is no live commit, one was logged without a schema (a store
        written before commits recorded theirs), or two commits disagree
        on a column's type or name case: settling that stays with the
        footer merge."""
        live = sorted(
            (c for c in self.read_log() if not c.get("vacuumed")),
            key=lambda c: c["commit_time"],
        )
        if not live or any(not c.get("schema") for c in live):
            return None
        fields: Dict[str, StructField] = {}
        for schema in dict.fromkeys(c["schema"] for c in live):
            for f in StructType.fromJson(json.loads(schema)).fields:
                seen = fields.setdefault(f.name.lower(), f)
                if (seen.name, seen.dataType) != (f.name, f.dataType):
                    return None
        return StructType(list(fields.values()))

    def drop_commit(self, commit_time: int) -> bool:
        from .commit_store import COMMIT_COL

        part = os.path.join(self._data_path, f"{COMMIT_COL}={commit_time}")
        if os.path.exists(part):
            shutil.rmtree(part)
            return True
        return False

    # -- log ----------------------------------------------------------------
    @property
    def _log_path(self) -> str:
        return os.path.join(self.location, _LOG)

    def read_log(self) -> List[Dict]:
        if not os.path.exists(self._log_path):
            return []
        with open(self._log_path) as fh:
            return json.load(fh)

    def write_log(self, log: List[Dict]) -> None:
        tmp = self._log_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(log, fh, indent=1)
        os.replace(tmp, self._log_path)

    @contextmanager
    def log_lock(self):
        # serialize concurrent log writers: read-modify-write is a
        # lost-update hazard if two processes commit at once. An O_EXCL
        # lockfile with a staleness bound keeps mutations atomic without
        # a dependency; within one lock the tmp+rename write stays
        # crash-safe.
        lock = self._log_path + ".lock"
        deadline = time.time() + 30.0
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.close(fd)
                break
            except FileExistsError:
                try:
                    if os.path.getmtime(lock) < time.time() - 60.0:
                        # stale: holder died. Reclaim ATOMICALLY via
                        # rename-aside — exactly one waiter wins the
                        # rename; a plain remove would let two waiters
                        # both "reclaim" (the second deleting the
                        # winner's fresh lock → two holders).
                        stale = f"{lock}.stale.{os.getpid()}.{time.time_ns()}"
                        os.rename(lock, stale)
                        os.remove(stale)
                        continue
                except OSError:
                    continue
                if time.time() > deadline:
                    raise TimeoutError(f"Commit-log lock busy for 30s: {lock}")
                time.sleep(0.05)
        try:
            yield
        finally:
            try:
                os.remove(lock)
            except OSError:
                pass
