"""CommitStore — parquet + commit-log storage with time travel.

This is our Spark-native replacement for the reference's Hudi/Delta
duality (parity targets: snapshot & incremental scans
``/root/reference/python/hsfs/core/hudi_engine.py:102-224``, merge/delete
``core/delta_engine.py:87-170``, commit metadata
``core/delta_engine.py:172-204``). Delta Lake jars are not available in
this environment, so the design is first-principles and deliberately
Hudi-MOR-like:

* every write is a **commit**: rows land under
  ``data/_commit_time=<epoch_ms>/`` (plus user partition keys), so the
  commit id is a real partition column and time-travel reads become
  **partition pruning** — `.explain` shows the pruned scan.
* a commit is visible exactly when its log entry exists (Delta Lake's
  "the log is the table"): ``write`` lands the rows through the backend
  first and appends the log entry after, and every read scans exactly
  the logged commits of its window (:meth:`CommitStore._window`) — rows
  of a write that crashed before its log entry, or is still in flight,
  are never served.
* row identity = ``primary_key + event_time`` (the Hudi record key,
  ``core/hudi_engine.py:126-140``); a snapshot is the latest version of
  each identity (window dedupe), with the precombine key as tie-break
  within a commit (``core/hudi_engine.py:141-149``) and ``_op='delete'``
  tombstones dropped (``EmptyHoodieRecordPayload`` parity).
* ``compact()`` rewrites the snapshot as a new base commit so reads at
  100 TB don't re-merge the full history — the read path starts at the
  newest base at-or-before the requested time.

Scale notes: the dedupe window is one hash shuffle on the record key;
AQE skew-join/partition-coalescing handles hot keys; snapshots after
compaction read only base + tail commits.
"""

from __future__ import annotations

import functools
import operator
import os
import time
from dataclasses import asdict, dataclass, field
from typing import Dict, List, Optional, Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from ..operators.dedup import latest_per_key
from .backend import CommitLogBackend, TimeTravelBackend

COMMIT_COL = "_commit_time"
OP_COL = "_op"
# the existence marker ``write`` tags batch rows with for rows_updated
_HIT = "__prior_hit"


def _all(conds):
    return functools.reduce(operator.and_, conds)


def _nullable(t: DataType) -> DataType:
    """``t`` nullable at every level, as a parquet read returns it, so
    commits whose frames differ only in nullability log one schema."""
    if isinstance(t, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata)
             for f in t.fields]
        )
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


@dataclass
class FeatureGroupCommit:
    """Parity: ``/root/reference/python/hsfs/feature_group_commit.py``."""

    commit_time: int
    operation: str
    rows_inserted: int = 0
    rows_updated: int = 0
    rows_deleted: int = 0
    base: bool = False  # compaction base commit
    extra: Dict = field(default_factory=dict)
    # the commit's data-file schema as JSON (Delta's ``metaData``
    # ``schemaString``): the plain backend reads with it
    schema: Optional[str] = None

    def to_dict(self) -> Dict:
        return asdict(self)


class CommitStore:
    def __init__(
        self,
        location: str,
        primary_key: Sequence[str],
        event_time: Optional[str] = None,
        partition_key: Sequence[str] = (),
        precombine_key: Optional[str] = None,
        auto_compact_every: Optional[int] = 10,
        backend: Optional[TimeTravelBackend] = None,
        cluster_by: Sequence[str] = (),
    ) -> None:
        self.location = location
        # All physical I/O (commit files, scans, vacuum, the txn log)
        # routes through the backend seam — see sources/backend.py for
        # the contract and the Delta/Hudi mapping. This class keeps the
        # LOGICAL semantics: record identity, merge-on-read resolve,
        # commit metadata, retention guards.
        self.backend = backend or CommitLogBackend(location)
        self.primary_key = list(primary_key)
        self.event_time = event_time
        self.partition_key = list(partition_key)
        self.precombine_key = precombine_key
        # compaction cadence: after N delta commits since the last base,
        # write() triggers compact() — bounds the merge-on-read tail a
        # snapshot must window over (a streaming FG at 1 commit/min
        # would otherwise accumulate unbounded commit partitions).
        # None/0 disables. Parity: Hudi's inline-compaction trigger
        # (core/hudi_engine.py:171-224 timeline pruning).
        self.auto_compact_every = auto_compact_every
        # declared clustering (Z-order lite): every write — delta
        # commits AND compaction bases — sorts within partitions by
        # these columns, so parquet row-group min/max stats make pushed
        # predicates on them skip row groups. The 100 TB lever for
        # range-heavy access patterns (event-time windows, category
        # scans) that the partition key is too coarse (or too
        # high-cardinality) to serve. Falls back to record-key sorting
        # for bases when unset.
        self.cluster_by = list(cluster_by)
        os.makedirs(location, exist_ok=True)

    # -- record identity ---------------------------------------------------
    @property
    def record_key(self) -> List[str]:
        key = list(self.primary_key)
        if self.event_time and self.event_time not in key:
            key.append(self.event_time)
        # The partition path is part of record identity (Hudi's
        # non-global index: same pk in another partition is a different
        # record — core/hudi_engine.py:131-160). Including partition
        # keys in the dedupe window's PARTITION BY also lets Catalyst
        # push partition-column predicates through the window to the
        # scan, so a filter on a partition key prunes files.
        for k in self.partition_key:
            if k not in key:
                key.append(k)
        return key

    # -- commit log (thin delegations to the backend's txn log) ------------
    def _read_log(self) -> List[Dict]:
        return self.backend.read_log()

    def _log_lock(self):
        return self.backend.log_lock()

    def _write_log(self, log: List[Dict]) -> None:
        self.backend.write_log(log)

    def _append_log(self, commit: FeatureGroupCommit) -> None:
        with self._log_lock():
            log = self._read_log()
            log.append(commit.to_dict())
            self._write_log(log)

    def commit_details(self) -> List[Dict]:
        return sorted(self._read_log(), key=lambda c: -c["commit_time"])

    def _next_commit_time(self) -> int:
        """Reserve a commit time under the log lock: later than every
        logged commit and every earlier reservation (a high-water mark
        kept next to the log), so two writers in flight never share a
        ``_commit_time`` partition."""
        mark = os.path.join(self.location, "_commit_time.hwm")
        with self._log_lock():
            taken = [c["commit_time"] for c in self._read_log()]
            if os.path.exists(mark):
                with open(mark) as fh:
                    taken.append(int(fh.read()))
            ct = max([int(time.time() * 1000)] + [t + 1 for t in taken])
            with open(mark + ".tmp", "w") as fh:
                fh.write(str(ct))
            os.replace(mark + ".tmp", mark)
        return ct

    # -- write path --------------------------------------------------------
    def has_stream_batch(self, batch_key: str, *legacy_keys) -> bool:
        """Idempotence check for foreachBatch replays (exactly-once).

        ``batch_key`` is the checkpoint-scoped ``'<marker>:<batch_id>'``
        string. ``legacy_keys`` lets callers also match commits written
        before keys were checkpoint-scoped (bare int batch ids), so a
        checkpoint recovery spanning the format change still dedupes
        instead of re-committing the replayed batch."""
        accepted = {batch_key, *legacy_keys}
        return any(
            c.get("extra", {}).get("stream_batch_id") in accepted
            for c in self._read_log()
        )

    def write(
        self,
        df: DataFrame,
        operation: str = "upsert",
        compute_stats: bool = True,
        extra: Optional[Dict] = None,
    ) -> FeatureGroupCommit:
        """Append one commit (upsert / insert / delete).

        MERGE semantics are realized lazily: the commit only appends its
        rows; conflict resolution (newest commit wins per record key)
        happens at read via one window dedupe — the merge-on-read
        pattern. The commit metadata counts come from the write itself,
        the way Delta's ``operationMetrics`` do (parity
        ``core/delta_engine.py:172-204``), and are read once the backend
        append returns — no query of their own:

        * the batch row count ``n`` is observed on the write's own plan
          (``Dataset.observe``). A delete records ``rows_deleted = n``;
        * ``rows_updated`` is observed on the same plan: every batch row
          is tagged with whether its record key is among the prior live
          keys (:meth:`_prior_keys`) by a correlated ``EXISTS``, which
          Catalyst plans as an existence join — it never drops or
          duplicates a batch row. ``rows_inserted = n - rows_updated``.

        While the prior keys fit under ``autoBroadcastJoinThreshold`` the
        existence join broadcasts them and the batch keeps its own
        partitioning. Above it the join is a sort-merge join: the batch
        is hash-shuffled on its record key before the write, so the
        commit lands as one file per (coalesced) shuffle partition,
        each holding a hash range of keys.

        ``compute_stats=False`` skips both and records 0/0/0. Delete and
        overwrite commits, an empty window and a batch without record-key
        columns add no tag.

        The log entry also records the commit's data-file schema (every
        column but the partition columns, all nullable, as JSON), which
        the plain backend reads with instead of merging file footers.
        """
        if operation not in (
            "upsert", "insert", "bulk_insert", "delete", "overwrite"
        ):
            raise ValueError(f"Unknown operation {operation!r}")
        spark = df.sparkSession
        missing = [k for k in self.record_key if k not in df.columns]
        if missing and operation != "insert":
            raise ValueError(f"DataFrame missing record-key columns {missing}")

        ct = self._next_commit_time()
        schema = self._data_schema(df.schema)
        observed = hits = None
        if compute_stats:
            # observing the row count below the tag also shields a union
            # batch from Spark's PushProjectionThroughUnion, which would
            # push the EXISTS projection into each branch and lose the
            # subquery's outer references
            observed = Observation()
            df = df.observe(observed, F.count(F.lit(1)))
            key = [k for k in self.record_key if k in df.columns]
            prior = (
                None if operation in ("delete", "overwrite")
                else self._prior_keys(spark, key)
            )
            if prior is not None:
                hit = (
                    prior.alias("__p")
                    .where(_all(
                        F.col(f"__b.`{k}`").outer() == F.col(f"__p.`{k}`")
                        for k in key
                    ))
                    .exists()
                )
                hits = Observation()
                df = (
                    df.alias("__b")
                    .withColumn(_HIT, hit)
                    .observe(hits, F.count_if(_HIT))
                    .drop(_HIT)
                )

        out = df.withColumn(COMMIT_COL, F.lit(ct)).withColumn(
            OP_COL, F.lit("delete" if operation == "delete" else "upsert")
        )
        ck = [c for c in self.cluster_by if c in out.columns]
        if ck:
            # clustered row groups inside every commit file: pushed
            # predicates on the cluster columns skip row groups via
            # parquet min/max stats
            out = out.sortWithinPartitions(*ck)
        if operation == "overwrite":
            # a base commit is the vacuum anchor: backends whose
            # regular commits are NOT self-contained (Hudi MOR log
            # appends) must lay down fresh base files here
            self.backend.append_base_commit(
                out, [COMMIT_COL] + self.partition_key
            )
        else:
            self.backend.append_commit(
                out, [COMMIT_COL] + self.partition_key
            )
        inserted = updated = deleted = 0
        if observed is not None:
            # the append was the observed plan's only action
            (n,) = observed.get.values()
            if hits is not None:
                (updated,) = hits.get.values()
            if operation == "delete":
                deleted = n
            else:
                inserted = n - updated
        commit = FeatureGroupCommit(
            commit_time=ct,
            operation=operation,
            rows_inserted=inserted,
            rows_updated=updated,
            rows_deleted=deleted,
            # an OVERWRITE is a truncate-and-insert (the reference's
            # insert(overwrite=True) -> Hudi insert_overwrite_table):
            # marking it base= makes snapshot reads prune everything
            # older, exactly like a compaction base — while as_of time
            # travel below it keeps working until vacuum
            base=(operation == "overwrite"),
            extra=extra or {},
            schema=schema,
        )
        self._append_log(commit)
        if (
            self.auto_compact_every
            and self._commits_since_base() >= self.auto_compact_every
        ):
            self.compact(spark)
        return commit

    def _data_schema(self, schema: StructType) -> str:
        """A commit's data-file schema as JSON: the frame's columns minus
        the partition columns, plus ``_op``, nullable at every level as
        a parquet read gives them."""
        skip = {COMMIT_COL, OP_COL, *self.partition_key}
        return _nullable(
            StructType(
                [f for f in schema.fields if f.name not in skip]
                + [StructField(OP_COL, StringType())]
            )
        ).json()

    @staticmethod
    def _window(
        log: List[Dict],
        start_commit: Optional[int],
        end_commit: Optional[int],
    ) -> List[Dict]:
        """The live logged commits a read merges, oldest first — the one
        place the merge window is worked out. A commit with no log entry
        is never in it, so its rows are never read.

        A snapshot (no ``start_commit``) starts at the newest base at or
        before ``end_commit``: everything older is folded into it. An
        incremental pull takes the commits in ``(start, end]`` except
        COMPACTION bases — rewrites, not changes; including one would
        report the whole table as changed. An OVERWRITE base stays: its
        rows ARE new data (Hudi's insert_overwrite shows in incremental
        reads). Vacuumed commits have no files and never widen it."""
        live = sorted(
            (
                c for c in log
                if not c.get("vacuumed")
                and (end_commit is None or c["commit_time"] <= end_commit)
            ),
            key=lambda c: c["commit_time"],
        )
        if start_commit is not None:
            return [
                c for c in live
                if c["commit_time"] > start_commit
                and c.get("operation") != "compaction"
            ]
        bases = [i for i, c in enumerate(live) if c.get("base")]
        return live[bases[-1]:] if bases else live

    def _commits_since_base(self) -> int:
        """Delta commits on top of the newest base — the merge-on-read
        tail length a snapshot read has to window over."""
        window = self._window(self._read_log(), None, None)
        return len(window) - (1 if window and window[0].get("base") else 0)

    def _prior_keys(
        self, spark: SparkSession, key: List[str]
    ) -> Optional[DataFrame]:
        """The ``key`` columns (the record-key columns the batch has) of
        the rows live before the write, or None when no batch row can
        match: no key column, or an empty window.

        Only a delete commit can retire a key, so while the snapshot
        window holds none, every key in any of its logged commits is
        live — the window's rows stand in for the snapshot without its
        latest-per-key resolve. With deletes in the window, a row stays
        live unless a delete row of the same key is newer: one anti join
        against the window's delete rows, exact because a commit's
        ``_op`` is constant and commit times are unique."""
        window = self._window(self._read_log(), None, None)
        if not key or not window:
            return None
        rows = self.backend.scan(spark)
        if rows is None:
            return None
        rows = rows.where(
            F.col(COMMIT_COL).isin([c["commit_time"] for c in window])
        )
        deletes = [c for c in window if c.get("operation") == "delete"]
        if deletes:
            gone = rows.where(F.col(OP_COL) == "delete").alias("__d")
            if self._tail_rows_small(deletes):
                # the log's counts show the delete rows are few
                gone = F.broadcast(gone)
            rows = (
                rows.where(F.col(OP_COL) != "delete")
                .alias("__r")
                .join(
                    gone,
                    _all(
                        F.col(f"__r.`{k}`").eqNullSafe(F.col(f"__d.`{k}`"))
                        for k in key
                    )
                    & (F.col(f"__d.{COMMIT_COL}") > F.col(f"__r.{COMMIT_COL}")),
                    "left_anti",
                )
            )
        return rows.select(*[F.col(f"`{k}`") for k in key])

    # broadcast gate for the base-plus-small-tail merge: ~2M keys at
    # ~(8-50) B/key builds a 16-100 MB broadcast relation — comfortably
    # inside Spark's 8 GB / 512M-row broadcast cap and the "few hundred
    # MB is fine" operating band. Class attribute so a deployment (or a
    # test) can tune it per table.
    MOR_TAIL_MAX_ROWS = 2_000_000

    def _tail_rows_small(self, tail_commits: List[Dict]) -> bool:
        """Whether the delta tail is provably small enough to broadcast
        its record keys — judged ONLY from row counts recorded in the
        commit log (``compute_stats=True`` writes exact batch counts).
        A tail commit with no recorded rows is ambiguous (stats skipped
        on a possibly-huge write vs genuinely empty) and disqualifies
        the path — conservatively falling back to the shuffle resolve
        is always correct."""
        total = 0
        for c in tail_commits:
            n = (
                (c.get("rows_inserted") or 0)
                + (c.get("rows_updated") or 0)
                + (c.get("rows_deleted") or 0)
            )
            if n <= 0:
                return False
            total += n
        return 0 < total <= self.MOR_TAIL_MAX_ROWS

    def _merge_base_with_tail(
        self,
        df: DataFrame,
        base_ct: int,
        key: List[str],
        order: List[str],
        tail_len: int,
    ) -> DataFrame:
        """Merge-on-read split of a snapshot frame already filtered to
        its window (a compaction base plus its tail): base rows not
        superseded by any tail row (broadcast null-safe anti join on the
        record key) unioned with the tail's own latest-per-key
        survivors. Exactly equivalent to the resolve over base ∪ tail:
        every tail commit time is newer than the base's, so a key
        present in the tail always shadows its base row regardless of
        precombine, and keys only in the base keep their single
        (base-unique) row."""
        base = df.where(F.col(COMMIT_COL) == base_ct).alias("__base")
        delta = df.where(F.col(COMMIT_COL) > base_ct)
        delta_keys = F.broadcast(delta.select(*key).alias("__tail"))
        cond = _all(
            F.col(f"__base.`{k}`").eqNullSafe(F.col(f"__tail.`{k}`"))
            for k in key
        )
        survivors = base.join(delta_keys, cond, "left_anti")
        strategy = "window" if tail_len <= 64 else "agg"
        resolved = latest_per_key(delta, key, order_by=order, strategy=strategy)
        return survivors.unionByName(resolved)

    # -- read path ---------------------------------------------------------
    def snapshot_or_none(self, spark, start_commit=None, end_commit=None):
        try:
            return self.snapshot(spark, start_commit, end_commit)
        except FileNotFoundError:
            return None

    def snapshot(
        self,
        spark: SparkSession,
        start_commit: Optional[int] = None,
        end_commit: Optional[int] = None,
        filters=None,
    ) -> DataFrame:
        """State as of ``end_commit`` (epoch ms, inclusive); with
        ``start_commit`` an incremental read of identities changed in
        ``(start_commit, end_commit]`` (parity: Hudi incremental scan,
        ``core/hudi_engine.py:193-219``).

        ``filters`` (Filter IR hint) pushes ONLY its partition-key
        subtree into the backend scan: partition values are part of the
        record identity, so every version of a record shares them —
        pre-filtering on anything else could resurrect superseded
        versions through the latest-per-key resolution below."""
        tree = None
        if filters is not None and self.partition_key:
            from ..constructor.filter import (
                normalize_filters,
                partition_subtree,
            )

            try:
                tree = partition_subtree(
                    normalize_filters(filters), self.partition_key
                )
            except ValueError:
                tree = None  # unknown op in the hint: skip pushdown
        df = self.backend.scan(spark, filters=tree)
        if df is None:
            raise FileNotFoundError(f"No data written to {self.location}")
        log = self._read_log()

        # retention guard: a read that would touch vacuumed commits must
        # fail loudly, never silently return partial state (Delta VACUUM
        # raises the same way on a timestampAsOf before the horizon)
        vacuumed = [c["commit_time"] for c in log if c.get("vacuumed")]
        if vacuumed:
            vmax = max(vacuumed)
            # the retention floor is the oldest SURVIVING commit (after a
            # vacuum that is the anchor base): any as_of strictly before
            # it has no base to read from — even if it is later than the
            # newest vacuumed commit (the gap between max(vacuumed) and
            # the anchor can span days). Guarding only on end <= vmax
            # would let such reads silently return an empty snapshot.
            surviving = [
                c["commit_time"] for c in log if not c.get("vacuumed")
            ]
            floor = min(surviving) if surviving else None
            if (
                start_commit is None
                and end_commit is not None
                and (floor is None or end_commit < floor)
            ):
                raise ValueError(
                    f"Cannot time-travel to commit {end_commit}: history "
                    f"before the retention floor "
                    f"{floor if floor is not None else '(all commits)'} was "
                    f"vacuumed (out of retention)"
                )
            lost = [
                c["commit_time"]
                for c in log
                if c.get("vacuumed") and not c.get("base")
            ]
            if start_commit is not None and any(
                start_commit < v and (end_commit is None or v <= end_commit)
                for v in lost
            ):
                raise ValueError(
                    f"Cannot pull changes after commit {start_commit}: "
                    f"commits in the window were vacuumed (retention floor "
                    f"{vmax})"
                )

        # the log is the table: scan exactly the window's logged commits
        window = self._window(log, start_commit, end_commit)
        df = df.where(
            F.col(COMMIT_COL).isin([c["commit_time"] for c in window])
        )

        key = [k for k in self.record_key if k in df.columns]
        if key:
            order = [COMMIT_COL] + ([self.precombine_key] if self.precombine_key else [])
            # One commit holds at most one row per record key (upsert
            # grain), so ordering by commit time is total — and rows per
            # key in this read are bounded by len(window), known
            # driver-side from the log. With a short tail
            # (auto-compaction keeps it ≤ auto_compact_every) a window
            # sort partition holds that few rows per key — no hot-key
            # risk BY CONSTRUCTION, and the window plan skips
            # the agg path's per-row struct buffers (~70% of b3's cost
            # at benign skew). Only an unbounded tail (auto-compaction
            # off, hundreds of commits) falls back to the skew-immune
            # map-side max_by. A compaction base is engine-written
            # latest_per_key output, unique per record key BY
            # CONSTRUCTION (an OVERWRITE base is user data with no such
            # guarantee).
            compacted = (
                bool(window) and window[0].get("operation") == "compaction"
            )
            tail = window[1:]
            if compacted and not tail:
                # merge window == exactly one compaction base: the
                # resolve would shuffle the ENTIRE table to keep every
                # row. Skip it — the post-maintenance steady state at
                # warehouse scale reads base files with zero exchanges
                # (guide §2.4: removing a distinct over already-unique
                # data). The delete filter below stays (vacuously true
                # here: a base never carries delete rows).
                pass
            elif compacted and self._tail_rows_small(tail):
                # compaction base + SMALL delta tail: the classic
                # merge-on-read split. The base streams through a
                # broadcast ANTI join against the tail's record keys
                # (null-safe, so a null-keyed base row is still
                # superseded by a null-keyed delta) and is never
                # shuffled; only the small tail pays the latest-per-key
                # resolve. The window/agg resolve over base ∪ tail
                # would shuffle the whole table to apply a tail that is
                # orders of magnitude smaller.
                df = self._merge_base_with_tail(
                    df, window[0]["commit_time"], key, order, len(tail)
                )
            else:
                strategy = "window" if len(window) <= 64 else "agg"
                df = latest_per_key(df, key, order_by=order, strategy=strategy)
        df = df.where(F.col(OP_COL) != "delete")
        return df.drop(COMMIT_COL, OP_COL)

    # -- maintenance -------------------------------------------------------
    def compact(self, spark: SparkSession) -> FeatureGroupCommit:
        """Rewrite the current snapshot as a base commit. Subsequent
        snapshot reads prune everything older than the base — the
        copy-on-write moment of our merge-on-read design."""
        snap = self.snapshot(spark)
        ct = self._next_commit_time()
        schema = self._data_schema(snap.schema)
        out = snap.withColumn(COMMIT_COL, F.lit(ct)).withColumn(OP_COL, F.lit("upsert"))
        sort_keys = [
            c for c in (self.cluster_by or self.record_key)
            if c in out.columns
        ]
        if sort_keys:
            # clustered (declared cluster_by, else pk) row groups in the
            # base: parquet min/max stats prune pushed predicates to
            # matching row groups
            out = out.sortWithinPartitions(*sort_keys)
        self.backend.append_base_commit(out, [COMMIT_COL] + self.partition_key)
        commit = FeatureGroupCommit(
            commit_time=ct, operation="compaction", base=True, schema=schema
        )
        self._append_log(commit)
        return commit

    def vacuum(
        self,
        retain_hours: float = 168.0,
        now_ms: Optional[int] = None,
    ) -> List[int]:
        """Physically delete commit partitions that are BOTH outside the
        retention window AND superseded by a compaction base (parity:
        Hudi cleaner / Delta ``VACUUM`` with its default 168h horizon —
        the reference delegates to ``core/delta_engine.py`` retention).

        Anchor = the newest base commit at-or-before ``now - retain``;
        every commit strictly older than the anchor is removed (its
        state is folded into the anchor base), so ``as_of(t)`` for any
        ``t >= anchor`` — i.e. the whole retention window — stays
        byte-exact, while reads before the anchor raise. Without an
        eligible base nothing is deleted (time-travel safety beats
        space). Log entries are kept, flagged ``vacuumed`` — commit
        history stays auditable and pre-horizon reads fail loudly.
        Returns the removed commit times."""
        now = int(now_ms if now_ms is not None else time.time() * 1000)
        cutoff = now - int(retain_hours * 3600 * 1000)
        with self._log_lock():
            log = self._read_log()
            bases = [
                c["commit_time"]
                for c in log
                if c.get("base") and not c.get("vacuumed")
            ]
            anchor = max((b for b in bases if b <= cutoff), default=None)
            if anchor is None:
                return []
            removed: List[int] = []
            for c in log:
                if c.get("vacuumed") or c["commit_time"] >= anchor:
                    continue
                self.backend.drop_commit(c["commit_time"])
                c["vacuumed"] = True
                removed.append(c["commit_time"])
            if removed:
                self._write_log(log)
        return removed
