"""Online store: latest-value-per-primary-key materialization + lookups.

Parity targets: the online feature store the reference fills via Kafka
and serves from MySQL/RonDB — upsert keeps only the newest row per pk
(``/root/reference/python/hsfs/core/hudi_engine.py:141-149`` precombine
semantics), lookups are per-FG point/batch selects stitched on serving
keys (``core/online_store_sql_engine.py:279-437``, prepared-statement
shape ``SELECT ... WHERE pk = ?`` / ``WHERE pk IN (?)``).

Implementation — LSM-flavored merge-on-read:

* ``base/`` holds compacted state, hash-partitioned by
  ``_online_bucket = crc32(pk) % num_buckets`` — point lookups prune to
  one directory (the bucket hash is crc32 precisely so the driver can
  compute it in Python).
* an upsert APPENDS its rows to ``delta/`` as-is — ONE job, no shuffle,
  no table read, no rewrite: a 1-row micro-batch costs one small file.
  ``_online_bucket`` rides along as a data column, so a Spark read
  prunes the (small, recent) delta pile by row group.
* a Spark read resolves newest-per-key over base ∪ delta with one
  window (event_time, then precombine, then arrival sequence — Hudi
  precombine parity). A driver-side lookup replays that order in Arrow
  over the keys' base buckets and the delta pile, which each store
  instance decodes once per file (the files are write-once, so the
  directory listing says what is new and what is gone).
* every ``auto_compact_every`` upserts, compaction folds the deltas
  into a new bucket-partitioned base (write-then-atomic-swap), so the
  merge tail a read windows over stays bounded — the same cadence
  design as the offline commit store.

At cluster scale you'd back this with a real KV store; the API is the
contract.
"""

from __future__ import annotations

import functools
import json
import operator
import os
import shutil
import warnings
import zlib
from typing import Dict, List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import latest_per_key

_SEQ = "_online_seq"
_BUCKET = "_online_bucket"

# once-per-process flag: the arrow→Spark degradation is availability-
# preserving but must not be SILENT — a permanent arrow-path breakage
# (e.g. a filter type pyarrow can't push) would otherwise quietly turn
# every ms-latency lookup into a Spark job with zero signal
_ARROW_FALLBACK_WARNED = False


def _naive_utc(rec: Dict, naive_is_local: bool) -> Dict:
    """A hit row with every datetime value in NAIVE UTC: the one clock
    domain both lookup paths serve (serving-TTL freshness compares in
    it). Tz-aware values (TIMESTAMP_LTZ, int64-utc files) convert on
    both paths. Naive values differ per path:

    * Spark's ``collect()`` converts TimestampType through
      ``datetime.fromtimestamp``, the process's LOCAL timezone; its rows
      pass ``naive_is_local=True``, and ``astimezone`` applies the exact
      inverse (identity on UTC machines);
    * pyarrow's naive values are already UTC (the session pins
      ``spark.sql.session.timeZone=UTC`` at write) and pass untouched,
      including the naive ``pandas.Timestamp`` of ns (INT96) columns."""
    import datetime as _dt

    out = {}
    for k, v in rec.items():
        if isinstance(v, _dt.datetime) and (naive_is_local or v.tzinfo is not None):
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        out[k] = v
    return out


def _portable_str(v) -> Optional[str]:
    """Python-side string form matching Spark's ``CAST(x AS STRING)``
    for the pk types we bucket on (int, str). Returns None for types
    whose cast text may diverge (float/bool/...) — callers then skip
    bucket pruning (correct, just unpruned)."""
    if isinstance(v, bool):  # bool is an int subclass — exclude first
        return None
    if isinstance(v, (int, str)):
        return str(v)
    return None


def _parts(tables) -> list:
    """One contiguous table per schema (metadata aside), in first-seen
    order: a file whose schema is wider or different stays its own
    part. Empty tables are left out (pyarrow's ``indices_nonzero``
    crashes on a 0-chunk array)."""
    import pyarrow as pa

    groups: Dict = {}
    for t in tables:
        if t.num_rows:
            groups.setdefault(t.schema.remove_metadata(), []).append(t)
    return [pa.concat_tables(g).combine_chunks() for g in groups.values()]


class OnlineStore:
    def __init__(
        self,
        location: str,
        primary_key: Sequence[str],
        event_time: Optional[str] = None,
        precombine_key: Optional[str] = None,
        num_buckets: int = 32,
        auto_compact_every: Optional[int] = 10,
    ) -> None:
        self.location = location
        self.primary_key = list(primary_key)
        self.event_time = event_time
        self.precombine_key = precombine_key
        self.auto_compact_every = auto_compact_every
        # observability: how many times _arrow_lookup degraded to the
        # Spark fallback on this instance (see _ARROW_FALLBACK_WARNED)
        self.arrow_fallback_count = 0
        # the decoded delta pile, ({path: table}, parts), one attribute
        # so a concurrent lookup never pairs files and parts of two states
        self._pile_state: tuple = ({}, [])
        os.makedirs(location, exist_ok=True)
        # bucket count must stay stable for the life of the table: a
        # sidecar records it at creation and wins over the ctor arg
        meta_path = os.path.join(location, "_meta.json")
        if os.path.exists(meta_path):
            with open(meta_path) as fh:
                self.num_buckets = int(json.load(fh)["num_buckets"])
        else:
            self.num_buckets = int(num_buckets)
            with open(meta_path, "w") as fh:
                json.dump({"num_buckets": self.num_buckets}, fh)

    @classmethod
    def for_feature_group(cls, fg) -> "OnlineStore":
        if fg.location is None:
            raise ValueError(f"Feature group {fg.name!r} has no managed location")
        return cls(
            os.path.join(fg.location, "online"),
            primary_key=fg.primary_key,
            event_time=fg.event_time,
            precombine_key=getattr(fg, "precombine_key", None),
        )

    @property
    def _base_path(self) -> str:
        return os.path.join(self.location, "base")

    @property
    def _delta_path(self) -> str:
        return os.path.join(self.location, "delta")

    @staticmethod
    def _has_parquet(path: str) -> bool:
        return any(
            f.endswith(".parquet") for _r, _d, fs in os.walk(path) for f in fs
        )

    def _exists(self) -> bool:
        return self._has_parquet(self._base_path) or self._has_parquet(
            self._delta_path
        )

    # -- sidecar counters --------------------------------------------------
    def _counter(self, name: str, bump: bool = False) -> int:
        path = os.path.join(self.location, name)
        val = 0
        if os.path.exists(path):
            with open(path) as fh:
                val = int(fh.read().strip() or 0)
        if bump:
            val += 1
            with open(path, "w") as fh:
                fh.write(str(val))
        return val

    # -- bucketing ---------------------------------------------------------
    def _bucket_expr(self):
        """crc32(pk1 <US> pk2 ...) % num_buckets — chosen over Spark's
        ``hash()`` because the same value is computable driver-side
        (zlib.crc32), letting point lookups prune partitions."""
        parts = [F.col(c).cast("string") for c in self.primary_key]
        return F.pmod(
            F.crc32(F.concat_ws("\x1f", *parts)), F.lit(self.num_buckets)
        ).cast("int")

    def _bucket_of(self, key: Dict) -> Optional[int]:
        parts = []
        for k in self.primary_key:
            s = _portable_str(key.get(k))
            if s is None:
                return None
            parts.append(s)
        return zlib.crc32("\x1f".join(parts).encode("utf-8")) % self.num_buckets

    def _buckets(self, keys: List[Dict]) -> Optional[List[int]]:
        """The buckets the keys hash to; None if a key is unprunable."""
        out = {self._bucket_of(k) for k in keys}
        return None if None in out else sorted(out)

    # -- write path --------------------------------------------------------
    def upsert(self, df: DataFrame) -> None:
        """Append the batch to the delta pile — O(batch) work, one Spark
        job, zero reads of existing state. Conflict resolution (newest
        per pk) happens at read via one window; every
        ``auto_compact_every`` upserts :meth:`compact` folds the deltas
        so the merge tail stays bounded."""
        seq = self._counter("_seq", bump=True)
        batch = df.withColumn(_SEQ, F.lit(seq)).withColumn(
            _BUCKET, self._bucket_expr()
        )
        batch.write.mode("append").parquet(self._delta_path)
        # bump unconditionally: _resolve keys its window-vs-agg strategy
        # choice off this counter, so with auto-compaction DISABLED the
        # counter must still track the (now unbounded) delta tail —
        # otherwise a permanently-zero counter would keep picking the
        # window path in exactly the case the skew-immune agg exists for
        since = self._counter("_upserts_since_compact", bump=True)
        if self.auto_compact_every and since >= self.auto_compact_every:
            self.compact(df.sparkSession)

    def truncate(self) -> None:
        """Drop ALL online content (base + delta piles), keeping the
        table's identity (bucket-count sidecar, monotonic ``_seq``).

        Reference parity ``feature_group_engine.py:181``
        (``delete_content`` ahead of an overwrite insert): the online
        table must be emptied BEFORE the overwrite batch upserts, so
        keys absent from the overwrite frame stop serving — online and
        offline snapshots agree again. ``_seq`` is deliberately NOT
        reset: later deltas must still sort after any concurrent
        reader's cached view."""
        for path in (self._base_path, self._delta_path):
            if os.path.exists(path):
                shutil.rmtree(path)
        with open(os.path.join(self.location, "_upserts_since_compact"), "w") as fh:
            fh.write("0")

    def compact(self, spark: SparkSession) -> None:
        """Fold base ∪ delta into a new bucket-partitioned base
        (one shuffle per side of the window + bucketed write), swap it
        in atomically, and clear the delta pile."""
        latest = self._resolve(self._raw(spark))
        tmp = self._base_path + ".tmp"
        (
            latest.repartition(F.col(_BUCKET))
            # pk-sorted row groups: parquet min/max stats then prune a
            # point lookup's pushed pk predicate to one row group
            .sortWithinPartitions(*self.primary_key)
            .write.mode("overwrite")
            .partitionBy(_BUCKET)
            .parquet(tmp)
        )
        if os.path.exists(self._base_path):
            shutil.rmtree(self._base_path)
        os.replace(tmp, self._base_path)
        if os.path.exists(self._delta_path):
            shutil.rmtree(self._delta_path)
        with open(os.path.join(self.location, "_upserts_since_compact"), "w") as fh:
            fh.write("0")

    # -- read path ---------------------------------------------------------
    def _raw(self, spark: SparkSession, buckets: Optional[List[int]] = None) -> DataFrame:
        """base ∪ delta, optionally restricted to a bucket list: the
        base restriction is directory-level partition pruning; the delta
        restriction is a pushed row-group predicate over the (small)
        recent files."""
        if not self._exists():
            raise FileNotFoundError(f"Online store empty at {self.location}")
        parts = []
        for path in (self._base_path, self._delta_path):
            if self._has_parquet(path):
                # mergeSchema: upserts may widen the schema over time
                df = spark.read.option("mergeSchema", "true").parquet(path)
                if buckets is not None:
                    df = df.where(F.col(_BUCKET).isin(buckets))
                parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    def _order(self) -> List[str]:
        """The newest-row order of both lookup paths, most significant
        first: event_time (else the upsert sequence), then precombine,
        then the unique upsert sequence, so the order is total. With
        precombine set and no event_time, arrival decides FIRST (latest
        upsert wins) — precombine first would make serving disagree
        with batch reads (training-serving skew)."""
        return [self.event_time or _SEQ] + [
            c for c in (self.precombine_key,) if c
        ] + [_SEQ]

    def _resolve(self, df: DataFrame) -> DataFrame:
        # The order is total under BOTH strategies. Strategy choice: the
        # delta tail length is known driver-side (the
        # _upserts_since_compact counter; auto-compaction keeps it ≤
        # auto_compact_every), and a key appears at most ~once per
        # upsert batch, so with a short tail a window-sort partition
        # holds a handful of rows per key — no hot key possible, and the
        # window plan skips the agg path's per-row struct buffers (the
        # b7 regression). An unbounded tail (auto-compaction off) keeps
        # the skew-immune map-side max_by.
        order = self._order()
        tail = self._counter("_upserts_since_compact")
        return latest_per_key(
            df,
            self.primary_key,
            order_by=order[:1],
            tie_breakers=order[1:],
            strategy="window" if tail <= 64 else "agg",
        )

    def read(self, spark: SparkSession) -> DataFrame:
        """Latest state per primary key (merge-on-read window)."""
        return self._resolve(self._raw(spark)).drop(_SEQ, _BUCKET)

    # -- serving -----------------------------------------------------------
    def _pruned(self, spark: SparkSession, keys: List[Dict]) -> DataFrame:
        """Latest state restricted to the buckets the keys hash to."""
        df = self._raw(spark, self._buckets(keys))
        return self._resolve(df).drop(_SEQ, _BUCKET)

    def get_feature_vector(
        self, spark: SparkSession, key: Dict, return_type: str = "dict"
    ) -> Optional[Dict]:
        """Single lookup: ``WHERE pk1 = v1 AND pk2 = v2`` (prepared-
        statement parity, serving_prepared_statement_fixtures.json:40).

        Prefers the driver-side pyarrow path (ms latency, zero Spark
        jobs); falls back to the Spark plan when the key is unprunable
        or the layout defeats a plain arrow read."""
        if return_type == "dict":
            return self.get_feature_vectors(spark, [key])[0]
        cond = functools.reduce(
            operator.and_, (F.col(k) == F.lit(key[k]) for k in self.primary_key)
        )
        rows = self._pruned(spark, [key]).where(cond).limit(2).collect()
        return rows[0] if rows else None

    def get_feature_vectors(
        self, spark: SparkSession, keys: List[Dict]
    ) -> List[Optional[Dict]]:
        """Batch lookup: single-pk → ``IN`` list; composite pk → semi
        join on a literal frame. Results stitched back in request order
        (parity ``core/online_store_sql_engine.py:337-437``). Small
        batches take the driver-side pyarrow path (no Spark job)."""
        if len(keys) <= 1024:
            fast = self._arrow_lookup(keys)
            if fast is not None:
                return fast
        return self.lookup(self._pruned(spark, keys), keys)

    @property
    def pile_stats(self) -> Dict[str, int]:
        """``{files, rows, bytes}`` of the delta pile as the last arrow
        lookup decoded it; ``bytes`` counts the decoded files and their
        per-schema parts. The pile is the delta files since the last
        compaction, so ``auto_compact_every`` bounds it."""
        decoded, parts = self._pile_state
        files = list(decoded.values())
        return {"files": len(files), "rows": sum(t.num_rows for t in files),
                "bytes": sum(t.nbytes for t in files + parts)}

    def _pile(self) -> list:
        """The delta pile as per-schema parts (:func:`_parts`), decoded
        once per file. The pile is every ``*.parquet`` under ``delta/``,
        skipping path components that start with ``_`` or ``.`` (Spark's
        in-flight ``_temporary/``) as pyarrow's discovery does.

        Staleness contract: delta files are write-once (an upsert adds
        one; compact and truncate delete the directory), so the file
        listing is the pile's version. A file is decoded by the first
        lookup that lists it and dropped by the first that does not."""
        paths = []
        for root, dirs, files in os.walk(self._delta_path):
            dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
            paths += [
                os.path.join(root, f) for f in sorted(files)
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            ]
        decoded, parts = self._pile_state
        if paths != list(decoded):
            import pyarrow.parquet as pq

            decoded = {
                p: decoded[p] if p in decoded else pq.read_table(p) for p in paths
            }
            parts = _parts(decoded.values())
            self._pile_state = (decoded, parts)
        return parts

    def _arrow_lookup(self, keys: List[Dict]) -> Optional[List[Optional[Dict]]]:
        """Point/batch lookup WITHOUT Spark: the bucket of each key is
        crc32-computable in Python (that is WHY the bucket hash is
        crc32), so the read is the keys' ``base/_bucket=N`` directories,
        through pyarrow with the pk predicate pushed to row groups, plus
        this instance's decoded delta pile (:meth:`_pile`).

        The newest-per-key resolve runs in Arrow: one stable sort of the
        candidate rows by ``_resolve``'s order, descending with nulls
        lowest and the read position last (the later row wins a full
        tie), then the first row per key. Only the winners become
        Python values, taken from their own part.

        Returns None (→ Spark fallback) for unprunable key types or any
        arrow-side surprise."""
        buckets = self._buckets(keys)
        if buckets is None:
            return None
        if not self._exists():
            raise FileNotFoundError(f"Online store empty at {self.location}")
        try:
            import pyarrow as pa
            import pyarrow.compute as pc
            import pyarrow.dataset as ds

            pk = self.primary_key
            vals = {p: pa.array(list({k[p] for k in keys})) for p in pk}
            f = functools.reduce(operator.and_, (ds.field(p).isin(vals[p]) for p in pk))
            dirs = [os.path.join(self._base_path, f"{_BUCKET}={b}") for b in buckets]
            base = [
                ds.dataset(d, format="parquet").to_table(filter=f)
                for d in dirs if self._has_parquet(d)
            ]
            parts = _parts(base) + self._pile()
            if not parts:
                return [None] * len(keys)
            order = self._order()
            names = pk + [f"_o{j}" for j in range(len(order))] + ["_part", "_row"]
            narrow = []
            for i, t in enumerate(parts):
                rows = pc.indices_nonzero(functools.reduce(
                    pc.and_, (pc.is_in(t[p], value_set=vals[p]) for p in pk)
                ))
                cols = [
                    t[c].take(rows) if c in t.schema.names else pa.nulls(len(rows))
                    for c in pk + order
                ]
                # one naive-UTC type for this comparison only: an aware
                # value casts to its UTC instant, ns truncates to Spark's µs
                cols = [
                    c.cast(pa.timestamp("us"), safe=False)
                    if pa.types.is_timestamp(c.type) else c for c in cols
                ]
                cols += [pa.array([i] * len(rows), pa.int32()), rows]
                narrow.append(pa.table(cols, names))
            cand = pa.concat_tables(narrow, promote_options="permissive")
            ranked = cand.take(pc.sort_indices(
                cand,
                [(c, "descending") for c in cand.column_names[len(pk):]],
                null_placement="at_end",
            ))
            # the first row of each key in rank order is its newest
            won = ranked.group_by(pk, use_threads=False).aggregate(
                [("_part", "first"), ("_row", "first")]
            ).to_pylist()
            hits: Dict = {}
            for i in {w["_part_first"] for w in won}:
                rows = [w["_row_first"] for w in won if w["_part_first"] == i]
                for rec in parts[i].take(rows).to_pylist():
                    hits[tuple(rec[p] for p in pk)] = rec
            # union of the columns: schema widening can leave a column
            # in some tables only (the Spark path reads with
            # mergeSchema=true); a row lacking it serves None
            columns = list(dict.fromkeys(
                c for t in base + parts for c in t.schema.names
                if c not in (_SEQ, _BUCKET)
            ))
            return [
                None if rec is None else _naive_utc(
                    {c: rec.get(c) for c in columns}, naive_is_local=False
                )
                for rec in (hits.get(tuple(k[p] for p in pk)) for k in keys)
            ]
        except FileNotFoundError:
            raise
        except Exception as exc:
            # any layout/type surprise → let the Spark plan handle it,
            # but SAY SO: count every degradation, warn once per process
            global _ARROW_FALLBACK_WARNED
            self.arrow_fallback_count += 1
            if not _ARROW_FALLBACK_WARNED:
                _ARROW_FALLBACK_WARNED = True
                warnings.warn(
                    "online-store arrow lookup degraded to the Spark "
                    f"fallback ({type(exc).__name__}: {exc}); further "
                    "lookups on this layout will pay Spark job latency",
                    RuntimeWarning,
                    stacklevel=2,
                )
            return None

    def lookup(self, df: DataFrame, keys: List[Dict]) -> List[Optional[Dict]]:
        """The IN / semi-join lookup against a given resolved snapshot —
        lets a serving layer hand in a persisted (cached) snapshot so
        repeated calls skip the scan + window entirely."""
        if len(self.primary_key) == 1:
            pk = self.primary_key[0]
            vals = [k[pk] for k in keys]
            hits = df.where(F.col(pk).isin(vals)).collect()
        else:
            spark_keys = df.sparkSession.createDataFrame(
                [tuple(k[p] for p in self.primary_key) for k in keys],
                self.primary_key,
            )
            hits = df.join(
                F.broadcast(spark_keys), on=self.primary_key, how="left_semi"
            ).collect()
        by_key = {
            tuple(r[p] for p in self.primary_key):
            _naive_utc(r.asDict(), naive_is_local=True)
            for r in hits
        }
        return [by_key.get(tuple(k[p] for p in self.primary_key)) for k in keys]
