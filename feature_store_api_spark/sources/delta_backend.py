"""Delta-Lake-format physical backend for the commit store.

Closes the lakehouse-interop gap WITHOUT jars: commits land as a
protocol-conformant ``_delta_log`` (delta.io PROTOCOL.md — the same
public spec :mod:`.delta_reader` reads), so a feature group written
with ``time_travel_format="DELTA"`` is a real Delta table any Delta
client (delta-spark, DuckDB ``delta_scan``, delta-rs) can read:

* each CommitStore commit = one Delta commit of ``add`` actions; the
  commit-time column is a declared Delta PARTITION column, so external
  readers see (and can prune by) the same layout the store prunes by;
* Change Data Feed is ON (``delta.enableChangeDataFeed`` +
  ``minWriterVersion`` 4): upsert/insert commits are append-shaped, so
  CDF readers derive their inserts straight from the adds (delta-spark
  writes no ``_change_data`` for blind appends either); DELETE commits
  additionally emit ``cdc`` actions whose ``_change_data`` files carry
  ``_change_type='delete'`` — an external ``readChangeFeed`` sees real
  delete semantics instead of tombstone-row "inserts";
* vacuum = one Delta commit of ``remove`` actions + physical deletes
  (``dataChange: false`` — retention cleanup is not a logical change;
  its cdc history files stay behind for CDF readers, delta-spark's
  VACUUM-retention behavior);
* schema evolution appends an updated ``metaData`` (adding a column is
  metadata-only, exactly Delta's semantics — old files null-fill);
* the store's OWN commit metadata (counts, extra, retention) stays in
  its ``_commits.json`` sidecar, which Delta clients ignore.

The store remains merge-on-read (``self_merging = False``): an
external Delta reader sees the RAW commit rows including
``_commit_time``/``_op`` — the documented log-view contract (like
Hudi's MOR read-optimized vs log view) — while the store's snapshot
logic resolves newest-per-record-key on top.

Delta version allocation is PUT-IF-ABSENT (``os.link`` of the staged
commit onto the next free ``<v>.json``, re-list + retry on
``FileExistsError`` — the protocol's optimistic-concurrency rule), so
two concurrent writers can never clobber each other's actions; a
checkpoint parquet + ``_last_checkpoint`` is written every
``_CHECKPOINT_INTERVAL`` commits so log replay stays bounded. Full
cross-ENGINE conflict *detection* (e.g. concurrent delete/update
reconciliation) is out of scope offline."""

from __future__ import annotations

import json
import os
import shutil
import uuid
from typing import Dict, List, Optional, Sequence
from urllib.parse import quote, unquote

from pyspark.sql import DataFrame, SparkSession

from .backend import CommitLogBackend
from .footer_stats import footer_stats

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

#: Delta truncates string min/max in stats to a bounded prefix
_STATS_STRING_PREFIX = 32

#: past this many bytes of commit data, a delete commit's cdc
#: restatement (all-or-nothing per PROTOCOL.md) runs as a Spark job
#: with per-file executor rewrites instead of a driver pyarrow copy
_CDC_DRIVER_RESTATE_BYTES = 128 * 1024 * 1024


def _file_stats(path: str) -> Optional[str]:
    """Per-file ``add.stats`` JSON (PROTOCOL.md "Per-file Statistics":
    numRecords / minValues / maxValues / nullCount) from the written
    parquet's FOOTER — no extra data pass. External Delta clients use
    these for file skipping over our tables. Bounds follow
    :func:`.footer_stats.footer_stats` (a column it can't bound gets
    no min/max); ``None`` (omit the field, it's optional) when the
    footer can't be read.

    String maxima are prefix-truncated like Delta writers do: the last
    kept char is bumped so the truncated value stays an UPPER bound.
    Binary columns carry no bounds."""
    try:
        import pyarrow.parquet as pq

        md = pq.read_metadata(path)
        stats = footer_stats(md)
        mins: Dict[str, object] = {}
        maxs: Dict[str, object] = {}
        for name, (lo, hi, _nulls, _rows) in stats.items():
            if lo is None or isinstance(lo, bytes):
                continue
            if isinstance(lo, str):
                if len(hi) > _STATS_STRING_PREFIX:
                    cut = hi[:_STATS_STRING_PREFIX]
                    hi = cut[:-1] + chr(ord(cut[-1]) + 1)
                lo = lo[:_STATS_STRING_PREFIX]
            elif hasattr(lo, "isoformat"):
                lo, hi = lo.isoformat(), hi.isoformat()
            elif not isinstance(lo, (int, float, bool)):
                continue
            mins[name], maxs[name] = lo, hi
        return json.dumps({
            "numRecords": md.num_rows,
            "minValues": mins,
            "maxValues": maxs,
            "nullCount": {
                name: s[2] for name, s in stats.items() if s[2] is not None
            },
        })
    except Exception:
        return None

#: write a checkpoint every N Delta commits (the protocol's documented
#: default cadence); keeps external readers' log replay O(N)
_CHECKPOINT_INTERVAL = 10

_RETENTION_UNIT_MS = {
    "millisecond": 1, "second": 1000, "minute": 60_000,
    "hour": 3_600_000, "day": 86_400_000, "week": 604_800_000,
}


def _retention_ms(configuration: Optional[Dict[str, str]]) -> int:
    """``delta.deletedFileRetentionDuration`` ("interval N units",
    delta.io table-properties docs) -> millis; default 1 week."""
    raw = (configuration or {}).get("delta.deletedFileRetentionDuration")
    if raw:
        parts = raw.strip().lower().split()
        if len(parts) == 3 and parts[0] == "interval":
            unit = parts[2].rstrip("s")
            try:
                return int(parts[1]) * _RETENTION_UNIT_MS[unit]
            except (KeyError, ValueError):
                pass
    return 604_800_000


class DeltaLogBackend(CommitLogBackend):
    """Commit-store physical I/O through a real Delta transaction log.

    Inherits the JSON sidecar + lockfile for the STORE's logical log;
    data/scan/vacuum speak the Delta protocol."""

    self_merging = False

    def __init__(self, location: str) -> None:
        super().__init__(location)
        self._delta_dir = os.path.join(location, "_delta_log")

    # -- delta log helpers ---------------------------------------------------
    def _versions(self) -> List[int]:
        if not os.path.isdir(self._delta_dir):
            return []
        out = []
        for n in os.listdir(self._delta_dir):
            if n.endswith(".json") and len(n) == 25 and n[:-5].isdigit():
                out.append(int(n[:-5]))
        return sorted(out)

    def _current_metadata(self) -> Optional[Dict]:
        for v in reversed(self._versions()):
            with open(os.path.join(self._delta_dir, f"{v:020d}.json")) as fh:
                md = None
                for line in fh:
                    if line.strip():
                        a = json.loads(line)
                        if "metaData" in a:
                            md = a["metaData"]
                if md:
                    return md
        return None

    def _current_schema_json(self) -> Optional[str]:
        md = self._current_metadata()
        return md["schemaString"] if md else None

    def _write_delta_commit(self, actions: List[Dict]) -> int:
        """Append one Delta commit with PUT-IF-ABSENT version
        allocation (the protocol's concurrency rule): the content is
        staged to a tmp file, then ``os.link``-ed to the next free
        ``<v>.json`` — the hard link fails with ``FileExistsError``
        when a concurrent writer took that version, so we re-list and
        retry instead of clobbering its actions (a plain
        list-then-rename silently replaced the loser's commit)."""
        os.makedirs(self._delta_dir, exist_ok=True)
        import time as _time

        tmp = os.path.join(
            self._delta_dir, f".tmp-{uuid.uuid4().hex[:12]}.json"
        )
        with open(tmp, "w") as fh:
            fh.write(json.dumps(
                {"commitInfo": {"timestamp": int(_time.time() * 1000),
                                "engineInfo": "feature-store-api-spark"}}
            ) + "\n")
            for a in actions:
                fh.write(json.dumps(a) + "\n")
        try:
            while True:
                versions = self._versions()
                v = (versions[-1] + 1) if versions else 0
                path = os.path.join(self._delta_dir, f"{v:020d}.json")
                try:
                    os.link(tmp, path)
                    break
                except FileExistsError:
                    continue  # lost the race for v: next version
        finally:
            try:
                os.remove(tmp)
            except OSError:
                pass
        self._maybe_checkpoint(v)
        return v

    # every field the checkpoint schema below serializes; a live
    # add/remove/protocol carrying anything OUTSIDE these (rowTracking
    # baseRowId, clusteringProvider, …) gates the checkpoint — dropping
    # such a field would corrupt later replay, and checkpointing is
    # only an optimization.
    _CP_PROTO_KEYS = frozenset({
        "minReaderVersion", "minWriterVersion",
        "readerFeatures", "writerFeatures",
    })
    _CP_ADD_KEYS = frozenset({
        "path", "partitionValues", "size", "modificationTime",
        "dataChange", "stats", "deletionVector", "tags",
    })
    _CP_REMOVE_KEYS = frozenset({
        "path", "deletionTimestamp", "dataChange",
        "extendedFileMetadata", "partitionValues", "size",
        "deletionVector", "tags",
    })

    def _checkpoint_safe(self, state) -> bool:
        """Gate on the REPLAYED LIVE STATE (not raw history): the
        checkpoint schema now carries protocol reader/writerFeatures,
        ``add.deletionVector``/``tags``, and unexpired ``remove``
        tombstones per PROTOCOL.md's checkpoint schema, so co-written
        tables with DVs checkpoint fine. Only a field NEITHER the
        reader nor this schema models (e.g. rowTracking's baseRowId)
        skips the checkpoint — replay stays correct from the JSON
        commits. State-based gating is O(live files) with no extra
        I/O; historical oddities that were since removed no longer
        disable checkpointing forever."""
        def _extra(d: Optional[Dict], known: frozenset) -> bool:
            return any(
                k not in known
                for k, val in (d or {}).items()
                if val not in (None, {}, [])
            )

        if _extra(state.protocol, self._CP_PROTO_KEYS):
            return False
        for add in state.files.values():
            if _extra(add, self._CP_ADD_KEYS):
                return False
        for rem in state.tombstones.values():
            if _extra(rem, self._CP_REMOVE_KEYS):
                return False
        return True

    def _maybe_checkpoint(self, v: int) -> None:
        """Every ``_CHECKPOINT_INTERVAL`` commits, compact the log into
        ``<v>.checkpoint.parquet`` + ``_last_checkpoint`` (delta.io
        PROTOCOL.md "Checkpoints"): readers fast-forward to the
        checkpoint and replay only the tail, so a long-lived FG's scan
        cost stays O(interval), not O(total commits). Rows = one
        ``protocol``, one ``metaData``, one ``add`` per live file
        (our removes carry deletionTimestamp 0 = expired tombstones,
        so none are retained; ``cdc`` actions are never checkpointed,
        per spec). Skipped entirely when the replayed state carries
        fields the checkpoint schema doesn't model
        (:meth:`_checkpoint_safe`)."""
        if v <= 0 or v % _CHECKPOINT_INTERVAL != 0:
            return
        import pyarrow as pa
        import pyarrow.parquet as pq

        from .delta_reader import _snapshot_state

        state = _snapshot_state(self.location, v)
        if state.protocol is None or state.metadata is None:
            return
        if not self._checkpoint_safe(state):
            return
        pv_t = pa.map_(pa.string(), pa.string())
        proto_t = pa.struct([
            ("minReaderVersion", pa.int32()),
            ("minWriterVersion", pa.int32()),
            ("readerFeatures", pa.list_(pa.string())),
            ("writerFeatures", pa.list_(pa.string())),
        ])
        dv_t = pa.struct([
            ("storageType", pa.string()),
            ("pathOrInlineDv", pa.string()),
            ("offset", pa.int32()),
            ("sizeInBytes", pa.int32()),
            ("cardinality", pa.int64()),
        ])
        md = state.metadata

        def _items(x):
            # replay may hand back a dict (JSON commits) or a list of
            # pairs (pyarrow renders checkpoint MAP columns as tuples)
            return list(x.items()) if isinstance(x, dict) else list(x or [])

        md_row = {
            "id": md.get("id"),
            "name": md.get("name"),
            "description": md.get("description"),
            "format": {
                "provider": (md.get("format") or {}).get("provider", "parquet"),
                "options": _items((md.get("format") or {}).get("options")),
            },
            "schemaString": md.get("schemaString"),
            "partitionColumns": list(md.get("partitionColumns") or []),
            "configuration": _items(md.get("configuration")),
            "createdTime": md.get("createdTime") or 0,
        }
        md_t = pa.struct([
            ("id", pa.string()),
            ("name", pa.string()),
            ("description", pa.string()),
            ("format", pa.struct([
                ("provider", pa.string()), ("options", pv_t)])),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", pv_t),
            ("createdTime", pa.int64()),
        ])
        def _dv_row(d: Optional[Dict]) -> Optional[Dict]:
            if not d:
                return None
            return {
                "storageType": d.get("storageType"),
                "pathOrInlineDv": d.get("pathOrInlineDv"),
                "offset": d.get("offset"),
                "sizeInBytes": d.get("sizeInBytes"),
                "cardinality": d.get("cardinality"),
            }

        add_rows = [
            {
                "path": rel,
                "partitionValues": list(
                    (add.get("partitionValues") or {}).items()
                ),
                "size": int(add.get("size") or 0),
                "modificationTime": int(add.get("modificationTime") or 0),
                "dataChange": False,
                "stats": add.get("stats"),
                "deletionVector": _dv_row(add.get("deletionVector")),
                "tags": (
                    _items(add["tags"]) if add.get("tags") else None
                ),
            }
            for rel, add in sorted(state.files.items())
        ]
        add_t = pa.struct([
            ("path", pa.string()),
            ("partitionValues", pv_t),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
            ("stats", pa.string()),
            ("deletionVector", dv_t),
            ("tags", pv_t),
        ])
        # unexpired remove tombstones must survive the checkpoint until
        # retention expiry (PROTOCOL.md "Checkpoints": external VACUUM
        # reads them); ours are written pre-expired (ts 0) and never
        # land in state.tombstones.
        import time as _time

        horizon = int(_time.time() * 1000) - _retention_ms(
            state.configuration
        )
        rem_rows = [
            {
                "path": rel,
                "deletionTimestamp": int(rem.get("deletionTimestamp") or 0),
                "dataChange": False,
                "extendedFileMetadata": bool(
                    rem.get("extendedFileMetadata") or False
                ),
                "partitionValues": (
                    list((rem.get("partitionValues") or {}).items())
                    if rem.get("partitionValues") is not None else None
                ),
                "size": rem.get("size"),
                "deletionVector": _dv_row(rem.get("deletionVector")),
                "tags": _items(rem["tags"]) if rem.get("tags") else None,
            }
            for rel, rem in sorted(state.tombstones.items())
            if int(rem.get("deletionTimestamp") or 0) >= horizon
        ]
        rem_t = pa.struct([
            ("path", pa.string()),
            ("deletionTimestamp", pa.int64()),
            ("dataChange", pa.bool_()),
            ("extendedFileMetadata", pa.bool_()),
            ("partitionValues", pv_t),
            ("size", pa.int64()),
            ("deletionVector", dv_t),
            ("tags", pv_t),
        ])
        n = 2 + len(add_rows) + len(rem_rows)
        pad = len(add_rows) + len(rem_rows)
        tbl = pa.table({
            "protocol": pa.array(
                [state.protocol, None] + [None] * pad, proto_t),
            "metaData": pa.array(
                [None, md_row] + [None] * pad, md_t),
            "add": pa.array(
                [None, None] + add_rows + [None] * len(rem_rows), add_t),
            "remove": pa.array(
                [None, None] + [None] * len(add_rows) + rem_rows, rem_t),
        })
        cp = os.path.join(self._delta_dir, f"{v:020d}.checkpoint.parquet")
        tmp = cp + ".tmp"
        pq.write_table(tbl, tmp)
        os.replace(tmp, cp)
        lc = os.path.join(self._delta_dir, "_last_checkpoint")
        tmp = lc + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"version": v, "size": n}, fh)
        os.replace(tmp, lc)

    def _metadata_actions(self, df: DataFrame, partition_cols) -> List[Dict]:
        """protocol+metaData on the first commit; an updated metaData
        when the frame carries columns the table schema lacks.

        Partition layout is fixed at table creation (delta.io
        PROTOCOL.md: partitionColumns is table metadata; existing add
        actions carry partitionValues for exactly those columns, and
        the staged data dirs match them) — a changed layout refuses
        loudly, same posture as the Hudi/Iceberg backends."""
        cur_md = self._current_metadata()
        if cur_md is not None:
            prior = list(cur_md.get("partitionColumns") or [])
            if prior != list(partition_cols):
                raise ValueError(
                    f"Delta table at {self.location!r} was created with "
                    f"partition columns {prior or '(none)'}; refusing "
                    f"to write with partition columns "
                    f"{list(partition_cols) or '(none)'} — partition "
                    "layout is fixed at table creation. Recreate the "
                    "feature group (new version) to change partitioning."
                )
        current = cur_md["schemaString"] if cur_md else None
        new_fields = [json.loads(df.schema.json())["fields"][i]
                      for i in range(len(df.schema.fields))]
        # CDF on from birth: minWriterVersion 4 is the protocol level
        # that introduces changeDataFeed (readers are unaffected)
        config = {"delta.enableChangeDataFeed": "true"}
        if current is None:
            schema = {"type": "struct", "fields": new_fields}
            return [
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 4}},
                {"metaData": {
                    "id": str(uuid.uuid4()),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": json.dumps(schema),
                    "partitionColumns": list(partition_cols),
                    "configuration": config,
                    "createdTime": 0,
                }},
            ]
        cur = json.loads(current)
        have = {f["name"] for f in cur["fields"]}
        added = [f for f in new_fields if f["name"] not in have]
        if not added:
            return []
        cur["fields"] = cur["fields"] + added
        return [{"metaData": {
            "id": str(uuid.uuid4()),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(cur),
            "partitionColumns": list(partition_cols),
            "configuration": config,
            "createdTime": 0,
        }}]

    # -- data ------------------------------------------------------------------
    def append_commit(self, df: DataFrame, partition_cols: Sequence[str]) -> None:
        partition_cols = list(partition_cols)
        meta = self._metadata_actions(df, partition_cols)
        stage = os.path.join(self.location, f"_staging_{uuid.uuid4().hex[:8]}")
        try:
            (
                df.write.partitionBy(partition_cols)
                .mode("overwrite")
                .parquet(stage)
            )
            adds = []
            moved = []  # (dst, pv) for the cdc pass
            for root, _dirs, files in os.walk(stage):
                for name in files:
                    if not name.endswith(".parquet"):
                        continue
                    rel_dir = os.path.relpath(root, stage)
                    pv: Dict[str, Optional[str]] = {}
                    if rel_dir != ".":
                        for comp in rel_dir.split(os.sep):
                            c, _, raw = comp.partition("=")
                            pv[c] = None if raw == _HIVE_NULL else unquote(raw)
                    src = os.path.join(root, name)
                    rel = (
                        name if rel_dir == "." else os.path.join(rel_dir, name)
                    )
                    dst = os.path.join(self.location, rel)
                    os.makedirs(os.path.dirname(dst), exist_ok=True)
                    os.replace(src, dst)
                    add = {
                        # PROTOCOL.md: add.path is a percent-encoded
                        # relative URI. Spark's partitionBy Hive-escapes
                        # special chars to literal %XX dir names on disk
                        # (':' -> '%3A'), so the raw rel must be quoted
                        # here for the reader-side unquote to land back
                        # on the on-disk name. safe = RFC 3986 pchar
                        # (sub-delims + ":@") so ordinary hive dirs like
                        # `k=v` stay literal and only chars a URI path
                        # can't carry raw ('%', space, …) are escaped.
                        "path": quote(
                            rel.replace(os.sep, "/"),
                            safe="/:=@!$&'()*+,;",
                        ),
                        "partitionValues": pv,
                        "size": os.path.getsize(dst),
                        "modificationTime": int(os.path.getmtime(dst) * 1000),
                        "dataChange": True,
                    }
                    stats = _file_stats(dst)
                    if stats is not None:
                        add["stats"] = stats
                    adds.append({"add": add})
                    moved.append((dst, pv))
            cdc = self._cdc_actions(moved, spark=df.sparkSession)
            self._write_delta_commit(meta + adds + cdc)
        finally:
            shutil.rmtree(stage, ignore_errors=True)

    def _cdc_actions(self, moved, spark=None) -> List[Dict]:
        """``cdc`` actions for a commit that carries DELETE rows.

        Upsert/insert commits are pure appends — CDF readers derive
        their inserts from the adds, so no ``_change_data`` is written
        (same as delta-spark on blind appends). A delete commit's rows
        are tombstones in the store's merge-on-read contract; the cdc
        file restates them with ``_change_type='delete'`` so an
        external ``readChangeFeed`` sees real deletes.

        PROTOCOL.md completeness rule: in a version that has ANY cdc
        action, CDF readers use ONLY cdc actions — so the moment one
        file contributes a cdc file, EVERY file in the commit must be
        restated (its non-delete rows as ``insert``), else those rows
        would vanish from ``readChangeFeed``. Two passes: detect, then
        emit all-or-nothing.

        Cost is SIZE-GATED: a small delete commit restates via one
        driver-side pyarrow copy (no Spark job — the common case); past
        ``_CDC_DRIVER_RESTATE_BYTES`` of commit data the restatement
        runs as a Spark job with each file rewritten in an executor, so
        a large mixed delete+insert commit never becomes a driver copy
        of the whole commit."""
        from .commit_store import OP_COL

        try:
            import pyarrow as pa
            import pyarrow.compute as pc
            import pyarrow.parquet as pq
        except Exception:
            return []
        any_delete = False
        for dst, _pv in moved:
            try:
                pf = pq.ParquetFile(dst)
                if OP_COL not in pf.schema_arrow.names:
                    continue
                ops = pf.read(columns=[OP_COL])[OP_COL]
            except Exception:
                continue
            if pc.any(pc.equal(ops, "delete")).as_py():
                any_delete = True
                break
        if not any_delete:
            return []
        total = sum(os.path.getsize(d) for d, _pv in moved)
        if spark is not None and total > _CDC_DRIVER_RESTATE_BYTES:
            return self._cdc_actions_distributed(spark, moved)
        out: List[Dict] = []
        cdc_dir = os.path.join(self.location, "_change_data")
        for dst, pv in moved:
            try:
                tbl = pq.ParquetFile(dst).read()
            except Exception:
                continue
            if OP_COL in tbl.schema.names:
                ct = pc.if_else(
                    pc.equal(tbl[OP_COL], "delete"),
                    pa.scalar("delete"), pa.scalar("insert"),
                )
            else:
                ct = pa.array(["insert"] * tbl.num_rows)
            tbl = tbl.append_column("_change_type", ct)
            os.makedirs(cdc_dir, exist_ok=True)
            name = f"cdc-{uuid.uuid4().hex[:12]}.parquet"
            full = os.path.join(cdc_dir, name)
            pq.write_table(tbl, full)
            out.append({"cdc": {
                "path": f"_change_data/{name}",
                "partitionValues": pv,
                "size": os.path.getsize(full),
                "dataChange": False,
            }})
        return out

    def _cdc_actions_distributed(self, spark, moved) -> List[Dict]:
        """Executor-side cdc restatement: one task per commit file
        reads it, appends ``_change_type``, and writes the cdc file to
        the (shared) table storage — the data never touches the driver;
        only the (path, partitionValues, size) metadata rows return."""
        import pandas as pd

        from .commit_store import OP_COL

        cdc_dir = os.path.join(self.location, "_change_data")
        os.makedirs(cdc_dir, exist_ok=True)
        op_col = OP_COL

        def restate(batches):
            import os as _os
            import uuid as _uuid

            import pyarrow as pa
            import pyarrow.compute as pc
            import pyarrow.parquet as pq

            for pdf in batches:
                rows = []
                for src, pvj in zip(pdf["__src"], pdf["__pv"]):
                    tbl = pq.ParquetFile(src).read()
                    if op_col in tbl.schema.names:
                        ct = pc.if_else(
                            pc.equal(tbl[op_col], "delete"),
                            pa.scalar("delete"), pa.scalar("insert"),
                        )
                    else:
                        ct = pa.array(["insert"] * tbl.num_rows)
                    tbl = tbl.append_column("_change_type", ct)
                    name = f"cdc-{_uuid.uuid4().hex[:12]}.parquet"
                    full = _os.path.join(cdc_dir, name)
                    pq.write_table(tbl, full)
                    rows.append((
                        f"_change_data/{name}", pvj,
                        _os.path.getsize(full),
                    ))
                yield pd.DataFrame(
                    rows, columns=["path", "pv", "size"]
                )

        spec = spark.createDataFrame(
            [(d, json.dumps(pv)) for d, pv in moved],
            "__src string, __pv string",
        ).repartition(
            min(len(moved), spark.sparkContext.defaultParallelism)
        )
        return [{"cdc": {
            "path": r["path"],
            "partitionValues": json.loads(r["pv"]),
            "size": int(r["size"]),
            "dataChange": False,
        }} for r in spec.mapInPandas(
            restate, "path string, pv string, size long"
        ).collect()]

    def scan(
        self, spark: SparkSession, filters=None
    ) -> Optional[DataFrame]:
        if not self._versions():
            return None
        from .delta_reader import read_delta

        # partition-only pushdown subtree: prunes add actions via
        # partitionValues before the relation is built
        return read_delta(spark, self.location, filters=filters)

    def drop_commit(self, commit_time: int) -> bool:
        from .commit_store import COMMIT_COL
        from .delta_reader import _snapshot_state

        versions = self._versions()
        if not versions:
            return False
        state = _snapshot_state(self.location, versions[-1])
        doomed = [
            rel for rel, add in state.files.items()
            if (add.get("partitionValues") or {}).get(COMMIT_COL)
            == str(commit_time)
        ]
        if not doomed:
            return False
        self._write_delta_commit([
            {"remove": {"path": rel, "dataChange": False,
                        "deletionTimestamp": 0}}
            for rel in doomed
        ])
        for rel in doomed:
            # state keys are the log-encoded (percent-quoted) paths;
            # decode to the on-disk name before removing; fall back to
            # the raw path for tables written before the writer
            # percent-encoded add.path (their logged '%XX' is literal)
            full = os.path.join(self.location, unquote(rel))
            if not os.path.exists(full):
                raw = os.path.join(self.location, rel)
                if os.path.exists(raw):
                    full = raw
            try:
                os.remove(full)
                parent = os.path.dirname(full)
                while parent != self.location and not os.listdir(parent):
                    os.rmdir(parent)
                    parent = os.path.dirname(parent)
            except OSError:
                pass
        return True
