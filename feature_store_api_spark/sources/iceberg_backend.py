"""Commit-store physical backend writing a REAL Apache Iceberg table.

Third physical backend behind the :class:`~.backend.TimeTravelBackend`
seam (after the default parquet commit log and the Delta backend):
managed feature groups with ``time_travel_format="ICEBERG"`` land as a
spec-conformant Iceberg v2 table — ``metadata/v<N>.metadata.json`` +
``version-hint.text``, snapshot per commit, Avro manifest list +
manifests (the repo's own OCF codec), data files under ``data/`` —
readable by ANY Iceberg client and by :mod:`.iceberg_reader`
(iceberg.apache.org/spec/). Like the Delta backend, the store's own
commit metadata (counts, retention) stays in the ``_commits.json``
sidecar that Iceberg clients ignore, and the table is merge-on-read
from the store's point of view (``self_merging = False``): external
readers see the RAW commit rows including ``_commit_time``/``_op`` —
the documented log-view contract.

Write-side choices:

* each store commit = one Iceberg snapshot (``summary.operation =
  "append"`` and the commit time in ``summary["fsas.commit-time"]``)
  adding ONE manifest listing that commit's parquet files — so
  ``drop_commit`` (vacuum) maps to a ``delete`` snapshot whose
  manifest list simply omits the dropped commit's manifest;
* metadata versions commit with PUT-IF-ABSENT (``os.link`` onto
  ``v<N+1>.metadata.json``, reload + retry on ``FileExistsError``) —
  optimistic concurrency, two writers can never clobber each other;
* the partition spec is identity(``_commit_time``) — every file of a
  store commit shares one commit time, so manifests carry the commit
  time as the partition tuple and external planners prune time-travel
  scans at MANIFEST level (user partition columns are present IN the
  data files; they add file-level stats pruning, not manifest
  pruning);
* schema evolution appends fields with fresh field ids, preserving
  the ids of existing names (Iceberg's add-column rule).
"""

from __future__ import annotations

import io
import json
import os
import shutil
import uuid
from typing import Dict, List, Optional, Sequence, Tuple

from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .backend import CommitLogBackend
from .footer_stats import footer_stats
from .iceberg_prune import encode_bound

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _partition_codecs(df: DataFrame, user_parts: Sequence[str]):
    """Per user partition column: (avro manifest type, parser from the
    hive directory token back to a typed manifest value)."""

    def _p(fn):
        def parse(token: str):
            return None if token == _HIVE_NULL else fn(token)

        return parse

    avro_types: Dict[str, str] = {}
    parsers: Dict[str, object] = {}
    by_name = {f.name: f.dataType for f in df.schema.fields}
    for c in user_parts:
        dt = by_name.get(c)
        if isinstance(
            dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)
        ):
            avro_types[c], parsers[c] = "long", _p(int)
        elif isinstance(dt, (T.DoubleType, T.FloatType)):
            avro_types[c], parsers[c] = "double", _p(float)
        elif isinstance(dt, T.BooleanType):
            avro_types[c], parsers[c] = "boolean", _p(
                lambda t: t.lower() == "true"
            )
        else:
            # partitionBy URL-escapes special characters in dir tokens
            avro_types[c], parsers[c] = "string", _p(unquote)
    return avro_types, parsers

# avro schemas carry the spec's field-id annotations (the numbers are
# the spec's reserved manifest field ids) so schema-strict external
# clients (pyiceberg) can resolve fields by id, not just name
def _entry_schema(spec_fields: List[Dict],
                  avro_types: Dict[str, str]) -> Dict:
    """Manifest-entry avro schema whose ``partition`` record mirrors
    the table's partition spec — one field per spec entry, annotated
    with the SPEC's partition field ids (1000+), so external planners
    prune manifests on user partition columns, not just commit time."""
    part_fields = [
        {"name": f["name"],
         "type": ["null", avro_types.get(f["name"], "string")],
         "default": None, "field-id": int(f["field-id"])}
        for f in spec_fields
    ]
    def _kv_map(name, fid, kid, vid, vtype):
        # iceberg-java's Avro encoding of map<int, T>: array of
        # key/value records with the spec's reserved field ids (Avro
        # maps have string keys, so the spec uses logicalType: map)
        return {
            "name": name, "field-id": fid, "default": None,
            "type": ["null", {
                "type": "array", "logicalType": "map",
                "items": {
                    "type": "record", "name": f"k{kid}_v{vid}",
                    "fields": [
                        {"name": "key", "type": "int", "field-id": kid},
                        {"name": "value", "type": vtype,
                         "field-id": vid},
                    ],
                },
            }],
        }

    return {
        "type": "record", "name": "manifest_entry", "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": ["null", "long"],
             "default": None, "field-id": 1},
            {"name": "sequence_number", "type": ["null", "long"],
             "default": None, "field-id": 3},
            {"name": "file_sequence_number", "type": ["null", "long"],
             "default": None, "field-id": 4},
            {"name": "data_file", "field-id": 2, "type": {
                "type": "record", "name": "r2", "fields": [
                    {"name": "content", "type": "int", "field-id": 134},
                    {"name": "file_path", "type": "string",
                     "field-id": 100},
                    {"name": "file_format", "type": "string",
                     "field-id": 101},
                    {"name": "partition", "field-id": 102, "type": {
                        "type": "record", "name": "r102",
                        "fields": part_fields,
                    }},
                    {"name": "record_count", "type": "long",
                     "field-id": 103},
                    {"name": "file_size_in_bytes", "type": "long",
                     "field-id": 104},
                    # per-column stats (spec data_file fields): what
                    # ScanPruner.keep_entry prunes on for reads of
                    # MANAGED tables, exactly as external writers emit
                    _kv_map("value_counts", 109, 119, 120, "long"),
                    _kv_map("null_value_counts", 110, 121, 122, "long"),
                    _kv_map("lower_bounds", 125, 126, 127, "bytes"),
                    _kv_map("upper_bounds", 128, 129, 130, "bytes"),
                ],
            }},
        ],
    }

_LIST_SCHEMA = {
    "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long",
         "field-id": 516},
        {"name": "added_snapshot_id", "type": ["null", "long"],
         "default": None, "field-id": 503},
        # per-partition-field summaries (spec field 507): lets planners
        # skip a whole manifest before OPENING it — the level that
        # bounds driver-side planning work on many-manifest tables
        {"name": "partitions", "field-id": 507, "default": None,
         "type": ["null", {
             "type": "array",
             "items": {"type": "record", "name": "r508", "fields": [
                 {"name": "contains_null", "type": "boolean",
                  "field-id": 509},
                 {"name": "contains_nan", "type": ["null", "boolean"],
                  "default": None, "field-id": 518},
                 {"name": "lower_bound", "type": ["null", "bytes"],
                  "default": None, "field-id": 510},
                 {"name": "upper_bound", "type": ["null", "bytes"],
                  "default": None, "field-id": 511},
             ]},
         }]},
    ],
}


def _iceberg_type(dt: T.DataType, next_id) -> object:
    """Spark type -> Iceberg schema type (JSON form). ``next_id`` is a
    callable handing out fresh field ids for nested elements."""
    if isinstance(dt, T.LongType):
        return "long"
    if isinstance(dt, (T.IntegerType, T.ShortType, T.ByteType)):
        return "int"
    if isinstance(dt, T.DoubleType):
        return "double"
    if isinstance(dt, T.FloatType):
        return "float"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.TimestampNTZType):
        return "timestamp"
    if isinstance(dt, T.TimestampType):
        return "timestamptz"
    if isinstance(dt, T.BinaryType):
        return "binary"
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    if isinstance(dt, T.ArrayType):
        return {
            "type": "list",
            "element-id": next_id(),
            "element": _iceberg_type(dt.elementType, next_id),
            "element-required": not dt.containsNull,
        }
    raise NotImplementedError(
        f"Iceberg backend cannot declare Spark type {dt.simpleString()} "
        "in the table schema (primitives, decimals and arrays only)"
    )


def _all_field_ids(schema: Dict) -> List[int]:
    """Every id the schema has assigned — top-level field ids AND
    nested ids (list element-ids, map key/value-ids, struct members).
    The spec's ``last-column-id`` is the max over ALL of these; seeding
    an id counter from top-level ids alone can re-issue an id already
    consumed by an array's element (duplicate field ids break id-based
    column resolution in every Iceberg client)."""
    out: List[int] = []

    def walk_type(t: object) -> None:
        if not isinstance(t, dict):
            return
        kind = t.get("type")
        if kind == "list":
            if t.get("element-id") is not None:
                out.append(int(t["element-id"]))
            walk_type(t.get("element"))
        elif kind == "map":
            for k in ("key-id", "value-id"):
                if t.get(k) is not None:
                    out.append(int(t[k]))
            walk_type(t.get("key"))
            walk_type(t.get("value"))
        elif kind == "struct":
            for f in t.get("fields") or []:
                out.append(int(f["id"]))
                walk_type(f.get("type"))

    for f in schema.get("fields") or []:
        out.append(int(f["id"]))
        walk_type(f.get("type"))
    return out


def _norm_mf(row: Dict) -> Dict:
    """Manifest-list row read back from an older layout -> the current
    schema's required fields (defaults for anything absent)."""
    out = dict(row)
    out.setdefault("partition_spec_id", 0)
    out.setdefault(
        "min_sequence_number", int(out.get("sequence_number") or 0)
    )
    out.setdefault("partitions", None)
    return out


class IcebergBackend(CommitLogBackend):
    """Commit-store physical I/O through a real Iceberg v2 table.

    Inherits the JSON sidecar + lockfile for the STORE's logical log;
    data/scan/vacuum speak the Iceberg spec."""

    self_merging = False

    def __init__(self, location: str) -> None:
        super().__init__(location)
        self._meta_dir = os.path.join(location, "metadata")

    # -- metadata helpers ----------------------------------------------------
    def _versions(self) -> List[int]:
        if not os.path.isdir(self._meta_dir):
            return []
        out = []
        for n in os.listdir(self._meta_dir):
            if n.startswith("v") and n.endswith(".metadata.json"):
                stem = n[1:-len(".metadata.json")]
                if stem.isdigit():
                    out.append(int(stem))
        return sorted(out)

    def _current_meta(self) -> Tuple[int, Optional[Dict]]:
        vs = self._versions()
        if not vs:
            return 0, None
        with open(os.path.join(
            self._meta_dir, f"v{vs[-1]}.metadata.json"
        )) as fh:
            return vs[-1], json.load(fh)

    def _write_ocf_file(self, name: str, records: List[dict],
                        schema: Dict) -> str:
        from .avro_container import _write_ocf

        os.makedirs(self._meta_dir, exist_ok=True)
        p = os.path.join(self._meta_dir, name)
        with open(p, "wb") as fh:
            _write_ocf(iter(records), schema, fh)
        return p

    def _next_schema(self, meta: Optional[Dict], df: DataFrame) -> Dict:
        """CURRENT schema extended by the frame's new columns — existing
        names keep their field ids, new ones get fresh ids."""
        old_fields: List[Dict] = []
        if meta is not None:
            schemas = meta.get("schemas") or []
            cur = meta.get("current-schema-id")
            for s in schemas:
                if s.get("schema-id") == cur:
                    old_fields = list(s.get("fields") or [])
        have = {f["name"] for f in old_fields}
        used = _all_field_ids({"fields": old_fields})
        counter = {"v": (max(used) if used else 0)}

        def next_id() -> int:
            counter["v"] += 1
            return counter["v"]

        fields = list(old_fields)
        for f in df.schema.fields:
            if f.name in have:
                continue
            fid = next_id()
            fields.append({
                "id": fid, "name": f.name, "required": False,
                "type": _iceberg_type(f.dataType, next_id),
            })
        return {"schema-id": 0, "type": "struct", "fields": fields}

    def _check_partition_compat(self, meta, user_parts, has_commit_col):
        """Refuse writes whose partition layout disagrees with the
        existing table (see append_commit). Returns the (spec_id,
        spec_fields) to ADOPT when meta exists, else None."""
        if meta is None:
            return None
        existing_specs = list(meta.get("partition-specs") or [])
        default_id = int(meta.get("default-spec-id") or 0)
        cur_spec = next(
            (s for s in existing_specs
             if int(s.get("spec-id") or 0) == default_id),
            {"spec-id": default_id, "fields": []},
        )
        cur_fields = list(cur_spec.get("fields") or [])
        prior = [
            f["name"] for f in cur_fields
            if f.get("name") != "_commit_time"
        ]
        bad_transform = [
            f["name"] for f in cur_fields
            if f.get("transform") != "identity"
        ]
        if bad_transform:
            raise NotImplementedError(
                f"Iceberg table at {self.location!r} uses "
                f"non-identity partition transforms on "
                f"{bad_transform}; the commit-store writer only "
                "appends into identity-partitioned specs "
                "(iceberg.apache.org/spec/#partition-transforms)."
            )
        if prior != list(user_parts):
            raise ValueError(
                f"Iceberg table at {self.location!r} was created "
                f"with partition fields "
                f"{[f['name'] for f in cur_fields] or '(none)'}; "
                f"refusing to write with partition fields "
                f"{list(user_parts) or '(none)'} — partition "
                "layout is fixed at table creation. Recreate the "
                "feature group (new version) to change "
                "partitioning."
            )
        if has_commit_col and not any(
            f.get("name") == "_commit_time" for f in cur_fields
        ):
            # pre-existing table (external-FG sink direction)
            # whose spec lacks identity(_commit_time): the
            # commit store's time travel keys manifest pruning
            # off that field, so appending without it would
            # write snapshots the store cannot reason about
            raise NotImplementedError(
                f"Iceberg table at {self.location!r} has no "
                "identity(_commit_time) partition field; the "
                "commit-store writer cannot append into tables "
                "created by other writers without it. Read the "
                "table as an external feature group instead."
            )
        return default_id, cur_fields

    def _commit_metadata(self, build) -> Dict:
        """PUT-IF-ABSENT metadata commit: ``build(version, meta)``
        returns the next metadata dict; retried on version races."""
        while True:
            version, meta = self._current_meta()
            new_meta = build(version, meta)
            os.makedirs(self._meta_dir, exist_ok=True)
            tmp = os.path.join(
                self._meta_dir, f".tmp-{uuid.uuid4().hex[:12]}.json"
            )
            with open(tmp, "w") as fh:
                json.dump(new_meta, fh)
            target = os.path.join(
                self._meta_dir, f"v{version + 1}.metadata.json"
            )
            try:
                os.link(tmp, target)
            except FileExistsError:
                os.remove(tmp)
                continue  # lost the race: rebuild against the new head
            os.remove(tmp)
            hint_tmp = os.path.join(self._meta_dir, ".hint.tmp")
            with open(hint_tmp, "w") as fh:
                fh.write(str(version + 1))
            os.replace(
                hint_tmp, os.path.join(self._meta_dir, "version-hint.text")
            )
            return new_meta

    # -- data ------------------------------------------------------------------
    def append_commit(self, df: DataFrame, partition_cols: Sequence[str]) -> None:
        import pyarrow.parquet as pq

        from .commit_store import COMMIT_COL

        # USER partition keys only — the store's _commit_time rides the
        # spec's identity(_commit_time) field from footer stats; user
        # keys become identity partition fields too, their values both
        # in the manifests (external manifest pruning) and as hive
        # ``<col>=<val>`` data paths (Spark directory pruning via the
        # backend scan's basePath discovery). The source columns STAY in
        # the data files, as real Iceberg writers do.
        user_parts = [c for c in partition_cols if c != COMMIT_COL]
        # layout gate BEFORE any data moves into the table tree: a
        # refused write must not leak unreferenced files into data/
        # (the gate re-runs against the fresh head inside the commit
        # retry loop, this early copy just fails fast and clean)
        _v0, meta0 = self._current_meta()
        self._check_partition_compat(
            meta0, user_parts, COMMIT_COL in df.columns
        )
        avro_types, parsers = _partition_codecs(df, user_parts)
        avro_types[COMMIT_COL] = "long"
        stage = os.path.join(self.location, f"_staging_{uuid.uuid4().hex[:8]}")
        commit_id = uuid.uuid4().hex[:12]
        try:
            # the Iceberg spec mandates int64 micros for parquet
            # timestamps (INT96 — Spark's default — is not a legal
            # Iceberg physical type, and it also carries no footer
            # min/max, so bounds would silently vanish); pin the
            # writer conf for the staged write, restore after. The
            # session-wide mutation only happens when the frame
            # actually CARRIES a TimestampType column (NTZ always
            # writes int64) — zero exposure window otherwise
            has_ltz = any(
                isinstance(f.dataType, T.TimestampType)
                for f in df.schema.fields
            )
            sess = df.sparkSession
            tt_key = "spark.sql.parquet.outputTimestampType"
            prev_tt = sess.conf.get(tt_key) if has_ltz else None
            if has_ltz:
                sess.conf.set(tt_key, "TIMESTAMP_MICROS")
            try:
                if user_parts:
                    staged = df
                    for c in user_parts:
                        staged = staged.withColumn(f"__ip_{c}", F.col(c))
                    staged.write.partitionBy(
                        [f"__ip_{c}" for c in user_parts]
                    ).mode("overwrite").parquet(stage)
                else:
                    df.write.mode("overwrite").parquet(stage)
            finally:
                if has_ltz:
                    sess.conf.set(tt_key, prev_tt)
            # rel, rows, bytes, partition values, column stats
            files: List[Tuple[str, int, int, Dict, Dict]] = []
            commit_time: Optional[int] = None
            for root, _dirs, names in os.walk(stage):
                rel_dir = os.path.relpath(root, stage)
                segs = [] if rel_dir == "." else rel_dir.split(os.sep)
                part_vals: Dict[str, object] = {}
                dest_segs: List[str] = []
                for s in segs:
                    name_, _, token = s.partition("=")
                    c = name_[len("__ip_"):]
                    part_vals[c] = parsers[c](token)
                    dest_segs.append(f"{c}={token}")
                for name in sorted(names):
                    if not name.endswith(".parquet"):
                        continue
                    src = os.path.join(root, name)
                    md = pq.ParquetFile(src).metadata
                    if md.num_rows == 0:
                        # empty task outputs (shuffle partitions that
                        # received no rows): a real Iceberg writer
                        # never commits them, and every skipped entry
                        # is one fewer file the scan planner touches
                        continue
                    rel = "/".join(
                        ["data"] + dest_segs + [f"{commit_id}-{name}"]
                        if dest_segs
                        else ["data", commit_id, name]
                    )
                    dst = os.path.join(self.location, rel)
                    col_stats = footer_stats(md)
                    if commit_time is None:
                        commit_time = col_stats.get(COMMIT_COL, (None,))[0]
                    os.makedirs(os.path.dirname(dst), exist_ok=True)
                    os.replace(src, dst)
                    files.append(
                        (rel, md.num_rows, os.path.getsize(dst),
                         dict(part_vals), col_stats)
                    )
        finally:
            shutil.rmtree(stage, ignore_errors=True)

        def build(version: int, meta: Optional[Dict]) -> Dict:
            # schema derives from the FRESH head inside the retry loop:
            # a concurrent writer may have evolved the table
            schema = self._next_schema(meta, df)
            name_ids = {
                f["name"]: int(f["id"]) for f in schema["fields"]
            }
            existing_specs = list((meta or {}).get("partition-specs") or [])
            # partition layout is fixed at table creation: existing
            # manifests reference the default spec's field tuple AND
            # the data dirs are laid out to match, so a different
            # user partitioning can neither mutate spec 0 in place
            # (breaks old manifests for external Iceberg clients)
            # nor mix <col>=<val>/ dirs with the old layout (breaks
            # the scan's basePath discovery). Refuse loudly (the same
            # check already ran BEFORE staging — this re-run guards
            # the retry loop against a racing table creation); adopt
            # an existing spec verbatim: same field-ids, same order —
            # new manifests stay consistent with old ones.
            adopted = self._check_partition_compat(
                meta, user_parts, COMMIT_COL in name_ids
            )
            if adopted is not None:
                spec_id, spec_fields = adopted
            else:
                spec_fields = []
                spec_id = 0
                if COMMIT_COL in name_ids:
                    spec_fields.append({
                        "name": COMMIT_COL, "transform": "identity",
                        "source-id": name_ids[COMMIT_COL],
                        "field-id": 1000,
                    })
                for i, c in enumerate(user_parts):
                    spec_fields.append({
                        "name": c, "transform": "identity",
                        "source-id": name_ids[c], "field-id": 1001 + i,
                    })
            snaps = list((meta or {}).get("snapshots") or [])
            prev_id = (meta or {}).get("current-snapshot-id")
            sid = max(
                [int(s["snapshot-id"]) for s in snaps], default=0
            ) + 1
            seq = int((meta or {}).get("last-sequence-number") or 0) + 1
            # column field types for stats encoding: primitives only
            # (nested types are dict-shaped and have no single-value
            # serialization to stamp as a bound)
            prim_types = {
                f["name"]: (int(f["id"]), f["type"])
                for f in schema["fields"]
                if isinstance(f["type"], str)
            }

            def _stat_maps(col_stats: Dict) -> Dict:
                low, up, nulls, counts = [], [], [], []
                for name in sorted(col_stats):
                    info = prim_types.get(name)
                    if info is None:
                        continue
                    fid, itype = info
                    mn, mx, nc, vc = col_stats[name]
                    lo = encode_bound(mn, itype)
                    hi = encode_bound(mx, itype)
                    # a one-sided bound pair is legal per spec, but
                    # emitting only the side that encoded keeps the
                    # invariant simple: both or neither
                    if lo is not None and hi is not None:
                        low.append({"key": fid, "value": lo})
                        up.append({"key": fid, "value": hi})
                    if nc is not None:
                        nulls.append({"key": fid, "value": int(nc)})
                    counts.append({"key": fid, "value": int(vc)})
                return {
                    "value_counts": counts or None,
                    "null_value_counts": nulls or None,
                    "lower_bounds": low or None,
                    "upper_bounds": up or None,
                }

            mf = self._write_ocf_file(
                f"mf-{uuid.uuid4().hex[:12]}.avro",
                [{
                    "status": 1, "snapshot_id": sid,
                    "sequence_number": seq,
                    "file_sequence_number": seq,
                    "data_file": {
                        "content": 0,
                        "file_path": rel,
                        "file_format": "PARQUET",
                        "partition": {
                            "_commit_time": commit_time, **part_vals
                        },
                        "record_count": rows,
                        "file_size_in_bytes": size,
                        **_stat_maps(col_stats),
                    },
                } for (rel, rows, size, part_vals, col_stats) in files],
                _entry_schema(spec_fields, avro_types),
            )
            # manifest-list field summaries (spec 507-511): one record
            # per spec field, bounds over THIS manifest's partition
            # tuples — manifest-level skipping for managed tables
            summaries: List[Dict] = []
            for f in spec_fields:
                nm = f["name"]
                itype = (
                    "long" if nm == COMMIT_COL
                    else prim_types.get(nm, (None, None))[1]
                )
                vals = [
                    commit_time if nm == COMMIT_COL else pv.get(nm)
                    for (_r, _n, _s, pv, _cs) in files
                ]
                non_null = [v for v in vals if v is not None]
                lo = hi = None
                if non_null and itype is not None:
                    try:
                        lo = encode_bound(min(non_null), itype)
                        hi = encode_bound(max(non_null), itype)
                    except TypeError:
                        lo = hi = None
                if lo is None or hi is None:
                    lo = hi = None  # one-sided: emit neither
                summaries.append({
                    "contains_null": len(non_null) < len(vals),
                    "contains_nan": None,
                    "lower_bound": lo,
                    "upper_bound": hi,
                })
            prev_list: List[dict] = []
            if prev_id is not None and snaps:
                prev = next(
                    (s for s in snaps
                     if int(s["snapshot-id"]) == int(prev_id)), None
                )
                if prev is not None:
                    prev_list = self._read_manifest_list(prev)
            new_list = [_norm_mf(r) for r in prev_list] + [{
                "manifest_path": os.path.relpath(mf, self.location),
                "manifest_length": os.path.getsize(mf),
                "partition_spec_id": spec_id,
                "content": 0, "sequence_number": seq,
                "min_sequence_number": seq,
                "added_snapshot_id": sid,
                "partitions": summaries or None,
            }]
            ml = self._write_ocf_file(
                f"snap-{sid}-{uuid.uuid4().hex[:8]}.avro",
                new_list, _LIST_SCHEMA,
            )
            snap = {
                "snapshot-id": sid,
                "sequence-number": seq,
                "timestamp-ms": commit_time or 0,
                "manifest-list": os.path.relpath(ml, self.location),
                "summary": {
                    "operation": "append",
                    "fsas.commit-time": str(commit_time or 0),
                },
            }
            if prev_id is not None:
                snap["parent-snapshot-id"] = int(prev_id)
            base = meta or {
                "format-version": 2,
                "table-uuid": str(uuid.uuid4()),
                "location": self.location,
                "default-spec-id": 0,
            }
            out = dict(base)
            out.update({
                "current-schema-id": 0,
                "schemas": [schema],
                # existing specs are adopted VERBATIM (never mutated —
                # old manifests keep resolving for external clients);
                # only table creation authors a spec
                "partition-specs": existing_specs or [
                    {"spec-id": spec_id, "fields": spec_fields}
                ],
                "current-snapshot-id": sid,
                "last-sequence-number": seq,
                "snapshots": snaps + [snap],
                # required by TableMetadataParser/pyiceberg: a v2
                # metadata file without last-column-id does not parse
                # in ANY Iceberg client (the 'readable by any client'
                # contract is meaningless without these)
                "last-column-id": max(_all_field_ids(schema), default=0),
                "last-updated-ms": int(commit_time or 0),
                "last-partition-id": max(
                    (int(f["field-id"]) for f in spec_fields),
                    default=999,
                ),
            })
            out.setdefault("properties", {})
            out.setdefault(
                "sort-orders", [{"order-id": 0, "fields": []}]
            )
            out.setdefault("default-sort-order-id", 0)
            return out

        self._commit_metadata(build)

    def _read_manifest_list(self, snap: Dict) -> List[dict]:
        from .avro_container import read_ocf_bytes

        p = snap["manifest-list"]
        if not os.path.isabs(p):
            p = os.path.join(self.location, p)
        with open(p, "rb") as fh:
            _s, rows = read_ocf_bytes(fh.read())
        return rows

    def scan(
        self, spark: SparkSession, filters=None
    ) -> Optional[DataFrame]:
        if not self._versions():
            return None
        from .commit_store import COMMIT_COL
        from .iceberg_reader import read_iceberg

        # user identity partitions were laid out as hive <col>=<val>
        # paths under data/ — scan with that as basePath so a filter on
        # a declared partition key prunes DIRECTORIES (PartitionFilters)
        _v, meta = self._current_meta()
        specs = (meta or {}).get("partition-specs") or []
        fields = (specs[0].get("fields") or []) if specs else []
        base = (
            os.path.join(self.location, "data")
            if any(f.get("name") != COMMIT_COL for f in fields)
            else None
        )
        # manifest pruning on top of directory PartitionFilters
        return read_iceberg(
            spark, self.location, hive_partition_base=base,
            filters=filters,
        )

    def drop_commit(self, commit_time: int) -> bool:
        _v, meta = self._current_meta()
        if meta is None:
            return False
        snaps = list(meta.get("snapshots") or [])
        doomed = next(
            (s for s in snaps
             if (s.get("summary") or {}).get("fsas.commit-time")
             == str(commit_time)), None,
        )
        if doomed is None:
            return False
        did = int(doomed["snapshot-id"])
        dropped_manifests = {
            r["manifest_path"] for r in self._read_manifest_list(doomed)
            if (r.get("added_snapshot_id") or did) == did
        }
        doomed_files = []
        for r in self._read_manifest_list(doomed):
            if (r.get("added_snapshot_id") or did) != did:
                continue
            from .avro_container import read_ocf_bytes

            mp = r["manifest_path"]
            if not os.path.isabs(mp):
                mp = os.path.join(self.location, mp)
            with open(mp, "rb") as fh:
                _s, entries = read_ocf_bytes(fh.read())
            doomed_files.extend(
                e["data_file"]["file_path"] for e in entries
            )

        def build(version: int, meta2: Optional[Dict]) -> Dict:
            meta2 = dict(meta2 or {})
            snaps2 = list(meta2.get("snapshots") or [])
            cur_id = meta2.get("current-snapshot-id")
            cur = next(
                (s for s in snaps2
                 if int(s["snapshot-id"]) == int(cur_id)), None
            )
            kept = [
                _norm_mf(r) for r in self._read_manifest_list(cur)
                if r["manifest_path"] not in dropped_manifests
            ] if cur is not None else []
            sid = max(
                [int(s["snapshot-id"]) for s in snaps2], default=0
            ) + 1
            seq = int(meta2.get("last-sequence-number") or 0) + 1
            ml = self._write_ocf_file(
                f"snap-{sid}-{uuid.uuid4().hex[:8]}.avro", kept,
                _LIST_SCHEMA,
            )
            snap = {
                "snapshot-id": sid,
                "sequence-number": seq,
                "timestamp-ms": int(doomed.get("timestamp-ms") or 0),
                "parent-snapshot-id": int(cur_id),
                "manifest-list": os.path.relpath(ml, self.location),
                "summary": {"operation": "delete",
                            "fsas.vacuumed": str(commit_time)},
            }
            # the dropped snapshot leaves the history: time travel to it
            # would read deleted files (same contract as Delta VACUUM)
            snaps2 = [
                s for s in snaps2 if int(s["snapshot-id"]) != did
            ] + [snap]
            meta2.update({
                "current-snapshot-id": sid,
                "last-sequence-number": seq,
                "snapshots": snaps2,
                "last-updated-ms": int(doomed.get("timestamp-ms") or 0),
            })
            return meta2

        self._commit_metadata(build)
        for rel in doomed_files:
            full = (
                rel if os.path.isabs(rel)
                else os.path.join(self.location, rel)
            )
            try:
                os.remove(full)
                parent = os.path.dirname(full)
                while parent != self.location and not os.listdir(parent):
                    os.rmdir(parent)
                    parent = os.path.dirname(parent)
            except OSError:
                pass
        return True
