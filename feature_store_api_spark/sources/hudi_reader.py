"""Jarless Hudi table reader (COW + MOR): snapshot + time travel.

Parity: the reference's Hudi engine reads
(``/root/reference/python/hsfs/core/hudi_engine.py:193-224``: snapshot
query, ``as.of.instant`` time travel, incremental pull between
instants). Without hudi-spark jars we implement the READ side of the
published COW layout (hudi.apache.org "Table & Query Types" /
"Timeline" docs):

* ``.hoodie/`` holds the timeline: one ``<instant>.commit`` (JSON,
  completed) per write, plus ``.inflight``/``.requested`` markers this
  reader ignores — only COMPLETED instants are visible (Hudi's
  snapshot isolation);
* data files are base parquet named
  ``<fileId>_<writeToken>_<instantTime>.parquet`` under partition
  directories; copy-on-write rewrites a whole FILE GROUP (same
  ``fileId``) per commit, so a snapshot keeps, per file group, the
  newest base file whose instant is completed and ≤ the as-of instant;
* ``.hoodie/hoodie.properties`` carries table metadata (name, type).

Timeline subtleties handled (both are silent-wrong-rows hazards):

* **archived instants** — Hudi moves old instants out of the active
  timeline (``.hoodie/archived``, ``timeline/history`` in 1.x); base
  files below the earliest active instant are committed by the
  file-system-view rule, not "uncommitted";
* **replacecommits** — clustering / insert_overwrite writes NEW
  fileIds and lists the superseded ones in the metadata's
  ``partitionToReplaceFileIds``; those (partition, fileId) groups are
  dropped from any snapshot at-or-after the replace instant.

Scale shape: timeline listing and file-group resolution are driver-side
metadata work (bounded by commits × file groups, exactly what a real
Hudi client's file-system view does); the data read is one pruned
parquet scan over the selected base files. MERGE_ON_READ snapshots
additionally merge the file groups' log files — decoded EXECUTOR-side
from the published log-block format (:mod:`.hudi_log`) and resolved
latest-per-record-key in one window — with rollback command blocks and
hard-delete blocks gated loudly (their semantics need the Hudi
runtime; applying around them would be silently wrong rows).

Log-decode posture: the per-record Python inside ``mapInPandas``
(:func:`_decode_log_frame`) is the one row-at-a-time path in this
package, and it is INHERENT to the jarless design — there is no
Spark-native reader for Hudi's bespoke log-block framing. It is
bounded in practice by the log volume between compactions (Hudi
compacts MOR groups on a schedule precisely to keep this small), the
work is distributed over ``min(len(logs), 2×parallelism)`` tasks that
scale with the path list (pinned by test), and log-less file groups —
the bulk of a healthy table — never enter this path at all.
"""

from __future__ import annotations

import json
import os
from typing import Dict, List, Optional, Set, Tuple

from pyspark.sql import DataFrame, SparkSession

from ..constructor.filter import (
    normalize_filters,
    partition_subtree,
    residual_where,
)

_META_DIR = ".hoodie"


def _completed_instants(meta_dir: str) -> List[str]:
    """Sorted completed ACTIVE-timeline commit instants: '<ts>.commit'
    (COW writes / MOR compactions), '<ts>.deltacommit' (MOR delta
    writes), '<ts>.replacecommit' (clustering/insert_overwrite)."""
    out = []
    for name in os.listdir(meta_dir):
        for suffix in (".commit", ".deltacommit", ".replacecommit"):
            if name.endswith(suffix) and not name.endswith(
                (".inflight", ".requested")
            ):
                out.append(name[: -len(suffix)])
                break
    return sorted(out)


def _has_archive(meta_dir: str) -> bool:
    """True when the table has archived timeline instants.

    Hudi archives instants out of ``.hoodie`` (into ``archived/``, or
    ``timeline/history`` in 1.x) once the active timeline exceeds
    ~30 commits; base files written by archived instants are still
    live data. The file-system-view rule applied here: any instant
    STRICTLY BELOW the earliest active instant is committed
    (failed/inflight writes are rolled back before archival, so no
    uncommitted file can carry an instant below the boundary). Without
    this, snapshot reads of mature external COW tables silently drop
    whole file groups."""
    for sub in ("archived", os.path.join("timeline", "history")):
        d = os.path.join(meta_dir, sub)
        if os.path.isdir(d) and os.listdir(d):
            return True
    return False


def _replaced_groups(
    meta_dir: str, visible_replacecommits: List[str]
) -> Set[Tuple[str, str]]:
    """(partition, fileId) groups superseded by visible replacecommits.

    Clustering / insert_overwrite writes NEW fileIds and records the
    replaced ones in the replacecommit metadata's
    ``partitionToReplaceFileIds``; without excluding them a snapshot
    returns BOTH generations (duplicate rows). Unparseable metadata is
    gated loudly — skipping would be silently wrong."""
    out: Set[Tuple[str, str]] = set()
    for inst in visible_replacecommits:
        p = os.path.join(meta_dir, f"{inst}.replacecommit")
        try:
            with open(p) as fh:
                raw = fh.read().strip()
            meta = json.loads(raw) if raw else {}
        except (OSError, json.JSONDecodeError) as exc:
            raise NotImplementedError(
                f"Hudi replacecommit {inst} metadata is unreadable "
                f"({exc}); cannot resolve replaced file groups without "
                "the Hudi runtime"
            )
        for part, fids in (meta.get("partitionToReplaceFileIds") or {}).items():
            rel = part if part else "."
            for fid in fids or []:
                out.add((rel, fid))
    return out


def _table_props(meta_dir: str) -> Dict[str, str]:
    props = os.path.join(meta_dir, "hoodie.properties")
    out: Dict[str, str] = {}
    if os.path.exists(props):
        with open(props) as fh:
            for line in fh:
                line = line.strip()
                if line and not line.startswith("#") and "=" in line:
                    k, _, v = line.partition("=")
                    out[k.strip()] = v.strip()
    return out


def _table_type(meta_dir: str) -> str:
    return _table_props(meta_dir).get("hoodie.table.type", "COPY_ON_WRITE")


def _parse_base_file(name: str) -> Optional[Tuple[str, str]]:
    """(fileId, instantTime) from '<fileId>_<writeToken>_<instant>.parquet'."""
    if not name.endswith(".parquet") or name.startswith("."):
        return None
    stem = name[: -len(".parquet")]
    parts = stem.split("_")
    if len(parts) < 3:
        return None
    return "_".join(parts[:-2]), parts[-1]


def _parse_log_file(name: str) -> Optional[Tuple[str, str, int, str]]:
    """(fileId, baseInstant, logVersion, writeToken) from the hidden
    '.<fileId>_<baseCommitTime>.log.<version>_<writeToken>' name."""
    if not name.startswith(".") or ".log." not in name:
        return None
    left, _, right = name[1:].partition(".log.")
    if "_" not in left:
        return None
    fid, _, base_instant = left.rpartition("_")
    ver, _, token = right.partition("_")
    if not ver.isdigit():
        return None
    return fid, base_instant, int(ver), token


def _log_files_by_group(
    path: str,
) -> Dict[Tuple[str, str], List[Tuple[str, int, str, str]]]:
    """{(partition, fileId): [(baseInstant, logVersion, token, fullpath)]}."""
    out: Dict[Tuple[str, str], List[Tuple[str, int, str, str]]] = {}
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if d != _META_DIR]
        rel = os.path.relpath(root, path)
        for name in files:
            parsed = _parse_log_file(name)
            if parsed is None:
                continue
            fid, base_instant, ver, token = parsed
            out.setdefault((rel, fid), []).append(
                (base_instant, ver, token, os.path.join(root, name))
            )
    return out


def _visible_groups(
    path: str,
    meta_dir: str,
    as_of_instant: Optional[str],
) -> Dict[Tuple[str, str], Tuple[str, str]]:
    """Newest visible base file per (partition, fileId): the Hudi
    file-system view at ``as_of_instant`` (None = HEAD). Visible =
    instant is committed (active timeline, or below the archive
    boundary) AND ≤ as-of; file groups superseded by a visible
    replacecommit are excluded."""
    active = _completed_instants(meta_dir)
    boundary = min(active) if (active and _has_archive(meta_dir)) else None
    completed = set(active)

    def committed(instant: str) -> bool:
        return instant in completed or (
            boundary is not None and instant < boundary
        )

    def visible(instant: str) -> bool:
        return committed(instant) and (
            as_of_instant is None or instant <= str(as_of_instant)
        )

    chosen: Dict[Tuple[str, str], Tuple[str, str]] = {}
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if d != _META_DIR]
        rel = os.path.relpath(root, path)
        for name in files:
            parsed = _parse_base_file(name)
            if parsed is None:
                continue
            fid, instant = parsed
            if not visible(instant):
                continue  # uncommitted (inflight/failed) or after as-of
            key = (rel, fid)
            if key not in chosen or instant > chosen[key][0]:
                chosen[key] = (instant, os.path.join(root, name))

    replaced = _replaced_groups(
        meta_dir,
        [
            i for i in active
            if os.path.exists(os.path.join(meta_dir, f"{i}.replacecommit"))
            and (as_of_instant is None or i <= str(as_of_instant))
        ],
    )
    for key in replaced:
        chosen.pop(key, None)
    return chosen


_AVRO_TO_SPARK = {
    "boolean": "boolean", "int": "int", "long": "bigint",
    "float": "float", "double": "double", "string": "string",
    "bytes": "binary",
}


def _cast_discovered_partitions(df: DataFrame, props: Dict[str, str]):
    """Pin discovered partition columns to their DECLARED types.

    With ``hoodie.datasource.write.drop.partition.columns=true`` the
    partition values exist only in directory names, and Spark's
    partition-directory type inference has no boolean type and reads
    numeric-looking string keys as long — the scanned schema would
    silently diverge from the table schema. When the table carries
    ``hoodie.table.create.schema`` (real Hudi's creation-time schema
    property), cast each discovered partition column back to its
    declared type. The cast stays a partition-only expression, so
    partition-key filters still land in ``PartitionFilters``
    (directory pruning) — pinned by test."""
    import json as _json

    from pyspark.sql import functions as F

    sch = props.get("hoodie.table.create.schema")
    parts = [
        c.strip()
        for c in props.get("hoodie.table.partition.fields", "").split(",")
        if c.strip()
    ]
    if not sch or not parts:
        return df
    try:
        fields = _json.loads(sch).get("fields") or []
    except ValueError:
        return df
    dtypes = dict(df.dtypes)
    for f in fields:
        name = f.get("name")
        if name not in parts or name not in dtypes:
            continue
        t = f.get("type")
        if isinstance(t, list):  # ["null", T] unions
            t = next((x for x in t if x != "null"), None)
        if isinstance(t, dict):
            lt = t.get("logicalType")
            t = {
                "date": "date",
                # UTC-adjusted vs zoneless per the avro spec — the
                # writer emits local-timestamp-micros for Spark NTZ
                "timestamp-micros": "timestamp",
                "local-timestamp-micros": "timestamp_ntz",
            }.get(lt)
        if isinstance(t, str):
            t = _AVRO_TO_SPARK.get(t, t if t in (
                "date", "timestamp_ntz") else None)
        if t and dtypes[name] != t:
            df = df.withColumn(name, F.col(name).cast(t))
    return df



def _partition_dir_pruner(tree, props: Dict[str, str]):
    """File-group pruning predicate over hive-style partition REL paths
    (``col=val[/col2=val2]``): returns ``keep(rel) -> bool``, or None
    when the tree constrains no partition field. Tokens parse to
    bool/int/float where they look like one (Spark's directory value
    encoding); ``__HIVE_DEFAULT_PARTITION__`` is the null token — no
    comparison in the IR matches null, so those dirs drop. Evaluation
    reuses the Iceberg pruner's identity semantics: EXACT per-dir
    values, conservative on any type mismatch."""
    from urllib.parse import unquote as _unquote

    from .iceberg_prune import ScanPruner

    part_fields = [
        c.strip()
        for c in props.get("hoodie.table.partition.fields", "").split(",")
        if c.strip()
    ]
    # None also when no leaf that could prune names a partition field:
    # an OR mixing one with another column never prunes anyway (the
    # other leaf always may-match)
    if not part_fields or partition_subtree(tree, part_fields) is None:
        return None

    def _views(tok: str, value):
        """Directory-token interpretations to test against ``value`` —
        driven by the VALUE's python type, because that is how Spark
        will evaluate the residual (a numeric value against a string
        column compares numerically via implicit cast; a string value
        against a string column compares lexicographically). When the
        token is numeric-LOOKING and the value is a string, BOTH
        readings must reject before the group is pruned (zero-padded
        tokens like '09' compare unequal as text but equal as
        numbers)."""
        tok = _unquote(tok)
        if tok == "__HIVE_DEFAULT_PARTITION__":
            return None  # null partition
        vs = value if isinstance(value, (list, tuple, set)) else [value]
        sample = next(iter(vs), None)
        if isinstance(sample, bool):
            low = tok.lower()
            return [low == "true"] if low in ("true", "false") else []
        if isinstance(sample, (int, float)):
            try:
                return [float(tok)]
            except ValueError:
                return []  # non-numeric token vs numeric value: keep
        if isinstance(sample, str):
            views = [tok]
            try:
                float(tok)
                float(sample)
            except (ValueError, TypeError):
                return views
            views.append(float(tok))
            return views
        return []  # dates/anything else: don't prune on dir tokens

    def keep(rel: str) -> bool:
        toks = {}
        for seg in rel.split(os.sep):
            name, eq, tok = seg.partition("=")
            if eq:
                toks[name] = tok

        def leaf(node) -> bool:
            _, name, op, value = node
            if name not in toks:
                return True  # not a partition field here
            views = _views(toks[name], value)
            if views is None:
                return False  # null partition: no comparison matches
            if not views:
                return True  # no safe interpretation: keep
            # prune only when EVERY interpretation rejects
            def test(pv):
                v = value
                if isinstance(pv, float) and isinstance(v, str):
                    try:
                        v = float(v)
                    except ValueError:
                        return True
                if isinstance(pv, float) and isinstance(
                    v, (list, tuple, set)
                ):
                    try:
                        v = [float(x) for x in v]
                    except (ValueError, TypeError):
                        return True
                return ScanPruner._identity_match(op, v, pv)

            return any(test(pv) for pv in views)

        return ScanPruner._eval(tree, leaf)

    return keep


def read_hudi(
    spark: SparkSession,
    path: str,
    as_of_instant: Optional[str] = None,
    partition_discovery: bool = False,
    filters=None,
) -> DataFrame:
    """Read a Hudi COW table directory — snapshot at the latest
    completed instant, or time travel to ``as_of_instant`` (the
    ``as.of.instant`` timestamp string, inclusive).

    ``partition_discovery=True`` reads the visible file list with the
    table root as ``basePath`` so hive-style ``col=val`` partition
    directories surface as partition COLUMNS and partition-key filters
    prune directories (Spark ``PartitionFilters``) — for tables written
    with ``hoodie.datasource.write.drop.partition.columns=true`` (the
    :class:`~.hudi_backend.HudiBackend` layout), where the values exist
    ONLY in the paths. Off by default: external tables usually carry
    the partition columns in the data files, and surfacing the
    directory twin would change the scanned schema.

    ``filters`` (Filter IR / tuples, see :mod:`..constructor.filter`)
    prunes FILE GROUPS whose hive-style partition directory values cannot
    match — the only partition pruning available to the MOR merge path,
    which bypasses Spark directory discovery entirely (log blocks
    decode in ``mapInPandas``, out of Catalyst's reach) — then applies
    the exact residual row predicate."""
    meta_dir = os.path.join(path, _META_DIR)
    if not os.path.isdir(meta_dir):
        raise FileNotFoundError(f"No Hudi timeline at {meta_dir}")
    ttype = _table_type(meta_dir)
    if ttype not in ("COPY_ON_WRITE", "MERGE_ON_READ"):
        raise NotImplementedError(
            f"Hudi table type {ttype}: this jarless reader supports "
            "COPY_ON_WRITE and MERGE_ON_READ"
        )
    active = _completed_instants(meta_dir)
    archived = _has_archive(meta_dir)
    if not active and not archived:
        raise ValueError(f"Hudi table at {path} has no completed commits")
    visible_active = {
        i for i in active
        if as_of_instant is None or i <= str(as_of_instant)
    }
    if not visible_active and not archived:
        raise ValueError(
            f"No Hudi commit at or before instant {as_of_instant!r}"
        )

    chosen = _visible_groups(path, meta_dir, as_of_instant)
    chosen_unpruned = chosen
    tree = normalize_filters(filters)
    pruner = _partition_dir_pruner(tree, _table_props(meta_dir))
    if pruner is not None:
        chosen = {
            (rel, fid): v
            for (rel, fid), v in chosen.items()
            if pruner(rel)
        }

    def residual(df: DataFrame) -> DataFrame:
        return residual_where(df, tree, f"hudi table {path}")

    def _pruned_to_nothing() -> DataFrame:
        """A filter that prunes EVERY group is a normal empty result,
        not an error. With a declared table schema the empty frame is
        typed directly; without one, fall back to the UNPRUNED plan —
        the residual filters it to empty with the right schema (the
        optimization is moot when the answer is no rows)."""
        sch_json = _table_props(meta_dir).get("hoodie.table.create.schema")
        if sch_json:
            from .avro_container import _spark_type_of

            return residual(
                spark.createDataFrame([], _spark_type_of(json.loads(sch_json)))
            )
        if ttype == "MERGE_ON_READ":
            return residual(_read_mor_snapshot(
                spark, path, meta_dir, chosen_unpruned, as_of_instant,
            ))
        fb = sorted(f for _, f in chosen_unpruned.values())
        return residual(
            spark.read.option("mergeSchema", "true").parquet(*fb)
        )

    if ttype == "MERGE_ON_READ":
        try:
            return residual(_read_mor_snapshot(
                spark, path, meta_dir, chosen, as_of_instant,
                group_keep=pruner,
            ))
        except ValueError:
            if pruner is None or chosen_unpruned == chosen:
                raise  # genuinely empty table, not a pruning artifact
            return _pruned_to_nothing()
    if not chosen:
        if pruner is not None and chosen_unpruned:
            return _pruned_to_nothing()
        raise ValueError(f"Hudi table at {path} has no visible base files")
    files = sorted(f for _, f in chosen.values())
    reader = spark.read.option("mergeSchema", "true")
    if partition_discovery:
        reader = reader.option("basePath", os.path.abspath(path))
        files = [os.path.abspath(f) for f in files]
        return residual(_cast_discovered_partitions(
            reader.parquet(*files), _table_props(meta_dir)
        ))
    return residual(reader.parquet(*files))


def _attach_group_logs(
    path: str,
    meta_dir: str,
    chosen: Dict[Tuple[str, str], Tuple[str, str]],
    as_of_instant: Optional[str],
):
    """Per (partition, fileId): its visible log files in numeric
    (logVersion, writeToken) order, attached to the group's chosen base
    instant (or, for log-only groups, the committed baseCommitTime).
    Returns ``(group_logs, committed, boundary)``."""
    active = _completed_instants(meta_dir)
    boundary = min(active) if (active and _has_archive(meta_dir)) else None
    committed = set(active)

    def is_committed(instant: str) -> bool:
        return instant in committed or (
            boundary is not None and instant < boundary
        )

    logs = _log_files_by_group(path)
    # attach log files to their file group's chosen base instant; a
    # group with NO base file (log-only: inserts routed to logs) is
    # visible when its baseCommitTime is itself a committed instant
    group_logs: Dict[Tuple[str, str], List[Tuple[int, str, str]]] = {}
    for key, entries in logs.items():
        if key in chosen:
            base_instant = chosen[key][0]
        else:
            cands = {
                b for (b, _v, _t, _p) in entries
                if is_committed(b)
                and (as_of_instant is None or b <= str(as_of_instant))
            }
            if not cands:
                continue
            base_instant = min(cands)
        wanted = [
            (ver, token, p)
            for (b, ver, token, p) in entries
            if b == base_instant
        ]
        if wanted:
            group_logs[key] = sorted(wanted)
    return group_logs, committed, boundary


def _merge_key_cols(meta_dir: str, names: List[str]) -> List[str]:
    """Columns that identify a record for the latest-wins MOR merge.

    ``populateMetaFields`` tables (the default) carry the key in
    ``_hoodie_record_key`` (+ ``_hoodie_partition_path``). Virtual-key
    tables omit the meta columns but DECLARE the key in
    ``hoodie.properties``: ``hoodie.table.recordkey.fields`` (comma
    separated) + ``hoodie.table.partition.fields`` — merging on those
    data columns is exactly what Hudi's key generator would have
    concatenated. Neither available => loud gate."""
    if "_hoodie_record_key" in names:
        cols = ["_hoodie_record_key"]
        if "_hoodie_partition_path" in names:
            cols.append("_hoodie_partition_path")
        return cols
    props = _table_props(meta_dir)
    declared = [
        c.strip()
        for c in props.get("hoodie.table.recordkey.fields", "").split(",")
        if c.strip()
    ]
    part = [
        c.strip()
        for c in props.get("hoodie.table.partition.fields", "").split(",")
        if c.strip()
    ]
    if not declared:
        raise NotImplementedError(
            "Hudi MERGE_ON_READ without populated meta fields "
            "(_hoodie_record_key) and without declared "
            "hoodie.table.recordkey.fields: no engine-independent "
            "merge key; read the read-optimized view or use the Hudi "
            "runtime"
        )
    missing = [c for c in declared if c not in names]
    if missing:
        raise NotImplementedError(
            f"Hudi virtual record-key fields {missing} are not in the "
            f"table schema {names}: cannot merge"
        )
    return declared + [c for c in part if c in names and c not in declared]


def _read_mor_snapshot(
    spark: SparkSession,
    path: str,
    meta_dir: str,
    chosen: Dict[Tuple[str, str], Tuple[str, str]],
    as_of_instant: Optional[str],
    group_keep=None,
) -> DataFrame:
    """MERGE_ON_READ snapshot: per file group, the newest visible base
    file merged with its attached log files' committed, visible
    AVRO_DATA blocks (format: :mod:`.hudi_log`, per the published
    tech-specs). Merge = latest-wins per Hudi record key — the default
    ``OverwriteWithLatestAvroPayload`` read semantics — with standard
    ``_hoodie_is_deleted`` soft deletes honored.

    Scale shape: log files are listed driver-side (file-system-view
    metadata, same as base files) but DECODED executor-side
    (``mapInPandas`` over the path list), and ONLY file groups that
    actually have logs pay the latest-per-key merge shuffle — a
    compacted table's log-less groups (the bulk of it) stream straight
    through, the per-file-group merge locality real MOR readers get.
    Merge key: ``_hoodie_record_key`` on ``populateMetaFields`` tables
    (the default); VIRTUAL-key tables (``populateMetaFields=false``,
    Hudi's recommended low-overhead layout since 0.9) declare the key
    columns in ``hoodie.properties`` (``hoodie.table.recordkey.fields``
    + ``hoodie.table.partition.fields``), so the merge keys on those
    data columns directly. Neither present gates loudly — there is no
    engine-independent merge key."""
    from pyspark.sql import functions as F

    group_logs, committed, boundary = _attach_group_logs(
        path, meta_dir, chosen, as_of_instant
    )
    if group_keep is not None:
        # partition-dir pruning must also drop LOG-ONLY groups (inserts
        # routed to logs in pruned partitions) — chosen was pre-filtered
        # by the caller, but group_logs walks the log tree independently
        group_logs = {
            (rel, fid): v
            for (rel, fid), v in group_logs.items()
            if group_keep(rel)
        }
    base_files = sorted(f for _, f in chosen.values())
    if not base_files and not group_logs:
        raise ValueError(
            f"Hudi table at {path} has no visible base or log files"
        )

    log_paths = [
        p for entries in group_logs.values() for (_v, _t, p) in entries
    ]
    # only file groups WITH logs pay the merge shuffle: a compacted
    # table's log-less groups (the bulk of it) stream straight through
    # — this is the per-file-group merge locality real MOR readers get
    plain_files = sorted(
        f for key, (_i, f) in chosen.items() if key not in group_logs
    )
    merge_files = sorted(
        f for key, (_i, f) in chosen.items() if key in group_logs
    )
    base = (
        spark.read.option("mergeSchema", "true").parquet(*base_files)
        if base_files
        else None
    )
    if not log_paths:
        return base

    from .avro_container import _spark_type_of
    from .hudi_log import iter_log_blocks, log_records

    # output schema: the base files' when they exist, else the first
    # log block's writer schema (avro -> Spark); every block decodes
    # with its OWN writer schema and projects onto these fields
    if base is not None:
        out_fields = base.schema.fields
    else:
        from .avro_codec import parse_schema
        from .hudi_log import H_SCHEMA, PARQUET_DATA_BLOCK

        with open(sorted(log_paths)[0], "rb") as fh:
            btype0, header, content0 = next(iter_log_blocks(fh.read()))
        if btype0 == PARQUET_DATA_BLOCK:
            # a parquet data block carries its schema in the content
            # itself (the block IS a parquet file), not in a header
            import pyarrow as pa
            import pyarrow.parquet as pq

            from pyspark.sql.pandas.types import from_arrow_schema

            out_fields = from_arrow_schema(
                pq.read_schema(pa.BufferReader(content0))
            ).fields
        else:
            out_fields = _spark_type_of(
                parse_schema(header[H_SCHEMA])
            ).fields

    names = [f.name for f in out_fields]
    key_cols = _merge_key_cols(meta_dir, names)
    log_df = _decode_log_frame(
        spark, group_logs, out_fields, committed, boundary,
        as_of_instant, key_fields=key_cols,
    )
    if merge_files:
        merge_base = spark.read.option("mergeSchema", "true").parquet(
            *merge_files
        )
        merged = merge_base.withColumn(
            "__h_ord", F.lit(-1).cast("long")
        ).unionByName(log_df, allowMissingColumns=True)
    else:
        merged = log_df
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(F.col("__h_ord").desc())
    merged = (
        merged.withColumn("__h_rn", F.row_number().over(w))
        .where(F.col("__h_rn") == 1)
        # a DELETE-block tombstone that wins latest-per-key removes
        # the record from the snapshot (hard delete through the log)
        .where(F.col("__h_del").isNull() | (~F.col("__h_del")))
        .drop("__h_rn", "__h_ord", "__h_del")
    )
    if plain_files:
        plain = spark.read.option("mergeSchema", "true").parquet(
            *plain_files
        )
        merged = merged.unionByName(plain, allowMissingColumns=True)
    if "_hoodie_is_deleted" in names:
        merged = merged.where(
            F.col("_hoodie_is_deleted").isNull()
            | (~F.col("_hoodie_is_deleted"))
        )
    return merged


def _decode_log_frame(
    spark: SparkSession,
    group_logs: Dict[Tuple[str, str], List[Tuple[int, str, str]]],
    out_fields,
    committed: Set[str],
    boundary: Optional[str],
    as_of_instant: Optional[str],
    only_instants: Optional[Set[str]] = None,
    key_fields: Optional[List[str]] = None,
) -> DataFrame:
    """Decode the attached log files into rows of ``out_fields`` +
    ``__h_ord`` (the deterministic merge order: file sequence in each
    group's NUMERIC (logVersion, writeToken) order — a lexicographic
    path sort would put .log.10 before .log.2 — then block and record
    sequence; 23/20/20 bits). ``only_instants`` further restricts to an
    instant window (the incremental pull).

    Log files are HIDDEN (leading dot) by design, and Spark's file
    index unconditionally filters dot-files — Hudi's own readers open
    them by raw path for the same reason. So: parallelize the PATH
    list and open inside the workers (the same executor-side-IO
    pattern as the avro writer) — decode stays distributed."""
    import pandas as pd
    from pyspark.sql import types as T_

    from .hudi_log import log_records

    names = [f.name for f in out_fields]
    ord_field = T_.StructField("__h_ord", T_.LongType(), False)
    del_field = T_.StructField("__h_del", T_.BooleanType(), False)
    out_schema = T_.StructType(list(out_fields) + [ord_field, del_field])

    # DELETE-block tombstones carry only (recordKey, partitionPath):
    # map them onto the table's key columns — meta-field tables take
    # the strings verbatim; virtual-key tables parse the key
    # generator's "f1:v1,f2:v2" / positional formats and cast through
    # the table schema (string -> declared column type)
    def _py_conv(dt):
        if isinstance(dt, (T_.LongType, T_.IntegerType,
                           T_.ShortType, T_.ByteType)):
            return int
        if isinstance(dt, (T_.DoubleType, T_.FloatType)):
            return float
        if isinstance(dt, T_.StringType):
            return str
        return lambda x: x

    conv = {f.name: _py_conv(f.dataType) for f in out_fields}
    # virtual partition fields ride inside rec_cols; the tombstone
    # mapper resolves "f:v" pairs by field NAME, so no split is
    # needed — the positional fallback only applies to a single
    # declared key field
    rec_cols = [
        k for k in (key_fields or []) if k != "_hoodie_partition_path"
    ]

    def _tombstone_row(rec: dict) -> dict:
        row = {n: None for n in names}
        rk = rec.get("recordKey")
        if rk is None:
            raise ValueError("Hudi DELETE_BLOCK tombstone without a "
                             "recordKey: cannot merge")
        if "_hoodie_record_key" in names:
            row["_hoodie_record_key"] = rk
            if "_hoodie_partition_path" in names:
                row["_hoodie_partition_path"] = (
                    rec.get("partitionPath") or ""
                )
        else:
            parts = rk.split(",")
            data_cols = [c for c in rec_cols if c in names]
            if all(":" in p for p in parts) and parts and parts[0]:
                # ComplexKeyGenerator format "f1:v1,f2:v2"
                for p in parts:
                    f, _, v = p.partition(":")
                    if f in conv:
                        row[f] = conv[f](v)
            elif len(data_cols) >= 1:
                row[data_cols[0]] = conv[data_cols[0]](rk)
            else:
                raise ValueError(
                    f"Hudi DELETE_BLOCK tombstone key {rk!r} cannot be"
                    f" mapped onto key fields {rec_cols}"
                )
        if "_hoodie_is_deleted" in names:
            row["_hoodie_is_deleted"] = True
        return row
    file_seq: Dict[str, int] = {}
    for key in sorted(group_logs):
        for _ver, _token, p in group_logs[key]:  # already (ver, token)-sorted
            file_seq[os.path.abspath(p)] = len(file_seq)
    as_of = str(as_of_instant) if as_of_instant is not None else None
    committed_b = set(committed)  # serialized into the closure
    boundary_b = boundary
    only_b = set(only_instants) if only_instants is not None else None
    # merge-key columns a record must carry (None while incremental
    # pulls, which don't merge); _hoodie_partition_path may be absent
    # from individual records without breaking the key
    key_req = [
        k for k in (key_fields or []) if k != "_hoodie_partition_path"
    ]

    def decode(batches):
        for pdf in batches:
            rows: List[dict] = []
            for pth, fseq in zip(pdf["__h_path"], pdf["__h_fseq"]):
                with open(pth, "rb") as fh:
                    data = fh.read()
                for instant, bseq, rseq, rec, is_del in log_records(
                    data, None, as_of
                ):
                    # same committed rule as base files: active
                    # timeline, or below the archive boundary
                    if instant not in committed_b and not (
                        boundary_b is not None and instant < boundary_b
                    ):
                        continue
                    if only_b is not None and instant not in only_b:
                        continue
                    if not is_del:
                        for kf in key_req:
                            if rec.get(kf) is None:
                                raise ValueError(
                                    f"Hudi log record without merge "
                                    f"key field {kf!r} (instant "
                                    f"{instant}): cannot merge"
                                )
                    if bseq >= (1 << 20) or rseq >= (1 << 20) or int(
                        fseq
                    ) >= (1 << 23):
                        # packing budget: 23/20/20 bits — overflowing
                        # a field would silently corrupt the
                        # latest-wins merge order
                        raise NotImplementedError(
                            f"Hudi log merge-order overflow (file seq "
                            f"{int(fseq)}, block {bseq}, record {rseq}):"
                            " beyond this reader's 23/20/20-bit "
                            "ordering budget"
                        )
                    row = (
                        _tombstone_row(rec) if is_del
                        else {n: rec.get(n) for n in names}
                    )
                    row["__h_ord"] = (int(fseq) << 40) | (bseq << 20) | rseq
                    row["__h_del"] = bool(is_del)
                    rows.append(row)
            yield pd.DataFrame(
                rows, columns=names + ["__h_ord", "__h_del"]
            )

    path_rows = sorted(
        (p, seq) for p, seq in file_seq.items()
    )
    # one task per handful of log files, scaled to the cluster (a
    # 1000-executor cluster should not funnel 100k logs through 64
    # tasks); decode cost is IO-bound so 2x parallelism overlaps it
    n_slices = min(
        len(path_rows), max(8, spark.sparkContext.defaultParallelism * 2)
    )
    return (
        spark.createDataFrame(
            path_rows, "__h_path string, __h_fseq long"
        )
        .repartition(n_slices)
        .mapInPandas(decode, schema=out_schema)
    )


def hudi_incremental(
    spark: SparkSession,
    path: str,
    begin_instant: str,
    end_instant: Optional[str] = None,
) -> DataFrame:
    """Incremental query: changes from commits in
    ``(begin_instant, end_instant]`` — the reference's
    ``hoodie.datasource.query.type=incremental`` window
    (``core/hudi_engine.py:207-224``).

    COW granularity is the file group: a rewritten group's rows are
    all returned (the caller dedupes by record key downstream, as the
    commit store does). MERGE_ON_READ is RECORD-level: log records
    whose block instant falls in the window, plus base files written
    by in-window deltacommits (new-file-group inserts); compaction
    ``.commit`` rewrites carry no new data and are excluded."""
    meta_dir = os.path.join(path, _META_DIR)
    if _table_type(meta_dir) == "MERGE_ON_READ":
        return _hudi_incremental_mor(
            spark, path, meta_dir, begin_instant, end_instant
        )
    active = _completed_instants(meta_dir)
    head = read_hudi(spark, path, as_of_instant=end_instant)
    if _has_archive(meta_dir) and active and str(begin_instant) < min(active):
        # the pull window reaches below the archive boundary — archived
        # commit metadata is gone from the active timeline, so the
        # window cannot be resolved commit-by-commit (Hudi itself
        # errors and tells the caller to fall back to a snapshot)
        raise ValueError(
            f"Hudi incremental pull from {begin_instant!r} starts before"
            f" the earliest active instant {min(active)!r} (older commits"
            " are archived); use a snapshot read instead"
        )
    wanted = {
        i for i in active
        if i > str(begin_instant)
        and (end_instant is None or i <= str(end_instant))
    }
    if not wanted:
        return head.limit(0)
    chosen = _visible_groups(path, meta_dir, end_instant)
    files = sorted(
        f for (instant, f) in chosen.values() if instant in wanted
    )
    if not files:
        return head.limit(0)
    return spark.read.option("mergeSchema", "true").parquet(*files)


def _hudi_incremental_mor(
    spark: SparkSession,
    path: str,
    meta_dir: str,
    begin_instant: str,
    end_instant: Optional[str],
) -> DataFrame:
    """MOR incremental: record-level changes — committed log records
    with block instants in the window, plus base files written by
    in-window deltacommits. The archive-boundary rule matches the COW
    variant: a window reaching below the boundary is unresolvable.

    Deliberately does NOT go through the end-snapshot's file-group
    view: a compaction (``.commit``) or clustering inside the window
    rewrites groups and re-homes logs onto the post-compaction base
    instant, which would orphan the PRE-compaction log files carrying
    in-window deltacommit records (silent missing rows). Instead every
    committed base file written by an in-window deltacommit and every
    committed log file (any base generation) is read, with records
    filtered to the window — each record lives in exactly one log
    block / base file, so nothing duplicates."""
    active = _completed_instants(meta_dir)
    head = read_hudi(spark, path, as_of_instant=end_instant)
    if _has_archive(meta_dir) and active and str(begin_instant) < min(active):
        raise ValueError(
            f"Hudi incremental pull from {begin_instant!r} starts before"
            f" the earliest active instant {min(active)!r} (older commits"
            " are archived); use a snapshot read instead"
        )
    wanted = {
        i for i in active
        if i > str(begin_instant)
        and (end_instant is None or i <= str(end_instant))
        and os.path.exists(os.path.join(meta_dir, f"{i}.deltacommit"))
    }
    if not wanted:
        return head.limit(0)
    boundary = min(active) if (active and _has_archive(meta_dir)) else None
    committed = set(active)

    def is_committed(instant: str) -> bool:
        return instant in committed or (
            boundary is not None and instant < boundary
        )

    # every base file WRITTEN by an in-window deltacommit — even if a
    # later in-window compaction/clustering superseded it (its rows
    # are still that deltacommit's changes); the same walk records
    # every COMMITTED base instant per file group, the evidence the
    # generation-span prune below needs
    base_files: List[str] = []
    group_bases: Dict[Tuple[str, str], List[str]] = {}
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if d != _META_DIR]
        rel = os.path.relpath(root, path)
        for name in files:
            parsed = _parse_base_file(name)
            if parsed is None:
                continue
            fid, instant = parsed
            if instant in wanted:
                base_files.append(os.path.join(root, name))
            if is_committed(instant):
                group_bases.setdefault((rel, fid), []).append(instant)
    base_files.sort()
    for bases in group_bases.values():
        bases.sort()
    # every committed, visible log file regardless of which base
    # generation it attaches to (pre-compaction logs carry in-window
    # records too); record-level filtering below does the rest
    # generation-span prune (closes the read-everything cost note): a
    # log of base instant b in group g only carries deltacommit
    # instants in (b, next-base-instant-of-g(b)] — a compaction or
    # clustering re-homes NEW logs onto the new base only for the file
    # groups it actually rewrote, which a committed newer base file in
    # THAT group evidences. A group the rewrite skipped keeps accruing
    # logs on its old base instant (no newer base file), so its span
    # stays open-ended and nothing is pruned — a global rewrite-instant
    # bound here would silently drop those groups' in-window records
    import bisect

    def _gen_may_overlap(key: Tuple[str, str], b: str) -> bool:
        bases = group_bases.get(key, [])
        pos = bisect.bisect_right(bases, b)
        nxt = bases[pos] if pos < len(bases) else None
        return any(w > b and (nxt is None or w <= nxt) for w in wanted)

    group_logs: Dict[Tuple[str, str], List[Tuple[int, str, str]]] = {}
    for key, entries in _log_files_by_group(path).items():
        kept = sorted(
            (ver, token, p)
            for (b, ver, token, p) in entries
            if is_committed(b)
            and (end_instant is None or b <= str(end_instant))
            and _gen_may_overlap(key, b)
        )
        if kept:
            group_logs[key] = kept
    parts: List[DataFrame] = []
    if base_files:
        parts.append(
            spark.read.option("mergeSchema", "true").parquet(*base_files)
        )
    if group_logs:
        # key_fields lets DELETE-block tombstones map onto the table's
        # key columns; the window returns them as tombstone rows (key
        # fields set, payload null, _hoodie_is_deleted=True when the
        # schema carries it) — the log-view parity of a hard delete
        names = [f.name for f in head.schema.fields]
        parts.append(
            _decode_log_frame(
                spark, group_logs, list(head.schema.fields), committed,
                boundary, end_instant, only_instants=wanted,
                key_fields=_merge_key_cols(meta_dir, names),
            ).drop("__h_ord", "__h_del")
        )
    if not parts:
        return head.limit(0)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out
