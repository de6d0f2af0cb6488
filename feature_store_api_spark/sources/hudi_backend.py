"""Commit-store physical backend writing a REAL Hudi COPY_ON_WRITE table.

Fourth physical backend behind the :class:`~.backend.TimeTravelBackend`
seam — and the one that closes the reference's headline format:
``time_travel_format="HUDI"`` (the reference's default,
``feature_group.py`` + ``core/hudi_engine.py``) now lands as a
published-layout Hudi table WITHOUT the hudi-spark jars:

* ``.hoodie/hoodie.properties`` (COPY_ON_WRITE) + a completed
  ``<instant>.commit`` per store commit on the active timeline;
* each commit's parquet files land as NEW file groups named
  ``<fileId>_<writeToken>_<instant>.parquet`` (bulk-insert semantics:
  groups are never rewritten — the store resolves record versions
  itself, exactly its merge-on-read contract with the Delta/Iceberg
  twins);
* declared ``partition_key`` columns become REAL hive-style partition
  paths ``<col>=<val>/…`` — the reference's partition-path handling
  (``core/hudi_engine.py:131-160``) — written with Hudi's
  ``hoodie.datasource.write.drop.partition.columns=true`` posture
  (values live in the path, recovered by partition discovery at scan),
  so a filter on a partition key prunes DIRECTORIES, not rows; an
  unpartitioned table writes its file groups at the table root (Hudi's
  non-partitioned key-generator layout, empty partition path);
* instants use Hudi's ``yyyyMMddHHmmssSSS`` format, derived
  DETERMINISTICALLY from the store's epoch-ms commit time, so
  ``drop_commit`` (vacuum) recomputes the doomed instant and unlinks
  its file group files in every partition path;
* readable by :mod:`.hudi_reader` (snapshot / as-of-instant) and by
  any real Hudi client — the layout and timeline are the published
  spec (hudi.apache.org/tech-specs/).

The store's own commit metadata stays in the ``_commits.json``
sidecar; external readers see the RAW commit rows incl.
``_commit_time``/``_op`` — the same documented log-view contract as
the other backends.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from datetime import datetime, timezone
from typing import List, Sequence, Tuple

from pyspark.sql import DataFrame, SparkSession

from .backend import CommitLogBackend
from .footer_stats import footer_min


def _instant_of(commit_time_ms: int) -> str:
    """Epoch millis -> Hudi instant (``yyyyMMddHHmmssSSS``, UTC).
    Deterministic both ways within the backend: vacuum recomputes it."""
    dt = datetime.fromtimestamp(commit_time_ms / 1000.0, tz=timezone.utc)
    return dt.strftime("%Y%m%d%H%M%S") + f"{commit_time_ms % 1000:03d}"


class HudiBackend(CommitLogBackend):
    """Commit-store physical I/O through a real Hudi COW table."""

    #: hoodie.table.type this backend writes; :class:`HudiMorBackend`
    #: overrides to MERGE_ON_READ
    table_type = "COPY_ON_WRITE"

    def __init__(self, location: str) -> None:
        super().__init__(location)
        self._meta_dir = os.path.join(location, ".hoodie")

    def _ensure_table(
        self, partition_cols: Sequence[str] = (), schema=None
    ) -> None:
        props = os.path.join(self._meta_dir, "hoodie.properties")
        if os.path.exists(props):
            # layout is immutable for the life of the table: a table
            # created flat (columns in the files) must NOT silently
            # start writing <col>=<val>/ paths with the columns dropped
            # from the files — scan() keys partition discovery off
            # these props, so a mismatch means later rows come back
            # with NULL partition columns. Refuse loudly instead
            # (hudi.apache.org/docs/configurations:
            # hoodie.table.partition.fields is a table-create-only
            # property).
            existing: List[str] = []
            existing_type = "COPY_ON_WRITE"
            with open(props) as fh:
                for line in fh:
                    if line.startswith("hoodie.table.partition.fields="):
                        val = line.split("=", 1)[1].strip()
                        existing = [p for p in val.split(",") if p]
                    if line.startswith("hoodie.table.type="):
                        existing_type = line.split("=", 1)[1].strip()
            if existing_type != self.table_type:
                raise ValueError(
                    f"Hudi table at {self.location!r} is "
                    f"{existing_type}; refusing to write as "
                    f"{self.table_type} — table type is fixed at "
                    "creation (hudi.apache.org/docs/configurations: "
                    "hoodie.table.type is a table-create-only "
                    "property)."
                )
            if list(partition_cols) != existing:
                raise ValueError(
                    f"Hudi table at {self.location!r} was created with "
                    f"partition fields {existing or '(none)'}; refusing "
                    f"to write with partition fields "
                    f"{list(partition_cols) or '(none)'} — partition "
                    "layout is fixed at table creation. Recreate the "
                    "feature group (new version) to change partitioning."
                )
            return
        os.makedirs(self._meta_dir, exist_ok=True)
        name = os.path.basename(self.location.rstrip(os.sep)) or "table"
        lines = [
            f"hoodie.table.name={name}",
            f"hoodie.table.type={self.table_type}",
            "hoodie.table.version=6",
            "hoodie.timeline.layout.version=1",
        ]
        if partition_cols:
            lines.append(
                "hoodie.table.partition.fields="
                + ",".join(partition_cols)
            )
            lines.append("hoodie.datasource.write.hive_style_partitioning=true")
            if self.table_type == "COPY_ON_WRITE":
                # MOR keeps partition values IN the files (real Hudi's
                # default posture): the merge read resolves values from
                # file content, not directory discovery
                lines.append(
                    "hoodie.datasource.write.drop.partition.columns=true"
                )
        if schema is not None:
            # hoodie.table.create.schema (real Hudi's creation-time
            # table schema property): with drop.partition.columns the
            # partition values exist ONLY in directory names, and
            # Spark's directory type inference has no boolean type and
            # reads numeric-looking string keys as long — the reader
            # casts discovered partition columns back to these declared
            # types (sources/hudi_reader.py read_hudi)
            import json as _json

            from pyspark.sql import types as T

            from .avro_codec import avro_schema_of_df

            class _DF:  # avro_schema_of_df only touches .schema
                pass

            holder = _DF()
            holder.schema = schema
            avro = avro_schema_of_df(holder, name="table_schema")
            # the generic codec folds BOTH Spark timestamp kinds to
            # timestamp-micros; the scan-side cast must tell them
            # apart, so NTZ fields get avro's local-timestamp-micros
            # (the spec's zoneless logical type)
            ntz = {
                f.name for f in schema.fields
                if isinstance(f.dataType, T.TimestampNTZType)
            }
            for f in avro["fields"]:
                if f["name"] in ntz:
                    for t in (
                        f["type"] if isinstance(f["type"], list)
                        else [f["type"]]
                    ):
                        if (
                            isinstance(t, dict)
                            and t.get("logicalType") == "timestamp-micros"
                        ):
                            t["logicalType"] = "local-timestamp-micros"
            lines.append(
                "hoodie.table.create.schema="
                + _json.dumps(avro, separators=(",", ":"))
            )
        with open(props, "w") as fh:
            fh.write("\n".join(lines) + "\n")

    # -- data ------------------------------------------------------------------
    def append_commit(self, df: DataFrame, partition_cols: Sequence[str]) -> None:
        from .commit_store import COMMIT_COL

        # USER partition keys only: the store's _commit_time partition
        # is carried by the Hudi instant (file-name suffix + timeline)
        # and must stay a DATA column — the log-view contract exposes it
        # to external readers
        user_parts = [c for c in partition_cols if c != COMMIT_COL]
        self._ensure_table(user_parts, schema=df.schema)
        stage = os.path.join(self.location, f"_staging_{uuid.uuid4().hex[:8]}")
        try:
            # partitionBy lays the staged files out in the hive dirs the
            # table needs (and drops the partition columns from the
            # files — the drop.partition.columns posture; discovery
            # recovers them at scan, same as the default backend)
            df.write.partitionBy(user_parts).mode(
                "overwrite"
            ).parquet(stage)
            commit_time = None
            staged: List[Tuple[str, str]] = []  # (src, rel partition dir)
            for root, dirs, files in os.walk(stage):
                for name in sorted(files):
                    if not name.endswith(".parquet"):
                        continue
                    src = os.path.join(root, name)
                    if commit_time is None:
                        commit_time = footer_min(src, COMMIT_COL)
                    rel = os.path.relpath(root, stage)
                    staged.append((src, "" if rel == "." else rel))
            if not staged:
                return
            instant = _instant_of(commit_time or 0)
            for i, (src, rel) in enumerate(staged):
                part_dir = (
                    os.path.join(self.location, rel)
                    if rel else self.location
                )
                os.makedirs(part_dir, exist_ok=True)
                # new file group per staged file: bulk-insert semantics
                fid = f"fg-{uuid.uuid4().hex[:12]}"
                dst = os.path.join(
                    part_dir, f"{fid}_{i}-0-{i}_{instant}.parquet"
                )
                os.replace(src, dst)
        finally:
            shutil.rmtree(stage, ignore_errors=True)
        # completed-commit timeline entry LAST: readers never see the
        # files until the instant is committed (Hudi's visibility rule)
        with open(
            os.path.join(self._meta_dir, f"{instant}.commit"), "w"
        ) as fh:
            json.dump({"fsas.commit-time": commit_time or 0}, fh)

    def scan(
        self, spark: SparkSession, filters=None
    ) -> "DataFrame | None":
        if not os.path.isdir(self._meta_dir):
            return None
        if not any(
            n.endswith((".commit", ".deltacommit", ".replacecommit"))
            for n in os.listdir(self._meta_dir)
        ):
            return None
        from .hudi_reader import _table_props, read_hudi

        # this backend DROPPED the partition columns from the data
        # files, so a partitioned table must scan with hive partition
        # discovery — the values come back from the directory names and
        # a partition-key filter prunes at the DIRECTORY level
        # (PartitionFilters), never as a row filter
        props = _table_props(self._meta_dir)
        # discovery only when the table DROPPED its partition columns
        # from the files (the COW posture); MOR keeps them in the data
        discovery = (
            props.get(
                "hoodie.datasource.write.drop.partition.columns", ""
            ).strip().lower() == "true"
        )
        df = read_hudi(
            spark, self.location, partition_discovery=discovery,
            filters=filters,
        )
        # the MOR writer's synthetic per-row merge key is a storage
        # detail, not a store column
        if "_hoodie_record_key" in df.columns:
            df = df.drop("_hoodie_record_key")
        return df

    def drop_commit(self, commit_time: int) -> bool:
        instant = _instant_of(commit_time)
        marker = os.path.join(self._meta_dir, f"{instant}.commit")
        if not os.path.exists(marker):
            return False
        suffix = f"_{instant}.parquet"
        dropped = False
        for root, dirs, files in os.walk(self.location, topdown=False):
            rel = os.path.relpath(root, self.location)
            if ".hoodie" in rel.split(os.sep):
                continue
            for name in files:
                if name.endswith(suffix):
                    os.remove(os.path.join(root, name))
                    dropped = True
            # retire emptied partition directories
            if root != self.location and not os.listdir(root):
                os.rmdir(root)
        # the instant leaves the timeline too — a base-file-less
        # completed instant is legal, but real Hudi cleaners retire
        # fully-cleaned commits, and time travel to it is gone anyway
        os.remove(marker)
        return dropped


class HudiMorBackend(HudiBackend):
    """MERGE_ON_READ twin of :class:`HudiBackend` — small follow-up
    commits APPEND to existing file groups as log files instead of
    laying down new parquet file groups (``time_travel_format=
    "HUDI_MOR"``; parity: the reference's streaming feature groups
    default to MOR, ``core/hudi_engine.py`` table-type option).

    Write shape per commit (hudi.apache.org/tech-specs "Log File
    Format" / "Timeline"):

    * a partition that has NO file group yet gets a parquet BASE file
      (new file group, same as the COW writer);
    * a partition that has one gets a log file
      ``.<fileId>_<baseInstant>.log.<version>_<instant>`` holding ONE
      PARQUET data block (``hoodie.logfile.data.block.format=parquet``;
      content = the staged in-memory parquet bytes — no row decode on
      the write path), attached to the partition's FIRST file group;
    * the instant completes as ``<instant>.deltacommit`` LAST, so
      readers never see half-written blocks (the log blocks' header
      instants stay invisible until the timeline entry lands);
    * every row carries a synthetic unique ``_hoodie_record_key``:
      the store's log-view contract needs every commit's raw rows to
      SURVIVE the reader's latest-wins merge, and unique keys make the
      merge the identity — version resolution stays in the commit
      store, exactly like the COW/Delta/Iceberg backends.

    Unlike the COW writer, partition values stay IN the data files
    (real Hudi's default posture — ``drop.partition.columns=false``):
    the jarless MOR merge reads file content, not directory names.
    """

    table_type = "MERGE_ON_READ"

    def append_commit(self, df: DataFrame, partition_cols: Sequence[str]) -> None:
        self._write_mor_commit(df, partition_cols, force_base=False)

    def append_base_commit(
        self, df: DataFrame, partition_cols: Sequence[str]
    ) -> None:
        """Base/restatement commits (compaction, insert overwrite) lay
        down FRESH parquet base file groups instead of log appends: the
        store vacuums every commit strictly below a base anchor, and a
        base that lived in log files attached to an OLDER commit's
        groups would be destroyed with them (orphaned baseCommitTime).
        Subsequent log appends attach to these newest groups, so the
        whole pre-anchor tree — old groups AND the logs attached to
        them — drops cleanly together."""
        self._write_mor_commit(df, partition_cols, force_base=True)

    def _write_mor_commit(
        self,
        df: DataFrame,
        partition_cols: Sequence[str],
        force_base: bool,
    ) -> None:
        from pyspark.sql import functions as F

        from .commit_store import COMMIT_COL
        from .hudi_log import (
            H_INSTANT_TIME,
            PARQUET_DATA_BLOCK,
            encode_log_file,
        )
        from .hudi_reader import _parse_base_file, _parse_log_file

        user_parts = [c for c in partition_cols if c != COMMIT_COL]
        self._ensure_table(user_parts, schema=df.schema)
        # newest BASE-restatement instant (completed as .commit, the
        # way real Hudi marks compactions): appends must never attach
        # a log to a group OLDER than it — a partition the restatement
        # did not touch keeps pre-anchor groups, and a post-anchor log
        # riding one would be destroyed with it at vacuum (data loss)
        newest_base = max(
            (n[:-len(".commit")]
             for n in os.listdir(self._meta_dir)
             if n.endswith(".commit") and not n.endswith(".deltacommit")
             and not n.endswith(".replacecommit")),
            default=None,
        ) if os.path.isdir(self._meta_dir) else None
        # synthetic per-row merge key (see class docstring)
        df = df.withColumn("_hoodie_record_key", F.expr("uuid()"))
        # stage under COPIES of the partition columns so the hive dir
        # layout comes out of partitionBy while the real columns STAY
        # in the file content (partitionBy always drops its columns)
        stage_parts = [f"__hp_{c}" for c in user_parts]
        staged_df = df
        for c in user_parts:
            staged_df = staged_df.withColumn(f"__hp_{c}", F.col(c))
        stage = os.path.join(self.location, f"_staging_{uuid.uuid4().hex[:8]}")
        try:
            staged_df.write.partitionBy(stage_parts).mode(
                "overwrite"
            ).parquet(stage)
            commit_time = None
            staged: List[Tuple[str, str]] = []  # (src, rel partition dir)
            for root, dirs, files in os.walk(stage):
                for name in sorted(files):
                    if not name.endswith(".parquet"):
                        continue
                    src = os.path.join(root, name)
                    if commit_time is None:
                        commit_time = footer_min(src, COMMIT_COL)
                    rel = os.path.relpath(root, stage)
                    if rel != ".":
                        # __hp_c=val -> c=val (hive names, real values)
                        rel = os.sep.join(
                            seg[len("__hp_"):] if seg.startswith("__hp_")
                            else seg
                            for seg in rel.split(os.sep)
                        )
                    staged.append((src, "" if rel == "." else rel))
            if not staged:
                return
            instant = _instant_of(commit_time or 0)
            # per partition dir: the group to append to (first file
            # group by fileId) and the next log version
            group_of: dict = {}
            for i, (src, rel) in enumerate(staged):
                part_dir = (
                    os.path.join(self.location, rel)
                    if rel else self.location
                )
                os.makedirs(part_dir, exist_ok=True)
                if rel not in group_of:
                    bases = {}
                    next_ver = 1
                    for name in sorted(os.listdir(part_dir)):
                        parsed = _parse_base_file(name)
                        if parsed is not None:
                            fid, b_inst = parsed
                            if fid not in bases or b_inst > bases[fid]:
                                bases[fid] = b_inst
                    for name in sorted(os.listdir(part_dir)):
                        lparsed = _parse_log_file(name)
                        if lparsed is not None:
                            next_ver = max(next_ver, lparsed[2] + 1)
                    # attach to the group holding the NEWEST base
                    # instant (ties: smallest fileId): after a base
                    # restatement, logs ride the anchor's groups and
                    # the pre-anchor tree stays vacuum-droppable as a
                    # unit
                    target = None
                    if bases and not force_base:
                        newest = max(bases.values())
                        if newest_base is None or newest >= newest_base:
                            fid = min(
                                f for f, b in bases.items()
                                if b == newest
                            )
                            target = (fid, newest)
                        # else: this partition's groups all predate the
                        # newest base restatement (it didn't touch this
                        # partition) — fall through to a FRESH base
                        # file group so the rows survive a vacuum of
                        # the pre-anchor tree
                    group_of[rel] = [target, next_ver]
                target, next_ver = group_of[rel]
                if target is None:
                    # no file group here yet: lay down a base file
                    fid = f"fg-{uuid.uuid4().hex[:12]}"
                    dst = os.path.join(
                        part_dir, f"{fid}_{i}-0-{i}_{instant}.parquet"
                    )
                    os.replace(src, dst)
                    # later staged files of this partition in the SAME
                    # commit keep creating their own groups (bulk
                    # insert); log-append starts at the NEXT commit
                    continue
                fid, base_instant = target
                with open(src, "rb") as fh:
                    content = fh.read()
                raw = encode_log_file([(
                    PARQUET_DATA_BLOCK,
                    {H_INSTANT_TIME: instant},
                    content,
                )])
                # writeToken = the instant: drop_commit unlinks a
                # commit's log files by name, no block peeking
                log_name = (
                    f".{fid}_{base_instant}.log.{next_ver}_{instant}"
                )
                with open(os.path.join(part_dir, log_name), "wb") as fh:
                    fh.write(raw)
                group_of[rel][1] = next_ver + 1
        finally:
            shutil.rmtree(stage, ignore_errors=True)
        # completed-instant entry LAST (visibility rule); MOR log/insert
        # writes complete as deltacommits, base restatements as .commit
        # (Hudi's compaction marker — also how append_commit finds the
        # newest base boundary above)
        suffix = ".commit" if force_base else ".deltacommit"
        with open(
            os.path.join(self._meta_dir, f"{instant}{suffix}"), "w"
        ) as fh:
            json.dump({"fsas.commit-time": commit_time or 0}, fh)

    def drop_commit(self, commit_time: int) -> bool:
        from .hudi_reader import _parse_log_file

        instant = _instant_of(commit_time)
        marker = None
        for suf in (".deltacommit", ".commit"):
            cand = os.path.join(self._meta_dir, f"{instant}{suf}")
            if os.path.exists(cand):
                marker = cand
                break
        if marker is None:
            return False
        suffix = f"_{instant}.parquet"
        dropped = False
        for root, dirs, files in os.walk(self.location, topdown=False):
            rel = os.path.relpath(root, self.location)
            if ".hoodie" in rel.split(os.sep):
                continue
            for name in files:
                doomed = name.endswith(suffix)
                if not doomed:
                    parsed = _parse_log_file(name)
                    # writeToken carries the writing instant (see
                    # append_commit): unlink this commit's log files
                    doomed = parsed is not None and parsed[3] == instant
                if doomed:
                    os.remove(os.path.join(root, name))
                    dropped = True
            if root != self.location and not os.listdir(root):
                os.rmdir(root)
        os.remove(marker)
        return dropped
