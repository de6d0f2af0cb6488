"""Jarless Hudi COW reader: fixtures follow the published layout
(.hoodie timeline + <fileId>_<token>_<instant>.parquet base files)."""

import os

import pytest

from tests.conftest import *  # noqa: F401,F403 - spark fixture


def _pq(rows, path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(rows), path)


def _commit(meta, instant):
    os.makedirs(meta, exist_ok=True)
    with open(os.path.join(meta, f"{instant}.commit"), "w") as fh:
        fh.write("{}")


def _build(root):
    meta = os.path.join(root, ".hoodie")
    os.makedirs(meta, exist_ok=True)
    with open(os.path.join(meta, "hoodie.properties"), "w") as fh:
        fh.write("hoodie.table.name=t\nhoodie.table.type=COPY_ON_WRITE\n")
    # instant 100: two file groups (fg-a, fg-b) in partition dt=1
    _pq({"k": [1, 2], "v": [1.0, 2.0]},
        os.path.join(root, "dt=1", "fg-a_0-1-0_100.parquet"))
    _pq({"k": [3], "v": [3.0]},
        os.path.join(root, "dt=1", "fg-b_0-1-0_100.parquet"))
    _commit(meta, "100")
    # instant 200: COW rewrite of file group fg-a (k=1 updated)
    _pq({"k": [1, 2], "v": [10.0, 2.0]},
        os.path.join(root, "dt=1", "fg-a_0-2-0_200.parquet"))
    _commit(meta, "200")
    # instant 300: INFLIGHT (no .commit) rewrite of fg-b — invisible
    _pq({"k": [3], "v": [999.0]},
        os.path.join(root, "dt=1", "fg-b_0-3-0_300.parquet"))
    with open(os.path.join(meta, "300.commit.inflight"), "w") as fh:
        fh.write("")


def test_hudi_cow_snapshot_time_travel_incremental(spark, tmp_path):
    from feature_store_api_spark.sources.hudi_reader import (
        hudi_incremental,
        read_hudi,
    )

    root = str(tmp_path / "htbl")
    _build(root)

    def rows(df):
        return sorted((r["k"], r["v"]) for r in df.collect())

    # snapshot: fg-a@200 + fg-b@100; inflight 300 invisible
    assert rows(read_hudi(spark, root)) == [(1, 10.0), (2, 2.0), (3, 3.0)]
    # as-of 100: the original file group versions
    assert rows(read_hudi(spark, root, as_of_instant="100")) == [
        (1, 1.0), (2, 2.0), (3, 3.0)]
    with pytest.raises(ValueError):
        read_hudi(spark, root, as_of_instant="050")

    # incremental (100, 200]: only the rewritten file group's rows
    assert rows(hudi_incremental(spark, root, "100", "200")) == [
        (1, 10.0), (2, 2.0)]
    assert hudi_incremental(spark, root, "200", None).count() == 0

    # a MOR table with NO log files reads as its base files; its
    # incremental pull counts only DELTACOMMIT changes — this table's
    # instants are compaction-style .commit files, so the window is
    # empty (compactions rewrite old data, they are not changes)
    with open(os.path.join(root, ".hoodie", "hoodie.properties"), "w") as fh:
        fh.write("hoodie.table.type=MERGE_ON_READ\n")
    assert rows(read_hudi(spark, root)) == [(1, 10.0), (2, 2.0), (3, 3.0)]
    assert hudi_incremental(spark, root, "100", "200").count() == 0


def test_hudi_archived_instants_still_committed(spark, tmp_path):
    """Base files whose instant was archived out of the active timeline
    are committed by the file-system-view rule, not silently dropped."""
    from feature_store_api_spark.sources.hudi_reader import (
        hudi_incremental,
        read_hudi,
    )

    root = str(tmp_path / "harch")
    _build(root)
    meta = os.path.join(root, ".hoodie")
    # archive instant 100 out of the active timeline
    os.remove(os.path.join(meta, "100.commit"))
    arch = os.path.join(meta, "archived")
    os.makedirs(arch)
    with open(os.path.join(arch, ".commits_.archive.1_1-0-1"), "w") as fh:
        fh.write("")

    def rows(df):
        return sorted((r["k"], r["v"]) for r in df.collect())

    # fg-b's only base file carries archived instant 100 — must be kept
    assert rows(read_hudi(spark, root)) == [(1, 10.0), (2, 2.0), (3, 3.0)]
    # inflight 300 still invisible even though it's above the boundary
    assert rows(read_hudi(spark, root, as_of_instant="250")) == [
        (1, 10.0), (2, 2.0), (3, 3.0)]
    # incremental pull whose window reaches below the archive boundary
    # is unresolvable commit-by-commit (archived commits in the window
    # would be silently missing): loud error, not silent rows
    with pytest.raises(ValueError, match="archived"):
        hudi_incremental(spark, root, "050", "200")
    with pytest.raises(ValueError, match="archived"):
        hudi_incremental(spark, root, "100", "200")
    # pull windows starting at/inside the active timeline still work
    assert hudi_incremental(spark, root, "200", None).count() == 0


def test_hudi_replacecommit_excludes_replaced_groups(spark, tmp_path):
    """Clustering (replacecommit) supersedes old file groups; snapshots
    at/after the replace instant must not see both generations."""
    import json as _json

    from feature_store_api_spark.sources.hudi_reader import read_hudi

    root = str(tmp_path / "hrepl")
    _build(root)
    meta = os.path.join(root, ".hoodie")
    # instant 400: clustering rewrites fg-a+fg-b into one new group fg-c
    _pq({"k": [1, 2, 3], "v": [10.0, 2.0, 3.0]},
        os.path.join(root, "dt=1", "fg-c_0-4-0_400.parquet"))
    with open(os.path.join(meta, "400.replacecommit"), "w") as fh:
        _json.dump(
            {"partitionToReplaceFileIds": {"dt=1": ["fg-a", "fg-b"]}}, fh
        )

    def rows(df):
        return sorted((r["k"], r["v"]) for r in df.collect())

    # snapshot: only the clustered generation (no duplicates)
    assert rows(read_hudi(spark, root)) == [(1, 10.0), (2, 2.0), (3, 3.0)]
    # time travel BEFORE the replacecommit: the old generation
    assert rows(read_hudi(spark, root, as_of_instant="200")) == [
        (1, 10.0), (2, 2.0), (3, 3.0)]
    assert rows(read_hudi(spark, root, as_of_instant="100")) == [
        (1, 1.0), (2, 2.0), (3, 3.0)]


MOR_AVRO_SCHEMA = """{"type":"record","name":"rec","fields":[
 {"name":"_hoodie_record_key","type":["null","string"],"default":null},
 {"name":"_hoodie_partition_path","type":["null","string"],"default":null},
 {"name":"k","type":["null","long"],"default":null},
 {"name":"v","type":["null","double"],"default":null},
 {"name":"_hoodie_is_deleted","type":["null","boolean"],"default":null}]}"""


def _mor_rec(part, k, v, deleted=None):
    return {"_hoodie_record_key": f"k:{k}", "_hoodie_partition_path": part,
            "k": k, "v": v, "_hoodie_is_deleted": deleted}


def _mor_base(root, part, fid, instant, recs):
    import pyarrow as pa

    _pq(
        {
            "_hoodie_record_key": [r["_hoodie_record_key"] for r in recs],
            "_hoodie_partition_path": [part] * len(recs),
            "k": [r["k"] for r in recs],
            "v": [r["v"] for r in recs],
            "_hoodie_is_deleted": pa.array(
                [r["_hoodie_is_deleted"] for r in recs], type=pa.bool_()
            ),
        },
        os.path.join(root, part, f"{fid}_0-1-0_{instant}.parquet"),
    )


def _delta_commit(meta, instant):
    os.makedirs(meta, exist_ok=True)
    with open(os.path.join(meta, f"{instant}.deltacommit"), "w") as fh:
        fh.write("{}")


def _log(root, part, fid, base_instant, version, blocks):
    from feature_store_api_spark.sources.hudi_log import encode_log_file

    p = os.path.join(root, part, f".{fid}_{base_instant}.log.{version}_0-1-0")
    os.makedirs(os.path.dirname(p), exist_ok=True)
    with open(p, "wb") as fh:
        fh.write(encode_log_file(blocks))
    return p


def test_hudi_mor_snapshot_merge_and_time_travel(spark, tmp_path):
    """MERGE_ON_READ snapshot: base + committed log blocks merge
    latest-per-record-key; inflight blocks are invisible; soft deletes
    (_hoodie_is_deleted) drop rows; time travel replays to the instant;
    log-only file groups surface; DELETE blocks gate loudly."""
    from feature_store_api_spark.sources.hudi_log import (
        DELETE_BLOCK,
        H_INSTANT_TIME,
        encode_avro_data_block,
    )
    from feature_store_api_spark.sources.hudi_reader import read_hudi

    root = str(tmp_path / "mor")
    meta = os.path.join(root, ".hoodie")
    os.makedirs(meta)
    with open(os.path.join(meta, "hoodie.properties"), "w") as fh:
        fh.write("hoodie.table.name=t\nhoodie.table.type=MERGE_ON_READ\n")

    # instant 100: base files for two groups in dt=1
    _mor_base(root, "dt=1", "fg-a", "100",
              [_mor_rec("dt=1", 1, 1.0), _mor_rec("dt=1", 2, 2.0)])
    _mor_base(root, "dt=1", "fg-b", "100", [_mor_rec("dt=1", 3, 3.0)])
    _delta_commit(meta, "100")

    # instant 200: log vs fg-a — update k=1, insert k=4
    blk200 = encode_avro_data_block(
        [_mor_rec("dt=1", 1, 10.0), _mor_rec("dt=1", 4, 4.0)],
        MOR_AVRO_SCHEMA, "200")
    # instant 999: INFLIGHT block in the SAME log file (no .deltacommit)
    blk999 = encode_avro_data_block(
        [_mor_rec("dt=1", 1, 666.0)], MOR_AVRO_SCHEMA, "999")
    _log(root, "dt=1", "fg-a", "100", 1, [blk200, blk999])
    _delta_commit(meta, "200")

    # instant 300: second log file (version 2) — soft-delete k=2,
    # re-update k=1 (must win over version 1's update)
    blk300 = encode_avro_data_block(
        [_mor_rec("dt=1", 2, 2.0, deleted=True), _mor_rec("dt=1", 1, 11.0)],
        MOR_AVRO_SCHEMA, "300")
    _log(root, "dt=1", "fg-a", "100", 2, [blk300])
    _delta_commit(meta, "300")

    # instant 400: log-only file group in a NEW partition dt=2
    blk400 = encode_avro_data_block(
        [_mor_rec("dt=2", 5, 5.0)], MOR_AVRO_SCHEMA, "400")
    _log(root, "dt=2", "fg-c", "400", 1, [blk400])
    _delta_commit(meta, "400")

    def rows(df):
        return sorted((r["k"], r["v"]) for r in df.collect())

    # HEAD: k1=11 (v2 log wins), k2 deleted, k3 base, k4 insert, k5 log-only
    assert rows(read_hudi(spark, root)) == [
        (1, 11.0), (3, 3.0), (4, 4.0), (5, 5.0)]
    # as-of 200: k1=10, k2 alive, no k5
    assert rows(read_hudi(spark, root, as_of_instant="200")) == [
        (1, 10.0), (2, 2.0), (3, 3.0), (4, 4.0)]
    # as-of 100: base only
    assert rows(read_hudi(spark, root, as_of_instant="100")) == [
        (1, 1.0), (2, 2.0), (3, 3.0)]

    # a KRYO-era DELETE block (serialization version 2) gates loudly —
    # only the Avro payload (version >= 3) is decodable jarlessly
    _log(root, "dt=1", "fg-b", "100", 1,
         [(DELETE_BLOCK, {H_INSTANT_TIME: "500"}, b"\x00\x00\x00\x02")])
    _delta_commit(meta, "500")
    # raised executor-side -> surfaces as a PythonException wrapper,
    # but the loud message must survive
    with pytest.raises(Exception, match="DELETE_BLOCK serialization"):
        read_hudi(spark, root).collect()


def test_hudi_log_codec_roundtrip():
    """Log-block framing + avro data block codec round-trip, and the
    framing validators reject corruption."""
    from feature_store_api_spark.sources.hudi_log import (
        encode_avro_data_block,
        encode_log_file,
        iter_log_blocks,
        log_records,
    )

    recs = [_mor_rec("p", 1, 1.5), _mor_rec("p", 2, None, deleted=True)]
    blk = encode_avro_data_block(recs, MOR_AVRO_SCHEMA, "123")
    blk2 = encode_avro_data_block([_mor_rec("p", 3, 3.0)],
                                  MOR_AVRO_SCHEMA, "456")
    data = encode_log_file([blk, blk2])

    blocks = list(iter_log_blocks(data))
    assert [b[0] for b in blocks] == [3, 3]

    out = list(log_records(data, {"123", "456"}, None))
    assert [(i, b, r, rec["k"]) for (i, b, r, rec, _d) in out] == [
        ("123", 0, 0, 1), ("123", 0, 1, 2), ("456", 1, 0, 3)]
    assert [d for (*_x, d) in out] == [False, False, False]
    assert out[1][3]["_hoodie_is_deleted"] is True
    # committed filter drops uncommitted instants; as_of drops later
    assert [r[3]["k"] for r in log_records(data, {"123"}, None)] == [1, 2]
    assert [r[3]["k"] for r in log_records(data, None, "123")] == [1, 2]

    with pytest.raises(ValueError, match="magic"):
        list(iter_log_blocks(b"NOTHUDI" + data))
    with pytest.raises(ValueError, match="length mismatch"):
        list(iter_log_blocks(data[:-8] + b"\x00\x00\x00\x00\x00\x00\x00\x01"))


def test_hudi_mor_log_version_numeric_ordering(spark, tmp_path):
    """Merge priority follows NUMERIC log versions: with 11 log files,
    version 11's record must beat version 2's (a lexicographic path
    sort would order .log.10 before .log.2 and resurrect stale rows)."""
    from feature_store_api_spark.sources.hudi_log import (
        encode_avro_data_block,
    )
    from feature_store_api_spark.sources.hudi_reader import read_hudi

    root = str(tmp_path / "morv")
    meta = os.path.join(root, ".hoodie")
    os.makedirs(meta)
    with open(os.path.join(meta, "hoodie.properties"), "w") as fh:
        fh.write("hoodie.table.type=MERGE_ON_READ\n")
    _mor_base(root, "dt=1", "fg-a", "100", [_mor_rec("dt=1", 1, 0.0)])
    _delta_commit(meta, "100")
    for ver in range(1, 12):
        inst = str(100 + ver)
        blk = encode_avro_data_block(
            [_mor_rec("dt=1", 1, float(ver))], MOR_AVRO_SCHEMA, inst)
        _log(root, "dt=1", "fg-a", "100", ver, [blk])
        _delta_commit(meta, inst)
    rows = [(r["k"], r["v"]) for r in read_hudi(spark, root).collect()]
    assert rows == [(1, 11.0)]


def test_hudi_mor_incremental(spark, tmp_path):
    """MOR incremental pull is RECORD-level: log records whose block
    instant falls in (begin, end], plus base files from in-window
    deltacommits; uncommitted blocks and out-of-window records are
    excluded."""
    from feature_store_api_spark.sources.hudi_log import (
        encode_avro_data_block,
    )
    from feature_store_api_spark.sources.hudi_reader import hudi_incremental

    root = str(tmp_path / "mori")
    meta = os.path.join(root, ".hoodie")
    os.makedirs(meta)
    with open(os.path.join(meta, "hoodie.properties"), "w") as fh:
        fh.write("hoodie.table.type=MERGE_ON_READ\n")
    _mor_base(root, "dt=1", "fg-a", "100",
              [_mor_rec("dt=1", 1, 1.0), _mor_rec("dt=1", 2, 2.0)])
    _delta_commit(meta, "100")
    # one log file, three blocks at instants 200 / 300 / 999(inflight)
    blk200 = encode_avro_data_block(
        [_mor_rec("dt=1", 1, 10.0)], MOR_AVRO_SCHEMA, "200")
    blk300 = encode_avro_data_block(
        [_mor_rec("dt=1", 3, 3.0)], MOR_AVRO_SCHEMA, "300")
    blk999 = encode_avro_data_block(
        [_mor_rec("dt=1", 9, 9.0)], MOR_AVRO_SCHEMA, "999")
    _log(root, "dt=1", "fg-a", "100", 1, [blk200, blk300, blk999])
    _delta_commit(meta, "200")
    _delta_commit(meta, "300")
    # instant 400: a NEW file group lands as a base file via deltacommit
    _mor_base(root, "dt=1", "fg-b", "400", [_mor_rec("dt=1", 5, 5.0)])
    _delta_commit(meta, "400")

    def rows(df):
        return sorted((r["k"], r["v"]) for r in df.collect())

    # (100, 300]: the two committed log records, no base files
    assert rows(hudi_incremental(spark, root, "100", "300")) == [
        (1, 10.0), (3, 3.0)]
    # (200, 400]: instant-300 log record + the new fg-b base file
    assert rows(hudi_incremental(spark, root, "200", "400")) == [
        (3, 3.0), (5, 5.0)]
    # (400, HEAD]: nothing committed after 400 (999 is inflight)
    assert hudi_incremental(spark, root, "400", None).count() == 0
    # window including everything: base 100 counts as a change too
    assert rows(hudi_incremental(spark, root, "000", None)) == [
        (1, 1.0), (1, 10.0), (2, 2.0), (3, 3.0), (5, 5.0)]


def test_hudi_mor_incremental_with_compaction_in_window(spark, tmp_path):
    """A compaction (.commit) inside the pull window re-homes the file
    group onto a new base instant; the PRE-compaction log files still
    carry the window's deltacommit records and must be returned (they
    were silently dropped when the pull went through the end-snapshot's
    file-group view)."""
    from feature_store_api_spark.sources.hudi_log import (
        encode_avro_data_block,
    )
    from feature_store_api_spark.sources.hudi_reader import (
        hudi_incremental,
        read_hudi,
    )

    root = str(tmp_path / "morc")
    meta = os.path.join(root, ".hoodie")
    os.makedirs(meta)
    with open(os.path.join(meta, "hoodie.properties"), "w") as fh:
        fh.write("hoodie.table.type=MERGE_ON_READ\n")
    _mor_base(root, "dt=1", "fg-a", "100", [_mor_rec("dt=1", 1, 1.0)])
    _delta_commit(meta, "100")
    # instant 200: log update on base 100
    blk200 = encode_avro_data_block(
        [_mor_rec("dt=1", 1, 10.0)], MOR_AVRO_SCHEMA, "200")
    _log(root, "dt=1", "fg-a", "100", 1, [blk200])
    _delta_commit(meta, "200")
    # instant 300: COMPACTION rewrites fg-a (base 100 + log -> base 300)
    _mor_base(root, "dt=1", "fg-a", "300", [_mor_rec("dt=1", 1, 10.0)])
    _commit(meta, "300")
    # instant 400: post-compaction log on the NEW base
    blk400 = encode_avro_data_block(
        [_mor_rec("dt=1", 1, 40.0)], MOR_AVRO_SCHEMA, "400")
    _log(root, "dt=1", "fg-a", "300", 1, [blk400])
    _delta_commit(meta, "400")

    def rows(df):
        return sorted((r["k"], r["v"]) for r in df.collect())

    assert rows(read_hudi(spark, root)) == [(1, 40.0)]
    # (100, 300]: instant-200's log record lives in a PRE-compaction
    # log file; the compaction base itself is not a change
    assert rows(hudi_incremental(spark, root, "100", "300")) == [(1, 10.0)]
    # window spanning the compaction: both deltacommit records, once
    assert rows(hudi_incremental(spark, root, "100", "400")) == [
        (1, 10.0), (1, 40.0)]
    assert rows(hudi_incremental(spark, root, "300", None)) == [(1, 40.0)]


VIRTUAL_AVRO_SCHEMA = """{"type":"record","name":"rec","fields":[
 {"name":"k","type":["null","long"],"default":null},
 {"name":"v","type":["null","double"],"default":null}]}"""


def test_hudi_mor_virtual_keys(spark, tmp_path):
    """populateMetaFields=false tables carry no _hoodie_record_key; the
    merge key comes from hoodie.table.recordkey.fields declared in
    hoodie.properties (Hudi's recommended virtual-key layout)."""
    import pytest as _pytest

    from feature_store_api_spark.sources.hudi_log import (
        encode_avro_data_block,
    )
    from feature_store_api_spark.sources.hudi_reader import read_hudi

    root = str(tmp_path / "morvk")
    meta = os.path.join(root, ".hoodie")
    os.makedirs(meta)
    with open(os.path.join(meta, "hoodie.properties"), "w") as fh:
        fh.write(
            "hoodie.table.type=MERGE_ON_READ\n"
            "hoodie.populate.meta.fields=false\n"
            "hoodie.table.recordkey.fields=k\n"
        )
    _pq({"k": [1, 2], "v": [1.0, 2.0]},
        os.path.join(root, "dt=1", "fg-a_0-1-0_100.parquet"))
    _delta_commit(meta, "100")
    blk = encode_avro_data_block(
        [{"k": 1, "v": 10.0}, {"k": 3, "v": 3.0}],
        VIRTUAL_AVRO_SCHEMA, "200")
    _log(root, "dt=1", "fg-a", "100", 1, [blk])
    _delta_commit(meta, "200")

    got = sorted((r["k"], r["v"]) for r in read_hudi(spark, root).collect())
    assert got == [(1, 10.0), (2, 2.0), (3, 3.0)]

    # without the declaration the gate stays loud
    with open(os.path.join(meta, "hoodie.properties"), "w") as fh:
        fh.write("hoodie.table.type=MERGE_ON_READ\n")
    with _pytest.raises(NotImplementedError, match="recordkey"):
        read_hudi(spark, root)


def test_hudi_mor_log_decode_parallelism(spark, tmp_path):
    """Log decode parallelism scales with the log-file list (never a
    single funnel task): partitions == min(len(logs), max(8, 2x default
    parallelism))."""
    from feature_store_api_spark.sources.hudi_log import (
        encode_avro_data_block,
    )
    from feature_store_api_spark.sources.hudi_reader import read_hudi

    root = str(tmp_path / "morp")
    meta = os.path.join(root, ".hoodie")
    os.makedirs(meta)
    with open(os.path.join(meta, "hoodie.properties"), "w") as fh:
        fh.write("hoodie.table.type=MERGE_ON_READ\n")
    _mor_base(root, "dt=1", "fg-a", "100", [_mor_rec("dt=1", 1, 0.0)])
    _delta_commit(meta, "100")
    n_logs = 12
    for ver in range(1, n_logs + 1):
        inst = str(100 + ver)
        blk = encode_avro_data_block(
            [_mor_rec("dt=1", 1, float(ver))], MOR_AVRO_SCHEMA, inst)
        _log(root, "dt=1", "fg-a", "100", ver, [blk])
        _delta_commit(meta, inst)

    from feature_store_api_spark.sources.hudi_reader import (
        _attach_group_logs,
        _visible_groups,
    )

    chosen = _visible_groups(root, meta, None)
    group_logs, _committed, _boundary = _attach_group_logs(
        root, meta, chosen, None
    )
    n_paths = sum(len(v) for v in group_logs.values())
    assert n_paths == n_logs
    cap = max(8, spark.sparkContext.defaultParallelism * 2)
    expected = min(n_logs, cap)

    from feature_store_api_spark.sources.hudi_reader import _decode_log_frame

    base = spark.read.parquet(
        os.path.join(root, "dt=1", "fg-a_0-1-0_100.parquet"))
    log_df = _decode_log_frame(
        spark, group_logs, base.schema.fields, _committed, _boundary, None,
        key_fields=["_hoodie_record_key"],
    )
    assert log_df.rdd.getNumPartitions() == expected
    df = read_hudi(spark, root)
    assert [(r["k"], r["v"]) for r in df.collect()] == [(1, float(n_logs))]


def test_hudi_mor_delete_block_snapshot_and_incremental(spark, tmp_path):
    """Log-routed hard deletes (Avro HoodieDeleteRecordList DELETE
    blocks, the most common real-MOR pattern): the snapshot drops the
    deleted key, as-of before the delete still sees it, and the
    incremental window returns the delete as a tombstone row (key set,
    payload null, _hoodie_is_deleted=True)."""
    from feature_store_api_spark.sources.hudi_log import (
        encode_avro_data_block,
        encode_delete_block,
    )
    from feature_store_api_spark.sources.hudi_reader import (
        hudi_incremental,
        read_hudi,
    )

    root = str(tmp_path / "mor_del")
    meta = os.path.join(root, ".hoodie")
    os.makedirs(meta)
    with open(os.path.join(meta, "hoodie.properties"), "w") as fh:
        fh.write("hoodie.table.name=t\nhoodie.table.type=MERGE_ON_READ\n")
    _mor_base(root, "dt=1", "fg-a", "100",
              [_mor_rec("dt=1", 1, 1.0), _mor_rec("dt=1", 2, 2.0),
               _mor_rec("dt=1", 3, 3.0)])
    _delta_commit(meta, "100")
    # instant 200: hard-delete k=2 THROUGH THE LOG, then re-insert and
    # re-delete k=3 in a later block (delete must win by arrival order)
    blk_del = encode_delete_block(
        [{"recordKey": "k:2", "partitionPath": "dt=1"}], "200")
    _log(root, "dt=1", "fg-a", "100", 1, [blk_del])
    _delta_commit(meta, "200")
    blk_upd = encode_avro_data_block(
        [_mor_rec("dt=1", 3, 33.0)], MOR_AVRO_SCHEMA, "300")
    blk_del3 = encode_delete_block(
        [{"recordKey": "k:3", "partitionPath": "dt=1",
          "orderingVal": 300}], "300")
    _log(root, "dt=1", "fg-a", "100", 2, [blk_upd, blk_del3])
    _delta_commit(meta, "300")

    def rows(df):
        return sorted((r["k"], r["v"]) for r in df.collect())

    assert rows(read_hudi(spark, root)) == [(1, 1.0)]
    assert rows(read_hudi(spark, root, as_of_instant="200")) == [
        (1, 1.0), (3, 3.0)]
    assert rows(read_hudi(spark, root, as_of_instant="100")) == [
        (1, 1.0), (2, 2.0), (3, 3.0)]

    # incremental (100, 200]: exactly the k=2 tombstone row
    inc = hudi_incremental(spark, root, "100", "200").collect()
    assert len(inc) == 1
    t = inc[0]
    assert t["_hoodie_record_key"] == "k:2"
    assert t["_hoodie_is_deleted"] is True
    assert t["v"] is None
    # (200, 300]: the k=3 update AND its later tombstone both surface
    inc2 = sorted(
        (r["_hoodie_record_key"], bool(r["_hoodie_is_deleted"] or False))
        for r in hudi_incremental(spark, root, "200", "300").collect()
    )
    assert inc2 == [("k:3", False), ("k:3", True)]


def test_hudi_mor_delete_block_virtual_keys(spark, tmp_path):
    """DELETE-block tombstones on a populateMetaFields=false table map
    the key generator's "f:v" recordKey back onto the DECLARED key
    columns, cast through the table schema (k is a long)."""
    from feature_store_api_spark.sources.hudi_log import (
        encode_avro_data_block,
        encode_delete_block,
    )
    from feature_store_api_spark.sources.hudi_reader import read_hudi

    root = str(tmp_path / "mor_vdel")
    meta = os.path.join(root, ".hoodie")
    os.makedirs(meta)
    with open(os.path.join(meta, "hoodie.properties"), "w") as fh:
        fh.write(
            "hoodie.table.name=t\nhoodie.table.type=MERGE_ON_READ\n"
            "hoodie.populate.meta.fields=false\n"
            "hoodie.table.recordkey.fields=k\n"
        )
    schema = (
        '{"type":"record","name":"rec","fields":['
        '{"name":"k","type":["null","long"],"default":null},'
        '{"name":"v","type":["null","double"],"default":null}]}'
    )
    _pq({"k": [1, 2], "v": [1.0, 2.0]},
        os.path.join(root, "dt=1", "fg-a_0-1-0_100.parquet"))
    _delta_commit(meta, "100")
    blk = encode_avro_data_block([{"k": 3, "v": 3.0}], schema, "200")
    # ComplexKeyGenerator composite format AND the single-field raw form
    blk_del = encode_delete_block(
        [{"recordKey": "k:2", "partitionPath": "dt=1"},
         {"recordKey": "3", "partitionPath": "dt=1"}], "300")
    _log(root, "dt=1", "fg-a", "100", 1, [blk])
    _delta_commit(meta, "200")
    _log(root, "dt=1", "fg-a", "100", 2, [blk_del])
    _delta_commit(meta, "300")
    got = sorted((r["k"], r["v"]) for r in read_hudi(spark, root).collect())
    assert got == [(1, 1.0)]


def test_hudi_log_rollback_command_block(spark, tmp_path):
    """A ROLLBACK command block invalidates the earlier blocks of the
    SAME log file whose instant equals TARGET_INSTANT_TIME — the
    rolled-back update disappears while other instants survive."""
    from feature_store_api_spark.sources.hudi_log import (
        encode_avro_data_block,
        encode_command_block,
        encode_log_file,
        log_records,
    )
    from feature_store_api_spark.sources.hudi_reader import read_hudi

    blk_a = encode_avro_data_block(
        [_mor_rec("dt=1", 1, 10.0)], MOR_AVRO_SCHEMA, "200")
    blk_b = encode_avro_data_block(
        [_mor_rec("dt=1", 2, 20.0)], MOR_AVRO_SCHEMA, "300")
    cmd = encode_command_block("200", "301")
    data = encode_log_file([blk_a, blk_b, cmd])
    got = [(i, rec["k"]) for (i, _b, _r, rec, _d) in log_records(data)]
    assert got == [("300", 2)]  # instant-200 block rolled back

    # end-to-end: the rolled-back update never reaches the snapshot
    root = str(tmp_path / "mor_rb")
    meta = os.path.join(root, ".hoodie")
    os.makedirs(meta)
    with open(os.path.join(meta, "hoodie.properties"), "w") as fh:
        fh.write("hoodie.table.name=t\nhoodie.table.type=MERGE_ON_READ\n")
    _mor_base(root, "dt=1", "fg-a", "100",
              [_mor_rec("dt=1", 1, 1.0), _mor_rec("dt=1", 2, 2.0)])
    _delta_commit(meta, "100")
    p = os.path.join(root, "dt=1", ".fg-a_100.log.1_0-1-0")
    with open(p, "wb") as fh:
        fh.write(data)
    _delta_commit(meta, "200")
    _delta_commit(meta, "300")
    rows = sorted((r["k"], r["v"]) for r in read_hudi(spark, root).collect())
    assert rows == [(1, 1.0), (2, 20.0)]


def test_hudi_incremental_mor_generation_prune(spark, tmp_path):
    """A post-compaction incremental window must NOT decode
    pre-compaction log generations: the old generation's log here ends
    with a block that would gate loudly (HFILE ordinal) — the prune
    proves itself by the window read succeeding. A window SPANNING the
    old generation still reads it (and errors on the same file),
    pinning that the prune is span-based, not a blanket skip."""
    from feature_store_api_spark.sources.hudi_log import (
        encode_avro_data_block,
        encode_log_file,
        H_INSTANT_TIME,
    )
    from feature_store_api_spark.sources.hudi_reader import hudi_incremental

    root = str(tmp_path / "mor_prune")
    meta = os.path.join(root, ".hoodie")
    os.makedirs(meta)
    with open(os.path.join(meta, "hoodie.properties"), "w") as fh:
        fh.write("hoodie.table.name=t\nhoodie.table.type=MERGE_ON_READ\n")
    _mor_base(root, "dt=1", "fg-a", "100", [_mor_rec("dt=1", 1, 1.0)])
    _delta_commit(meta, "100")
    # generation-100 log: a good block at 200 then a poisoned HFILE
    # block at 250 (decoding this file ALWAYS raises)
    good = encode_avro_data_block(
        [_mor_rec("dt=1", 1, 2.0)], MOR_AVRO_SCHEMA, "200")
    poison = (4, {H_INSTANT_TIME: "250"}, b"")  # HFILE_DATA ordinal
    p = os.path.join(root, "dt=1", ".fg-a_100.log.1_0-1-0")
    with open(p, "wb") as fh:
        fh.write(encode_log_file([good, poison]))
    _delta_commit(meta, "200")
    _delta_commit(meta, "250")
    # instant 300: compaction rewrites the group (base at 300)
    _mor_base(root, "dt=1", "fg-a", "300", [_mor_rec("dt=1", 1, 2.0)])
    with open(os.path.join(meta, "300.commit"), "w") as fh:
        fh.write("{}")
    # instant 400: post-compaction deltacommit on the NEW generation
    blk400 = encode_avro_data_block(
        [_mor_rec("dt=1", 1, 4.0)], MOR_AVRO_SCHEMA, "400")
    _log(root, "dt=1", "fg-a", "300", 1, [blk400])
    _delta_commit(meta, "400")

    # window (300, 400]: old generation pruned -> poisoned file never
    # opened -> the pull succeeds and returns only the 400 update
    got = [(r["k"], r["v"]) for r in
           hudi_incremental(spark, root, "300", "400").collect()]
    assert got == [(1, 4.0)]
    # window (100, 400] spans the old generation -> it must be read ->
    # the poisoned block gates loudly (proves no blanket skip)
    with pytest.raises(Exception, match="HFILE"):
        hudi_incremental(spark, root, "100", "400").collect()


def test_hudi_incremental_mor_prune_spares_uncompacted_group(
    spark, tmp_path
):
    """Hudi compaction plans cover a SUBSET of file slices: a group the
    compaction skipped keeps accruing logs on its OLD base instant with
    deltacommits after the compaction instant. The generation-span
    prune must be per-group (bounded by the group's own next base
    file), not by the global rewrite timeline — otherwise a window past
    the compaction instant silently drops the skipped group's in-window
    records (the exact failure the prune's docstring warns about)."""
    from feature_store_api_spark.sources.hudi_log import (
        encode_avro_data_block,
    )
    from feature_store_api_spark.sources.hudi_reader import hudi_incremental

    root = str(tmp_path / "mor_partial_compact")
    meta = os.path.join(root, ".hoodie")
    os.makedirs(meta)
    with open(os.path.join(meta, "hoodie.properties"), "w") as fh:
        fh.write("hoodie.table.name=t\nhoodie.table.type=MERGE_ON_READ\n")
    _mor_base(root, "dt=1", "fg-a", "100", [_mor_rec("dt=1", 1, 1.0)])
    _mor_base(root, "dt=1", "fg-b", "100", [_mor_rec("dt=1", 2, 2.0)])
    _delta_commit(meta, "100")
    # instant 300: compaction rewrites ONLY fg-a (new base at 300);
    # fg-b is not in the compaction plan and keeps its 100 base
    _mor_base(root, "dt=1", "fg-a", "300", [_mor_rec("dt=1", 1, 1.0)])
    with open(os.path.join(meta, "300.commit"), "w") as fh:
        fh.write("{}")
    # instant 400: deltacommit lands on fg-b's OLD generation (base
    # instant 100 — exactly what Hudi does for an uncompacted group)
    blk400 = encode_avro_data_block(
        [_mor_rec("dt=1", 2, 4.0)], MOR_AVRO_SCHEMA, "400")
    _log(root, "dt=1", "fg-b", "100", 1, [blk400])
    _delta_commit(meta, "400")

    got = sorted((r["k"], r["v"]) for r in
                 hudi_incremental(spark, root, "300", "400").collect())
    assert got == [(2, 4.0)]  # a global-rewrite prune would return []
    # and the snapshot merges the post-compaction log as usual
    from feature_store_api_spark.sources.hudi_reader import read_hudi
    snap = sorted((r["k"], r["v"]) for r in read_hudi(spark, root).collect())
    assert snap == [(1, 1.0), (2, 4.0)]


def test_generic_reader_hudi_incremental_options(spark, tmp_path):
    """readers.read(format='hudi') honors hudi-spark's option names:
    snapshot + as.of.instant, and query.type=incremental with
    begin/end instant times."""
    import pytest as _pytest

    from feature_store_api_spark.sources.readers import read

    root = str(tmp_path / "gen_hudi")
    meta = os.path.join(root, ".hoodie")
    os.makedirs(meta)
    with open(os.path.join(meta, "hoodie.properties"), "w") as fh:
        fh.write("hoodie.table.name=t\nhoodie.table.type=COPY_ON_WRITE\n")
    _pq({"k": [1], "v": [1.0]},
        os.path.join(root, "dt=1", "fg-a_0-1-0_100.parquet"))
    _commit(meta, "100")
    _pq({"k": [2], "v": [2.0]},
        os.path.join(root, "dt=1", "fg-b_0-1-0_200.parquet"))
    _commit(meta, "200")

    snap = read(spark, "hudi", path=root)
    assert sorted(r["k"] for r in snap.collect()) == [1, 2]
    asof = read(spark, "hudi", path=root,
                options={"as.of.instant": "100"})
    assert sorted(r["k"] for r in asof.collect()) == [1]
    inc = read(spark, "hudi", path=root, options={
        "hoodie.datasource.query.type": "incremental",
        "hoodie.datasource.read.begin.instanttime": "100",
        "hoodie.datasource.read.end.instanttime": "200",
    })
    assert sorted(r["k"] for r in inc.collect()) == [2]
    with _pytest.raises(ValueError, match="begin.instanttime"):
        read(spark, "hudi", path=root,
             options={"hoodie.datasource.query.type": "incremental"})


def test_hudi_backend_vacuum_partitioned_layout(spark, tmp_path):
    """drop_commit on a PARTITIONED Hudi backend unlinks exactly the
    doomed instant's file groups across every <col>=<val> directory,
    retires emptied partition dirs, and never touches .hoodie; the
    surviving snapshot is unchanged."""
    from feature_store_api_spark import FeatureStore

    fs = FeatureStore(root=str(tmp_path))
    fg = fs.create_feature_group(
        "hb_vac_part", primary_key=["k"], event_time="ts",
        partition_key=["part"], time_travel_format="HUDI",
        auto_compact_every=None,
    )
    fg.insert(spark.createDataFrame(
        [(1, 10, "a", 1.0), (2, 10, "b", 2.0)],
        "k long, ts long, part string, v double"))
    fg.insert(spark.createDataFrame(
        [(1, 10, "a", 11.0)], "k long, ts long, part string, v double"))
    before = sorted((r["k"], r["v"]) for r in fg.read(spark).collect())
    assert before == [(1, 11.0), (2, 2.0)]
    fg.commit_store.compact(spark)
    fg.commit_store.vacuum(retain_hours=0.0)
    after = sorted((r["k"], r["v"]) for r in fg.read(spark).collect())
    assert after == before
    # timeline intact, partition dirs hold only the base instant's files
    meta = os.path.join(fg.location, ".hoodie")
    assert os.path.exists(os.path.join(meta, "hoodie.properties"))
    live = [
        os.path.join(r, n)
        for r, _d, ns in os.walk(fg.location)
        for n in ns if n.endswith(".parquet")
    ]
    instants = {os.path.basename(p).rsplit("_", 1)[1][:-len(".parquet")]
                for p in live}
    assert len(instants) == 1  # only the compaction base remains


def test_external_fg_over_hudi_table(spark, tmp_path):
    """An ExternalFeatureGroup with data_format='hudi' reads an
    existing Hudi table through the connector path — the reference's
    headline format as an EXTERNAL source, not just a backend."""
    from feature_store_api_spark import FeatureStore
    from feature_store_api_spark.sources.connectors import StorageConnector

    root = str(tmp_path / "htbl")
    meta = os.path.join(root, ".hoodie")
    os.makedirs(meta)
    with open(os.path.join(meta, "hoodie.properties"), "w") as fh:
        fh.write("hoodie.table.name=t\nhoodie.table.type=COPY_ON_WRITE\n")
    _pq({"k": [1, 2], "v": [10.0, 20.0]},
        os.path.join(root, "dt=1", "fg-a_0-1-0_100.parquet"))
    _commit(meta, "100")
    # COW rewrite: external read must see only the newest generation
    _pq({"k": [1, 2], "v": [11.0, 20.0]},
        os.path.join(root, "dt=1", "fg-a_0-2-0_200.parquet"))
    _commit(meta, "200")
    fs = FeatureStore(root=str(tmp_path / "store"))
    conn = StorageConnector("lake")
    fs.register_storage_connector(conn)
    ext = fs.create_external_feature_group(
        "ext_hudi", conn, path=root, data_format="hudi",
        primary_key=["k"],
    )
    got = sorted((r["k"], r["v"]) for r in ext.read(spark).collect())
    assert got == [(1, 11.0), (2, 20.0)]
    assert ext.select(["k", "v"]).filter(ext.v > 15.0).read(spark).count() == 1


def test_streaming_insert_into_hudi_fg(spark, tmp_path):
    """insert_stream into a time_travel_format='HUDI' group: each
    micro-batch lands as one completed timeline instant; the table
    stays externally readable (jarless snapshot read)."""
    from feature_store_api_spark import FeatureStore
    from feature_store_api_spark.sources.hudi_reader import read_hudi
    from feature_store_api_spark.streaming.insert_stream import insert_stream

    fs = FeatureStore(root=str(tmp_path / "fs"))
    fg = fs.create_feature_group(
        "shudi", primary_key=["pk"], event_time="ts",
        time_travel_format="HUDI", auto_compact_every=None,
    )
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, 100, 1.0), (2, 100, 2.0)], "pk long, ts long, v double"
    ).coalesce(1).write.parquet(src)
    sdf = spark.readStream.schema("pk long, ts long, v double").parquet(src)
    insert_stream(
        fg, sdf, trigger={"availableNow": True},
        checkpoint_dir=str(tmp_path / "ck"),
        await_termination=True, timeout=120,
    )
    assert sorted(r["pk"] for r in fg.read(spark).collect()) == [1, 2]
    meta = os.path.join(fg.location, ".hoodie")
    assert any(n.endswith(".commit") for n in os.listdir(meta))
    assert read_hudi(spark, fg.location).count() == 2


def test_hudi_mor_parquet_log_block(spark, tmp_path):
    """PARQUET data blocks (hoodie.logfile.data.block.format=parquet;
    content = a complete in-memory parquet file) decode jarlessly and
    merge with avro blocks by arrival order; HFILE blocks stay gated."""
    from feature_store_api_spark.sources.hudi_log import (
        encode_avro_data_block,
        encode_parquet_data_block,
    )
    from feature_store_api_spark.sources.hudi_reader import read_hudi

    root = str(tmp_path / "mor_pq")
    meta = os.path.join(root, ".hoodie")
    os.makedirs(meta)
    with open(os.path.join(meta, "hoodie.properties"), "w") as fh:
        fh.write("hoodie.table.name=t\nhoodie.table.type=MERGE_ON_READ\n")
    _mor_base(root, "dt=1", "fg-a", "100",
              [_mor_rec("dt=1", 1, 1.0), _mor_rec("dt=1", 2, 2.0)])
    _delta_commit(meta, "100")
    # instant 200: columnar log block updates k=1 and inserts k=3
    blk_pq = encode_parquet_data_block(
        [_mor_rec("dt=1", 1, 10.0), _mor_rec("dt=1", 3, 3.0)], "200")
    _log(root, "dt=1", "fg-a", "100", 1, [blk_pq])
    _delta_commit(meta, "200")
    # instant 300: avro block re-updates k=1 (must win over parquet's)
    blk_av = encode_avro_data_block(
        [_mor_rec("dt=1", 1, 11.0)], MOR_AVRO_SCHEMA, "300")
    _log(root, "dt=1", "fg-a", "100", 2, [blk_av])
    _delta_commit(meta, "300")

    got = sorted((r["k"], r["v"]) for r in read_hudi(spark, root).collect())
    assert got == [(1, 11.0), (2, 2.0), (3, 3.0)]
    assert sorted(
        (r["k"], r["v"])
        for r in read_hudi(spark, root, as_of_instant="200").collect()
    ) == [(1, 10.0), (2, 2.0), (3, 3.0)]

    # log-ONLY file group whose first block is parquet: the output
    # schema derives from the parquet content itself
    blk_new = encode_parquet_data_block(
        [_mor_rec("dt=2", 5, 5.0)], "400")
    _log(root, "dt=2", "fg-c", "400", 1, [blk_new])
    _delta_commit(meta, "400")
    got2 = sorted((r["k"], r["v"]) for r in read_hudi(spark, root).collect())
    assert got2 == [(1, 11.0), (2, 2.0), (3, 3.0), (5, 5.0)]


def test_hudi_backend_fg_parity_and_external_readability(spark, tmp_path):
    """A feature group with time_travel_format='HUDI' (the reference's
    headline format, now writable JARLESSLY) behaves IDENTICALLY to
    the default COMMITLOG backend across insert / upsert / delete /
    as_of / incremental / vacuum — and its storage is a
    published-layout COPY_ON_WRITE table our jarless reader (the same
    contract real Hudi clients implement) opens directly."""
    import time as _time

    from feature_store_api_spark import FeatureStore
    from feature_store_api_spark.sources.hudi_reader import read_hudi

    fs = FeatureStore(root=str(tmp_path))
    twin = {}
    for fmt in ("COMMITLOG", "HUDI"):
        fg = fs.create_feature_group(
            f"hb_{fmt.lower()}", primary_key=["k"], event_time="ts",
            time_travel_format=fmt, auto_compact_every=None,
        )
        c1 = fg.insert(spark.createDataFrame(
            [(1, 10, 1.0), (2, 10, 2.0), (3, 10, 3.0)],
            "k long, ts long, v double"))
        fg.insert(spark.createDataFrame(
            [(2, 20, 22.0), (4, 20, 4.0)], "k long, ts long, v double"))
        fg.commit_delete_record(spark.createDataFrame(
            [(3, 30)], "k long, ts long"))
        twin[fmt] = (fg, c1.commit_time)

    def rows(df):
        return sorted((r["k"], r["ts"], r["v"]) for r in df.collect())

    cl, c1cl = twin["COMMITLOG"]
    hb, c1hb = twin["HUDI"]
    assert rows(hb.read(spark)) == rows(cl.read(spark))
    assert rows(hb.as_of(c1hb).read(spark)) == rows(cl.as_of(c1cl).read(spark))
    now_ms = int(_time.time() * 1000) + 10_000
    inc_cl = cl.select_all().pull_changes(c1cl + 1, now_ms).read(spark)
    inc_hb = hb.select_all().pull_changes(c1hb + 1, now_ms).read(spark)
    assert sorted(r["k"] for r in inc_hb.collect()) == sorted(
        r["k"] for r in inc_cl.collect())

    # external readability: raw snapshot = all commit rows (log view),
    # a real .hoodie timeline with one completed commit per insert
    loc = hb.location
    raw = read_hudi(spark, loc)
    assert raw.count() == 6  # 3 + 2 + 1 delete marker
    assert "_commit_time" in raw.columns and "_op" in raw.columns
    meta = os.path.join(loc, ".hoodie")
    commits = sorted(
        n for n in os.listdir(meta) if n.endswith(".commit"))
    assert len(commits) == 3
    assert all(len(n.split(".")[0]) == 17 for n in commits)  # instant fmt
    # as-of through the EXTERNAL reader: first instant = first commit
    first = read_hudi(
        spark, loc, as_of_instant=commits[0].split(".")[0])
    assert sorted(r["k"] for r in first.collect()) == [1, 2, 3]

    # schema evolution: old files null-fill through mergeSchema
    from pyspark.sql import types as T

    from feature_store_api_spark.feature import Feature

    hb.append_features([Feature("extra", T.StringType())])
    hb.insert(spark.createDataFrame(
        [(5, 40, 5.0, "x")], "k long, ts long, v double, extra string"))
    got = {r["k"]: r["extra"] for r in hb.read(spark).collect()}
    assert got[5] == "x" and got[1] is None

    # vacuum: the superseded commits' file groups AND timeline
    # instants disappear; the live snapshot is unchanged
    before = rows(hb.read(spark).select("k", "ts", "v"))
    hb.commit_store.compact(spark)
    hb.commit_store.vacuum(retain_hours=0.0)
    assert rows(hb.read(spark).select("k", "ts", "v")) == before


def test_hudi_backend_refuses_partition_layout_change(spark, tmp_path):
    """hoodie.table.partition.fields is fixed at table creation
    (hudi.apache.org/docs/configurations): a table created FLAT must
    refuse partitioned writes (and vice versa) — silently switching
    layouts would drop the partition columns from new files while
    scan() sees no partition fields in the props, returning NULLs."""
    import pytest

    from feature_store_api_spark.sources.commit_store import COMMIT_COL
    from feature_store_api_spark.sources.hudi_backend import HudiBackend

    loc = str(tmp_path / "hb_layout")
    b = HudiBackend(loc)
    df = spark.createDataFrame(
        [(1, "a", 1.0, 1000, "upsert")],
        f"k long, part string, v double, {COMMIT_COL} long, _hoodie_op string",
    )
    b.append_commit(df, [COMMIT_COL])  # created flat
    with pytest.raises(ValueError, match="partition fields"):
        b.append_commit(df, [COMMIT_COL, "part"])
    # same layout keeps working
    b.append_commit(df, [COMMIT_COL])

    loc2 = str(tmp_path / "hb_layout_p")
    b2 = HudiBackend(loc2)
    b2.append_commit(df, [COMMIT_COL, "part"])  # created partitioned
    with pytest.raises(ValueError, match="partition fields"):
        b2.append_commit(df, [COMMIT_COL])
    with pytest.raises(ValueError, match="partition fields"):
        b2.append_commit(df, [COMMIT_COL, "v"])
    b2.append_commit(df, [COMMIT_COL, "part"])


def test_hudi_partitioned_scan_declared_types_win(spark, tmp_path):
    """Discovered partition columns come back with their DECLARED types
    on the Hudi backend (drop.partition.columns layout: values exist
    ONLY in directory names, and Spark's directory inference has no
    boolean and reads numeric-looking strings as long): the backend
    writes hoodie.table.create.schema at creation and the reader casts
    discovered partition columns back to it. The cast is a
    partition-only expression, so a partition-key filter still prunes
    directories (PartitionFilters)."""
    from feature_store_api_spark import FeatureStore

    fs = FeatureStore(root=str(tmp_path))
    fg = fs.create_feature_group(
        "hb_typed_inf", primary_key=["k"], event_time="ts",
        partition_key=["flag", "code"], time_travel_format="HUDI",
        auto_compact_every=None,
    )
    fg.insert(spark.createDataFrame(
        [(1, 10, True, "123", 1.0), (2, 10, False, "456", 2.0)],
        "k long, ts long, flag boolean, code string, v double"))
    out = fg.read(spark)
    dt = dict(out.dtypes)
    assert dt["flag"] == "boolean"
    assert dt["code"] == "string"
    got = sorted((r["k"], r["flag"], r["code"]) for r in out.collect())
    assert got == [(1, True, "123"), (2, False, "456")]
    # directory pruning survives the declared-type cast
    from pyspark.sql import functions as F

    filtered = out.where(F.col("flag") == True)  # noqa: E712
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    # the cast stays a partition-only expression: the predicate lands
    # in PartitionFilters (directory pruning), not DataFilters
    assert pf and "flag" in pf[0] and "boolean" in pf[0]
    assert filtered.count() == 1


def test_hudi_partitioned_scan_timestamp_kinds(spark, tmp_path):
    """Timestamp partition keys keep their KIND through discovery: the
    create-schema writes avro timestamp-micros for TimestampType and
    local-timestamp-micros for TimestampNTZType, and the scan casts the
    discovered column back to exactly that kind."""
    import datetime as dt

    from feature_store_api_spark import FeatureStore

    fs = FeatureStore(root=str(tmp_path))
    for fmt_name, sql_t in (("ltz", "timestamp"), ("ntz", "timestamp_ntz")):
        fg = fs.create_feature_group(
            f"hb_ts_{fmt_name}", primary_key=["k"], event_time="ts",
            partition_key=["pt"], time_travel_format="HUDI",
            auto_compact_every=None,
        )
        fg.insert(spark.createDataFrame(
            [(1, 10, dt.datetime(2024, 1, 1), 1.0)],
            f"k long, ts long, pt {sql_t}, v double"))
        out = fg.read(spark)
        assert dict(out.dtypes)["pt"] == sql_t
        assert out.first()["pt"] == dt.datetime(2024, 1, 1)


def test_hudi_mor_backend_log_append_write(spark, tmp_path):
    """time_travel_format='HUDI_MOR': the first commit lays down base
    file groups; the SECOND commit appends a log file (PARQUET data
    block) to the existing group instead of new parquet file groups —
    consumed by our own jarless MOR snapshot read. Timeline completes
    as .deltacommit; time travel and vacuum honor the log blocks."""
    from feature_store_api_spark import FeatureStore
    from feature_store_api_spark.sources.hudi_reader import read_hudi

    fs = FeatureStore(root=str(tmp_path / "fs"))
    fg = fs.create_feature_group(
        "morw", primary_key=["k"], event_time="ts",
        time_travel_format="HUDI_MOR", auto_compact_every=None,
    )
    df1 = spark.createDataFrame(
        [(1, 100, 1.0), (2, 100, 2.0)], "k long, ts long, v double"
    )
    fg.insert(df1, compute_stats=False)
    # second commit: same keys+event time -> store-level upsert, and a
    # new key
    df2 = spark.createDataFrame(
        [(2, 100, 20.0), (3, 100, 3.0)], "k long, ts long, v double"
    )
    fg.insert(df2, compute_stats=False)

    loc = fg.location
    logs = [n for n in os.listdir(loc) if ".log." in n]
    bases = [n for n in os.listdir(loc) if n.endswith(".parquet")]
    assert logs, "second commit must land as log files"
    meta = os.path.join(loc, ".hoodie")
    assert sum(
        1 for n in os.listdir(meta) if n.endswith(".deltacommit")
    ) == 2
    assert not any(n.endswith(".commit") for n in os.listdir(meta))

    # snapshot resolves the upsert through the log blocks
    got = sorted((r["k"], r["v"]) for r in fg.read(spark).collect())
    assert got == [(1, 1.0), (2, 20.0), (3, 3.0)]

    # externally readable as a plain Hudi MOR table: raw log view =
    # base rows + log rows (unique synthetic record keys -> identity
    # merge), commit-store columns included
    raw = read_hudi(spark, loc)
    assert raw.count() == 4
    assert "_hoodie_record_key" in raw.columns

    # time travel below the second commit sees only commit 1
    commits = sorted(c["commit_time"] for c in fg.commit_details())
    first = commits[0]
    asof = fg.as_of(first).read(spark)
    assert sorted((r["k"], r["v"]) for r in asof.collect()) == [
        (1, 1.0), (2, 2.0)]

    # vacuum the second commit: its log files are unlinked by name
    second = commits[-1]
    from feature_store_api_spark.sources.hudi_backend import HudiMorBackend

    be = HudiMorBackend(loc)
    assert be.drop_commit(second)
    assert not [n for n in os.listdir(loc) if ".log." in n]
    assert sorted(
        (r["k"], r["v"])
        for r in read_hudi(spark, loc).drop("_hoodie_record_key").collect()
    ) == [(1, 1.0), (2, 2.0)]
    assert bases  # base groups from commit 1 untouched


def test_hudi_mor_backend_partitioned(spark, tmp_path):
    """Partitioned HUDI_MOR: hive-style dirs come from the renamed
    staging layout while partition VALUES stay in the file content
    (real Hudi's default posture, drop.partition.columns=false) — the
    MOR merge read resolves them from the data, and the second
    commit's log files land inside the partition dirs."""
    from feature_store_api_spark import FeatureStore

    fs = FeatureStore(root=str(tmp_path / "fs"))
    fg = fs.create_feature_group(
        "morp", primary_key=["k"], event_time="ts",
        partition_key=["part"],
        time_travel_format="HUDI_MOR", auto_compact_every=None,
    )
    df1 = spark.createDataFrame(
        [(1, 100, "a", 1.0), (2, 100, "b", 2.0)],
        "k long, ts long, part string, v double",
    )
    fg.insert(df1, compute_stats=False)
    loc = fg.location
    assert os.path.isdir(os.path.join(loc, "part=a"))
    assert not any("__hp_" in n for n in os.listdir(loc))
    # second commit: upsert into partition a + a brand-new partition
    df2 = spark.createDataFrame(
        [(1, 100, "a", 10.0), (3, 100, "c", 3.0)],
        "k long, ts long, part string, v double",
    )
    fg.insert(df2, compute_stats=False)
    assert [n for n in os.listdir(os.path.join(loc, "part=a"))
            if ".log." in n], "upsert into existing partition logs"
    assert [n for n in os.listdir(os.path.join(loc, "part=c"))
            if n.endswith(".parquet")], "new partition gets a base file"
    got = sorted(
        (r["k"], r["part"], r["v"]) for r in fg.read(spark).collect()
    )
    assert got == [(1, "a", 10.0), (2, "b", 2.0), (3, "c", 3.0)]


def test_hudi_mor_vacuum_past_base_commit(spark, tmp_path):
    """Vacuuming every commit below a base anchor must leave a READABLE
    MOR table: base/restatement commits (insert overwrite, compaction)
    lay down FRESH base file groups via append_base_commit — if they
    lived in log files attached to the first commit's groups, dropping
    that commit would orphan them (the r14 review's data-loss flow)."""
    from feature_store_api_spark import FeatureStore
    from feature_store_api_spark.sources.hudi_reader import read_hudi

    fs = FeatureStore(root=str(tmp_path / "fs"))
    fg = fs.create_feature_group(
        "morv", primary_key=["k"], event_time="ts",
        time_travel_format="HUDI_MOR", auto_compact_every=None,
    )
    fg.insert(spark.createDataFrame(
        [(1, 100, 1.0), (2, 100, 2.0)], "k long, ts long, v double"),
        compute_stats=False)
    fg.insert(spark.createDataFrame(
        [(2, 100, 20.0)], "k long, ts long, v double"),
        compute_stats=False)  # log append
    # overwrite = base commit -> must be SELF-CONTAINED base files
    fg.insert(spark.createDataFrame(
        [(5, 100, 5.0), (6, 100, 6.0)], "k long, ts long, v double"),
        overwrite=True, compute_stats=False)
    # a post-base log append attaches to the base commit's groups
    fg.insert(spark.createDataFrame(
        [(6, 100, 60.0)], "k long, ts long, v double"),
        compute_stats=False)

    commits = sorted(c["commit_time"] for c in fg.commit_details())
    assert len(commits) == 4
    base_ct = commits[2]
    # vacuum everything below the overwrite base
    removed = fg.commit_store.vacuum(retain_hours=0)
    assert set(removed) == set(commits[:2])

    got = sorted((r["k"], r["v"]) for r in fg.read(spark).collect())
    assert got == [(5, 5.0), (6, 60.0)]
    # the raw Hudi table stays externally readable too
    raw = read_hudi(spark, fg.location)
    assert raw.count() == 3  # base 2 rows + 1 post-base log row
    # and the post-base log file survived on disk
    assert [n for n in os.listdir(fg.location) if ".log." in n]
    # time travel to the base commit still works; below it raises
    assert fg.as_of(base_ct).read(spark).count() == 2
    import pytest as _pytest

    with _pytest.raises(Exception):
        fg.as_of(commits[0]).read(spark).collect()


def test_hudi_mor_partition_dir_pruning(spark, tmp_path):
    """read_hudi(filters=) prunes FILE GROUPS by hive partition-dir
    values — the only partition pruning available to the MOR merge
    path (log decode runs in mapInPandas, outside Catalyst). Pin is
    physical: the pruned partition's base AND log files are deleted
    from disk before the filtered read; an unpruned plan would throw.
    The residual row predicate stays exact within the kept partition."""
    from feature_store_api_spark import FeatureStore
    from feature_store_api_spark.sources.hudi_reader import read_hudi

    fs = FeatureStore(root=str(tmp_path / "fs"))
    fg = fs.create_feature_group(
        "morpp", primary_key=["k"], event_time="ts",
        partition_key=["part"],
        time_travel_format="HUDI_MOR", auto_compact_every=None,
    )
    fg.insert(spark.createDataFrame(
        [(1, 100, "a", 1.0), (2, 100, "b", 2.0)],
        "k long, ts long, part string, v double"), compute_stats=False)
    fg.insert(spark.createDataFrame(
        [(3, 100, "a", 3.0), (4, 100, "b", 4.0)],
        "k long, ts long, part string, v double"), compute_stats=False)
    loc = fg.location
    bdir = os.path.join(loc, "part=b")
    assert [n for n in os.listdir(bdir) if ".log." in n]
    # physically remove partition b's files: only a pruned plan reads
    import shutil as _sh

    _sh.rmtree(bdir)
    out = read_hudi(
        spark, loc,
        filters=("and", ("part", "==", "a"), ("k", ">", 1)),
    )
    got = sorted(
        (r["k"], r["part"], r["v"])
        for r in out.drop("_hoodie_record_key").collect()
    )
    assert got == [(3, "a", 3.0)]


def test_managed_mor_fg_partition_filter_prunes_groups(
    spark, tmp_path, monkeypatch
):
    """A Query.filter() on a PARTITION key of a managed HUDI_MOR group
    routes its partition-key SUBTREE through the commit store into
    read_hudi's file-group pruning (safe pre-version-resolution:
    partition values are part of the record identity). Pinned by
    spying the filters read_hudi actually receives — and the non-
    partition half of the predicate must NOT be pushed (it would
    resurrect superseded versions)."""
    import feature_store_api_spark.sources.hudi_reader as hr
    from feature_store_api_spark import FeatureStore

    fs = FeatureStore(root=str(tmp_path / "fs"))
    fg = fs.create_feature_group(
        "morq", primary_key=["k"], event_time="ts",
        partition_key=["part"],
        time_travel_format="HUDI_MOR", auto_compact_every=None,
    )
    fg.insert(spark.createDataFrame(
        [(1, 100, "a", 1.0), (2, 100, "b", 2.0)],
        "k long, ts long, part string, v double"), compute_stats=False)
    fg.insert(spark.createDataFrame(
        [(1, 100, "a", 10.0), (4, 100, "b", 4.0)],
        "k long, ts long, part string, v double"), compute_stats=False)

    captured = {}
    real = hr.read_hudi

    def spy(spark_, path, **kw):
        captured.update(kw)
        return real(spark_, path, **kw)

    monkeypatch.setattr(hr, "read_hudi", spy)
    # v < 5.0 matches the SUPERSEDED version of k=1 (v1=1.0): pushing
    # it would resurrect that version; only part=='a' may push
    q = fg.select_all().filter((fg.part == "a") & (fg.v < 5.0))
    got = sorted((r["k"], r["v"]) for r in q.read(spark).collect())
    assert got == []  # latest k=1 has v=10.0 -> filtered out, not v=1.0
    assert captured.get("filters") == ("leaf", "part", "EQUALS", "a")


def test_hudi_mor_post_anchor_append_to_untouched_partition(spark, tmp_path):
    """A base restatement (overwrite) that does NOT touch a partition
    leaves that partition's groups pre-anchor; a LATER append there
    must lay a FRESH base group instead of a log riding the pre-anchor
    group — else vacuuming below the anchor would destroy the log's
    baseCommitTime and silently lose committed, inside-retention rows
    (r14 second review, finding 1)."""
    from feature_store_api_spark import FeatureStore

    fs = FeatureStore(root=str(tmp_path / "fs"))
    fg = fs.create_feature_group(
        "morx", primary_key=["k"], event_time="ts",
        partition_key=["part"],
        time_travel_format="HUDI_MOR", auto_compact_every=None,
    )
    fg.insert(spark.createDataFrame(
        [(1, 100, "a", 1.0), (2, 100, "b", 2.0)],
        "k long, ts long, part string, v double"), compute_stats=False)
    # overwrite restates ONLY partition a (base commit, .commit marker)
    fg.insert(spark.createDataFrame(
        [(5, 100, "a", 5.0)],
        "k long, ts long, part string, v double"),
        overwrite=True, compute_stats=False)
    # post-anchor append into the UNTOUCHED partition b
    fg.insert(spark.createDataFrame(
        [(6, 100, "b", 6.0)],
        "k long, ts long, part string, v double"), compute_stats=False)
    # the post-anchor write in b must be a fresh BASE file, not a log
    # attached to the pre-anchor group
    bdir = os.path.join(fg.location, "part=b")
    assert not [n for n in os.listdir(bdir) if ".log." in n]
    assert len([n for n in os.listdir(bdir)
                if n.endswith(".parquet")]) == 2

    commits = sorted(c["commit_time"] for c in fg.commit_details())
    removed = fg.commit_store.vacuum(retain_hours=0)
    assert removed == [commits[0]]
    # the post-anchor row in b SURVIVES the vacuum
    got = sorted((r["k"], r["part"], r["v"])
                 for r in fg.read(spark).collect())
    assert got == [(5, "a", 5.0), (6, "b", 6.0)]


def test_hudi_partition_dir_pruner_type_safety(spark, tmp_path):
    """Directory tokens are interpreted by the predicate VALUE's type
    (that is how Spark evaluates the residual): a STRING range
    predicate over numeric-looking tokens compares lexicographically
    ('9' > '10' keeps part=9), zero-padded tokens survive EQ via the
    dual numeric reading, and a filter pruning EVERY group returns an
    EMPTY frame instead of raising (r14 second review, findings 2-3)."""
    from feature_store_api_spark import FeatureStore
    from feature_store_api_spark.sources.hudi_reader import (
        _partition_dir_pruner,
        read_hudi,
    )
    from feature_store_api_spark.constructor.filter import normalize_filters

    props = {"hoodie.table.partition.fields": "part"}
    keep = _partition_dir_pruner(
        normalize_filters(("part", ">", "10")), props)
    assert keep("part=9")        # lexicographic: '9' > '10'
    assert not keep("part=0")    # both readings reject
    keep_eq = _partition_dir_pruner(
        normalize_filters(("part", "==", "9")), props)
    assert keep_eq("part=09")    # zero-padded: numeric reading matches
    assert not keep_eq("part=8")
    # numeric value: numeric reading (matches Spark's implicit cast)
    keep_n = _partition_dir_pruner(
        normalize_filters(("part", ">", 10)), props)
    assert not keep_n("part=9")
    assert keep_n("part=11")

    # prune-to-empty returns an empty, correctly-typed frame
    fs = FeatureStore(root=str(tmp_path / "fs"))
    fg = fs.create_feature_group(
        "morz", primary_key=["k"], event_time="ts",
        partition_key=["part"],
        time_travel_format="HUDI_MOR", auto_compact_every=None,
    )
    fg.insert(spark.createDataFrame(
        [(1, 100, "a", 1.0)],
        "k long, ts long, part string, v double"), compute_stats=False)
    out = read_hudi(spark, fg.location, filters=("part", "==", "zzz"))
    assert out.count() == 0
    assert "part" in out.columns and "k" in out.columns


def test_hudi_mor_compaction_job_folds_logs_and_vacuum_cleans(spark, tmp_path):
    """fg.materialization_job.run() on a HUDI_MOR group is an explicit
    compaction table service (parity: the reference's offline
    materialization job runs Hudi compaction, core/hudi_engine.py
    table services): the merge-on-read log tail folds into fresh base
    file groups whose instant completes as `.commit` (the compaction
    marker), snapshot reads become read-optimized (base-only), time
    travel below the anchor keeps working, and a vacuum past retention
    physically unlinks the superseded log files."""
    import datetime as _dt

    from feature_store_api_spark import FeatureStore
    from feature_store_api_spark.sources.hudi_reader import read_hudi

    fs = FeatureStore(root=str(tmp_path / "fs"))
    fg = fs.create_feature_group(
        "morc", primary_key=["k"], event_time="ts",
        time_travel_format="HUDI_MOR", auto_compact_every=None,
    )
    fg.insert(spark.createDataFrame(
        [(1, 100, 1.0), (2, 100, 2.0)], "k long, ts long, v double"),
        compute_stats=False)
    fg.insert(spark.createDataFrame(
        [(2, 100, 20.0), (3, 100, 3.0)], "k long, ts long, v double"),
        compute_stats=False)
    fg.insert(spark.createDataFrame(
        [(1, 100, 10.0), (4, 100, 4.0)], "k long, ts long, v double"),
        compute_stats=False)
    loc = fg.location
    assert [n for n in os.listdir(loc) if ".log." in n], "log tail expected"
    pre_commits = sorted(c["commit_time"] for c in fg.commit_details())
    expect = [(1, 10.0), (2, 20.0), (3, 3.0), (4, 4.0)]

    job = fg.materialization_job
    job.run(await_termination=True)
    assert job.get_final_state() == "SUCCEEDED"
    anchor = next(
        c for c in fg.commit_details()
        if c.get("operation") == "compaction"
    )["commit_time"]

    meta = os.path.join(loc, ".hoodie")
    # compaction completes as .commit (real Hudi's compaction marker);
    # the log-tail commits stay .deltacommit
    assert any(n.endswith(".commit") for n in os.listdir(meta))
    assert sum(
        1 for n in os.listdir(meta) if n.endswith(".deltacommit")
    ) == 3

    def rows(df):
        return sorted((r["k"], r["v"]) for r in df.collect())

    assert rows(fg.read(spark)) == expect
    # time travel below the anchor still resolves through the logs
    assert rows(fg.as_of(pre_commits[1]).read(spark)) == [
        (1, 1.0), (2, 20.0), (3, 3.0)]

    # vacuum past retention: superseded log files physically unlink,
    # the compacted base answers alone (read-optimized)
    dropped = fg.vacuum(retain_hours=0)
    assert set(dropped) == set(pre_commits)
    assert not [n for n in os.listdir(loc) if ".log." in n]
    assert rows(fg.read(spark)) == expect
    # external raw view agrees: only the compacted base generation
    raw = read_hudi(spark, loc)
    assert sorted(set(r["_commit_time"] for r in raw.collect())) == [anchor]
