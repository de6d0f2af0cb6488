"""Jarless Iceberg reader: fixtures follow the published table spec
(metadata json + avro manifest list/manifests + parquet data files)."""

import json
import os
import zlib

import pytest

from tests.conftest import *  # noqa: F401,F403 - spark fixture

MANIFEST_FILE_SCHEMA = {
    "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "content", "type": "int"},
        {"name": "sequence_number", "type": "long"},
    ],
}

MANIFEST_ENTRY_SCHEMA = {
    "type": "record", "name": "manifest_entry", "fields": [
        {"name": "status", "type": "int"},
        {"name": "sequence_number", "type": ["null", "long"],
         "default": None},
        {"name": "data_file", "type": {
            "type": "record", "name": "r2", "fields": [
                {"name": "content", "type": "int"},
                {"name": "file_path", "type": "string"},
                {"name": "file_format", "type": "string"},
                {"name": "record_count", "type": "long"},
                {"name": "equality_ids",
                 "type": ["null", {"type": "array", "items": "int"}],
                 "default": None},
            ],
        }},
    ],
}


def _pq(rows, path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(rows), path)


def _ocf(path, records, schema):
    from feature_store_api_spark.sources.avro_container import _write_ocf

    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        _write_ocf(iter(records), schema, fh)


def _manifest(root, name, entries):
    p = os.path.join(root, "metadata", name)
    _ocf(p, entries, MANIFEST_ENTRY_SCHEMA)
    return p


def _manifest_list(root, name, manifests):
    p = os.path.join(root, "metadata", name)
    _ocf(p, [
        {"manifest_path": f"file://{mp}",
         "manifest_length": os.path.getsize(mp),
         "content": c, "sequence_number": seq}
        for (mp, c, seq) in manifests
    ], MANIFEST_FILE_SCHEMA)
    return p


def _entry(file_path, content=0, seq=None, status=1, eq_ids=None):
    return {
        "status": status,
        "sequence_number": seq,
        "data_file": {
            "content": content,
            "file_path": f"file://{file_path}",
            "file_format": "PARQUET",
            "record_count": 1,
            "equality_ids": eq_ids,
        },
    }


def _write_metadata(root, snapshots, current, version=1):
    meta = {
        "format-version": 2,
        "table-uuid": "00000000-0000-0000-0000-000000000000",
        "location": f"file://{root}",
        "current-schema-id": 0,
        "schemas": [{
            "schema-id": 0, "type": "struct", "fields": [
                {"id": 1, "name": "k", "required": True, "type": "long"},
                {"id": 2, "name": "v", "required": False,
                 "type": "double"},
            ],
        }],
        "current-snapshot-id": current,
        "snapshots": snapshots,
    }
    md = os.path.join(root, "metadata")
    os.makedirs(md, exist_ok=True)
    with open(os.path.join(md, f"v{version}.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    with open(os.path.join(md, "version-hint.text"), "w") as fh:
        fh.write(str(version))


def _snap(sid, ts, ml):
    return {"snapshot-id": sid, "timestamp-ms": ts,
            "manifest-list": f"file://{ml}"}


def test_iceberg_snapshot_and_time_travel(spark, tmp_path):
    from feature_store_api_spark.sources.iceberg_reader import read_iceberg

    root = str(tmp_path / "ice")
    d1 = os.path.join(root, "data", "f1.parquet")
    d2 = os.path.join(root, "data", "f2.parquet")
    _pq({"k": [1, 2], "v": [1.0, 2.0]}, d1)
    _pq({"k": [3], "v": [3.0]}, d2)
    m1 = _manifest(root, "m1.avro", [_entry(d1, seq=1)])
    ml1 = _manifest_list(root, "snap1.avro", [(m1, 0, 1)])
    m2 = _manifest(root, "m2.avro", [_entry(d2, seq=2)])
    ml2 = _manifest_list(root, "snap2.avro", [(m1, 0, 1), (m2, 0, 2)])
    _write_metadata(
        root, [_snap(10, 1_000, ml1), _snap(20, 2_000, ml2)], current=20
    )

    def ks(df):
        return sorted((r["k"], r["v"]) for r in df.collect())

    assert ks(read_iceberg(spark, root)) == [(1, 1.0), (2, 2.0), (3, 3.0)]
    assert ks(read_iceberg(spark, root, snapshot_id=10)) == [
        (1, 1.0), (2, 2.0)]
    assert ks(read_iceberg(spark, root, timestamp_ms=1_500)) == [
        (1, 1.0), (2, 2.0)]
    with pytest.raises(ValueError, match="at or before"):
        read_iceberg(spark, root, timestamp_ms=500)
    with pytest.raises(ValueError, match="not found"):
        read_iceberg(spark, root, snapshot_id=99)


def test_iceberg_ref_branch_and_tag(spark, tmp_path):
    """Named refs (spec: snapshot references): read_iceberg(ref=...)
    resolves branches and tags from the metadata refs map; unknown
    refs error with the known names."""
    from feature_store_api_spark.sources.iceberg_reader import read_iceberg

    root = str(tmp_path / "ice_refs")
    d1 = os.path.join(root, "data", "f1.parquet")
    d2 = os.path.join(root, "data", "f2.parquet")
    _pq({"k": [1], "v": [1.0]}, d1)
    _pq({"k": [2], "v": [2.0]}, d2)
    m1 = _manifest(root, "m1.avro", [_entry(d1, seq=1)])
    m2 = _manifest(root, "m2.avro", [_entry(d1, seq=1), _entry(d2, seq=2)])
    ml1 = _manifest_list(root, "s1.avro", [(m1, 0, 1)])
    ml2 = _manifest_list(root, "s2.avro", [(m2, 0, 2)])
    _write_metadata(
        root, [_snap(10, 1_000, ml1), _snap(20, 2_000, ml2)], current=20
    )
    # splice refs into the metadata json
    md = os.path.join(root, "metadata", "v1.metadata.json")
    meta = json.load(open(md))
    meta["refs"] = {
        "main": {"snapshot-id": 20, "type": "branch"},
        "v1-audit": {"snapshot-id": 10, "type": "tag"},
    }
    json.dump(meta, open(md, "w"))

    assert sorted(
        r["k"] for r in read_iceberg(spark, root, ref="main").collect()
    ) == [1, 2]
    assert sorted(
        r["k"] for r in read_iceberg(spark, root, ref="v1-audit").collect()
    ) == [1]
    with pytest.raises(ValueError, match="v1-audit"):
        read_iceberg(spark, root, ref="nope")


def test_generic_reader_iceberg_options(spark, tmp_path):
    """readers.read(format='iceberg') honors iceberg-spark's option
    names: snapshot-id, as-of-timestamp, branch/tag, and the
    start-/end-snapshot-id incremental scan."""
    from feature_store_api_spark.sources.readers import read

    root = str(tmp_path / "gen_ice")
    d1 = os.path.join(root, "data", "f1.parquet")
    d2 = os.path.join(root, "data", "f2.parquet")
    _pq({"k": [1], "v": [1.0]}, d1)
    _pq({"k": [2], "v": [2.0]}, d2)
    m1 = _manifest(root, "m1.avro", [_entry(d1, seq=1)])
    m2 = _manifest(root, "m2.avro", [_entry(d2, seq=2)])

    def mlist(name, manifests):
        p = os.path.join(root, "metadata", name)
        _ocf(p, [
            {"manifest_path": f"file://{mp}",
             "manifest_length": os.path.getsize(mp),
             "content": 0, "sequence_number": seq,
             "added_snapshot_id": added}
            for (mp, seq, added) in manifests
        ], MANIFEST_FILE_SCHEMA_V2)
        return p

    ml1 = mlist("s1.avro", [(m1, 1, 10)])
    ml2 = mlist("s2.avro", [(m1, 1, 10), (m2, 2, 20)])
    snaps = [
        {"snapshot-id": 10, "timestamp-ms": 1000,
         "manifest-list": f"file://{ml1}",
         "summary": {"operation": "append"}},
        {"snapshot-id": 20, "timestamp-ms": 2000,
         "parent-snapshot-id": 10, "manifest-list": f"file://{ml2}",
         "summary": {"operation": "append"}},
    ]
    _write_metadata(root, snaps, current=20)
    md = os.path.join(root, "metadata", "v1.metadata.json")
    meta = json.load(open(md))
    meta["refs"] = {"audit": {"snapshot-id": 10, "type": "tag"}}
    json.dump(meta, open(md, "w"))

    assert read(spark, "iceberg", path=root).count() == 2
    assert read(spark, "iceberg", path=root,
                options={"snapshot-id": "10"}).count() == 1
    assert read(spark, "iceberg", path=root,
                options={"as-of-timestamp": "1500"}).count() == 1
    assert read(spark, "iceberg", path=root,
                options={"tag": "audit"}).count() == 1
    inc = read(spark, "iceberg", path=root, options={
        "start-snapshot-id": "10", "end-snapshot-id": "20"})
    assert [r["k"] for r in inc.collect()] == [2]


def test_iceberg_position_deletes(spark, tmp_path):
    """v2 position-delete files strip exactly the referenced
    (file, row) pairs — the _metadata.row_index anti-join."""
    from feature_store_api_spark.sources.iceberg_reader import read_iceberg

    root = str(tmp_path / "ice_pd")
    d1 = os.path.join(root, "data", "f1.parquet")
    d2 = os.path.join(root, "data", "f2.parquet")
    _pq({"k": [1, 2, 3], "v": [1.0, 2.0, 3.0]}, d1)
    _pq({"k": [4, 5], "v": [4.0, 5.0]}, d2)
    pd1 = os.path.join(root, "data", "del1.parquet")
    # delete rows 0 and 2 of f1 (k=1, k=3) and row 1 of f2 (k=5)
    _pq({"file_path": [f"file://{d1}", f"file://{d1}", f"file://{d2}"],
         "pos": [0, 2, 1]}, pd1)
    m1 = _manifest(root, "m1.avro",
                   [_entry(d1, seq=1), _entry(d2, seq=1)])
    m2 = _manifest(root, "m2.avro", [_entry(pd1, content=1, seq=2)])
    ml1 = _manifest_list(root, "s1.avro", [(m1, 0, 1)])
    ml2 = _manifest_list(root, "s2.avro", [(m1, 0, 1), (m2, 1, 2)])
    _write_metadata(
        root, [_snap(1, 1_000, ml1), _snap(2, 2_000, ml2)], current=2
    )
    got = sorted(r["k"] for r in read_iceberg(spark, root).collect())
    assert got == [2, 4]
    # before the delete snapshot, everything is alive
    pre = sorted(
        r["k"] for r in read_iceberg(spark, root, snapshot_id=1).collect()
    )
    assert pre == [1, 2, 3, 4, 5]


def test_iceberg_equality_deletes_sequence_aware(spark, tmp_path):
    """Equality deletes apply only to rows whose data file has a
    SMALLER data sequence number: a later re-insert of the deleted key
    survives (spec scan-planning rule)."""
    from feature_store_api_spark.sources.iceberg_reader import read_iceberg

    root = str(tmp_path / "ice_eq")
    d1 = os.path.join(root, "data", "f1.parquet")
    d2 = os.path.join(root, "data", "f2.parquet")
    e1 = os.path.join(root, "data", "eq1.parquet")
    _pq({"k": [1, 2], "v": [1.0, 2.0]}, d1)       # seq 1
    _pq({"k": [2], "v": [22.0]}, d2)              # seq 3: re-insert k=2
    _pq({"k": [2]}, e1)                           # seq 2: delete k=2
    m1 = _manifest(root, "m1.avro", [_entry(d1, seq=1)])
    m2 = _manifest(root, "m2.avro",
                   [_entry(e1, content=2, seq=2, eq_ids=[1])])
    m3 = _manifest(root, "m3.avro", [_entry(d2, seq=3)])
    ml = _manifest_list(
        root, "s3.avro", [(m1, 0, 1), (m2, 1, 2), (m3, 0, 3)]
    )
    _write_metadata(root, [_snap(3, 3_000, ml)], current=3)
    got = sorted((r["k"], r["v"]) for r in read_iceberg(spark, root).collect())
    # k=2@seq1 deleted by eq-delete@seq2; k=2@seq3 re-insert survives
    assert got == [(1, 1.0), (2, 22.0)]


def test_iceberg_rename_gate_and_format_gates(spark, tmp_path):
    """A renamed table whose files carry NO parquet field ids keeps the
    loud gate — there is nothing to map the physical names by."""
    from feature_store_api_spark.sources.iceberg_reader import read_iceberg

    root = str(tmp_path / "ice_gate")
    d1 = os.path.join(root, "data", "f1.parquet")
    _pq({"k_old": [1], "v": [1.0]}, d1)  # parquet column name != schema
    m1 = _manifest(root, "m1.avro", [_entry(d1, seq=1)])
    ml = _manifest_list(root, "s1.avro", [(m1, 0, 1)])
    _write_metadata(root, [_snap(1, 1_000, ml)], current=1)
    with pytest.raises(NotImplementedError, match="field id"):
        read_iceberg(spark, root)


def _pq_with_ids(rows, path, ids):
    """Parquet file whose footer carries PARQUET:field_id annotations
    (what real Iceberg writers stamp), ids keyed by column name."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    t = pa.table(rows)
    fields = [
        t.schema.field(i).with_metadata(
            {b"PARQUET:field_id": str(ids[t.schema.field(i).name]).encode()}
        )
        for i in range(len(t.schema))
    ]
    pq.write_table(t.cast(pa.schema(fields)), path)


def test_iceberg_field_id_rename_mapping(spark, tmp_path):
    """Files written BEFORE a column rename keep the old parquet name;
    their field-id annotations resolve them to the CURRENT schema name
    (one flat relation per rename map, unioned by name) — the most
    common warehouse schema evolution, previously a loud gate."""
    from feature_store_api_spark.sources.iceberg_reader import read_iceberg

    root = str(tmp_path / "ice_ren")
    d1 = os.path.join(root, "data", "f1.parquet")   # pre-rename: k_old
    d2 = os.path.join(root, "data", "f2.parquet")   # post-rename: k
    _pq_with_ids({"k_old": [1, 2], "v": [1.0, 2.0]}, d1,
                 {"k_old": 1, "v": 2})
    _pq_with_ids({"k": [3], "v": [3.0]}, d2, {"k": 1, "v": 2})
    m1 = _manifest(root, "m1.avro", [_entry(d1, seq=1), _entry(d2, seq=2)])
    ml = _manifest_list(root, "s1.avro", [(m1, 0, 1)])
    _write_metadata(root, [_snap(1, 1_000, ml)], current=1)
    got = sorted(
        (r["k"], r["v"]) for r in read_iceberg(spark, root).collect()
    )
    assert got == [(1, 1.0), (2, 2.0), (3, 3.0)]
    # a DROPPED column (id left the schema) is pruned, not resurrected
    d3 = os.path.join(root, "data", "f3.parquet")
    _pq_with_ids({"k_old": [9], "v": [9.0], "gone": [0]}, d3,
                 {"k_old": 1, "v": 2, "gone": 5})
    m2 = _manifest(root, "m2.avro", [_entry(d1, seq=1), _entry(d3, seq=2)])
    ml2 = _manifest_list(root, "s2.avro", [(m2, 0, 1)])
    _write_metadata(root, [_snap(1, 1_000, ml2)], current=1)
    df = read_iceberg(spark, root)
    assert sorted(df.columns) == ["k", "v"]
    assert sorted(r["k"] for r in df.collect()) == [1, 2, 9]


def test_iceberg_equality_delete_fold_single_anti_join(spark, tmp_path):
    """≥3 equality-delete files of ONE signature compile to exactly ONE
    anti-join (union + per-row __e_seq), not a chain of three — and the
    rows still resolve sequence-aware per file."""
    from feature_store_api_spark.sources.iceberg_reader import read_iceberg

    root = str(tmp_path / "ice_eqfold")
    d1 = os.path.join(root, "data", "f1.parquet")
    d2 = os.path.join(root, "data", "f2.parquet")
    _pq({"k": [1, 2, 3], "v": [1.0, 2.0, 3.0]}, d1)   # seq 1
    _pq({"k": [2], "v": [22.0]}, d2)                   # seq 3 re-insert
    e1 = os.path.join(root, "data", "eq1.parquet")
    e2 = os.path.join(root, "data", "eq2.parquet")
    e3 = os.path.join(root, "data", "eq3.parquet")
    _pq({"k": [1]}, e1)   # seq 2
    _pq({"k": [2]}, e2)   # seq 2 (k=2@seq3 must survive)
    _pq({"k": [3]}, e3)   # seq 4
    m1 = _manifest(root, "m1.avro", [_entry(d1, seq=1), _entry(d2, seq=3)])
    m2 = _manifest(root, "m2.avro", [
        _entry(e1, content=2, seq=2, eq_ids=[1]),
        _entry(e2, content=2, seq=2, eq_ids=[1]),
        _entry(e3, content=2, seq=4, eq_ids=[1]),
    ])
    ml = _manifest_list(root, "s1.avro", [(m1, 0, 1), (m2, 1, 4)])
    _write_metadata(root, [_snap(1, 1_000, ml)], current=1)
    df = read_iceberg(spark, root)
    got = sorted((r["k"], r["v"]) for r in df.collect())
    assert got == [(2, 22.0)]
    # AQE prints Final + Initial sections; count the final one only
    plan = df._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert plan.count("LeftAnti") == 1  # folded, not a per-file chain


def test_iceberg_equality_delete_shuffle_crossover(spark, tmp_path, monkeypatch):
    """Past the broadcast row crossover the delete side joins by
    shuffle — a massive delete pile can never blow the broadcast
    limit; results identical."""
    import feature_store_api_spark.sources.iceberg_reader as ir

    root = str(tmp_path / "ice_eqbig")
    d1 = os.path.join(root, "data", "f1.parquet")
    e1 = os.path.join(root, "data", "eq1.parquet")
    _pq({"k": [1, 2, 3], "v": [1.0, 2.0, 3.0]}, d1)
    _pq({"k": [2, 3]}, e1)
    m1 = _manifest(root, "m1.avro", [_entry(d1, seq=1)])
    m2 = _manifest(root, "m2.avro",
                   [_entry(e1, content=2, seq=2, eq_ids=[1])])
    ml = _manifest_list(root, "s1.avro", [(m1, 0, 1), (m2, 1, 2)])
    _write_metadata(root, [_snap(1, 1_000, ml)], current=1)
    monkeypatch.setattr(ir, "_DELETE_BROADCAST_ROWS", 0)
    df = ir.read_iceberg(spark, root)
    assert sorted(r["k"] for r in df.collect()) == [1]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan.split("LeftAnti")[0] or (
        "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    )


def test_iceberg_position_delete_encoded_and_relative_paths(spark, tmp_path):
    """Position-delete entries whose file_path is percent-ENCODED or
    RELATIVE must still hit the anti-join — the delete side gets the
    same decode as the scan side (prefix strip + url_decode + table
    root resolution)."""
    from feature_store_api_spark.sources.iceberg_reader import read_iceberg

    root = str(tmp_path / "ice pd enc")  # spaces in the table path
    d1 = os.path.join(root, "data", "f 1.parquet")
    d2 = os.path.join(root, "data", "f2.parquet")
    _pq({"k": [1, 2], "v": [1.0, 2.0]}, d1)
    _pq({"k": [3, 4], "v": [3.0, 4.0]}, d2)
    pd1 = os.path.join(root, "data", "del1.parquet")
    from urllib.parse import quote

    _pq({"file_path": [
            f"file://{quote(d1)}",      # percent-encoded URI (space)
            "data/f2.parquet",           # relative to the table root
         ],
         "pos": [0, 1]}, pd1)
    m1 = _manifest(root, "m1.avro", [_entry(d1, seq=1), _entry(d2, seq=1)])
    m2 = _manifest(root, "m2.avro", [_entry(pd1, content=1, seq=2)])
    ml = _manifest_list(root, "s1.avro", [(m1, 0, 1), (m2, 1, 2)])
    _write_metadata(root, [_snap(1, 1_000, ml)], current=1)
    got = sorted(r["k"] for r in read_iceberg(spark, root).collect())
    assert got == [2, 3]  # k=1 (encoded entry) and k=4 (relative) gone


def test_iceberg_deflate_manifests(spark, tmp_path):
    """Iceberg writes manifests with the avro deflate codec by default;
    the OCF reader must inflate them (raw DEFLATE blocks)."""
    import io
    import struct

    from feature_store_api_spark.sources.avro_codec import encode
    from feature_store_api_spark.sources.avro_container import (
        read_ocf_bytes,
    )
    from feature_store_api_spark.sources.iceberg_reader import read_iceberg

    def write_deflate_ocf(path, records, schema):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        head = io.BytesIO()
        encode(
            {"avro.schema": json.dumps(schema).encode(),
             "avro.codec": b"deflate"},
            {"type": "map", "values": "bytes"}, head,
        )
        block = io.BytesIO()
        for r in records:
            encode(r, schema, block)
        comp = zlib.compress(block.getvalue())[2:-4]  # raw deflate
        sync = bytes(range(16))
        with open(path, "wb") as fh:
            fh.write(b"Obj\x01")
            fh.write(head.getvalue())
            fh.write(sync)
            cnt = io.BytesIO()
            encode(len(records), "long", cnt)
            encode(len(comp), "long", cnt)
            fh.write(cnt.getvalue())
            fh.write(comp)
            fh.write(sync)

    root = str(tmp_path / "ice_defl")
    d1 = os.path.join(root, "data", "f1.parquet")
    _pq({"k": [7], "v": [7.0]}, d1)
    m1 = os.path.join(root, "metadata", "m1.avro")
    write_deflate_ocf(m1, [_entry(d1, seq=1)], MANIFEST_ENTRY_SCHEMA)
    # round-trip sanity straight through the codec
    with open(m1, "rb") as fh:
        _s, rows = read_ocf_bytes(fh.read())
    assert rows[0]["data_file"]["file_path"] == f"file://{d1}"
    ml = os.path.join(root, "metadata", "s1.avro")
    write_deflate_ocf(
        ml,
        [{"manifest_path": f"file://{m1}",
          "manifest_length": os.path.getsize(m1),
          "content": 0, "sequence_number": 1}],
        MANIFEST_FILE_SCHEMA,
    )
    _write_metadata(root, [_snap(1, 1_000, ml)], current=1)
    got = [(r["k"], r["v"]) for r in read_iceberg(spark, root).collect()]
    assert got == [(7, 7.0)]


MANIFEST_FILE_SCHEMA_V2 = {
    "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "content", "type": "int"},
        {"name": "sequence_number", "type": "long"},
        {"name": "added_snapshot_id", "type": ["null", "long"],
         "default": None},
    ],
}


def test_iceberg_incremental_append_scan(spark, tmp_path):
    """Incremental append scan over the parent-snapshot-id lineage:
    exactly the rows added in (from, to]; overwrite snapshots gate."""
    from feature_store_api_spark.sources.iceberg_reader import (
        iceberg_incremental,
    )

    root = str(tmp_path / "ice_inc")
    files = {}
    for i, ks in enumerate(([1, 2], [3], [4, 5]), start=1):
        p = os.path.join(root, "data", f"f{i}.parquet")
        _pq({"k": ks, "v": [float(k) for k in ks]}, p)
        files[i] = p

    def mlist(name, manifests):
        p = os.path.join(root, "metadata", name)
        _ocf(p, [
            {"manifest_path": f"file://{mp}",
             "manifest_length": os.path.getsize(mp),
             "content": 0, "sequence_number": seq,
             "added_snapshot_id": added}
            for (mp, seq, added) in manifests
        ], MANIFEST_FILE_SCHEMA_V2)
        return p

    m = {i: _manifest(root, f"m{i}.avro", [_entry(files[i], seq=i)])
         for i in (1, 2, 3)}
    ml1 = mlist("s1.avro", [(m[1], 1, 10)])
    ml2 = mlist("s2.avro", [(m[1], 1, 10), (m[2], 2, 20)])
    ml3 = mlist("s3.avro", [(m[1], 1, 10), (m[2], 2, 20), (m[3], 3, 30)])
    snaps = [
        {"snapshot-id": 10, "timestamp-ms": 1000,
         "manifest-list": f"file://{ml1}",
         "summary": {"operation": "append"}},
        {"snapshot-id": 20, "timestamp-ms": 2000,
         "parent-snapshot-id": 10, "manifest-list": f"file://{ml2}",
         "summary": {"operation": "append"}},
        {"snapshot-id": 30, "timestamp-ms": 3000,
         "parent-snapshot-id": 20, "manifest-list": f"file://{ml3}",
         "summary": {"operation": "append"}},
    ]
    _write_metadata(root, snaps, current=30)

    got = sorted(r["k"] for r in
                 iceberg_incremental(spark, root, 10).collect())
    assert got == [3, 4, 5]
    got2 = sorted(r["k"] for r in
                  iceberg_incremental(spark, root, 10, 20).collect())
    assert got2 == [3]
    assert iceberg_incremental(spark, root, 30).count() == 0
    with pytest.raises(ValueError, match="not an ancestor|not found"):
        iceberg_incremental(spark, root, 99)
    # an overwrite snapshot in the window gates loudly
    snaps[2]["summary"] = {"operation": "overwrite"}
    _write_metadata(root, snaps, current=30, version=2)
    with pytest.raises(NotImplementedError, match="overwrite"):
        iceberg_incremental(spark, root, 10)


def test_iceberg_backend_fg_parity_and_external_readability(spark, tmp_path):
    """A feature group with time_travel_format='ICEBERG' behaves
    IDENTICALLY to the default COMMITLOG backend across insert / upsert
    / delete / as_of / incremental / schema evolution / vacuum — and
    its storage is a spec-conformant Iceberg v2 table an external
    client (here: our jarless reader, structurally the same contract
    pyiceberg implements) can open directly."""
    import json as _json
    import time as _time

    from feature_store_api_spark import FeatureStore
    from feature_store_api_spark.sources.iceberg_reader import (
        read_iceberg, resolve_iceberg_snapshot, _read_table_metadata,
    )

    fs = FeatureStore(root=str(tmp_path))
    twin = {}
    for fmt in ("COMMITLOG", "ICEBERG"):
        fg = fs.create_feature_group(
            f"ib_{fmt.lower()}", primary_key=["k"], event_time="ts",
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
    ib, c1ib = twin["ICEBERG"]
    assert rows(ib.read(spark)) == rows(cl.read(spark))
    assert rows(ib.as_of(c1ib).read(spark)) == rows(cl.as_of(c1cl).read(spark))
    now_ms = int(_time.time() * 1000) + 10_000
    inc_cl = cl.select_all().pull_changes(c1cl + 1, now_ms).read(spark)
    inc_ib = ib.select_all().pull_changes(c1ib + 1, now_ms).read(spark)
    assert sorted(r["k"] for r in inc_ib.collect()) == sorted(
        r["k"] for r in inc_cl.collect())

    # external readability: raw Iceberg snapshot = all commit rows
    # (log view), one snapshot per store commit, valid metadata json
    loc = ib.location
    raw = read_iceberg(spark, loc)
    assert raw.count() == 6  # 3 + 2 + 1 delete marker
    assert "_commit_time" in raw.columns and "_op" in raw.columns
    meta = _read_table_metadata(loc)
    assert meta["format-version"] == 2
    snaps = meta["snapshots"]
    assert len(snaps) == 3
    assert [s["summary"]["operation"] for s in snaps] == ["append"] * 3
    # parent lineage is a chain
    assert [s.get("parent-snapshot-id") for s in snaps] == [
        None, snaps[0]["snapshot-id"], snaps[1]["snapshot-id"]]
    # time travel through the EXTERNAL reader: first snapshot = commit 1
    first = read_iceberg(
        spark, loc, snapshot_id=snaps[0]["snapshot-id"])
    assert sorted(r["k"] for r in first.collect()) == [1, 2, 3]

    # schema evolution: new column = new field id, old rows null-fill
    from pyspark.sql import types as T

    from feature_store_api_spark.feature import Feature

    ib.append_features([Feature("extra", T.StringType())])
    ib.insert(spark.createDataFrame(
        [(5, 40, 5.0, "x")], "k long, ts long, v double, extra string"))
    got = {r["k"]: r["extra"] for r in ib.read(spark).collect()}
    assert got[5] == "x" and got[1] is None
    meta2 = _read_table_metadata(loc)
    names = [f["name"] for f in meta2["schemas"][0]["fields"]]
    assert "extra" in names
    ids = [f["id"] for f in meta2["schemas"][0]["fields"]]
    assert len(ids) == len(set(ids))  # fresh, unique field ids

    # manifests carry identity(_commit_time) partition tuples so
    # external planners prune time-travel scans at manifest level
    from feature_store_api_spark.sources.avro_container import (
        read_ocf_bytes,
    )

    spec = meta2["partition-specs"][0]["fields"]
    assert [f["name"] for f in spec] == ["_commit_time"]
    assert spec[0]["transform"] == "identity"
    ml_path = os.path.join(
        loc, [s for s in meta2["snapshots"]
              if s["snapshot-id"] == meta2["current-snapshot-id"]
              ][0]["manifest-list"])
    with open(ml_path, "rb") as fh:
        _s, mrows = read_ocf_bytes(fh.read())
    mp = mrows[0]["manifest_path"]
    with open(os.path.join(loc, mp), "rb") as fh:
        _s, entries = read_ocf_bytes(fh.read())
    assert entries[0]["data_file"]["partition"]["_commit_time"] == c1ib

    # vacuum: superseded commits become a delete snapshot; files gone;
    # the live snapshot is unchanged
    before = rows(ib.read(spark).select("k", "ts", "v"))
    ib.commit_store.compact(spark)
    ib.commit_store.vacuum(retain_hours=0.0)
    assert rows(ib.read(spark).select("k", "ts", "v")) == before
    meta3 = _read_table_metadata(loc)
    ops = [s["summary"]["operation"] for s in meta3["snapshots"]]
    assert "delete" in ops


def test_iceberg_avro_data_files(spark, tmp_path):
    """Tables written with write.format.default=avro read jarlessly:
    avro DATA files decode executor-side through the repo's own OCF
    codec, union by name with parquet files (mixed-format tables), and
    position deletes address avro rows by ordinal exactly like parquet
    row indexes."""
    from feature_store_api_spark.sources.avro_container import _write_ocf
    from feature_store_api_spark.sources.iceberg_reader import read_iceberg

    root = str(tmp_path / "ice_avro")
    # avro data file: k 1..3
    a1 = os.path.join(root, "data", "f1.avro")
    os.makedirs(os.path.dirname(a1), exist_ok=True)
    avro_schema = {
        "type": "record", "name": "r", "fields": [
            {"name": "k", "type": "long"},
            {"name": "v", "type": ["null", "double"], "default": None},
        ]}
    with open(a1, "wb") as fh:
        _write_ocf(iter([
            {"k": 1, "v": 1.0}, {"k": 2, "v": 2.0}, {"k": 3, "v": 3.0},
        ]), avro_schema, fh)
    # parquet data file: k 4
    d2 = os.path.join(root, "data", "f2.parquet")
    _pq({"k": [4], "v": [4.0]}, d2)
    # position delete killing avro ordinal 1 (k=2)
    pd1 = os.path.join(root, "data", "del.parquet")
    _pq({"file_path": [f"file://{a1}"], "pos": [1]}, pd1)

    def entry(fp, fmt, content=0, seq=1):
        e = _entry(fp, content=content, seq=seq)
        e["data_file"]["file_format"] = fmt
        return e

    m1 = _manifest(root, "m1.avro", [
        entry(a1, "AVRO"), entry(d2, "PARQUET"),
        entry(pd1, "PARQUET", content=1, seq=2),
    ])
    ml = _manifest_list(root, "s1.avro", [(m1, 0, 1)])
    _write_metadata(root, [_snap(1, 1_000, ml)], current=1)
    got = sorted(
        (r["k"], r["v"]) for r in read_iceberg(spark, root).collect()
    )
    assert got == [(1, 1.0), (3, 3.0), (4, 4.0)]
    # avro-only table (no parquet part at all)
    root2 = str(tmp_path / "ice_avro_only")
    a2 = os.path.join(root2, "data", "f1.avro")
    os.makedirs(os.path.dirname(a2), exist_ok=True)
    with open(a2, "wb") as fh:
        _write_ocf(iter([{"k": 9, "v": 9.0}]), avro_schema, fh)
    m2 = _manifest(root2, "m1.avro", [entry(a2, "AVRO")])
    ml2 = _manifest_list(root2, "s1.avro", [(m2, 0, 1)])
    _write_metadata(root2, [_snap(1, 1_000, ml2)], current=1)
    got2 = [(r["k"], r["v"])
            for r in read_iceberg(spark, root2).collect()]
    assert got2 == [(9, 9.0)]
    # ORC data files read through Spark's native ORC reader; position
    # deletes over ORC gate loudly (no row_index in ORC _metadata)
    root3 = str(tmp_path / "ice_orc")
    stage = str(tmp_path / "orc_stage")
    spark.createDataFrame(
        [(7, 7.0)], "k long, v double"
    ).coalesce(1).write.mode("overwrite").orc(stage)
    d3 = os.path.join(root3, "data", "f1.orc")
    os.makedirs(os.path.dirname(d3), exist_ok=True)
    import shutil as _sh

    src = [n for n in os.listdir(stage) if n.endswith(".orc")][0]
    _sh.copy(os.path.join(stage, src), d3)
    m3 = _manifest(root3, "m1.avro", [entry(d3, "ORC")])
    ml3 = _manifest_list(root3, "s1.avro", [(m3, 0, 1)])
    _write_metadata(root3, [_snap(1, 1_000, ml3)], current=1)
    got3 = [(r["k"], r["v"]) for r in read_iceberg(spark, root3).collect()]
    assert got3 == [(7, 7.0)]
    # + a position delete over the ORC file: the scan re-plans through
    # the executor-side pyarrow.orc path, which synthesizes each row's
    # in-file ordinal — the delete lands
    pd3 = os.path.join(root3, "data", "del.parquet")
    _pq({"file_path": [f"file://{d3}"], "pos": [0]}, pd3)
    m4 = _manifest(root3, "m2.avro", [
        entry(d3, "ORC"), entry(pd3, "PARQUET", content=1, seq=2)])
    ml4 = _manifest_list(root3, "s2.avro", [(m4, 0, 1)])
    _write_metadata(root3, [_snap(1, 1_000, ml4)], current=1)
    assert read_iceberg(spark, root3).collect() == []


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=10, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    data=st.lists(  # data files: (seq, [keys])
        st.tuples(
            st.integers(min_value=1, max_value=6),
            st.lists(st.integers(min_value=0, max_value=9),
                     min_size=1, max_size=4),
        ),
        min_size=1, max_size=4,
    ),
    dels=st.lists(  # equality-delete files: (seq, [keys])
        st.tuples(
            st.integers(min_value=1, max_value=6),
            st.lists(st.integers(min_value=0, max_value=9),
                     min_size=1, max_size=3),
        ),
        min_size=0, max_size=4,
    ),
)
def test_iceberg_equality_delete_property(spark, tmp_path_factory, data, dels):
    """Property pin of the spec's scan-planning rule against a
    pure-Python oracle: a row survives iff NO equality delete with a
    STRICTLY larger sequence number matches its key — across arbitrary
    mixes of data/delete files and sequence numbers, including several
    delete files of the same signature (exercising the fold)."""
    from feature_store_api_spark.sources.iceberg_reader import read_iceberg

    root = str(tmp_path_factory.mktemp("ice_prop"))
    # python oracle: multiset of surviving (key, data_seq) rows
    expected = sorted(
        (k, dseq)
        for dseq, keys in data
        for k in keys
        if not any(eseq > dseq and k in ekeys for eseq, ekeys in dels)
    )
    entries = []
    for i, (seq, keys) in enumerate(data):
        p = os.path.join(root, "data", f"f{i}.parquet")
        _pq({"k": keys, "s": [seq] * len(keys)}, p)
        entries.append(_entry(p, seq=seq))
    for i, (seq, keys) in enumerate(dels):
        p = os.path.join(root, "data", f"e{i}.parquet")
        _pq({"k": keys}, p)
        entries.append(_entry(p, content=2, seq=seq, eq_ids=[1]))
    m1 = _manifest(root, "m1.avro", entries)
    ml = _manifest_list(root, "s1.avro", [(m1, 0, 1)])
    meta = {
        "format-version": 2, "table-uuid": "0" * 32,
        "location": f"file://{root}", "current-schema-id": 0,
        "schemas": [{"schema-id": 0, "type": "struct", "fields": [
            {"id": 1, "name": "k", "required": True, "type": "long"},
            {"id": 2, "name": "s", "required": False, "type": "long"},
        ]}],
        "current-snapshot-id": 1,
        "snapshots": [{"snapshot-id": 1, "timestamp-ms": 1000,
                       "manifest-list": f"file://{ml}"}],
    }
    md = os.path.join(root, "metadata")
    with open(os.path.join(md, "v1.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    with open(os.path.join(md, "version-hint.text"), "w") as fh:
        fh.write("1")
    got = sorted(
        (r["k"], r["s"]) for r in read_iceberg(spark, root).collect()
    )
    assert got == expected


def test_iceberg_backend_vacuum_partitioned_layout(spark, tmp_path):
    """drop_commit on a PARTITIONED Iceberg backend removes exactly the
    doomed commit's files across every <col>=<val> directory and
    retires emptied dirs; the surviving snapshot is unchanged."""
    from feature_store_api_spark import FeatureStore

    fs = FeatureStore(root=str(tmp_path))
    fg = fs.create_feature_group(
        "ib_vac_part", primary_key=["k"], event_time="ts",
        partition_key=["part"], time_travel_format="ICEBERG",
        auto_compact_every=None,
    )
    fg.insert(spark.createDataFrame(
        [(1, 10, "a", 1.0), (2, 10, "b", 2.0)],
        "k long, ts long, part string, v double"))
    # same (pk, event_time, partition) record identity -> in-place upsert
    fg.insert(spark.createDataFrame(
        [(1, 10, "a", 11.0)], "k long, ts long, part string, v double"))
    before = sorted(
        (r["k"], r["v"]) for r in fg.read(spark).collect()
    )
    fg.commit_store.compact(spark)
    fg.commit_store.vacuum(retain_hours=0.0)
    after = sorted(
        (r["k"], r["v"]) for r in fg.read(spark).collect()
    )
    assert after == before == [(1, 11.0), (2, 2.0)]


def test_iceberg_backend_typed_partition_values(spark, tmp_path):
    """A non-string (long) partition key round-trips: the manifest
    partition tuple carries a TYPED value (avro long, parsed back from
    the hive dir token), the spec declares the identity field, and the
    scan returns the column with its declared type."""
    from feature_store_api_spark import FeatureStore
    from feature_store_api_spark.sources.avro_container import (
        read_ocf_bytes,
    )
    from feature_store_api_spark.sources.iceberg_reader import (
        _read_table_metadata,
    )

    fs = FeatureStore(root=str(tmp_path))
    fg = fs.create_feature_group(
        "ib_typed_part", primary_key=["k"], event_time="ts",
        partition_key=["bucket"], time_travel_format="ICEBERG",
        auto_compact_every=None,
    )
    fg.insert(spark.createDataFrame(
        [(1, 10, 7, 1.0), (2, 10, 8, 2.0)],
        "k long, ts long, bucket long, v double"))
    meta = _read_table_metadata(fg.location)
    spec = meta["partition-specs"][0]["fields"]
    assert [f["name"] for f in spec] == ["_commit_time", "bucket"]
    ml = os.path.join(fg.location, next(
        s for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )["manifest-list"])
    with open(ml, "rb") as fh:
        _s, mrows = read_ocf_bytes(fh.read())
    vals = set()
    for r in mrows:
        with open(os.path.join(fg.location, r["manifest_path"]), "rb") as fh:
            _s, entries = read_ocf_bytes(fh.read())
        for e in entries:
            vals.add(e["data_file"]["partition"]["bucket"])
    assert vals == {7, 8}  # typed longs, not "7"/"8" strings
    got = {(r["k"], r["bucket"]) for r in fg.read(spark).collect()}
    assert got == {(1, 7), (2, 8)}
    assert dict(fg.read(spark).dtypes)["bucket"] in ("bigint", "int")


def test_iceberg_backend_concurrent_writers_put_if_absent(spark, tmp_path):
    """Two writers committing concurrently both land: the PUT-IF-ABSENT
    metadata version (os.link) makes the loser rebuild against the new
    head and retry — no clobbered snapshot, sequential versions, both
    commits' rows in the final table (the optimistic-concurrency
    contract real Iceberg catalogs provide)."""
    import threading

    from feature_store_api_spark.sources.commit_store import (
        COMMIT_COL, OP_COL,
    )
    from feature_store_api_spark.sources.iceberg_backend import (
        IcebergBackend,
    )

    loc = str(tmp_path / "race")
    backend = IcebergBackend(loc)
    errs = []

    def commit(ct, keys):
        try:
            df = spark.createDataFrame(
                [(k, ct, "upsert") for k in keys],
                f"k long, {COMMIT_COL} long, {OP_COL} string",
            ).coalesce(1)
            backend.append_commit(df, [COMMIT_COL])
        except Exception as exc:  # pragma: no cover - failure detail
            errs.append(exc)

    threads = [
        threading.Thread(target=commit, args=(1000 + i, [10 * i, 10 * i + 1]))
        for i in range(3)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    _v, meta = backend._current_meta()
    snaps = meta["snapshots"]
    assert len(snaps) == 3
    assert [s["sequence-number"] for s in snaps] == [1, 2, 3]
    got = sorted(r["k"] for r in backend.scan(spark).collect())
    assert got == sorted(
        [10 * i for i in range(3)] + [10 * i + 1 for i in range(3)]
    )


def test_iceberg_backend_metadata_spec_required_keys(spark, tmp_path):
    """Every metadata version must carry the keys TableMetadataParser
    and pyiceberg REQUIRE for v2 (last-column-id, last-updated-ms,
    last-partition-id, sort-orders) — 'readable by any Iceberg client'
    is meaningless if only this repo's reader tolerates the file. Also
    pins the nested-id rule: an ARRAY column consumes an element-id
    from the field-id counter, so a column added LATER must not collide
    with it (duplicate field ids break id-based resolution)."""
    from feature_store_api_spark import FeatureStore
    from feature_store_api_spark.sources.iceberg_reader import (
        _read_table_metadata,
    )

    fs = FeatureStore(root=str(tmp_path))
    fg = fs.create_feature_group(
        "ib_meta", primary_key=["k"], event_time="ts",
        time_travel_format="ICEBERG", auto_compact_every=None,
    )
    c1 = fg.insert(spark.createDataFrame(
        [(1, 10, [1.0, 2.0])], "k long, ts long, emb array<double>"))
    meta = _read_table_metadata(fg.location)
    # pyiceberg-shaped required keys, every version
    for key in ("last-column-id", "last-updated-ms", "last-partition-id",
                "sort-orders", "default-sort-order-id", "partition-specs",
                "default-spec-id", "schemas", "current-schema-id"):
        assert key in meta, key
    assert meta["last-updated-ms"] == c1.commit_time
    assert meta["last-partition-id"] >= 1000

    def all_ids(schema):
        out = []
        for f in schema["fields"]:
            out.append(f["id"])
            t = f["type"]
            if isinstance(t, dict) and t.get("type") == "list":
                out.append(t["element-id"])
        return out

    ids1 = all_ids(meta["schemas"][0])
    assert meta["last-column-id"] == max(ids1)
    # evolution: the new column's id must clear the array's element-id
    from pyspark.sql import types as T

    from feature_store_api_spark.feature import Feature

    fg.append_features([Feature("extra", T.StringType())])
    fg.insert(spark.createDataFrame(
        [(2, 20, [3.0], "x")],
        "k long, ts long, emb array<double>, extra string"))
    meta2 = _read_table_metadata(fg.location)
    ids2 = all_ids(meta2["schemas"][0])
    assert len(ids2) == len(set(ids2)), f"duplicate field ids: {ids2}"
    assert meta2["last-column-id"] == max(ids2)


def test_streaming_insert_into_iceberg_fg(spark, tmp_path):
    """insert_stream into a time_travel_format='ICEBERG' group: each
    micro-batch lands as one Iceberg snapshot; the table stays
    externally readable."""
    from feature_store_api_spark import FeatureStore
    from feature_store_api_spark.sources.iceberg_reader import read_iceberg
    from feature_store_api_spark.streaming.insert_stream import insert_stream

    fs = FeatureStore(root=str(tmp_path / "fs"))
    fg = fs.create_feature_group(
        "sice", primary_key=["pk"], event_time="ts",
        time_travel_format="ICEBERG", auto_compact_every=None,
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
    assert os.path.isdir(os.path.join(fg.location, "metadata"))
    assert read_iceberg(spark, fg.location).count() == 2


def test_external_fg_over_iceberg_table(spark, tmp_path):
    """An ExternalFeatureGroup with data_format='iceberg' reads an
    existing Iceberg table through the connector path (the
    'switch your lakehouse table into the feature store' story)."""
    from feature_store_api_spark import FeatureStore
    from feature_store_api_spark.sources.connectors import StorageConnector

    root = str(tmp_path / "tbl")
    d1 = os.path.join(root, "data", "f1.parquet")
    _pq({"k": [1, 2, 3], "v": [10.0, 20.0, 3.0]}, d1)
    m1 = _manifest(root, "m1.avro", [_entry(d1, seq=1)])
    ml1 = _manifest_list(root, "s1.avro", [(m1, 0, 1)])
    _write_metadata(root, [_snap(1, 1_000, ml1)], current=1)
    fs = FeatureStore(root=str(tmp_path / "store"))
    conn = StorageConnector("lake")
    fs.register_storage_connector(conn)
    ext = fs.create_external_feature_group(
        "ext_ice", conn, path=root, data_format="iceberg",
        primary_key=["k"],
    )
    got = sorted((r["k"], r["v"]) for r in ext.read(spark).collect())
    assert got == [(1, 10.0), (2, 20.0), (3, 3.0)]
    assert ext.select(["k", "v"]).filter(ext.v > 5.0).read(spark).count() == 2


def test_iceberg_backend_refuses_partition_layout_change(spark, tmp_path):
    """Partition layout is fixed at table creation: existing manifests
    reference the default spec's field tuple and the data dirs match
    it, so a changed user partitioning refuses loudly instead of
    mutating spec 0 (which would break old manifests for external
    Iceberg clients) or mixing directory layouts (which would break
    the scan's basePath discovery)."""
    import pytest

    from feature_store_api_spark.sources.commit_store import COMMIT_COL
    from feature_store_api_spark.sources.iceberg_backend import (
        IcebergBackend,
    )

    loc = str(tmp_path / "ib_layout")
    b = IcebergBackend(loc)
    df = spark.createDataFrame(
        [(1, "a", 1.0, 1000, "upsert")],
        f"k long, part string, v double, {COMMIT_COL} long, _hoodie_op string",
    )
    b.append_commit(df, [COMMIT_COL])  # created flat
    with pytest.raises(ValueError, match="partition fields"):
        b.append_commit(df, [COMMIT_COL, "part"])
    b.append_commit(df, [COMMIT_COL])

    loc2 = str(tmp_path / "ib_layout_p")
    b2 = IcebergBackend(loc2)
    b2.append_commit(df, [COMMIT_COL, "part"])

    def data_files(loc):
        return sorted(
            os.path.join(r, n)
            for r, _d, ns in os.walk(os.path.join(loc, "data"))
            for n in ns if n.endswith(".parquet")
        )

    before = data_files(loc2)
    with pytest.raises(ValueError, match="partition fields"):
        b2.append_commit(df, [COMMIT_COL])
    # the gate fires BEFORE staging moves anything into the table
    # tree: a refused write leaks no orphan data files
    assert data_files(loc2) == before
    b2.append_commit(df, [COMMIT_COL, "part"])
    # the spec was adopted verbatim, never re-authored
    from feature_store_api_spark.sources.iceberg_reader import (
        _read_table_metadata,
    )

    meta = _read_table_metadata(loc2)
    assert len(meta["partition-specs"]) == 1
    assert [f["name"] for f in meta["partition-specs"][0]["fields"]] == [
        COMMIT_COL, "part",
    ]


def test_iceberg_partitioned_scan_declared_types_win(spark, tmp_path):
    """Discovered partition columns come back with their DECLARED types,
    not Spark's directory inference (which has no boolean and reads
    numeric-looking strings as long): the scan passes the table schema
    explicitly, which also silences the COLUMN_ALREADY_EXISTS warning
    the inference path logs on every partitioned read."""
    from feature_store_api_spark import FeatureStore

    fs = FeatureStore(root=str(tmp_path))
    fg = fs.create_feature_group(
        "ib_typed_inf", primary_key=["k"], event_time="ts",
        partition_key=["flag", "code"], time_travel_format="ICEBERG",
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


def test_rename_scan_reads_footers_executor_side(spark, tmp_path, monkeypatch):
    """Scan PLANNING for a renamed table must not read data-file
    footers on the driver (O(files) driver I/O made planning
    driver-bound on large tables): the field-id maps resolve through a
    mapInPandas spec frame in executors. Pin: a driver-process counter
    on _parquet_field_ids stays ZERO while the rename scan still
    resolves and returns correct rows."""
    from feature_store_api_spark.sources import iceberg_reader as ir

    root = str(tmp_path / "ice_exec_ids")
    d1 = os.path.join(root, "data", "f1.parquet")
    d2 = os.path.join(root, "data", "f2.parquet")
    _pq_with_ids({"k_old": [1], "v": [1.0]}, d1, {"k_old": 1, "v": 2})
    _pq_with_ids({"k": [2], "v": [2.0]}, d2, {"k": 1, "v": 2})
    m1 = _manifest(root, "m1.avro", [_entry(d1, seq=1), _entry(d2, seq=2)])
    ml = _manifest_list(root, "s1.avro", [(m1, 0, 1)])
    _write_metadata(root, [_snap(1, 1_000, ml)], current=1)

    calls = []
    real = ir._parquet_field_ids
    monkeypatch.setattr(
        ir, "_parquet_field_ids",
        lambda p: calls.append(p) or real(p),
    )
    got = sorted(
        (r["k"], r["v"]) for r in ir.read_iceberg(spark, root).collect()
    )
    assert got == [(1, 1.0), (2, 2.0)]
    assert calls == []  # zero driver-side footer reads


def _orc_with_ids(rows, path, ids=None):
    """ORC data file; when ``ids`` is given the columns carry
    ``iceberg.id`` type attributes (what Iceberg's ORC writer stamps —
    iceberg.apache.org/spec, ORC type annotations)."""
    import pyarrow as pa
    import pyarrow.orc as orc

    os.makedirs(os.path.dirname(path), exist_ok=True)
    t = pa.table(rows)
    if ids:
        fields = [
            t.schema.field(i).with_metadata(
                {b"iceberg.id": str(ids[t.schema.field(i).name]).encode()}
            )
            for i in range(len(t.schema))
        ]
        t = t.cast(pa.schema(fields))
    orc.write_table(t, path)


def test_iceberg_orc_position_deletes_and_renames(spark, tmp_path):
    """ORC data files with position deletes AND renamed columns: the
    executor-side pyarrow.orc scan synthesizes in-file row ordinals
    (position deletes land on the right rows) and resolves pre-rename
    physical names through the files' iceberg.id attributes; parquet
    parts of the same table keep their native path."""
    from feature_store_api_spark.sources.iceberg_reader import read_iceberg

    def entry(fp, fmt, content=0, seq=1):
        e = _entry(fp, content=content, seq=seq)
        e["data_file"]["file_format"] = fmt
        return e

    root = str(tmp_path / "ice_orc_full")
    # pre-rename ORC file: physical column 'k_old' with id 1
    d1 = os.path.join(root, "data", "f1.orc")
    _orc_with_ids(
        {"k_old": [1, 2, 3], "v": [1.0, 2.0, 3.0]}, d1,
        ids={"k_old": 1, "v": 2},
    )
    # post-rename ORC file: current name 'k'
    d2 = os.path.join(root, "data", "f2.orc")
    _orc_with_ids({"k": [4, 5], "v": [4.0, 5.0]}, d2, ids={"k": 1, "v": 2})
    # parquet sibling (mixed-format table)
    d3 = os.path.join(root, "data", "f3.parquet")
    _pq_with_ids({"k": [6], "v": [6.0]}, d3, {"k": 1, "v": 2})
    # position deletes: ordinal 1 of f1 (k=2) and ordinal 0 of f2 (k=4)
    pdel = os.path.join(root, "data", "del.parquet")
    _pq(
        {"file_path": [f"file://{d1}", f"file://{d2}"], "pos": [1, 0]},
        pdel,
    )
    m1 = _manifest(root, "m1.avro", [
        entry(d1, "ORC"), entry(d2, "ORC"), entry(d3, "PARQUET"),
        entry(pdel, "PARQUET", content=1, seq=2),
    ])
    ml = _manifest_list(root, "s1.avro", [(m1, 0, 1)])
    _write_metadata(root, [_snap(1, 1_000, ml)], current=1)
    got = sorted(
        (r["k"], r["v"]) for r in read_iceberg(spark, root).collect()
    )
    assert got == [(1, 1.0), (3, 3.0), (5, 5.0), (6, 6.0)]

    # renamed ORC files WITHOUT iceberg.id attributes keep the loud gate
    root2 = str(tmp_path / "ice_orc_noids")
    d4 = os.path.join(root2, "data", "f1.orc")
    _orc_with_ids({"k_old": [9], "v": [9.0]}, d4)  # no ids
    m2 = _manifest(root2, "m1.avro", [entry(d4, "ORC")])
    ml2 = _manifest_list(root2, "s1.avro", [(m2, 0, 1)])
    _write_metadata(root2, [_snap(1, 1_000, ml2)], current=1)
    with pytest.raises(Exception, match="field-id|iceberg.id"):
        read_iceberg(spark, root2).collect()


def test_iceberg_avro_data_field_id_rename(spark, tmp_path):
    """AVRO data files written BEFORE a column rename carry per-field
    'field-id' annotations (iceberg spec: Avro schemas are written with
    field ids): the executor-side OCF decode resolves physical names
    through them, so a renamed table's old avro files project under the
    CURRENT name instead of silently yielding nulls."""
    from feature_store_api_spark.sources.iceberg_reader import read_iceberg

    root = str(tmp_path / "ice_avro_ren")
    a1 = os.path.join(root, "data", "f1.avro")
    # pre-rename file: physical 'k_old' annotated with field-id 1
    schema_old = {
        "type": "record", "name": "row", "fields": [
            {"name": "k_old", "type": "long", "field-id": 1},
            {"name": "v", "type": ["null", "double"], "default": None,
             "field-id": 2},
        ]}
    _ocf(a1, [{"k_old": 1, "v": 1.0}, {"k_old": 2, "v": 2.0}], schema_old)
    # post-rename file: current name, also annotated
    a2 = os.path.join(root, "data", "f2.avro")
    schema_new = {
        "type": "record", "name": "row", "fields": [
            {"name": "k", "type": "long", "field-id": 1},
            {"name": "v", "type": ["null", "double"], "default": None,
             "field-id": 2},
        ]}
    _ocf(a2, [{"k": 3, "v": 3.0}], schema_new)

    def entry(fp, seq):
        e = _entry(fp, seq=seq)
        e["data_file"]["file_format"] = "AVRO"
        return e

    m1 = _manifest(root, "m1.avro", [entry(a1, 1), entry(a2, 2)])
    ml = _manifest_list(root, "s1.avro", [(m1, 0, 1)])
    _write_metadata(root, [_snap(1, 1_000, ml)], current=1)
    got = sorted(
        (r["k"], r["v"]) for r in read_iceberg(spark, root).collect()
    )
    assert got == [(1, 1.0), (2, 2.0), (3, 3.0)]


def test_iceberg_orc_multi_stripe_ordinals(spark, tmp_path):
    """Position ordinals stay correct ACROSS stripes: the executor-side
    ORC decode reads stripe-by-stripe (bounded memory) with a running
    in-file ordinal, so a delete addressing a row in a later stripe
    lands on that row, not on a per-stripe-reset position."""
    import pyarrow as pa
    import pyarrow.orc as orc

    from feature_store_api_spark.sources.iceberg_reader import read_iceberg

    root = str(tmp_path / "ice_orc_stripes")
    d1 = os.path.join(root, "data", "f1.orc")
    os.makedirs(os.path.dirname(d1), exist_ok=True)
    n = 50_000
    t = pa.table({
        "k": pa.array(range(n), pa.int64()),
        "v": pa.array([float(i) for i in range(n)]),
    })
    # tiny stripes force several of them
    orc.write_table(t, d1, stripe_size=64 * 1024)
    assert orc.ORCFile(d1).nstripes > 1
    # delete ordinals 0, 25_000 (a later stripe) and n-1
    doomed = [0, 25_000, n - 1]
    pd1 = os.path.join(root, "data", "del.parquet")
    _pq({"file_path": [f"file://{d1}"] * len(doomed), "pos": doomed}, pd1)

    def entry(fp, fmt, content=0, seq=1):
        e = _entry(fp, content=content, seq=seq)
        e["data_file"]["file_format"] = fmt
        return e

    m1 = _manifest(root, "m1.avro", [
        entry(d1, "ORC"), entry(pd1, "PARQUET", content=1, seq=2)])
    ml = _manifest_list(root, "s1.avro", [(m1, 0, 1)])
    _write_metadata(root, [_snap(1, 1_000, ml)], current=1)
    out = read_iceberg(spark, root)
    assert out.count() == n - 3
    gone = {r["k"] for r in out.where(
        (out.k.isin([0, 25_000, n - 1]))).collect()}
    assert gone == set()


def test_iceberg_orc_rename_no_ids_gates_even_with_deletes(spark, tmp_path):
    """A renamed ORC table whose files lack iceberg.id attributes must
    gate loudly even when position deletes force the arrow path — not
    silently return NULLs for the renamed column."""
    from feature_store_api_spark.sources.iceberg_reader import read_iceberg

    root = str(tmp_path / "ice_orc_noids_del")
    d1 = os.path.join(root, "data", "f1.orc")
    _orc_with_ids({"k_old": [1, 2], "v": [1.0, 2.0]}, d1)  # no ids
    pd1 = os.path.join(root, "data", "del.parquet")
    _pq({"file_path": [f"file://{d1}"], "pos": [0]}, pd1)

    def entry(fp, fmt, content=0, seq=1):
        e = _entry(fp, content=content, seq=seq)
        e["data_file"]["file_format"] = fmt
        return e

    m1 = _manifest(root, "m1.avro", [
        entry(d1, "ORC"), entry(pd1, "PARQUET", content=1, seq=2)])
    ml = _manifest_list(root, "s1.avro", [(m1, 0, 1)])
    _write_metadata(root, [_snap(1, 1_000, ml)], current=1)
    with pytest.raises(Exception, match="field-id|iceberg.id"):
        read_iceberg(spark, root).collect()


def test_iceberg_renamed_table_with_partition_base_replans(spark, tmp_path):
    """hive_partition_base scans still detect renames: the physical
    columns are probed WITHOUT the declared schema first, so pre-rename
    files re-plan through field ids instead of reading as all-NULL
    under the explicit-schema fast path."""
    from feature_store_api_spark.sources.iceberg_reader import read_iceberg

    root = str(tmp_path / "ice_bp_ren")
    d1 = os.path.join(root, "data", "f1.parquet")
    d2 = os.path.join(root, "data", "f2.parquet")
    _pq_with_ids({"k_old": [1], "v": [1.0]}, d1, {"k_old": 1, "v": 2})
    _pq_with_ids({"k": [2], "v": [2.0]}, d2, {"k": 1, "v": 2})
    m1 = _manifest(root, "m1.avro", [_entry(d1, seq=1), _entry(d2, seq=2)])
    ml = _manifest_list(root, "s1.avro", [(m1, 0, 1)])
    _write_metadata(root, [_snap(1, 1_000, ml)], current=1)
    got = sorted(
        (r["k"], r["v"])
        for r in read_iceberg(
            spark, root,
            hive_partition_base=os.path.join(root, "data"),
        ).collect()
    )
    assert got == [(1, 1.0), (2, 2.0)]


def test_iceberg_time_travel_uses_snapshot_schema(spark, tmp_path):
    """Time travel reads with the SNAPSHOT's schema (spec:
    snapshots[].schema-id, iceberg-spark VERSION AS OF semantics): a
    column renamed after snapshot 1 surfaces under its OLD name when
    reading snapshot 1, and under the new name (old files resolved via
    field ids) on the current snapshot."""
    from feature_store_api_spark.sources.iceberg_reader import read_iceberg

    root = str(tmp_path / "ice_snap_schema")
    d1 = os.path.join(root, "data", "f1.parquet")
    d2 = os.path.join(root, "data", "f2.parquet")
    _pq_with_ids({"k": [1], "v": [1.0]}, d1, {"k": 1, "v": 2})
    _pq_with_ids({"key": [2], "v": [2.0]}, d2, {"key": 1, "v": 2})
    m1 = _manifest(root, "m1.avro", [_entry(d1, seq=1)])
    m2 = _manifest(root, "m2.avro", [_entry(d1, seq=1), _entry(d2, seq=2)])
    ml1 = _manifest_list(root, "s1.avro", [(m1, 0, 1)])
    ml2 = _manifest_list(root, "s2.avro", [(m2, 0, 2)])
    _write_metadata(root, [
        dict(_snap(10, 1_000, ml1), **{"schema-id": 0}),
        dict(_snap(20, 2_000, ml2), **{"schema-id": 1}),
    ], current=20)
    # splice in the two schema versions: id 0 names field 1 'k',
    # id 1 renames it to 'key' and is current
    md = os.path.join(root, "metadata", "v1.metadata.json")
    meta = json.load(open(md))
    meta["schemas"] = [
        {"schema-id": 0, "type": "struct", "fields": [
            {"id": 1, "name": "k", "required": True, "type": "long"},
            {"id": 2, "name": "v", "required": False, "type": "double"},
        ]},
        {"schema-id": 1, "type": "struct", "fields": [
            {"id": 1, "name": "key", "required": True, "type": "long"},
            {"id": 2, "name": "v", "required": False, "type": "double"},
        ]},
    ]
    meta["current-schema-id"] = 1
    json.dump(meta, open(md, "w"))

    old = read_iceberg(spark, root, snapshot_id=10)
    assert set(old.columns) == {"k", "v"}
    assert [(r["k"], r["v"]) for r in old.collect()] == [(1, 1.0)]
    cur = read_iceberg(spark, root)
    assert set(cur.columns) == {"key", "v"}
    assert sorted((r["key"], r["v"]) for r in cur.collect()) == [
        (1, 1.0), (2, 2.0)]


def test_iceberg_avro_partial_annotation_resolves_per_field(spark, tmp_path):
    """A PARTIALLY annotated Avro data file resolves each column the
    safest way its metadata allows (ADVICE r13): an annotated field
    binds strictly by id — even when its name collides with a reused
    current-column name — while unannotated fields never capture a
    column whose name an annotated field holds. All-or-nothing by-name
    fallback would mis-bind BOTH columns here."""
    from feature_store_api_spark.sources.iceberg_reader import read_iceberg

    root = str(tmp_path / "ice_avro_partial")
    a1 = os.path.join(root, "data", "f1.avro")
    # physical field 'v' is ANNOTATED as field-id 1: it stores column
    # k's data under column v's reused name. Physical 'k' is
    # unannotated junk. Per-field resolution: column k (id 1) binds by
    # id to physical 'v'; column v (id 2) has no id match and its name
    # belongs to an annotated field -> NULL. By-name fallback would
    # instead read junk into k and k's longs into v.
    schema = {
        "type": "record", "name": "row", "fields": [
            {"name": "v", "type": "long", "field-id": 1},
            {"name": "k", "type": ["null", "long"], "default": None},
        ]}
    _ocf(a1, [{"v": 1, "k": 99}, {"v": 2, "k": 98}], schema)

    e = _entry(a1, seq=1)
    e["data_file"]["file_format"] = "AVRO"
    m1 = _manifest(root, "m1.avro", [e])
    ml = _manifest_list(root, "s1.avro", [(m1, 0, 1)])
    _write_metadata(root, [_snap(1, 1_000, ml)], current=1)
    got = sorted(
        (r["k"], r["v"]) for r in read_iceberg(spark, root).collect()
    )
    assert got == [(1, None), (2, None)]


# ---------------------------------------------------------------------------
# manifest-level scan pruning (spec "Scan Planning"; VERDICT r13 #2)
# ---------------------------------------------------------------------------

P_ENTRY_SCHEMA = {
    "type": "record", "name": "manifest_entry", "fields": [
        {"name": "status", "type": "int"},
        {"name": "sequence_number", "type": ["null", "long"],
         "default": None},
        {"name": "data_file", "type": {
            "type": "record", "name": "r2", "fields": [
                {"name": "content", "type": "int"},
                {"name": "file_path", "type": "string"},
                {"name": "file_format", "type": "string"},
                {"name": "record_count", "type": "long"},
                {"name": "partition", "type": ["null", {
                    "type": "record", "name": "pt", "fields": [
                        {"name": "part", "type": ["null", "string"],
                         "default": None},
                    ]}], "default": None},
                {"name": "lower_bounds",
                 "type": ["null", {"type": "map", "values": "bytes"}],
                 "default": None},
                {"name": "upper_bounds",
                 "type": ["null", {"type": "map", "values": "bytes"}],
                 "default": None},
                {"name": "equality_ids",
                 "type": ["null", {"type": "array", "items": "int"}],
                 "default": None},
            ],
        }},
    ],
}

P_LIST_SCHEMA = {
    "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "content", "type": "int"},
        {"name": "sequence_number", "type": "long"},
        {"name": "partition_spec_id", "type": ["null", "int"],
         "default": None},
        {"name": "partitions", "type": ["null", {
            "type": "array", "items": {
                "type": "record", "name": "fsum", "fields": [
                    {"name": "contains_null", "type": "boolean"},
                    {"name": "lower_bound", "type": ["null", "bytes"],
                     "default": None},
                    {"name": "upper_bound", "type": ["null", "bytes"],
                     "default": None},
                ]}}], "default": None},
    ],
}


def _p_entry(fp, part=None, lo=None, hi=None, seq=1):
    return {
        "status": 1, "sequence_number": seq,
        "data_file": {
            "content": 0, "file_path": f"file://{fp}",
            "file_format": "PARQUET", "record_count": 2,
            "partition": {"part": part} if part is not None else None,
            "lower_bounds": lo, "upper_bounds": hi,
        },
    }


def _p_manifest(root, name, entries):
    p = os.path.join(root, "metadata", name)
    _ocf(p, entries, P_ENTRY_SCHEMA)
    return p


def _p_manifest_list(root, name, manifests):
    p = os.path.join(root, "metadata", name)
    _ocf(p, [
        {"manifest_path": f"file://{mp}",
         "manifest_length": os.path.getsize(mp),
         "content": 0, "sequence_number": seq,
         "partition_spec_id": 0, "partitions": summ}
        for (mp, seq, summ) in manifests
    ], P_LIST_SCHEMA)
    return p


def _p_metadata(root, ml, partitioned=True):
    """schema k(long,1) v(double,2) part(string,3); identity(part)."""
    meta = {
        "format-version": 2,
        "table-uuid": "00000000-0000-0000-0000-000000000001",
        "location": f"file://{root}",
        "current-schema-id": 0,
        "schemas": [{
            "schema-id": 0, "type": "struct", "fields": [
                {"id": 1, "name": "k", "required": True, "type": "long"},
                {"id": 2, "name": "v", "required": False,
                 "type": "double"},
                {"id": 3, "name": "part", "required": False,
                 "type": "string"},
            ],
        }],
        "default-spec-id": 0,
        "partition-specs": [{
            "spec-id": 0, "fields": ([
                {"name": "part", "transform": "identity",
                 "source-id": 3, "field-id": 1000},
            ] if partitioned else []),
        }],
        "current-snapshot-id": 1,
        "snapshots": [
            {"snapshot-id": 1, "timestamp-ms": 1_000,
             "manifest-list": f"file://{ml}"},
        ],
    }
    md = os.path.join(root, "metadata")
    os.makedirs(md, exist_ok=True)
    with open(os.path.join(md, "v1.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    with open(os.path.join(md, "version-hint.text"), "w") as fh:
        fh.write("1")


def test_iceberg_entry_pruning_partition_tuple(spark, tmp_path):
    """A filtered read of a NON-hive-layout partitioned table plans
    only the matching data files via each manifest entry's partition
    tuple — the out-of-range file never reaches the Spark scan
    (plan pin: plan_out['data_files'])."""
    from feature_store_api_spark.sources.iceberg_reader import read_iceberg

    root = str(tmp_path / "ice_prune")
    f1 = os.path.join(root, "data", "d1.parquet")  # flat layout
    f2 = os.path.join(root, "data", "d2.parquet")
    _pq({"k": [1, 2], "v": [1.0, 2.0], "part": ["a", "a"]}, f1)
    _pq({"k": [3, 4], "v": [3.0, 4.0], "part": ["b", "b"]}, f2)
    m1 = _p_manifest(root, "m1.avro", [
        _p_entry(f1, part="a"), _p_entry(f2, part="b")])
    ml = _p_manifest_list(root, "s1.avro", [(m1, 1, None)])
    _p_metadata(root, ml)

    plan = {}
    out = read_iceberg(
        spark, root, filters=("part", "==", "a"), plan_out=plan)
    assert plan["data_files"] == [f1]
    assert plan["data_files_pruned"] == 1
    assert sorted((r["k"], r["part"]) for r in out.collect()) == [
        (1, "a"), (2, "a")]

    # OR tree keeps both; AND with a column-bound pred composes
    plan2 = {}
    out2 = read_iceberg(
        spark, root,
        filters=("or", ("part", "==", "a"), ("part", "==", "b")),
        plan_out=plan2)
    assert plan2["data_files"] == [f1, f2]
    assert out2.count() == 4

    # IN / LIKE prune too
    plan3 = {}
    read_iceberg(
        spark, root, filters=("part", "in", ["b"]), plan_out=plan3)
    assert plan3["data_files"] == [f2]
    plan4 = {}
    read_iceberg(spark, root, filters=("part", "like", "a%"),
                 plan_out=plan4)
    assert plan4["data_files"] == [f1]


def test_iceberg_entry_pruning_column_bounds(spark, tmp_path):
    """Entries' per-column lower/upper bound stats (single-value
    binary serialization: little-endian longs) prune files even on an
    UNPARTITIONED table; the residual row filter keeps exactness at
    row granularity."""
    import struct

    from feature_store_api_spark.sources.iceberg_reader import read_iceberg

    root = str(tmp_path / "ice_bounds")
    f1 = os.path.join(root, "data", "d1.parquet")
    f2 = os.path.join(root, "data", "d2.parquet")
    _pq({"k": [1, 5], "v": [1.0, 5.0], "part": [None, None]}, f1)
    _pq({"k": [8, 15], "v": [8.0, 15.0], "part": [None, None]}, f2)

    def b(x):
        return struct.pack("<q", x)

    m1 = _p_manifest(root, "m1.avro", [
        _p_entry(f1, lo={"1": b(1)}, hi={"1": b(5)}),
        _p_entry(f2, lo={"1": b(8)}, hi={"1": b(15)}),
    ])
    ml = _p_manifest_list(root, "s1.avro", [(m1, 1, None)])
    _p_metadata(root, ml, partitioned=False)

    plan = {}
    out = read_iceberg(spark, root, filters=("k", ">", 9), plan_out=plan)
    assert plan["data_files"] == [f2]
    # residual filter drops k=8 even though its file survived pruning
    assert sorted(r["k"] for r in out.collect()) == [15]

    plan2 = {}
    read_iceberg(spark, root, filters=("k", "<=", 5), plan_out=plan2)
    assert plan2["data_files"] == [f1]
    plan3 = {}
    read_iceberg(spark, root, filters=("k", "==", 6), plan_out=plan3)
    assert plan3["data_files"] == []


def test_iceberg_manifest_list_summary_pruning(spark, tmp_path):
    """Manifest-list partition field summaries skip whole manifests:
    the pruned manifest avro is DELETED from disk before the read —
    opening it would throw, so passing proves it was never opened."""
    from feature_store_api_spark.sources.iceberg_reader import read_iceberg

    root = str(tmp_path / "ice_mfsum")
    f1 = os.path.join(root, "data", "d1.parquet")
    f2 = os.path.join(root, "data", "d2.parquet")
    _pq({"k": [1], "v": [1.0], "part": ["a"]}, f1)
    _pq({"k": [2], "v": [2.0], "part": ["b"]}, f2)
    m1 = _p_manifest(root, "m1.avro", [_p_entry(f1, part="a")])
    m2 = _p_manifest(root, "m2.avro", [_p_entry(f2, part="b")])
    ml = _p_manifest_list(root, "s1.avro", [
        (m1, 1, [{"contains_null": False, "lower_bound": b"a",
                  "upper_bound": b"a"}]),
        (m2, 2, [{"contains_null": False, "lower_bound": b"b",
                  "upper_bound": b"b"}]),
    ])
    _p_metadata(root, ml)

    os.remove(m2)  # the pin: a non-pruned plan would open this
    plan = {}
    out = read_iceberg(
        spark, root, filters=("part", "==", "a"), plan_out=plan)
    assert plan["manifests_skipped"] == 1
    assert plan["data_files"] == [f1]
    assert [(r["k"], r["part"]) for r in out.collect()] == [(1, "a")]


def test_iceberg_transform_pruning_day_and_truncate(spark, tmp_path):
    """Order-preserving transforms prune in partition space: day(ts)
    ordinals and truncate[1](part) prefixes both drop files; bucket
    (not order-preserving) never prunes."""
    from feature_store_api_spark.constructor.filter import normalize_filters
    from feature_store_api_spark.sources.iceberg_prune import ScanPruner

    meta = {
        "current-schema-id": 0,
        "schemas": [{
            "schema-id": 0, "fields": [
                {"id": 1, "name": "ts", "type": "timestamp"},
                {"id": 2, "name": "part", "type": "string"},
                {"id": 3, "name": "k", "type": "long"},
            ]}],
        "default-spec-id": 0,
        "partition-specs": [{
            "spec-id": 0, "fields": [
                {"name": "ts_day", "transform": "day", "source-id": 1,
                 "field-id": 1000},
                {"name": "part_trunc", "transform": "truncate[1]",
                 "source-id": 2, "field-id": 1001},
                {"name": "k_bucket", "transform": "bucket[16]",
                 "source-id": 3, "field-id": 1002},
            ]}],
    }
    day0 = 20_000  # 2024-10-04
    ent = {"content": 0, "partition": {
        "ts_day": day0, "part_trunc": "a", "k_bucket": 7}}

    def keep(flt):
        return ScanPruner(meta, normalize_filters(flt)).keep_entry(ent, 0)

    from datetime import datetime, timedelta
    d = datetime(1970, 1, 1) + timedelta(days=day0)
    assert keep(("ts", "==", d.isoformat()))
    assert not keep(("ts", "==", (d + timedelta(days=3)).isoformat()))
    assert keep(("ts", ">", (d - timedelta(days=1)).isoformat()))
    assert not keep(("ts", ">", (d + timedelta(days=1)).isoformat()))
    assert keep(("part", "==", "abc"))
    assert not keep(("part", "==", "bcd"))
    assert keep(("part", "<=", "a"))
    # strict < at the exact prefix boundary is kept CONSERVATIVELY
    # (transforms compare with the closed relaxation); the residual
    # row filter settles it
    assert keep(("part", "<", "a"))
    assert not keep(("part", "<", "a"[:0] + "A"))  # below the range
    # bucket never prunes
    assert keep(("k", "==", 123456))
    # null partition value: no comparison matches
    ent_null = {"content": 0, "partition": {
        "ts_day": None, "part_trunc": "a", "k_bucket": 1}}
    assert not ScanPruner(
        meta, normalize_filters(("ts", ">", "2020-01-01"))
    ).keep_entry(ent_null, 0)


def test_remap_tree_weakening_and_coercion():
    """remap_tree binds sanitized names to physical columns and weakens
    conservatively (AND keeps the other side, OR drops the branch);
    _range_may_match never truncates numeric-string values (r14 review:
    int('3.5') would wrongly prune the boundary file)."""
    from feature_store_api_spark.constructor.filter import (
        normalize_filters,
        remap_tree,
    )
    from feature_store_api_spark.sources.iceberg_prune import (
        _range_may_match,
    )

    cols = ["Doc ID", "price", "A B", "a_b"]
    t = normalize_filters(("doc_id", "==", 1))
    assert remap_tree(t, cols) == ("leaf", "Doc ID", "EQUALS", 1)
    # exact physical name wins untouched
    t = normalize_filters(("price", ">", 2))
    assert remap_tree(t, cols) == ("leaf", "price", "GREATER_THAN", 2)
    # ambiguous sanitized twin ('A B' and 'a_b' both -> a_b): hmm —
    # exact match 'a_b' resolves first, so only the non-exact case is
    # ambiguous
    t = normalize_filters(("a_b", "==", 1))
    assert remap_tree(t, cols) == ("leaf", "a_b", "EQUALS", 1)
    # unresolvable leaf: AND keeps the other side
    t = normalize_filters([("price", ">", 2), ("ghost", "==", 1)])
    assert remap_tree(t, cols) == ("leaf", "price", "GREATER_THAN", 2)
    # unresolvable in an OR drops the whole branch
    t = normalize_filters(("or", ("price", ">", 2), ("ghost", "==", 1)))
    assert remap_tree(t, cols) is None

    # numeric-string boundary: file [3, 7], pred < '3.5' MUST keep it
    assert _range_may_match("LESS_THAN", "3.5", 3, 7)
    assert not _range_may_match("LESS_THAN", "3.0", 3, 7)


def test_iceberg_prune_timestamptz_naive_value_keeps_file():
    """A NAIVE datetime/string compared against a timestamptz column is
    session-timezone-dependent: the pruner must keep the file (Spark's
    residual filter decides); a tz-AWARE value still prunes."""
    from datetime import datetime, timezone

    from feature_store_api_spark.constructor.filter import normalize_filters
    from feature_store_api_spark.sources.iceberg_prune import ScanPruner

    meta = {
        "current-schema-id": 0,
        "schemas": [{"schema-id": 0, "fields": [
            {"id": 1, "name": "ts", "type": "timestamptz"}]}],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": [
            {"name": "ts", "transform": "identity", "source-id": 1,
             "field-id": 1000}]}],
    }
    ent = {"content": 0,
           "partition": {"ts": datetime(2024, 1, 1, 12)}}

    def keep(v):
        return ScanPruner(
            meta, normalize_filters(("ts", "==", v))
        ).keep_entry(ent, 0)

    # naive mismatch would prune under UTC assumption — must KEEP
    assert keep(datetime(2024, 6, 1))
    assert keep("2024-06-01T00:00:00")
    # tz-aware value: exact, prunes
    assert not keep(datetime(2024, 6, 1, tzinfo=timezone.utc))
    assert keep(datetime(2024, 1, 1, 12, tzinfo=timezone.utc))


def test_iceberg_delete_file_pruning_partition_scoped(spark, tmp_path):
    """DELETE files prune on PARTITION operands only: a position-delete
    file in a pruned partition is dead weight and drops (pinned by
    counter + physical deletion), while a delete file in the KEPT
    partition survives even when its column bounds lie outside the
    predicate — bounds describe the deleted rows and must never prune
    deletes."""
    import struct

    from feature_store_api_spark.sources.iceberg_reader import read_iceberg

    root = str(tmp_path / "ice_del_prune")
    fa = os.path.join(root, "data", "da.parquet")
    fb = os.path.join(root, "data", "db.parquet")
    _pq({"k": [1, 2], "v": [1.0, 2.0], "part": ["a", "a"]}, fa)
    _pq({"k": [3, 4], "v": [3.0, 4.0], "part": ["b", "b"]}, fb)
    # position deletes: kill k=1 (ordinal 0) in partition a, k=3 in b
    pda = os.path.join(root, "data", "del_a.parquet")
    pdb = os.path.join(root, "data", "del_b.parquet")
    _pq({"file_path": [f"file://{fa}"], "pos": [0]}, pda)
    _pq({"file_path": [f"file://{fb}"], "pos": [0]}, pdb)

    def e(fp, part, content=0, seq=1, lo=None, hi=None):
        ent = _p_entry(fp, part=part, lo=lo, hi=hi, seq=seq)
        ent["data_file"]["content"] = content
        return ent

    def b(x):
        return struct.pack("<q", x)

    m = _p_manifest(root, "m1.avro", [
        e(fa, "a"), e(fb, "b"),
        # delete in partition a carries k-bounds WAY outside the
        # k-predicate below — must still be kept (partition_only)
        e(pda, "a", content=1, seq=2, lo={"1": b(999)}, hi={"1": b(999)}),
        e(pdb, "b", content=1, seq=2),
    ])
    ml = _p_manifest_list(root, "s1.avro", [(m, 1, None)])
    _p_metadata(root, ml)
    os.remove(pdb)  # physical pin: the pruned delete is never read

    plan = {}
    out = read_iceberg(
        spark, root,
        filters=("and", ("part", "==", "a"), ("k", "<", 10)),
        plan_out=plan,
    )
    assert plan["delete_files_pruned"] == 1
    assert plan["data_files_pruned"] == 1
    # k=1 deleted by the KEPT delete file; k=2 survives
    assert sorted((r["k"], r["part"]) for r in out.collect()) == [(2, "a")]


def test_iceberg_pruned_scan_residual_reaches_pushed_filters(spark, tmp_path):
    """Plan quality: after manifest-level file pruning, the residual
    row predicate still lands in the parquet scan's PushedFilters —
    file pruning and Catalyst pushdown COMPOSE, the residual is not a
    post-scan Python-side filter."""
    import struct

    from feature_store_api_spark.sources.iceberg_reader import read_iceberg

    root = str(tmp_path / "ice_plan")
    f1 = os.path.join(root, "data", "d1.parquet")
    f2 = os.path.join(root, "data", "d2.parquet")
    _pq({"k": [1, 5], "v": [1.0, 5.0], "part": [None, None]}, f1)
    _pq({"k": [8, 15], "v": [8.0, 15.0], "part": [None, None]}, f2)

    def b(x):
        return struct.pack("<q", x)

    m1 = _p_manifest(root, "m1.avro", [
        _p_entry(f1, lo={"1": b(1)}, hi={"1": b(5)}),
        _p_entry(f2, lo={"1": b(8)}, hi={"1": b(15)}),
    ])
    ml = _p_manifest_list(root, "s1.avro", [(m1, 1, None)])
    _p_metadata(root, ml, partitioned=False)

    out = read_iceberg(spark, root, filters=("k", ">", 9))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "GreaterThan(k,9)" in plan


def test_iceberg_prune_nan_bound_or_value_keeps_file(spark, tmp_path):
    """NaN is unsound to prune on in either position (r15 advice):
    legacy Java writers wrote NaN into float upper_bounds before
    contains_nan existed — GT/GE against such a bound must keep the
    file; and a NaN filter value must not prune anything (Spark orders
    NaN greatest, so ``col < NaN`` matches every non-NaN row). Both
    sides are treated as undecodable so the row residual decides."""
    import struct

    from feature_store_api_spark.sources.iceberg_prune import (
        _range_may_match,
    )
    from feature_store_api_spark.sources.iceberg_reader import read_iceberg

    nan = float("nan")
    # NaN bound: every op keeps
    assert _range_may_match("GREATER_THAN", 5.0, 1.0, nan)
    assert _range_may_match("GREATER_THAN_OR_EQUAL", 5.0, 1.0, nan)
    assert _range_may_match("LESS_THAN", 5.0, nan, 9.0)
    assert _range_may_match("EQUALS", 5.0, nan, nan)
    # NaN value: keeps (residual settles it)
    assert _range_may_match("LESS_THAN", nan, 1.0, 9.0)
    assert _range_may_match("LESS_THAN_OR_EQUAL", nan, 1.0, 9.0)
    assert _range_may_match("EQUALS", nan, 1.0, 9.0)
    # numeric-string 'nan' parses to NaN — same keep rule
    assert _range_may_match("LESS_THAN", "nan", 1.0, 9.0)
    # sane bounds still prune
    assert not _range_may_match("GREATER_THAN", 9.0, 1.0, 5.0)

    # end-to-end: a file whose double upper bound decodes to NaN
    # survives a > filter (and its rows flow through the residual)
    root = str(tmp_path / "ice_nan")
    f1 = os.path.join(root, "data", "d1.parquet")
    _pq({"k": [1, 2], "v": [1.0, 2.0], "part": [None, None]}, f1)

    def d(x):
        return struct.pack("<d", x)

    m1 = _p_manifest(root, "m1.avro", [
        _p_entry(f1, lo={"2": d(1.0)}, hi={"2": d(float("nan"))}),
    ])
    ml = _p_manifest_list(root, "s1.avro", [(m1, 1, None)])
    _p_metadata(root, ml, partitioned=False)
    out = read_iceberg(spark, root, filters=("v", ">", 100.0))
    assert out.count() == 0  # kept the FILE; residual dropped the rows


def test_readers_read_iceberg_total_bind_loss_raises(spark, tmp_path):
    """Direct-caller contract parity (r15 advice): readers.read with
    fmt='iceberg' must raise on TOTAL filter bind loss like every
    sibling format, never return a silently unfiltered superset. The
    compiler/backend hint path still weakens (read_iceberg itself)."""
    import struct

    import pytest as _pytest

    from feature_store_api_spark.sources.iceberg_reader import read_iceberg
    from feature_store_api_spark.sources.readers import read

    root = str(tmp_path / "ice_loss")
    f1 = os.path.join(root, "data", "d1.parquet")
    _pq({"k": [1, 2], "v": [1.0, 2.0], "part": [None, None]}, f1)

    def b(x):
        return struct.pack("<q", x)

    m1 = _p_manifest(root, "m1.avro", [
        _p_entry(f1, lo={"1": b(1)}, hi={"1": b(2)}),
    ])
    ml = _p_manifest_list(root, "s1.avro", [(m1, 1, None)])
    _p_metadata(root, ml, partitioned=False)

    with _pytest.raises(ValueError, match="no resolvable column"):
        read(spark, "iceberg", root, filters=("ghost", "==", 1))
    # partial loss still weakens + re-applies the bound part
    got = read(
        spark, "iceberg", root,
        filters=[("k", ">", 1), ("ghost", "==", 1)],
    )
    assert [r.k for r in got.collect()] == [2]
    # the hint-path entry point keeps the silent-weaken contract
    assert read_iceberg(
        spark, root, filters=("ghost", "==", 1)
    ).count() == 2


def test_iceberg_backend_writes_column_bounds_and_summaries(spark, tmp_path):
    """The managed ICEBERG backend stamps per-column lower/upper bound
    stats (spec Appendix D single-value serialization, data_file fields
    125/128) into its manifest entries and per-partition-field
    summaries (fields 507-511) into the manifest list — so a
    value-predicate read of a MANAGED table prunes at entry level and a
    partition-predicate read prunes whole manifests. Both pins are
    physical: the pruned data file (and the pruned manifest avro) are
    DELETED from disk before the filtered read — an unpruned plan
    would have to open them and die."""
    import os as _os

    from feature_store_api_spark import FeatureStore
    from feature_store_api_spark.sources.avro_container import (
        read_ocf_bytes,
    )
    from feature_store_api_spark.sources.iceberg_reader import (
        read_iceberg, _read_table_metadata,
    )

    fs = FeatureStore(root=str(tmp_path))
    fg = fs.create_feature_group(
        "bounds_fg", primary_key=["k"], event_time="ts",
        time_travel_format="ICEBERG", auto_compact_every=None,
    )
    fg.insert(spark.createDataFrame(
        [(1, 10, 1.0, "a"), (2, 10, 2.0, "a")],
        "k long, ts long, v double, tag string"))
    fg.insert(spark.createDataFrame(
        [(100, 20, 100.0, "z"), (101, 20, 101.0, "z")],
        "k long, ts long, v double, tag string"))
    loc = fg.location

    # the written manifests carry the stat maps (kv-record arrays)
    meta = _read_table_metadata(loc)
    snaps = meta["snapshots"]
    ml_path = _os.path.join(loc, snaps[-1]["manifest-list"])
    with open(ml_path, "rb") as fh:
        _s, mf_rows = read_ocf_bytes(fh.read())
    assert all(r.get("partitions") for r in mf_rows)  # summaries present
    m2_path = _os.path.join(loc, mf_rows[-1]["manifest_path"])
    with open(m2_path, "rb") as fh:
        _s, entries = read_ocf_bytes(fh.read())
    # empty task outputs are never committed
    assert entries and all(
        e["data_file"]["record_count"] > 0 for e in entries
    )
    schema_fields = {
        f["name"]: int(f["id"]) for f in meta["schemas"][-1]["fields"]
    }
    import struct as _struct
    kid = schema_fields["k"]
    vid = schema_fields["v"]
    tid = schema_fields["tag"]

    def stat(rec, field, fid):
        m = {kv["key"]: kv["value"] for kv in rec[field] or []}
        return m.get(fid)

    k_lo = min(
        _struct.unpack("<q", bytes(stat(e["data_file"], "lower_bounds", kid)))[0]
        for e in entries
    )
    k_hi = max(
        _struct.unpack("<q", bytes(stat(e["data_file"], "upper_bounds", kid)))[0]
        for e in entries
    )
    assert (k_lo, k_hi) == (100, 101)
    v_lo = min(
        _struct.unpack("<d", bytes(stat(e["data_file"], "lower_bounds", vid)))[0]
        for e in entries
    )
    assert v_lo == 100.0
    assert all(
        bytes(stat(e["data_file"], "lower_bounds", tid)) == b"z"
        for e in entries
    )
    assert sum(
        stat(e["data_file"], "value_counts", kid) for e in entries
    ) == 2
    assert all(
        stat(e["data_file"], "null_value_counts", kid) == 0
        for e in entries
    )

    # entry-level pin: delete ALL commit-2 data files; a bounds-pruned
    # read of k < 50 never opens them
    for e in entries:
        p = e["data_file"]["file_path"]
        _os.remove(p if _os.path.isabs(p) else _os.path.join(loc, p))
    plan = {}
    got = read_iceberg(spark, loc, filters=("k", "<", 50), plan_out=plan)
    assert plan["data_files_pruned"] >= 1
    assert sorted(r["k"] for r in got.collect()) == [1, 2]


def test_iceberg_backend_partitioned_summary_manifest_prune(spark, tmp_path):
    """Manifest-LIST level pin for managed writes: two commits into
    different user partitions produce two manifests whose partition
    summaries carry the partition bounds — a read filtered to one
    partition skips the other manifest WITHOUT OPENING it (the pruned
    manifest avro is deleted from disk first)."""
    import os as _os

    from feature_store_api_spark import FeatureStore
    from feature_store_api_spark.sources.avro_container import (
        read_ocf_bytes,
    )
    from feature_store_api_spark.sources.iceberg_reader import (
        read_iceberg, _read_table_metadata,
    )

    fs = FeatureStore(root=str(tmp_path))
    fg = fs.create_feature_group(
        "summ_fg", primary_key=["k"], event_time="ts",
        partition_key=["region"],
        time_travel_format="ICEBERG", auto_compact_every=None,
    )
    fg.insert(spark.createDataFrame(
        [(1, 10, "aa"), (2, 10, "aa")], "k long, ts long, region string"))
    fg.insert(spark.createDataFrame(
        [(3, 20, "zz"), (4, 20, "zz")], "k long, ts long, region string"))
    loc = fg.location

    meta = _read_table_metadata(loc)
    ml_path = _os.path.join(loc, meta["snapshots"][-1]["manifest-list"])
    with open(ml_path, "rb") as fh:
        _s, mf_rows = read_ocf_bytes(fh.read())
    assert len(mf_rows) == 2
    # find which manifest holds region=zz via its summaries (the
    # region spec field is the second summary: _commit_time first)
    spec_fields = meta["partition-specs"][0]["fields"]
    ridx = [f["name"] for f in spec_fields].index("region")
    zz = next(
        r for r in mf_rows
        if bytes(r["partitions"][ridx]["lower_bound"]) == b"zz"
    )
    m_zz = _os.path.join(loc, zz["manifest_path"])
    _os.remove(m_zz)  # the pin: an unpruned plan must open this
    got = read_iceberg(spark, loc, filters=("region", "==", "aa"))
    assert sorted(r["k"] for r in got.collect()) == [1, 2]


def test_iceberg_many_manifest_planning_parallel_path(spark, tmp_path):
    """A snapshot whose manifest list carries >8 manifests plans
    through the threaded decode path (scale follow-on: manifest
    open/decode is the driver-side planning cost on many-manifest
    tables) and produces exactly the same file set, pruning and rows
    as the sequential path."""
    import struct

    from feature_store_api_spark.sources.iceberg_reader import read_iceberg

    root = str(tmp_path / "ice_many")

    def b(x):
        return struct.pack("<q", x)

    mfs = []
    n = 12
    for i in range(n):
        fp = os.path.join(root, "data", f"d{i}.parquet")
        _pq({"k": [i * 10, i * 10 + 5], "v": [float(i), float(i) + 0.5],
             "part": [None, None]}, fp)
        m = _p_manifest(root, f"m{i}.avro", [
            _p_entry(fp, lo={"1": b(i * 10)}, hi={"1": b(i * 10 + 5)}),
        ])
        mfs.append((m, 1, None))
    ml = _p_manifest_list(root, "s1.avro", mfs)
    _p_metadata(root, ml, partitioned=False)

    out = read_iceberg(spark, root)
    assert out.count() == 2 * n
    assert sorted(r["k"] for r in out.collect())[:4] == [0, 5, 10, 15]

    # entry bounds still prune through the threaded path
    plan = {}
    got = read_iceberg(spark, root, filters=("k", ">=", 100), plan_out=plan)
    assert plan["data_files_pruned"] == 10
    assert sorted(r["k"] for r in got.collect()) == [100, 105, 110, 115]
