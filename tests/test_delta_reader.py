"""Jarless Delta reader: protocol-conformant logs built by hand
(delta.io PROTOCOL.md — no delta jars exist in this environment, so
the fixtures ARE the spec: JSON actions, checkpoint parquet,
partitionValues re-attachment, commitInfo timestamps)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import *  # noqa: F401,F403 - spark fixture

SCHEMA_JSON = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True, "metadata": {}},
            {"name": "v", "type": "double", "nullable": True, "metadata": {}},
            {"name": "lang", "type": "string", "nullable": True, "metadata": {}},
        ],
    }
)


def _write_parquet(spark, rows, schema, path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(rows), path)


def _commit(log_dir, version, actions, ts):
    os.makedirs(log_dir, exist_ok=True)
    actions = [{"commitInfo": {"timestamp": ts}}] + actions
    with open(os.path.join(log_dir, f"{version:020d}.json"), "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")


def _meta(partition_cols=()):
    return {
        "metaData": {
            "id": "t",
            "schemaString": SCHEMA_JSON,
            "partitionColumns": list(partition_cols),
            "format": {"provider": "parquet"},
        }
    }


def _build_unpartitioned(spark, root):
    log = os.path.join(root, "_delta_log")
    _write_parquet(
        spark, {"k": [1, 2], "v": [1.0, 2.0], "lang": ["en", "de"]}, None,
        os.path.join(root, "part-0.parquet"),
    )
    _write_parquet(
        spark, {"k": [3], "v": [3.0], "lang": ["fr"]}, None,
        os.path.join(root, "part-1.parquet"),
    )
    _write_parquet(
        spark, {"k": [1, 2, 3], "v": [10.0, 20.0, 3.0], "lang": ["en", "de", "fr"]},
        None, os.path.join(root, "part-2.parquet"),
    )
    _commit(log, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        _meta(),
        {"add": {"path": "part-0.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
    ], ts=1_000)
    _commit(log, 1, [
        {"add": {"path": "part-1.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
    ], ts=2_000)
    # v2 = compaction: both old files removed, one rewritten file added
    _commit(log, 2, [
        {"remove": {"path": "part-0.parquet", "dataChange": False}},
        {"remove": {"path": "part-1.parquet", "dataChange": False}},
        {"add": {"path": "part-2.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 0, "dataChange": False}},
    ], ts=3_000)


def test_delta_snapshot_and_time_travel(spark, tmp_path):
    from feature_store_api_spark.sources.delta_reader import read_delta

    root = str(tmp_path / "tbl")
    _build_unpartitioned(spark, root)

    def rows(df):
        return sorted((r["k"], r["v"], r["lang"]) for r in df.collect())

    assert rows(read_delta(spark, root, version=0)) == [
        (1, 1.0, "en"), (2, 2.0, "de")]
    assert rows(read_delta(spark, root, version=1)) == [
        (1, 1.0, "en"), (2, 2.0, "de"), (3, 3.0, "fr")]
    head = read_delta(spark, root)  # HEAD = post-compaction rewrite
    assert rows(head) == [(1, 10.0, "en"), (2, 20.0, "de"), (3, 3.0, "fr")]
    assert [f.name for f in head.schema.fields] == ["k", "v", "lang"]

    # timestampAsOf: latest commit at-or-before
    assert rows(read_delta(spark, root, timestamp=2_500)) == rows(
        read_delta(spark, root, version=1))
    assert rows(read_delta(spark, root, timestamp=1_000)) == rows(
        read_delta(spark, root, version=0))
    with pytest.raises(ValueError):
        read_delta(spark, root, timestamp=500)
    with pytest.raises(ValueError):
        read_delta(spark, root, version=9)

    # generic reader dispatch (external-FG data_format="delta")
    from feature_store_api_spark.sources.readers import read as read_files

    assert rows(read_files(spark, "delta", root,
                           options={"versionAsOf": 1})) == rows(
        read_delta(spark, root, version=1))


def test_delta_partition_values_reattached(spark, tmp_path):
    """Partition columns live in add.partitionValues (NOT in the data
    files) and must come back typed through the table schema."""
    from feature_store_api_spark.sources.delta_reader import read_delta

    root = str(tmp_path / "ptbl")
    log = os.path.join(root, "_delta_log")
    _write_parquet(spark, {"k": [1], "v": [1.5]}, None,
                   os.path.join(root, "lang=en/p0.parquet"))
    _write_parquet(spark, {"k": [2], "v": [2.5]}, None,
                   os.path.join(root, "lang=de/p1.parquet"))
    _commit(log, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        _meta(partition_cols=["lang"]),
        {"add": {"path": "lang=en/p0.parquet",
                 "partitionValues": {"lang": "en"},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
        {"add": {"path": "lang=de/p1.parquet",
                 "partitionValues": {"lang": "de"},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
    ], ts=1_000)
    df = read_delta(spark, root)
    assert dict((r["k"], (r["v"], r["lang"])) for r in df.collect()) == {
        1: (1.5, "en"), 2: (2.5, "de")}
    assert df.schema["lang"].dataType.typeName() == "string"


def test_delta_checkpoint_replay(spark, tmp_path):
    """A checkpoint parquet + _last_checkpoint replaces versions <= cp;
    only the tail JSON replays after it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from feature_store_api_spark.sources.delta_reader import read_delta

    root = str(tmp_path / "ctbl")
    _build_unpartitioned(spark, root)
    log = os.path.join(root, "_delta_log")
    # checkpoint at v1: state = metaData + the two live adds
    add_t = pa.array(
        [None,
         {"path": "part-0.parquet", "partitionValues": {}},
         {"path": "part-1.parquet", "partitionValues": {}}],
        type=pa.struct([
            ("path", pa.string()),
            ("partitionValues", pa.map_(pa.string(), pa.string())),
        ]),
    )
    md_t = pa.array(
        [{"schemaString": SCHEMA_JSON, "partitionColumns": []}, None, None],
        type=pa.struct([
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
        ]),
    )
    pq.write_table(
        pa.table({"metaData": md_t, "add": add_t}),
        os.path.join(log, f"{1:020d}.checkpoint.parquet"),
    )
    with open(os.path.join(log, "_last_checkpoint"), "w") as fh:
        json.dump({"version": 1, "size": 3}, fh)
    # delete the pre-checkpoint json to PROVE replay starts at the cp
    os.remove(os.path.join(log, f"{0:020d}.json"))

    def rows(df):
        return sorted((r["k"], r["v"], r["lang"]) for r in df.collect())

    assert rows(read_delta(spark, root, version=1)) == [
        (1, 1.0, "en"), (2, 2.0, "de"), (3, 3.0, "fr")]
    assert rows(read_delta(spark, root)) == [
        (1, 10.0, "en"), (2, 20.0, "de"), (3, 3.0, "fr")]


def test_delta_protocol_gate(spark, tmp_path):
    from feature_store_api_spark.sources.delta_reader import read_delta

    root = str(tmp_path / "v3tbl")
    log = os.path.join(root, "_delta_log")
    _commit(log, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7}},
        _meta(),
    ], ts=1_000)
    # malformed v3 (no readerFeatures declared) gates loudly
    with pytest.raises(NotImplementedError):
        read_delta(spark, root)

    root = str(tmp_path / "v4tbl")
    log = os.path.join(root, "_delta_log")
    _commit(log, 0, [
        {"protocol": {"minReaderVersion": 4, "minWriterVersion": 7,
                      "readerFeatures": ["futureFeature"]}},
        _meta(),
    ], ts=1_000)
    # an unknown feature / protocol above v3 stays a loud gate
    with pytest.raises(NotImplementedError, match="futureFeature"):
        read_delta(spark, root)


def test_delta_type_widening_reads_narrow_files(spark, tmp_path):
    """typeWidening tables read correctly: files written BEFORE the
    type change keep the narrower physical type (int32/float) and the
    scan upcasts them to the declared wide schema per file — the
    feature is no longer gated because the reader always passes the
    declared logical schema to the parquet scan."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from feature_store_api_spark.sources.delta_reader import read_delta

    root = str(tmp_path / "twtbl")
    log = os.path.join(root, "_delta_log")
    os.makedirs(root, exist_ok=True)
    pq.write_table(pa.table({
        "k": pa.array([1, 2], type=pa.int32()),
        "v": pa.array([1.5, 2.5], type=pa.float32()),
    }), os.path.join(root, "narrow.parquet"))
    pq.write_table(pa.table({
        "k": pa.array([3], type=pa.int64()),
        "v": pa.array([3.5], type=pa.float64()),
    }), os.path.join(root, "wide.parquet"))
    schema = json.dumps({
        "type": "struct", "fields": [
            {"name": "k", "type": "long", "nullable": True,
             "metadata": {}},
            {"name": "v", "type": "double", "nullable": True,
             "metadata": {}},
        ]})
    _commit(log, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["typeWidening"],
                      "writerFeatures": ["typeWidening"]}},
        {"metaData": {"id": "t", "schemaString": schema,
                      "partitionColumns": [],
                      "format": {"provider": "parquet"}}},
        {"add": {"path": "narrow.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 1, "dataChange": True}},
        {"add": {"path": "wide.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 1, "dataChange": True}},
    ], ts=1_000)
    df = read_delta(spark, root)
    assert df.schema.simpleString() == "struct<k:bigint,v:double>"
    got = sorted((r["k"], r["v"]) for r in df.collect())
    assert got == [(1, 1.5), (2, 2.5), (3, 3.5)]


def test_delta_backend_fg_parity_and_external_readability(spark, tmp_path):
    """A feature group with time_travel_format='DELTA' behaves
    IDENTICALLY to the default COMMITLOG backend across insert / upsert
    / delete / as_of / incremental / vacuum — and its storage is a
    protocol-conformant Delta table an external client (here: our
    jarless reader, structurally the same contract delta-rs implements)
    can open directly."""
    import json as _json

    from feature_store_api_spark import FeatureStore
    from feature_store_api_spark.sources.delta_reader import read_delta

    fs = FeatureStore(root=str(tmp_path))
    twin = {}
    for fmt in ("COMMITLOG", "DELTA"):
        fg = fs.create_feature_group(
            f"dl_{fmt.lower()}", primary_key=["k"], event_time="ts",
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
    dl, c1dl = twin["DELTA"]
    assert rows(dl.read(spark)) == rows(cl.read(spark))
    assert rows(dl.as_of(c1dl).read(spark)) == rows(cl.as_of(c1cl).read(spark))
    import time as _time

    now_ms = int(_time.time() * 1000) + 10_000
    inc_cl = cl.select_all().pull_changes(c1cl + 1, now_ms).read(spark)
    inc_dl = dl.select_all().pull_changes(c1dl + 1, now_ms).read(spark)
    assert sorted(r["k"] for r in inc_dl.collect()) == sorted(
        r["k"] for r in inc_cl.collect())

    # external readability: raw Delta snapshot = all commit rows with
    # the commit-time partition column, log is valid newline-JSON
    loc = dl.location
    raw = read_delta(spark, loc)
    assert raw.count() == 6  # 3 + 2 + 1 delete marker
    assert "_commit_time" in raw.columns and "_op" in raw.columns
    log_dir = os.path.join(loc, "_delta_log")
    logs = sorted(n for n in os.listdir(log_dir) if n.endswith(".json"))
    assert len(logs) == 3
    with open(os.path.join(log_dir, logs[0])) as fh:
        actions = [_json.loads(l) for l in fh if l.strip()]
    kinds = [next(iter(a)) for a in actions]
    assert kinds[0] == "commitInfo" and "protocol" in kinds and "metaData" in kinds
    adds = [a["add"] for a in actions if "add" in a]
    assert adds and all(
        os.path.exists(os.path.join(loc, a["path"])) for a in adds)
    assert all("_commit_time" in a["partitionValues"] for a in adds)

    # schema evolution: a new column appends an updated metaData and
    # old files read back NULL-filled
    from pyspark.sql import types as T

    from feature_store_api_spark.feature import Feature

    dl.append_features([Feature("extra", T.StringType())])
    dl.insert(spark.createDataFrame(
        [(5, 40, 5.0, "x")], "k long, ts long, v double, extra string"))
    got = {r["k"]: r["extra"] for r in dl.read(spark).collect()}
    assert got[5] == "x" and got[1] is None

    # vacuum: superseded commits become Delta remove actions + deleted
    # files; the live snapshot is unchanged
    before = rows(dl.read(spark).select("k", "ts", "v"))
    dl.commit_store.compact(spark)
    dl.commit_store.vacuum(retain_hours=0.0)
    assert rows(dl.read(spark).select("k", "ts", "v")) == before
    head = sorted(
        int(n[:-5]) for n in os.listdir(log_dir) if n.endswith(".json"))[-1]
    with open(os.path.join(log_dir, f"{head:020d}.json")) as fh:
        tail_actions = [_json.loads(l) for l in fh if l.strip()]
    assert any("remove" in a for a in tail_actions)


def test_streaming_insert_into_delta_fg(spark, tmp_path):
    """insert_stream into a time_travel_format='DELTA' group: each
    micro-batch lands as one Delta commit; replays dedupe; the table
    stays externally readable."""
    from feature_store_api_spark import FeatureStore
    from feature_store_api_spark.sources.delta_reader import read_delta
    from feature_store_api_spark.streaming.insert_stream import insert_stream

    fs = FeatureStore(root=str(tmp_path / "fs"))
    fg = fs.create_feature_group(
        "sdelta", primary_key=["pk"], event_time="ts",
        time_travel_format="DELTA", auto_compact_every=None,
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
    log_dir = os.path.join(fg.location, "_delta_log")
    assert sorted(os.listdir(log_dir))  # real delta log exists
    assert read_delta(spark, fg.location).count() == 2


def test_external_fg_over_delta_table(spark, tmp_path):
    """An ExternalFeatureGroup with data_format='delta' reads an
    existing Delta table through the connector path (the
    'switch your lakehouse table into the feature store' story)."""
    from feature_store_api_spark import FeatureStore
    from feature_store_api_spark.sources.connectors import StorageConnector

    root = str(tmp_path / "tbl")
    _build_unpartitioned(spark, root)
    fs = FeatureStore(root=str(tmp_path / "store"))
    conn = StorageConnector("lake")
    fs.register_storage_connector(conn)
    ext = fs.create_external_feature_group(
        "ext_delta", conn, path=root, data_format="delta",
        primary_key=["k"],
    )
    got = sorted((r["k"], r["v"]) for r in ext.read(spark).collect())
    assert got == [(1, 10.0), (2, 20.0), (3, 3.0)]
    assert [f.name for f in ext.features] == ["k", "v", "lang"]
    # query surface composes on top
    assert ext.select(["k", "v"]).filter(ext.v > 5.0).read(spark).count() == 2


def test_delta_checkpoint_nonempty_partition_values(spark, tmp_path):
    """pyarrow renders a checkpoint's MAP<string,string> partitionValues
    as a LIST of (k, v) tuples — the replay must normalize it (real
    writers checkpoint every 10 commits, so every partitioned table
    with a checkpoint hits this)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from feature_store_api_spark.sources.delta_reader import read_delta

    root = str(tmp_path / "cptbl")
    log = os.path.join(root, "_delta_log")
    _write_parquet(spark, {"k": [1], "v": [1.5]}, None,
                   os.path.join(root, "lang=en/p0.parquet"))
    _write_parquet(spark, {"k": [2], "v": [2.5]}, None,
                   os.path.join(root, "lang=de/p1.parquet"))
    _commit(log, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        _meta(partition_cols=["lang"]),
        {"add": {"path": "lang=en/p0.parquet",
                 "partitionValues": {"lang": "en"},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
    ], ts=1_000)
    _commit(log, 1, [
        {"add": {"path": "lang=de/p1.parquet",
                 "partitionValues": {"lang": "de"},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
    ], ts=2_000)
    add_t = pa.array(
        [None,
         {"path": "lang=en/p0.parquet", "partitionValues": [("lang", "en")]},
         {"path": "lang=de/p1.parquet", "partitionValues": [("lang", "de")]}],
        type=pa.struct([
            ("path", pa.string()),
            ("partitionValues", pa.map_(pa.string(), pa.string())),
        ]),
    )
    md_t = pa.array(
        [{"schemaString": SCHEMA_JSON, "partitionColumns": ["lang"]},
         None, None],
        type=pa.struct([
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
        ]),
    )
    pq.write_table(
        pa.table({"metaData": md_t, "add": add_t}),
        os.path.join(log, f"{1:020d}.checkpoint.parquet"),
    )
    with open(os.path.join(log, "_last_checkpoint"), "w") as fh:
        json.dump({"version": 1, "size": 3}, fh)
    # delete the pre-checkpoint jsons to PROVE state comes from the cp
    os.remove(os.path.join(log, f"{0:020d}.json"))

    df = read_delta(spark, root)
    assert dict((r["k"], (r["v"], r["lang"])) for r in df.collect()) == {
        1: (1.5, "en"), 2: (2.5, "de")}


def test_delta_non_hive_layout_partition_values(spark, tmp_path):
    """External writers may place files ANYWHERE; partition values then
    attach via the broadcast file-map join, not directory names."""
    from feature_store_api_spark.sources.delta_reader import read_delta

    root = str(tmp_path / "flat")
    log = os.path.join(root, "_delta_log")
    # files at the table ROOT despite being partitioned by lang
    _write_parquet(spark, {"k": [1], "v": [1.5]}, None,
                   os.path.join(root, "a.parquet"))
    _write_parquet(spark, {"k": [2], "v": [2.5]}, None,
                   os.path.join(root, "b.parquet"))
    _write_parquet(spark, {"k": [3], "v": [3.5]}, None,
                   os.path.join(root, "c.parquet"))
    _commit(log, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        _meta(partition_cols=["lang"]),
        {"add": {"path": "a.parquet", "partitionValues": {"lang": "en"},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
        {"add": {"path": "b.parquet", "partitionValues": {"lang": "de"},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
        {"add": {"path": "c.parquet", "partitionValues": {"lang": None},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
    ], ts=1_000)
    df = read_delta(spark, root)
    assert dict((r["k"], (r["v"], r["lang"])) for r in df.collect()) == {
        1: (1.5, "en"), 2: (2.5, "de"), 3: (3.5, None)}
    assert [f.name for f in df.schema.fields] == ["k", "v", "lang"]


def test_delta_many_partitions_flat_plan(spark, tmp_path):
    """A 500-partition table must compile to ONE flat scan — not a
    500-leg Union (plan build would dominate at real partition counts:
    daily x tenant at 100 TB is 10k+ tuples)."""
    from feature_store_api_spark.sources.delta_reader import read_delta

    root = str(tmp_path / "many")
    log = os.path.join(root, "_delta_log")
    n = 500
    adds = []
    import pyarrow as pa
    import pyarrow.parquet as pq
    for i in range(n):
        rel = f"lang=p{i:03d}/f{i}.parquet"
        full = os.path.join(root, rel)
        os.makedirs(os.path.dirname(full), exist_ok=True)
        pq.write_table(pa.table({"k": [i], "v": [float(i)]}), full)
        adds.append({"add": {
            "path": rel, "partitionValues": {"lang": f"p{i:03d}"},
            "size": 1, "modificationTime": 0, "dataChange": True}})
    _commit(log, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        _meta(partition_cols=["lang"]),
    ] + adds, ts=1_000)

    df = read_delta(spark, root)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in plan
    assert df.count() == n
    got = {(r["k"], r["lang"]) for r in df.limit(0).unionByName(df).collect()}
    assert (7, "p007") in got and len(got) == n


def test_delta_column_mapping(spark, tmp_path):
    """minReaderVersion 2 column mapping: logical names resolve to
    physical parquet names through schema field metadata (renames and
    drops are metadata-only in mapped tables)."""
    from feature_store_api_spark.sources.delta_reader import read_delta

    root = str(tmp_path / "mapped")
    log = os.path.join(root, "_delta_log")
    schema = json.dumps({
        "type": "struct",
        "fields": [
            {"name": "key_renamed", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "col-aaa"}},
            {"name": "val", "type": "double", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "col-bbb"}},
            {"name": "lang", "type": "string", "nullable": True,
             "metadata": {"delta.columnMapping.id": 3,
                          "delta.columnMapping.physicalName": "col-ccc"}},
        ],
    })
    # mapped writers use uuid-ish dirs/files with PHYSICAL names
    _write_parquet(spark, {"col-aaa": [1], "col-bbb": [1.5]}, None,
                   os.path.join(root, "x1.parquet"))
    _write_parquet(spark, {"col-aaa": [2], "col-bbb": [2.5]}, None,
                   os.path.join(root, "x2.parquet"))
    _commit(log, 0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {
            "id": "t", "schemaString": schema,
            "partitionColumns": ["lang"],
            "format": {"provider": "parquet"},
            "configuration": {"delta.columnMapping.mode": "name",
                              "delta.columnMapping.maxColumnId": "3"},
        }},
        {"add": {"path": "x1.parquet",
                 "partitionValues": {"col-ccc": "en"},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
        {"add": {"path": "x2.parquet",
                 "partitionValues": {"col-ccc": "de"},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
    ], ts=1_000)
    df = read_delta(spark, root)
    assert [f.name for f in df.schema.fields] == [
        "key_renamed", "val", "lang"]
    assert dict((r["key_renamed"], (r["val"], r["lang"]))
                for r in df.collect()) == {1: (1.5, "en"), 2: (2.5, "de")}

    # v3 table-features form of column mapping also reads
    root2 = str(tmp_path / "mapped3")
    log2 = os.path.join(root2, "_delta_log")
    _write_parquet(spark, {"col-aaa": [9], "col-bbb": [9.5]}, None,
                   os.path.join(root2, "y.parquet"))
    _commit(log2, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["columnMapping"],
                      "writerFeatures": ["columnMapping"]}},
        {"metaData": {
            "id": "t2", "schemaString": schema, "partitionColumns": [],
            "format": {"provider": "parquet"},
            "configuration": {"delta.columnMapping.mode": "name"},
        }},
        {"add": {"path": "y.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
    ], ts=1_000)
    df2 = read_delta(spark, root2)
    assert [(r["key_renamed"], r["val"], r["lang"])
            for r in df2.collect()] == [(9, 9.5, None)]


def test_delta_backend_checkpoints_and_concurrent_versions(spark, tmp_path):
    """(1) The backend writes <v>.checkpoint.parquet + _last_checkpoint
    every 10 commits, and a reader fast-forwards (proved by deleting
    the pre-checkpoint JSONs). (2) Delta version allocation is
    put-if-absent: a concurrent writer claiming the same version cannot
    be clobbered."""
    from feature_store_api_spark import FeatureStore
    from feature_store_api_spark.sources.delta_reader import (
        read_delta,
        resolve_delta_version,
    )

    fs = FeatureStore(root=str(tmp_path))
    fg = fs.create_feature_group(
        "dl_cp", primary_key=["k"], event_time="ts",
        time_travel_format="DELTA", auto_compact_every=None,
    )
    for i in range(25):
        fg.insert(spark.createDataFrame(
            [(i % 7, i, float(i))], "k long, ts long, v double"))

    log_dir = os.path.join(fg.location, "_delta_log")
    cps = sorted(n for n in os.listdir(log_dir) if ".checkpoint." in n)
    assert cps == [f"{10:020d}.checkpoint.parquet",
                   f"{20:020d}.checkpoint.parquet"]
    with open(os.path.join(log_dir, "_last_checkpoint")) as fh:
        assert json.load(fh)["version"] == 20

    head = resolve_delta_version(fg.location)
    before = sorted(
        (r["k"], r["ts"]) for r in read_delta(spark, fg.location).collect())
    # replay must start at cp+1: nuke every pre-checkpoint JSON commit
    for v in range(0, 20):
        p = os.path.join(log_dir, f"{v:020d}.json")
        if os.path.exists(p):
            os.remove(p)
    after = sorted(
        (r["k"], r["ts"]) for r in read_delta(spark, fg.location).collect())
    assert after == before and len(after) == 25
    assert resolve_delta_version(fg.location) == head
    # the FG itself still reads through the checkpointed log
    assert fg.read(spark).count() == 25

    # concurrent version allocation: simulate a racing writer that
    # claims the next version between list and link — our commit must
    # land at the version AFTER it, clobbering nothing
    backend = fg.commit_store.backend
    versions = backend._versions()
    nxt = versions[-1] + 1
    foreign = os.path.join(log_dir, f"{nxt:020d}.json")
    with open(foreign, "w") as fh:
        fh.write(json.dumps({"commitInfo": {"timestamp": 1}}) + "\n")
    got = backend._write_delta_commit([])
    assert got == nxt + 1
    with open(foreign) as fh:  # the foreign commit survived untouched
        assert json.loads(fh.readline())["commitInfo"]["timestamp"] == 1


def test_deletion_vector_codec_roundtrip():
    """RoaringBitmapArray portable codec (PROTOCOL.md format): empty,
    array, dense-bitset, and cross-32-bit-boundary position sets all
    round-trip; Z85 matches the public spec's test vector."""
    from feature_store_api_spark.sources.deletion_vectors import (
        decode_roaring_bitmap_array,
        encode_roaring_bitmap_array,
        z85_decode,
        z85_encode,
    )

    for vals in (
        [],
        [0],
        [1, 5, 7, 65535, 65536, 200_000],
        list(range(5000)),  # > 4096 in one container -> bitset
        [3, (1 << 32) + 1, (3 << 32) + 65537],
    ):
        got = decode_roaring_bitmap_array(encode_roaring_bitmap_array(vals))
        assert got.tolist() == sorted(set(vals))
    # Z85 spec test vector (rfc.zeromq.org/spec/32): "HelloB" frame
    assert z85_encode(bytes([0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B])) == "HelloWorld"
    assert z85_decode("HelloWorld") == bytes(
        [0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B]
    )


def test_delta_deletion_vectors_all_storage_types(spark, tmp_path):
    """A protocol-v3 deletionVectors table reads with deleted rows
    stripped — on-disk "u" descriptors (CRC-checked), inline "i", and
    a later commit REPLACING a file's DV; time travel before the
    delete still sees every row."""
    import struct
    import zlib

    from feature_store_api_spark.sources.delta_reader import read_delta
    from feature_store_api_spark.sources.deletion_vectors import (
        encode_roaring_bitmap_array,
        write_dv_file,
        z85_encode,
    )

    root = str(tmp_path / "dvt")
    os.makedirs(root)
    log = os.path.join(root, "_delta_log")
    _write_parquet(
        spark,
        {"k": [1, 2, 3, 4], "v": [1.0, 2.0, 3.0, 4.0],
         "lang": ["en", "de", "fr", "es"]},
        None, os.path.join(root, "part-0.parquet"),
    )
    _write_parquet(
        spark, {"k": [5, 6], "v": [5.0, 6.0], "lang": ["it", "pt"]},
        None, os.path.join(root, "part-1.parquet"),
    )
    add0 = {"path": "part-0.parquet", "partitionValues": {}, "size": 1,
            "modificationTime": 0, "dataChange": True}
    add1 = {"path": "part-1.parquet", "partitionValues": {}, "size": 1,
            "modificationTime": 0, "dataChange": True}
    _commit(log, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        _meta(),
        {"add": add0},
        {"add": add1},
    ], ts=1_000)

    # v1: delete rows 1,3 of part-0 (k=2,4) via an on-disk "u" DV
    descs = write_dv_file(root, {"part-0.parquet": [1, 3]})
    _commit(log, 1, [
        {"remove": {"path": "part-0.parquet", "dataChange": True}},
        {"add": {**add0, "deletionVector": descs["part-0.parquet"]}},
    ], ts=2_000)
    got = sorted(r["k"] for r in read_delta(spark, root).collect())
    assert got == [1, 3, 5, 6]
    # time travel before the delete sees everything
    pre = sorted(r["k"] for r in read_delta(spark, root, version=0).collect())
    assert pre == [1, 2, 3, 4, 5, 6]

    # v2: REPLACE part-0's DV (now rows 0,1,3 -> only k=3 lives) and
    # delete row 0 of part-1 (k=5) with an INLINE descriptor
    descs2 = write_dv_file(root, {"part-0.parquet": [0, 1, 3]})
    inline_data = encode_roaring_bitmap_array([0])
    pad = (-len(inline_data)) % 4
    inline = {
        "storageType": "i",
        "pathOrInlineDv": z85_encode(inline_data + b"\x00" * pad),
        "sizeInBytes": len(inline_data),
        "cardinality": 1,
    }
    _commit(log, 2, [
        {"remove": {"path": "part-0.parquet", "dataChange": True}},
        {"add": {**add0, "deletionVector": descs2["part-0.parquet"]}},
        {"remove": {"path": "part-1.parquet", "dataChange": True}},
        {"add": {**add1, "deletionVector": inline}},
    ], ts=3_000)
    got2 = sorted(r["k"] for r in read_delta(spark, root).collect())
    assert got2 == [3, 6]
    # v1 snapshot unchanged
    assert sorted(
        r["k"] for r in read_delta(spark, root, version=1).collect()
    ) == [1, 3, 5, 6]

    # a corrupted on-disk blob must fail the CRC check loudly (corrupt
    # every .bin — uuid file names don't say which one HEAD references)
    for n in os.listdir(root):
        if n.startswith("deletion_vector_"):
            victim = os.path.join(root, n)
            raw = bytearray(open(victim, "rb").read())
            raw[-6] ^= 0xFF  # flip a data byte, keep size/crc fields
            open(victim, "wb").write(bytes(raw))
    with pytest.raises(ValueError, match="checksum|cardinality|magic"):
        read_delta(spark, root).collect()


def test_delta_deletion_vectors_partitioned_hive(spark, tmp_path):
    """DV stripping composes with hive-style partition discovery (the
    flat-plan path) — deleted rows vanish from exactly one partition."""
    from feature_store_api_spark.sources.delta_reader import read_delta
    from feature_store_api_spark.sources.deletion_vectors import write_dv_file

    root = str(tmp_path / "dvp")
    os.makedirs(root)
    log = os.path.join(root, "_delta_log")
    _write_parquet(
        spark, {"k": [1, 2], "v": [1.0, 2.0]}, None,
        os.path.join(root, "lang=en", "part-0.parquet"),
    )
    _write_parquet(
        spark, {"k": [3, 4], "v": [3.0, 4.0]}, None,
        os.path.join(root, "lang=de", "part-0.parquet"),
    )
    adds = [
        {"path": "lang=en/part-0.parquet", "partitionValues": {"lang": "en"},
         "size": 1, "modificationTime": 0, "dataChange": True},
        {"path": "lang=de/part-0.parquet", "partitionValues": {"lang": "de"},
         "size": 1, "modificationTime": 0, "dataChange": True},
    ]
    _commit(log, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        _meta(partition_cols=("lang",)),
        {"add": adds[0]},
        {"add": adds[1]},
    ], ts=1_000)
    descs = write_dv_file(root, {"lang=de/part-0.parquet": [0]})
    _commit(log, 1, [
        {"remove": {"path": "lang=de/part-0.parquet", "dataChange": True}},
        {"add": {**adds[1], "deletionVector": descs["lang=de/part-0.parquet"]}},
    ], ts=2_000)
    rows = {(r["k"], r["lang"]) for r in read_delta(spark, root).collect()}
    assert rows == {(1, "en"), (2, "en"), (4, "de")}


def test_delta_v2_checkpoint(spark, tmp_path):
    """V2 checkpoints (protocol v3 v2Checkpoint): a UUID-named parquet
    manifest whose add/remove state lives in _sidecars parquet files
    replays exactly like a classic checkpoint — post-checkpoint tail
    commits still apply, and a JSON manifest works too."""
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from feature_store_api_spark.sources.delta_reader import read_delta

    root = str(tmp_path / "v2cp")
    os.makedirs(root)
    log = os.path.join(root, "_delta_log")
    sidedir = os.path.join(log, "_sidecars")
    os.makedirs(sidedir)
    _write_parquet(
        spark, {"k": [1, 2], "v": [1.0, 2.0], "lang": ["en", "de"]},
        None, os.path.join(root, "part-0.parquet"),
    )
    _write_parquet(
        spark, {"k": [3], "v": [3.0], "lang": ["fr"]},
        None, os.path.join(root, "part-1.parquet"),
    )
    _write_parquet(
        spark, {"k": [4], "v": [4.0], "lang": ["es"]},
        None, os.path.join(root, "part-2.parquet"),
    )
    proto = {"minReaderVersion": 3, "minWriterVersion": 7,
             "readerFeatures": ["v2Checkpoint"],
             "writerFeatures": ["v2Checkpoint"]}
    # versions 0..2 exist only so the log LOOKS real; the checkpoint at
    # v2 must make replaying them unnecessary (we delete v0/v1 below)
    _commit(log, 0, [{"protocol": proto}, _meta(),
                     {"add": {"path": "part-0.parquet", "partitionValues": {},
                              "size": 1, "modificationTime": 0,
                              "dataChange": True}}], ts=1_000)
    _commit(log, 1, [{"add": {"path": "part-1.parquet", "partitionValues": {},
                              "size": 1, "modificationTime": 0,
                              "dataChange": True}}], ts=2_000)
    _commit(log, 2, [{"remove": {"path": "part-0.parquet",
                                 "dataChange": True}}], ts=3_000)

    # -- sidecar holds the v2 state: part-1 live (part-0 removed at v2)
    add_t = pa.struct([
        ("path", pa.string()),
        ("partitionValues", pa.map_(pa.string(), pa.string())),
        ("size", pa.int64()),
        ("modificationTime", pa.int64()),
        ("dataChange", pa.bool_()),
    ])
    sc_name = f"{_uuid.uuid4()}.parquet"
    pq.write_table(
        pa.table({"add": pa.array([
            {"path": "part-1.parquet", "partitionValues": [], "size": 1,
             "modificationTime": 0, "dataChange": False},
        ], add_t)}),
        os.path.join(sidedir, sc_name),
    )
    # -- UUID-named manifest: protocol + metaData + the sidecar pointer
    proto_t = pa.struct([
        ("minReaderVersion", pa.int32()),
        ("minWriterVersion", pa.int32()),
        ("readerFeatures", pa.list_(pa.string())),
        ("writerFeatures", pa.list_(pa.string())),
    ])
    md_t = pa.struct([
        ("id", pa.string()),
        ("schemaString", pa.string()),
        ("partitionColumns", pa.list_(pa.string())),
        ("configuration", pa.map_(pa.string(), pa.string())),
        ("format", pa.struct([("provider", pa.string())])),
    ])
    sc_t = pa.struct([
        ("path", pa.string()),
        ("sizeInBytes", pa.int64()),
        ("modificationTime", pa.int64()),
    ])
    cpmd_t = pa.struct([("version", pa.int64())])
    manifest = pa.table({
        "checkpointMetadata": pa.array([{"version": 2}, None, None], cpmd_t),
        "protocol": pa.array([None, proto, None], proto_t),
        "metaData": pa.array(
            [None, None,
             {"id": "t", "schemaString": SCHEMA_JSON, "partitionColumns": [],
              "configuration": [], "format": {"provider": "parquet"}}],
            md_t),
        "sidecar": pa.array(
            [{"path": sc_name, "sizeInBytes": 1, "modificationTime": 0},
             None, None], sc_t),
    })
    pq.write_table(
        manifest,
        os.path.join(log, f"{2:020d}.checkpoint.{_uuid.uuid4()}.parquet"),
    )
    with open(os.path.join(log, "_last_checkpoint"), "w") as fh:
        json.dump({"version": 2, "size": 4}, fh)
    # the checkpoint must be SUFFICIENT: drop the pre-checkpoint log
    os.remove(os.path.join(log, f"{0:020d}.json"))
    os.remove(os.path.join(log, f"{1:020d}.json"))

    assert sorted(r["k"] for r in read_delta(spark, root).collect()) == [3]

    # a post-checkpoint tail commit still applies on top
    _commit(log, 3, [{"add": {"path": "part-2.parquet", "partitionValues": {},
                              "size": 1, "modificationTime": 0,
                              "dataChange": True}}], ts=4_000)
    assert sorted(r["k"] for r in read_delta(spark, root).collect()) == [3, 4]

    # -- JSON manifest variant (fresh table, no sidecars: state inline)
    root2 = str(tmp_path / "v2cpjson")
    os.makedirs(root2)
    log2 = os.path.join(root2, "_delta_log")
    os.makedirs(log2)
    _write_parquet(
        spark, {"k": [9], "v": [9.0], "lang": ["en"]},
        None, os.path.join(root2, "part-0.parquet"),
    )
    _commit(log2, 0, [{"protocol": proto}, _meta(),
                      {"add": {"path": "part-0.parquet",
                               "partitionValues": {}, "size": 1,
                               "modificationTime": 0, "dataChange": True}}],
            ts=1_000)
    mf = os.path.join(log2, f"{0:020d}.checkpoint.{_uuid.uuid4()}.json")
    with open(mf, "w") as fh:
        for action in (
            {"checkpointMetadata": {"version": 0}},
            {"protocol": proto},
            {"metaData": json.loads(json.dumps(_meta()))["metaData"]},
            {"add": {"path": "part-0.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 0, "dataChange": False}},
        ):
            fh.write(json.dumps(action) + "\n")
    os.remove(os.path.join(log2, f"{0:020d}.json"))
    # keep an empty tail commit so version resolution still sees v0
    _commit(log2, 0, [], ts=1_000)
    assert [r["k"] for r in read_delta(spark, root2).collect()] == [9]


def test_delta_backend_writes_file_stats(spark, tmp_path):
    """Every add action (and checkpoint add row) carries Delta
    per-file stats — numRecords/minValues/maxValues/nullCount from the
    parquet footer — so external Delta clients can file-skip over our
    tables. Non-finite double bounds are left out: ``NaN``/``Infinity``
    are not JSON (RFC 8259), and strict Delta readers reject them."""
    from feature_store_api_spark import FeatureStore

    fs = FeatureStore(root=str(tmp_path))
    fg = fs.create_feature_group(
        "dl_stats", primary_key=["k"], event_time="ts",
        time_travel_format="DELTA", auto_compact_every=None,
    )
    inf, nan = float("inf"), float("nan")
    fg.insert(spark.createDataFrame(
        [(1, 10, 1.0, inf), (2, 10, None, nan), (3, 10, 3.0, -inf)],
        "k long, ts long, v double, w double"))
    log = os.path.join(fg.location, "_delta_log")
    adds = []
    for n in sorted(os.listdir(log)):
        if n.endswith(".json") and len(n) == 25:
            with open(os.path.join(log, n)) as fh:
                for line in fh:
                    a = json.loads(line) if line.strip() else {}
                    if "add" in a:
                        adds.append(a["add"])
    assert adds
    assert all("stats" in a for a in adds)
    def strict(token):
        raise ValueError(f"non-JSON constant {token} in add.stats")

    stats = [json.loads(a["stats"], parse_constant=strict) for a in adds]
    assert sum(s["numRecords"] for s in stats) == 3
    ks = [s["minValues"].get("k") for s in stats if "k" in s["minValues"]]
    assert min(ks) == 1
    assert max(s["maxValues"]["k"] for s in stats if "k" in s["maxValues"]) == 3
    assert sum(s["nullCount"].get("v", 0) for s in stats) == 1
    assert not any("w" in s["minValues"] or "w" in s["maxValues"]
                   for s in stats)


def test_delta_deletion_vectors_non_hive_layout(spark, tmp_path):
    """DV stripping composes with the broadcast partition-value attach
    (non-hive file placement): input_file_name() must be evaluated on
    the scan, not after the DV anti-join where provenance is lost."""
    from feature_store_api_spark.sources.delta_reader import read_delta
    from feature_store_api_spark.sources.deletion_vectors import write_dv_file

    root = str(tmp_path / "dvnh")
    os.makedirs(root)
    log = os.path.join(root, "_delta_log")
    # arbitrary placement: partition values live ONLY in the log
    _write_parquet(spark, {"k": [1, 2], "v": [1.0, 2.0]}, None,
                   os.path.join(root, "a.parquet"))
    _write_parquet(spark, {"k": [3, 4], "v": [3.0, 4.0]}, None,
                   os.path.join(root, "b.parquet"))
    adds = [
        {"path": "a.parquet", "partitionValues": {"lang": "en"},
         "size": 1, "modificationTime": 0, "dataChange": True},
        {"path": "b.parquet", "partitionValues": {"lang": "de"},
         "size": 1, "modificationTime": 0, "dataChange": True},
    ]
    _commit(log, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        _meta(partition_cols=("lang",)),
        {"add": adds[0]}, {"add": adds[1]},
    ], ts=1_000)
    descs = write_dv_file(root, {"b.parquet": [1]})  # delete k=4
    _commit(log, 1, [
        {"remove": {"path": "b.parquet", "dataChange": True}},
        {"add": {**adds[1], "deletionVector": descs["b.parquet"]}},
    ], ts=2_000)
    rows = {(r["k"], r["lang"]) for r in read_delta(spark, root).collect()}
    assert rows == {(1, "en"), (2, "en"), (3, "de")}


def test_delta_incremental(spark, tmp_path):
    """delta_incremental returns files ADDED in (begin, end] that are
    still live at end — the hudi_incremental twin — and refuses a
    window whose commits were checkpoint-trimmed."""
    from feature_store_api_spark.sources.delta_reader import (
        delta_incremental,
    )

    root = str(tmp_path / "itbl")
    _build_unpartitioned(spark, root)  # v0 adds p0; v1 adds p1; v2 compacts

    def ks(df):
        return sorted(r["k"] for r in df.collect())

    # (0,1]: only part-1 (added at v1, still live at v1)
    assert ks(delta_incremental(spark, root, 0, 1)) == [3]
    # (0,2]: part-1 was removed by v2's compaction; only v2's rewrite
    assert ks(delta_incremental(spark, root, 0, 2)) == [1, 2, 3]
    # empty window
    assert delta_incremental(spark, root, 2, None).count() == 0
    # trimmed log: drop v1's json, leave a checkpoint marker rule out
    os.remove(os.path.join(root, "_delta_log", f"{1:020d}.json"))
    with pytest.raises(ValueError, match="JSON|missing"):
        delta_incremental(spark, root, 0, 2)


def test_deletion_vector_absolute_path_storage(tmp_path):
    """storageType='p' (absolute path) resolves and CRC-verifies like
    the uuid layout."""
    import struct
    import zlib

    from feature_store_api_spark.sources.deletion_vectors import (
        encode_roaring_bitmap_array,
        read_dv_positions,
    )

    data = encode_roaring_bitmap_array([2, 5, (1 << 32) + 7])
    f = tmp_path / "dv_abs.bin"
    with open(f, "wb") as fh:
        fh.write(b"\x01")
        fh.write(struct.pack(">i", len(data)))
        fh.write(data)
        fh.write(struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF))
    desc = {"storageType": "p", "pathOrInlineDv": str(f), "offset": 1,
            "sizeInBytes": len(data), "cardinality": 3}
    assert read_dv_positions(str(tmp_path), desc).tolist() == [
        2, 5, (1 << 32) + 7]
    # cardinality mismatch is a loud error
    with pytest.raises(ValueError, match="cardinality"):
        read_dv_positions(str(tmp_path), {**desc, "cardinality": 4})


def test_deletion_vector_run_container_decode():
    """Run containers (cookie 12347 + run-flag bitset) decode per the
    RoaringFormatSpec — real Delta writers emit them even though our
    fixture encoder uses only array/bitset containers."""
    import struct

    from feature_store_api_spark.sources.deletion_vectors import (
        decode_roaring_bitmap_array,
    )

    # one 32-bit bitmap, one container, run-encoded:
    # runs (10, len 2) -> {10,11,12}, (20, len 1) -> {20,21}
    bitmap = (
        struct.pack("<I", 12347)            # SERIAL_COOKIE, size-1=0 in high16
        + b"\x01"                           # run flag bitset: container 0 runs
        + struct.pack("<HH", 0, 4)          # key 0, cardinality-1 = 4
        + struct.pack("<H", 2)              # n_runs
        + struct.pack("<HH", 10, 2)
        + struct.pack("<HH", 20, 1)
    )
    data = struct.pack("<iq", 1681511377, 1) + bitmap
    assert decode_roaring_bitmap_array(data).tolist() == [10, 11, 12, 20, 21]


def test_delta_change_data_feed(spark, tmp_path):
    """read_delta_cdf: cdc actions yield rows with their file's
    _change_type (update pre/post images, deletes); an append-only
    commit without cdc actions derives inserts; a non-append commit
    without cdc gates loudly; _commit_version/timestamp ride a
    broadcast map."""
    from feature_store_api_spark.sources.delta_reader import read_delta_cdf

    root = str(tmp_path / "cdf")
    os.makedirs(root)
    log = os.path.join(root, "_delta_log")
    # v0: create with two rows (append-only, no cdc -> derived inserts)
    _write_parquet(spark, {"k": [1, 2], "v": [1.0, 2.0],
                           "lang": ["en", "de"]}, None,
                   os.path.join(root, "f0.parquet"))
    _commit(log, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 4}},
        _meta(),
        {"add": {"path": "f0.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ], ts=1_000)
    # v1: update k=2 (pre+post images) + delete k=1, written as a cdc
    # file under _change_data plus the rewritten data file
    os.makedirs(os.path.join(root, "_change_data"))
    import pyarrow as pa
    import pyarrow.parquet as pq
    pq.write_table(
        pa.table({
            "k": pa.array([2, 2, 1], type=pa.int64()),
            "v": pa.array([2.0, 22.0, 1.0]),
            "lang": pa.array(["de", "de", "en"]),
            "_change_type": pa.array(
                ["update_preimage", "update_postimage", "delete"]),
        }),
        os.path.join(root, "_change_data", "cdc-0.parquet"),
    )
    _write_parquet(spark, {"k": [2], "v": [22.0], "lang": ["de"]}, None,
                   os.path.join(root, "f1.parquet"))
    _commit(log, 1, [
        {"remove": {"path": "f0.parquet", "dataChange": True}},
        {"add": {"path": "f1.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
        {"cdc": {"path": "_change_data/cdc-0.parquet",
                 "partitionValues": {}, "size": 1, "dataChange": False}},
    ], ts=2_000)

    got = sorted(
        (r["_commit_version"], r["_change_type"], r["k"], r["v"])
        for r in read_delta_cdf(spark, root, -1, None).collect()
    )
    assert got == [
        (0, "insert", 1, 1.0),
        (0, "insert", 2, 2.0),
        (1, "delete", 1, 1.0),
        (1, "update_postimage", 2, 22.0),
        (1, "update_preimage", 2, 2.0),
    ]
    # window (0, 1] excludes v0's inserts
    assert sorted(
        r["_change_type"]
        for r in read_delta_cdf(spark, root, 0, 1).collect()
    ) == ["delete", "update_postimage", "update_preimage"]
    # timestamps come from commitInfo
    ts = {r["_commit_version"]: r["_commit_timestamp"]
          for r in read_delta_cdf(spark, root, -1, None).collect()}
    assert ts[0].timestamp() * 1000 == 1_000
    # empty window
    assert read_delta_cdf(spark, root, 1, None).count() == 0

    # v2: an upsert WITHOUT cdc actions — change feed unreconstructable
    _write_parquet(spark, {"k": [2], "v": [99.0], "lang": ["de"]}, None,
                   os.path.join(root, "f2.parquet"))
    _commit(log, 2, [
        {"remove": {"path": "f1.parquet", "dataChange": True}},
        {"add": {"path": "f2.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ], ts=3_000)
    with pytest.raises(NotImplementedError, match="cdc"):
        read_delta_cdf(spark, root, 1, 2)


def test_delta_cdf_via_generic_reader(spark, tmp_path):
    """readers.read(format='delta', readChangeFeed=true,
    startingVersion=N) matches read_delta_cdf with delta-spark's
    INCLUSIVE startingVersion semantics."""
    from feature_store_api_spark.sources.readers import read as read_files

    root = str(tmp_path / "cdfgen")
    os.makedirs(root)
    log = os.path.join(root, "_delta_log")
    _write_parquet(spark, {"k": [1], "v": [1.0], "lang": ["en"]}, None,
                   os.path.join(root, "f0.parquet"))
    _commit(log, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 4}},
        _meta(),
        {"add": {"path": "f0.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ], ts=1_000)
    df = read_files(spark, "delta", root,
                    options={"readChangeFeed": "true",
                             "startingVersion": "0"})
    rows = [(r["k"], r["_change_type"], r["_commit_version"])
            for r in df.collect()]
    assert rows == [(1, "insert", 0)]
    with pytest.raises(ValueError, match="startingVersion"):
        read_files(spark, "delta", root,
                   options={"readChangeFeed": "true"})


def test_deletion_vector_executor_decode_beyond_old_cap(spark, tmp_path):
    """A DV whose cardinality exceeds the old 20M driver-side cap
    (removed) decodes EXECUTOR-side and strips correctly: the
    descriptor list parallelizes to workers, blobs decode there, and
    the anti-join runs as a shuffle join instead of refusing the
    read."""
    import struct
    import zlib

    from feature_store_api_spark.sources.delta_reader import read_delta

    root = str(tmp_path / "bigdv")
    log = os.path.join(root, "_delta_log")
    _write_parquet(spark, {"k": [0, 1, 2], "v": [0.0, 1.0, 2.0],
                           "lang": ["en", "de", "fr"]}, None,
                   os.path.join(root, "a.parquet"))
    _write_parquet(spark, {"k": [10], "v": [10.0], "lang": ["en"]}, None,
                   os.path.join(root, "b.parquet"))

    # hand-built RoaringBitmapArray: container 0 = array {0, 2},
    # containers 1..308 = FULL bitsets -> cardinality 2 + 308*65536 =
    # 20,185,090 (> the old 20M cap; rows 0 and 2 of a.parquet die)
    n = 309
    bitmap = struct.pack("<II", 12346, n)
    bitmap += struct.pack("<HH", 0, 1)  # key 0, card-1 = 1
    for key in range(1, n):
        bitmap += struct.pack("<HH", key, 65535)
    payload0 = struct.pack("<2H", 0, 2)
    full = struct.pack("<1024Q", *([0xFFFFFFFFFFFFFFFF] * 1024))
    off = 4 + 4 + 4 * n + 4 * n
    offsets = struct.pack("<I", off)
    off += len(payload0)
    for _ in range(1, n):
        offsets += struct.pack("<I", off)
        off += len(full)
    data = struct.pack("<iq", 1681511377, 1) + bitmap + offsets
    data += payload0 + full * (n - 1)
    card = 2 + 308 * 65536
    assert card > 20_000_000

    dv_path = os.path.join(root, "big_dv.bin")
    with open(dv_path, "wb") as fh:
        fh.write(b"\x01")
        fh.write(struct.pack(">i", len(data)))
        fh.write(data)
        fh.write(struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF))
    desc = {"storageType": "p", "pathOrInlineDv": dv_path, "offset": 1,
            "sizeInBytes": len(data), "cardinality": card}

    _commit(log, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        _meta(),
        {"add": {"path": "a.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True,
                 "deletionVector": desc}},
        {"add": {"path": "b.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ], ts=1_000)

    got = sorted((r["k"], r["v"]) for r in read_delta(spark, root).collect())
    assert got == [(1, 1.0), (10, 10.0)]


def test_delta_url_encoded_add_path(spark, tmp_path):
    """PROTOCOL.md paths are percent-encoded URIs: an add.path of
    'part%200+x.parquet' must open the on-disk file 'part 0+x.parquet',
    its DV anti-join must match (deleted rows actually disappear), and
    its broadcast partition-values map must attach (no NULLs) — and a
    literal '+' must NOT decode to a space on either side."""
    from feature_store_api_spark.sources.deletion_vectors import (
        write_dv_file,
    )
    from feature_store_api_spark.sources.delta_reader import read_delta

    root = str(tmp_path / "enc")
    log = os.path.join(root, "_delta_log")
    _write_parquet(spark, {"k": [1, 2, 3], "v": [1.0, 2.0, 3.0]}, None,
                   os.path.join(root, "part 0+x.parquet"))
    descs = write_dv_file(root, {"part 0+x.parquet": [1]})  # row k=2 dies
    schema = json.dumps({
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True, "metadata": {}},
            {"name": "v", "type": "double", "nullable": True,
             "metadata": {}},
            {"name": "lang", "type": "string", "nullable": True,
             "metadata": {}},
        ],
    })
    # partitioned metaData but the file sits at the ROOT (non-hive
    # layout) -> the broadcast file->partitionValues map branch
    _commit(log, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        {"metaData": {
            "id": "t", "schemaString": schema,
            "partitionColumns": ["lang"],
            "format": {"provider": "parquet"},
        }},
        {"add": {"path": "part%200+x.parquet",
                 "partitionValues": {"lang": "en"}, "size": 1,
                 "modificationTime": 0, "dataChange": True,
                 "deletionVector": descs["part 0+x.parquet"]}},
    ], ts=1_000)
    got = sorted(
        (r["k"], r["v"], r["lang"])
        for r in read_delta(spark, root).collect()
    )
    assert got == [(1, 1.0, "en"), (3, 3.0, "en")]


def test_delta_backend_cdf_roundtrip(spark, tmp_path):
    """The Delta backend advertises Change Data Feed (metaData
    configuration + writer protocol 4) and a DELETE commit emits cdc
    actions with _change_type='delete' — an external readChangeFeed
    (here: read_delta_cdf, the same contract) sees the full change
    history, matching the commit store's own incremental pull."""
    from feature_store_api_spark import FeatureStore
    from feature_store_api_spark.sources.delta_reader import read_delta_cdf

    fs = FeatureStore(root=str(tmp_path))
    fg = fs.create_feature_group(
        "dl_cdf", primary_key=["k"], event_time="ts",
        time_travel_format="DELTA", auto_compact_every=None,
    )
    c1 = fg.insert(spark.createDataFrame(
        [(1, 10, 1.0), (2, 10, 2.0)], "k long, ts long, v double"))
    fg.insert(spark.createDataFrame(
        [(3, 20, 3.0)], "k long, ts long, v double"))
    fg.commit_delete_record(spark.createDataFrame(
        [(2, 30)], "k long, ts long"))

    log_dir = os.path.join(fg.location, "_delta_log")
    with open(os.path.join(log_dir, f"{0:020d}.json")) as fh:
        actions = [json.loads(l) for l in fh if l.strip()]
    proto = next(a["protocol"] for a in actions if "protocol" in a)
    assert proto["minWriterVersion"] == 4
    md = next(a["metaData"] for a in actions if "metaData" in a)
    assert md["configuration"]["delta.enableChangeDataFeed"] == "true"
    with open(os.path.join(log_dir, f"{2:020d}.json")) as fh:
        del_actions = [json.loads(l) for l in fh if l.strip()]
    cdcs = [a["cdc"] for a in del_actions if "cdc" in a]
    assert cdcs and all(
        a["path"].startswith("_change_data/") for a in cdcs)
    assert all(os.path.exists(os.path.join(fg.location, a["path"]))
               for a in cdcs)

    cdf = read_delta_cdf(spark, fg.location, begin_version=-1)
    got = sorted((r["k"], r["_change_type"], r["_commit_version"])
                 for r in cdf.collect())
    assert got == [
        (1, "insert", 0), (2, "delete", 2), (2, "insert", 0),
        (3, "insert", 1)]

    # round-trip vs the commit store's own pull: the store's
    # incremental pull excludes delete tombstones (snapshot
    # semantics), so it must equal the CDF window's non-delete rows
    import time as _time

    pulled = fg.select_all().pull_changes(
        c1.commit_time + 1, int(_time.time() * 1000) + 10_000
    ).read(spark)
    assert sorted(r["k"] for r in pulled.collect()) == sorted(
        r["k"] for r in cdf.where(
            "_commit_version >= 1 AND _change_type != 'delete'"
        ).collect())


def test_delta_backend_cdf_restates_in_executors_past_size_gate(
    spark, tmp_path, monkeypatch
):
    """Past the byte gate, the all-or-nothing cdc restatement of a
    mixed delete+insert commit runs as a SPARK JOB (per-file executor
    rewrites) instead of a driver pyarrow copy of the whole commit —
    with an identical readChangeFeed result."""
    import feature_store_api_spark.sources.delta_backend as db
    from feature_store_api_spark import FeatureStore
    from feature_store_api_spark.sources.delta_reader import read_delta_cdf

    monkeypatch.setattr(db, "_CDC_DRIVER_RESTATE_BYTES", 0)
    calls = []
    orig = db.DeltaLogBackend._cdc_actions_distributed

    def spy(self, spark_, moved):
        calls.append(len(moved))
        return orig(self, spark_, moved)

    monkeypatch.setattr(db.DeltaLogBackend, "_cdc_actions_distributed", spy)

    fs = FeatureStore(root=str(tmp_path))
    fg = fs.create_feature_group(
        "dl_cdf_big", primary_key=["k"], event_time="ts",
        time_travel_format="DELTA", auto_compact_every=None,
    )
    fg.insert(spark.createDataFrame(
        [(1, 10, 1.0), (2, 10, 2.0), (3, 10, 3.0)],
        "k long, ts long, v double"))
    # mixed commit: a delete tombstone rides with fresh inserts — the
    # completeness rule restates EVERY file of the commit
    fg.commit_delete_record(spark.createDataFrame(
        [(2, 30)], "k long, ts long"))
    assert calls, "size gate did not route to the executor path"

    cdf = read_delta_cdf(spark, fg.location, begin_version=-1)
    got = sorted((r["k"], r["_change_type"], r["_commit_version"])
                 for r in cdf.collect())
    assert got == [
        (1, "insert", 0), (2, "delete", 1), (2, "insert", 0),
        (3, "insert", 0)]
    log_dir = os.path.join(fg.location, "_delta_log")
    with open(os.path.join(log_dir, f"{1:020d}.json")) as fh:
        actions = [json.loads(l) for l in fh if l.strip()]
    cdcs = [a["cdc"] for a in actions if "cdc" in a]
    assert cdcs and all(
        os.path.exists(os.path.join(fg.location, a["path"]))
        and a["path"].startswith("_change_data/") for a in cdcs)


def test_delta_backend_checkpoint_retains_tombstones(spark, tmp_path):
    """A foreign engine's live remove tombstone is SERIALIZED into the
    backend's checkpoint (PROTOCOL.md checkpoint schema: unexpired
    removes are retained for external VACUUM) — checkpointing proceeds
    and the tombstone survives into the compacted state."""
    import time

    from feature_store_api_spark import FeatureStore

    fs = FeatureStore(root=str(tmp_path))
    fg = fs.create_feature_group(
        "dl_tomb", primary_key=["k"], event_time="ts",
        time_travel_format="DELTA", auto_compact_every=None,
    )
    fg.insert(spark.createDataFrame(
        [(0, 0, 0.0)], "k long, ts long, v double"))
    log_dir = os.path.join(fg.location, "_delta_log")
    nxt = 1 + max(int(n[:-5]) for n in os.listdir(log_dir)
                  if n.endswith(".json"))
    del_ts = int(time.time() * 1000)  # live (inside retention)
    with open(os.path.join(log_dir, f"{nxt:020d}.json"), "w") as fh:
        fh.write(json.dumps({"commitInfo": {"timestamp": 1}}) + "\n")
        fh.write(json.dumps({"remove": {
            "path": "ghost.parquet", "dataChange": False,
            "deletionTimestamp": del_ts}}) + "\n")
    for i in range(1, 15):
        fg.insert(spark.createDataFrame(
            [(i, i, float(i))], "k long, ts long, v double"))
    cps = [n for n in os.listdir(log_dir) if ".checkpoint." in n]
    assert cps, "live tombstone must no longer suppress checkpointing"
    import pyarrow.parquet as pq

    tbl = pq.read_table(os.path.join(log_dir, sorted(cps)[-1]))
    rems = [r for r in tbl.column("remove").to_pylist() if r]
    assert [r["path"] for r in rems] == ["ghost.parquet"]
    assert rems[0]["deletionTimestamp"] == del_ts
    assert fg.read(spark).count() == 15
    # replay from the checkpoint ALONE reproduces the full-log state
    before = sorted(map(tuple, fg.read(spark).collect()))
    cp_v = int(sorted(cps)[-1].split(".")[0])
    for n in list(os.listdir(log_dir)):
        if n.endswith(".json") and n[:-5].isdigit() and int(n[:-5]) <= cp_v:
            os.remove(os.path.join(log_dir, n))
    after = sorted(map(tuple, fg.read(spark).collect()))
    assert after == before


def test_delta_backend_checkpoint_gate_on_unmodeled_fields(spark, tmp_path):
    """A live add carrying a field NEITHER the reader nor the
    checkpoint schema models (rowTracking's baseRowId) must still
    SUPPRESS checkpointing — serializing it would silently drop the
    field — while commits and reads keep working."""
    from feature_store_api_spark import FeatureStore

    fs = FeatureStore(root=str(tmp_path))
    fg = fs.create_feature_group(
        "dl_gate", primary_key=["k"], event_time="ts",
        time_travel_format="DELTA", auto_compact_every=None,
    )
    fg.insert(spark.createDataFrame(
        [(0, 0, 0.0)], "k long, ts long, v double"))
    log_dir = os.path.join(fg.location, "_delta_log")
    # foreign commit: re-add the live file with a rowTracking field
    with open(os.path.join(log_dir, f"{0:020d}.json")) as fh:
        add0 = next(json.loads(l)["add"] for l in fh
                    if l.strip() and "add" in json.loads(l))
    nxt = 1 + max(int(n[:-5]) for n in os.listdir(log_dir)
                  if n.endswith(".json"))
    with open(os.path.join(log_dir, f"{nxt:020d}.json"), "w") as fh:
        fh.write(json.dumps({"commitInfo": {"timestamp": 1}}) + "\n")
        fh.write(json.dumps({"add": {**add0, "baseRowId": 7}}) + "\n")
    for i in range(1, 15):
        fg.insert(spark.createDataFrame(
            [(i, i, float(i))], "k long, ts long, v double"))
    assert not [n for n in os.listdir(log_dir) if ".checkpoint." in n]
    assert not os.path.exists(os.path.join(log_dir, "_last_checkpoint"))
    assert fg.read(spark).count() == 15


def test_delta_dv_table_checkpoints_and_replays(spark, tmp_path):
    """A DV-carrying externally-shaped table CHECKPOINTS (no skip):
    protocol readerFeatures and add.deletionVector round-trip through
    the checkpoint parquet, and replay from the checkpoint alone is
    identical to full-log replay (VERDICT r10 #3 done-criterion)."""
    from feature_store_api_spark.sources.delta_backend import (
        DeltaLogBackend,
    )
    from feature_store_api_spark.sources.delta_reader import read_delta
    from feature_store_api_spark.sources.deletion_vectors import (
        write_dv_file,
    )

    root = str(tmp_path / "dvcp")
    os.makedirs(root)
    log = os.path.join(root, "_delta_log")
    _write_parquet(
        spark, {"k": [1, 2, 3, 4], "v": [1.0, 2.0, 3.0, 4.0]},
        None, os.path.join(root, "part-0.parquet"),
    )
    add0 = {"path": "part-0.parquet", "partitionValues": {}, "size": 1,
            "modificationTime": 0, "dataChange": True}
    _commit(log, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        _meta(),
        {"add": add0},
    ], ts=1_000)
    # v1: foreign engine deletes rows 1,3 (k=2,4) via an on-disk DV
    descs = write_dv_file(root, {"part-0.parquet": [1, 3]})
    _commit(log, 1, [
        {"remove": {"path": "part-0.parquet", "dataChange": True}},
        {"add": {**add0, "deletionVector": descs["part-0.parquet"]}},
    ], ts=2_000)
    # co-writing backend appends until the v10 checkpoint fires
    be = DeltaLogBackend(root)
    for i in range(10, 19):
        be.append_commit(spark.createDataFrame(
            [(i, float(i))], "k long, v double"), [])
    cps = [n for n in os.listdir(log) if ".checkpoint." in n]
    assert cps, "DV table must checkpoint, not skip"
    be.append_commit(spark.createDataFrame(  # post-checkpoint tail
        [(19, 19.0)], "k long, v double"), [])
    before = sorted(r["k"] for r in read_delta(spark, root).collect())
    assert before == [1, 3] + list(range(10, 20))
    cp_v = int(sorted(cps)[-1].split(".")[0])
    for n in list(os.listdir(log)):
        if n.endswith(".json") and n[:-5].isdigit() and int(n[:-5]) <= cp_v:
            os.remove(os.path.join(log, n))
    after = sorted(r["k"] for r in read_delta(spark, root).collect())
    assert after == before


def test_delta_backend_cdf_log_view_contract(spark, tmp_path):
    """Pin the documented EXTERNAL change-feed contract for
    backend-written FGs (delta_backend.py module doc "log-view"): the
    store is merge-on-read, so an UPSERT of an existing key surfaces
    in readChangeFeed as an INSERT of the new record version (carrying
    the store's ``_commit_time``/``_op`` columns) — never
    update_preimage/postimage pairs — while a DELETE commit surfaces
    as real ``_change_type='delete'`` rows."""
    from feature_store_api_spark import FeatureStore
    from feature_store_api_spark.sources.delta_reader import read_delta_cdf

    fs = FeatureStore(root=str(tmp_path))
    fg = fs.create_feature_group(
        "dl_logview", primary_key=["k"], event_time="ts",
        time_travel_format="DELTA", auto_compact_every=None,
    )
    fg.insert(spark.createDataFrame(
        [(1, 10, 1.0)], "k long, ts long, v double"))
    fg.insert(spark.createDataFrame(  # upsert of the SAME key
        [(1, 20, 2.0)], "k long, ts long, v double"))
    fg.commit_delete_record(spark.createDataFrame(
        [(1, 30)], "k long, ts long"))

    cdf = read_delta_cdf(spark, fg.location, begin_version=-1)
    assert {"_op", "_commit_time"} <= set(cdf.columns)
    rows = sorted(
        (r["_commit_version"], r["_change_type"], r["k"], r["v"])
        for r in cdf.collect()
    )
    assert rows == [
        (0, "insert", 1, 1.0),   # initial insert
        (1, "insert", 1, 2.0),   # upsert = insert of the new version
        (2, "delete", 1, None),  # delete commit = real delete rows
    ]
    # no update images anywhere — the log view never synthesizes them
    assert not [r for r in rows if "update" in r[1]]


def test_delta_backend_add_path_percent_encoded(spark, tmp_path):
    """Spark's partitionBy Hive-escapes special chars to literal %XX
    directory names on disk (':' -> '%3A', '%' -> '%25'); PROTOCOL.md
    says add.path is a percent-encoded URI, so the backend must QUOTE
    the on-disk name when emitting the add — the reader's unquote then
    lands back on the real file. Round-trips values with ':' and '%',
    and drop_commit still finds the files on disk."""
    from feature_store_api_spark import FeatureStore
    from feature_store_api_spark.sources.delta_reader import read_delta

    fs = FeatureStore(root=str(tmp_path))
    fg = fs.create_feature_group(
        "dl_enc", primary_key=["k"], event_time="ts",
        partition_key=["tag"], time_travel_format="DELTA",
        auto_compact_every=None,
    )
    c1 = fg.insert(spark.createDataFrame(
        [(1, 10, "a:b"), (2, 10, "p%q")],
        "k long, ts long, tag string"))
    # external spec-conformant reader sees every row with its value
    ext = read_delta(spark, fg.location)
    got = sorted((r["k"], r["tag"]) for r in ext.collect())
    assert got == [(1, "a:b"), (2, "p%q")]
    # the log path is quoted: unquoting it must hit a real file,
    # and the RAW path must NOT exist (i.e. quoting actually fired)
    import urllib.parse

    log_dir = os.path.join(fg.location, "_delta_log")
    with open(os.path.join(log_dir, f"{0:020d}.json")) as fh:
        adds = [json.loads(l)["add"] for l in fh
                if l.strip() and "add" in json.loads(l)]
    assert adds
    for a in adds:
        assert os.path.exists(
            os.path.join(fg.location, urllib.parse.unquote(a["path"])))
        assert "%253A" in a["path"] or "%2525" in a["path"]
    # vacuum path: drop_commit resolves encoded paths back to disk
    fg.insert(spark.createDataFrame(
        [(3, 20, "x:y")], "k long, ts long, tag string"))
    assert fg.commit_store.backend.drop_commit(c1.commit_time)
    files = [
        os.path.join(dp, f)
        for dp, _dn, fn in os.walk(fg.location) for f in fn
        if f.endswith(".parquet") and "_delta_log" not in dp
        and "_change_data" not in dp
    ]
    assert len(files) == 1  # the dropped commit's files are GONE
    assert sorted(r["k"] for r in fg.read(spark).collect()) == [3]


def test_delta_add_action_pruning(spark, tmp_path):
    """read_delta(filters=) prunes add actions via partitionValues
    (typed through the declared schema) and the stats JSON's
    minValues/maxValues — the pruned file is DELETED from disk before
    the read, so passing proves it never reached the relation. The
    exact residual predicate keeps row-level semantics; TimestampType
    columns never prune (session-zone-dependent serialization)."""
    from feature_store_api_spark.sources.delta_reader import read_delta

    root = str(tmp_path / "prune_tbl")
    log = os.path.join(root, "_delta_log")
    _write_parquet(
        spark, {"k": [1, 5], "v": [1.0, 5.0]}, None,
        os.path.join(root, "lang=en", "f-en.parquet"),
    )
    _write_parquet(
        spark, {"k": [8, 15], "v": [8.0, 15.0]}, None,
        os.path.join(root, "lang=de", "f-de.parquet"),
    )
    _commit(log, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        _meta(partition_cols=["lang"]),
        {"add": {"path": "lang=en/f-en.parquet",
                 "partitionValues": {"lang": "en"},
                 "stats": json.dumps({"numRecords": 2,
                                      "minValues": {"k": 1},
                                      "maxValues": {"k": 5}}),
                 "size": 1, "modificationTime": 0, "dataChange": True}},
        {"add": {"path": "lang=de/f-de.parquet",
                 "partitionValues": {"lang": "de"},
                 "stats": json.dumps({"numRecords": 2,
                                      "minValues": {"k": 8},
                                      "maxValues": {"k": 15}}),
                 "size": 1, "modificationTime": 0, "dataChange": True}},
    ], ts=1_000)

    # partition pruning: the 'de' file is deleted from disk — only a
    # pruned plan can read
    import shutil as _sh

    _sh.rmtree(os.path.join(root, "lang=de"))
    plan = {}
    out = read_delta(
        spark, root, filters=("lang", "==", "en"), plan_out=plan)
    assert plan["data_files"] == ["lang=en/f-en.parquet"]
    assert plan["data_files_pruned"] == 1
    assert sorted((r["k"], r["lang"]) for r in out.collect()) == [
        (1, "en"), (5, "en")]

    # stats pruning: de's minValues.k = 8 > 5 -> pruned by the stats
    # JSON alone (en kept by both operands)
    plan2 = {}
    out2 = read_delta(spark, root, filters=("k", "<=", 5), plan_out=plan2)
    assert plan2["data_files"] == ["lang=en/f-en.parquet"]
    assert plan2["data_files_pruned"] == 1
    assert sorted(r["k"] for r in out2.collect()) == [1, 5]

    # residual exactness: k == 5 prunes de (lo 8 > 5), keeps en, and
    # the row filter still drops k=1 from the kept file
    out3 = read_delta(spark, root, filters=("k", "==", 5))
    assert sorted(r["k"] for r in out3.collect()) == [5]
