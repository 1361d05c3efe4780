"""Delta Lake interop: spec-conformance and semantics tests.

Validates the from-scratch Delta protocol implementation
(sources/delta_interop.py) against the PUBLIC PROTOCOL.md contract:
log file layout, action shapes, checkpoint replay, typed partition
recovery, protocol-gate refusals, in-place CONVERT TO DELTA, and the
zero-copy txlog export. No delta jars exist in the container, so the
log format itself is asserted structurally (file names, action JSON
fields, stats shape) — the parts a foreign reader would parse."""

from __future__ import annotations

import contextlib
import json
import os
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from projectdatalake_spark.sources import atomic as _atomic
from projectdatalake_spark.sources.delta_interop import (
    DeltaCommitConflict,
    DeltaProtocolError,
    DeltaTable,
    convert_parquet_to_delta,
    convert_txlog_to_delta,
)
from projectdatalake_spark.sources.txlog import TxTable


def _df(spark, lo=0, hi=100, seg_mod=3):
    return (
        spark.range(lo, hi)
        .withColumn("seg", (F.col("id") % seg_mod).cast("int"))
        .withColumn("val", F.col("id") * 2.5)
        .repartition(4)
    )


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="delta_test_")
    yield d


def test_log_layout_and_action_shapes(spark, root):
    t = DeltaTable.create(spark, root, _df(spark), partition_by=("seg",))
    log = os.path.join(root, "_delta_log")
    visible = [f for f in os.listdir(log) if not f.startswith(".")]
    assert sorted(visible) == [f"{0:020d}.json"]
    lines = [json.loads(x) for x in open(f"{log}/{0:020d}.json") if x.strip()]
    kinds = [next(iter(a)) for a in lines]
    assert kinds[0] == "commitInfo"
    assert "protocol" in kinds and "metaData" in kinds
    proto = next(a["protocol"] for a in lines if "protocol" in a)
    assert proto == {"minReaderVersion": 1, "minWriterVersion": 2}
    meta = next(a["metaData"] for a in lines if "metaData" in a)
    # schemaString is a Spark StructType JSON any Delta reader parses
    assert StructType.fromJson(json.loads(meta["schemaString"])).fieldNames() == [
        "id", "seg", "val",
    ]
    assert meta["partitionColumns"] == ["seg"]
    adds = [a["add"] for a in lines if "add" in a]
    assert adds and all(
        set(a) >= {"path", "partitionValues", "size", "modificationTime", "dataChange"}
        for a in adds
    )
    # partition columns live in partitionValues (strings) and the hive path,
    # NOT in the data files — the Delta physical-layout convention
    some = adds[0]
    assert some["partitionValues"]["seg"] in {"0", "1", "2"}
    assert some["path"].startswith("seg=")
    stats = json.loads(some["stats"])
    assert set(stats) == {"numRecords", "minValues", "maxValues", "nullCount"}
    assert "seg" not in stats["minValues"]  # partition col not in file stats
    assert t.snapshot().count() == 100


def test_typed_partition_recovery_and_time_travel(spark, root):
    t = DeltaTable.create(spark, root, _df(spark), partition_by=("seg",))
    t.append(
        spark.range(100, 130)
        .withColumn("seg", F.lit(7).cast("int"))
        .withColumn("val", F.lit(0.0))
    )
    assert dict(t.snapshot().dtypes)["seg"] == "int"  # typed, not string
    assert t.snapshot().count() == 130
    assert t.snapshot(version=0).count() == 100
    assert t.snapshot().filter("seg = 7").count() == 30
    # fresh reader (no writer memos) sees identical state
    t2 = DeltaTable(spark, root)
    assert t2.snapshot().count() == 130
    assert [h["operation"] for h in t2.history()] == ["CREATE TABLE AS SELECT", "WRITE"]


def test_overwrite_removes_previous_files(spark, root):
    t = DeltaTable.create(spark, root, _df(spark))
    v = t.overwrite(_df(spark, 0, 10))
    assert v == 1
    assert t.snapshot().count() == 10
    assert t.snapshot(version=0).count() == 100
    lines = [
        json.loads(x)
        for x in open(f"{root}/_delta_log/{1:020d}.json")
        if x.strip()
    ]
    assert any("remove" in a for a in lines)


def test_checkpoint_replay_and_log_pruning(spark, root):
    t = DeltaTable.create(spark, root, _df(spark, 0, 20))
    for i in range(4):
        t.append(_df(spark, 100 + i * 10, 110 + i * 10))
    v = t.checkpoint()
    assert os.path.exists(f"{root}/_delta_log/{v:020d}.checkpoint.parquet")
    last = json.loads(open(f"{root}/_delta_log/_last_checkpoint").read())
    assert last["version"] == v
    pruned = t.prune_log()
    assert pruned == 5
    # a FRESH reader must reconstruct purely from checkpoint + tail
    t2 = DeltaTable(spark, root)
    assert t2.snapshot().count() == 60
    t2_adds = t2.files()
    assert all(a.get("stats") for a in t2_adds)  # stats survive the checkpoint
    # post-checkpoint commits still replay on top
    t.append(_df(spark, 500, 505))
    assert DeltaTable(spark, root).snapshot().count() == 65
    # pre-checkpoint time travel is gone, loudly
    with pytest.raises(FileNotFoundError):
        DeltaTable(spark, root).snapshot(version=1)


def test_checkpoint_v2_sidecars_roundtrip(spark, root):
    """V2 checkpoint: uuid-named top-level file carries protocol /
    metaData / txn / checkpointMetadata / sidecar actions; the add
    actions shard across parquet sidecars under _delta_log/_sidecars/;
    a fresh reader replays purely from it after log pruning."""
    t = DeltaTable.create(spark, root, _df(spark, 0, 20))
    for i in range(3):
        t.append(_df(spark, 100 + i * 10, 110 + i * 10))
    t.append(_df(spark, 400, 405), txn=("job", 1))
    n = t.snapshot().count()
    v = t.checkpoint_v2(sidecar_files=2)
    log = f"{root}/_delta_log"
    tops = [
        f
        for f in os.listdir(log)
        if f.startswith(f"{v:020d}.checkpoint.") and f.endswith(".parquet")
        and f != f"{v:020d}.checkpoint.parquet"
    ]
    assert len(tops) == 1  # uuid-named V2 top-level
    sidecars = [
        f for f in os.listdir(f"{log}/_sidecars") if f.endswith(".parquet")
    ]
    assert len(sidecars) == 2
    top = spark.read.parquet(f"{log}/{tops[0]}")
    top_rows = [r.asDict(recursive=True) for r in top.collect()]
    assert [r["checkpointMetadata"]["version"] for r in top_rows
            if r["checkpointMetadata"]] == [v]
    assert all(r["add"] is None for r in top_rows)  # adds live in sidecars
    assert sorted(
        r["sidecar"]["path"] for r in top_rows if r["sidecar"]
    ) == sorted(sidecars)
    # protocol upgrade commit landed first and enumerated legacy features
    proto = next(r["protocol"] for r in top_rows if r["protocol"])
    assert proto["minReaderVersion"] == 3 and proto["minWriterVersion"] == 7
    assert "v2Checkpoint" in proto["readerFeatures"]
    assert {"v2Checkpoint", "appendOnly", "invariants"} <= set(
        proto["writerFeatures"]
    )
    last = json.loads(open(f"{log}/_last_checkpoint").read())
    assert last["version"] == v
    # prune the JSON log: a fresh reader reconstructs from the V2 tree
    assert t.prune_log() > 0
    t2 = DeltaTable(spark, root)
    assert t2.snapshot().count() == n
    assert all(a.get("stats") for a in t2.files())
    assert t2.txn_version("job") == 1  # txn actions survive in the top file
    # post-checkpoint commits replay on top
    t2.append(_df(spark, 500, 505))
    assert DeltaTable(spark, root).snapshot().count() == n + 5


def test_checkpoint_v2_on_feature_table_and_classic_preserves_features(
    spark, root
):
    """Two regressions pinned: (1) a CLASSIC checkpoint of a feature
    table (DVs) must not drop readerFeatures from its protocol row;
    (2) checkpoint_v2 on an already-upgraded table adds v2Checkpoint to
    the EXISTING feature set instead of clobbering it."""
    t = DeltaTable.create(spark, root, _df(spark, 0, 60))
    t.delete_where_dv("id % 3 = 0")  # upgrades to (3,7)+deletionVectors
    n = t.snapshot().count()
    t.checkpoint()  # classic shape
    t.prune_log()
    t2 = DeltaTable(spark, root)
    proto = t2._state()["protocol"]
    assert "deletionVectors" in (proto.get("readerFeatures") or [])
    assert t2.snapshot().count() == n  # DVs still applied post-replay
    v = t2.checkpoint_v2(sidecar_files=1)
    t2.prune_log()
    t3 = DeltaTable(spark, root)
    proto3 = t3._state()["protocol"]
    assert {"deletionVectors", "v2Checkpoint"} <= set(proto3["readerFeatures"])
    assert t3.snapshot().count() == n
    # when classic and V2 coexist at one version, the V2 file is resolved
    t3.checkpoint()  # classic at the same tip version as a later v2
    t3.checkpoint_v2(sidecar_files=1)
    assert DeltaTable(spark, root).snapshot().count() == n


def test_stats_file_skipping(spark, root):
    df = spark.range(0, 1000).withColumn("val", F.col("id") * 1.0)
    t = DeltaTable.create(spark, root, df.repartitionByRange(10, "id"))
    kept = [a for a in t.files() if DeltaTable._stats_may_match(a, {"id": (950, None)})]
    assert 0 < len(kept) < t.num_files()
    total = t.snapshot(where={"id": (950, None)})
    assert total.filter("id >= 950").count() == 50


def test_protocol_refusals(spark, root):
    os.makedirs(f"{root}/_delta_log")
    empty_schema = json.dumps({"type": "struct", "fields": []})

    def write_v0(proto, conf=None):
        with open(f"{root}/_delta_log/{0:020d}.json", "w") as f:
            f.write(json.dumps({"protocol": proto}) + "\n")
            f.write(
                json.dumps(
                    {
                        "metaData": {
                            "id": "t",
                            "format": {"provider": "parquet", "options": {}},
                            "schemaString": empty_schema,
                            "partitionColumns": [],
                            "configuration": conf or {},
                        }
                    }
                )
                + "\n"
            )

    # name/id mapping modes are supported now; an UNKNOWN mode still refuses
    write_v0(
        {"minReaderVersion": 2, "minWriterVersion": 5},
        {"delta.columnMapping.mode": "futureMode"},
    )
    with pytest.raises(DeltaProtocolError, match="column mapping"):
        DeltaTable(spark, root).snapshot()

    # timestampNtz alone is fine (supported feature)
    write_v0({"minReaderVersion": 3, "readerFeatures": ["timestampNtz"]})
    assert DeltaTable(spark, root).snapshot().count() == 0

    # deletionVectors IS supported now — but an UNKNOWN storage type is
    # still refused (rows would be resurrected)
    write_v0({"minReaderVersion": 3, "readerFeatures": ["futureFeature"]})
    with pytest.raises(DeltaProtocolError, match="futureFeature"):
        DeltaTable(spark, root).snapshot()

    with open(f"{root}/_delta_log/{0:020d}.json", "w") as f:
        f.write(json.dumps({"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}) + "\n")
        f.write(
            json.dumps(
                {
                    "metaData": {
                        "id": "t",
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": empty_schema,
                        "partitionColumns": [],
                        "configuration": {},
                    }
                }
            )
            + "\n"
        )
        f.write(
            json.dumps(
                {
                    "add": {
                        "path": "x.parquet",
                        "partitionValues": {},
                        "size": 1,
                        "modificationTime": 0,
                        "dataChange": True,
                        "deletionVector": {"storageType": "x", "pathOrInlineDv": "a"},
                    }
                }
            )
            + "\n"
        )
    with pytest.raises(DeltaProtocolError, match="storage type"):
        DeltaTable(spark, root).snapshot()


def test_convert_parquet_in_place_no_rewrite(spark, root):
    df = _df(spark, 0, 50, seg_mod=2)
    df.write.partitionBy("seg").mode("overwrite").parquet(root)
    before = sorted(
        (os.path.join(dp, f), os.path.getmtime(os.path.join(dp, f)))
        for dp, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet")
    )
    t = convert_parquet_to_delta(spark, root, df.schema, partition_by=("seg",))
    after = sorted(
        (os.path.join(dp, f), os.path.getmtime(os.path.join(dp, f)))
        for dp, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet") and "_delta_log" not in dp
    )
    assert before == after  # same files, same mtimes: metadata-only convert
    assert t.snapshot().count() == 50
    assert dict(t.snapshot().dtypes)["seg"] == "int"
    # partition pruning through partitionValues
    assert t.snapshot(where_eq={"seg": [1]}).count() == 25
    assert len([a for a in t.files() if a["partitionValues"]["seg"] == "1"]) < t.num_files()


def test_txn_idempotent_append(spark, root):
    t = DeltaTable.create(spark, root, _df(spark, 0, 10))
    assert t.append(_df(spark, 10, 20), txn=("job", 1)) == 1
    assert t.append(_df(spark, 10, 20), txn=("job", 1)) == -1  # replay skipped
    assert t.snapshot().count() == 20
    assert t.txn_version("job") == 1
    assert DeltaTable(spark, root).txn_version("job") == 1


def test_concurrent_append_conflict_retry(spark, root):
    t1 = DeltaTable.create(spark, root, _df(spark, 0, 10))
    t2 = DeltaTable(spark, root)
    v1 = t1.append(_df(spark, 10, 20))
    v2 = t2.append(_df(spark, 20, 30))  # stale tip view → retries to v2
    assert {v1, v2} == {1, 2}
    assert DeltaTable(spark, root).snapshot().count() == 30


def test_create_refuses_existing(spark, root):
    DeltaTable.create(spark, root, _df(spark, 0, 10))
    with pytest.raises(DeltaCommitConflict):
        DeltaTable.create(spark, root, _df(spark, 0, 10))


def test_txlog_export_zero_copy(spark, root):
    txroot = tempfile.mkdtemp(prefix="txsrc_")
    src = _df(spark, 0, 60)
    tx = TxTable.create(spark, txroot, src, partition_by=("seg",))
    tx.merge_upsert(
        spark.range(0, 5)
        .withColumn("seg", (F.col("id") % 3).cast("int"))
        .withColumn("val", F.lit(-1.0)),
        keys=["id"],
    )
    dest = os.path.join(root, "exported")
    dt = convert_txlog_to_delta(tx, dest)
    # zero-copy: absolute-path adds, no data files under dest
    assert all(a["path"].startswith("/") for a in dt.files())
    assert not any(
        f.endswith(".parquet")
        for dp, _, fs in os.walk(dest)
        if "_delta_log" not in dp
        for f in fs
    )
    got = sorted(dt.snapshot().select("id", "seg", "val").collect())
    want = sorted(tx.snapshot().select("id", "seg", "val").collect())
    assert got == want


def test_txlog_export_materializes_with_dv(spark, root):
    txroot = tempfile.mkdtemp(prefix="txsrc_dv_")
    tx = TxTable.create(spark, txroot, _df(spark, 0, 60))
    tx.delete_where_dv("id = 7")
    dest = os.path.join(root, "exported_dv")
    dt = convert_txlog_to_delta(tx, dest)
    # DV active → materialized copy (no absolute refs that would resurrect
    # the deleted row), and the deleted row stays deleted
    assert dt.snapshot().filter("id = 7").count() == 0
    assert dt.snapshot().count() == 59


# --- deletion vectors -------------------------------------------------------


def test_dv_delete_merge_on_read(spark, root):
    t = DeltaTable.create(
        spark, root, _df(spark, 0, 500), partition_by=("seg",)
    )
    files_before = {a["path"] for a in t.files()}
    v = t.delete_where_dv("id % 10 = 7")
    assert v == 1
    # ZERO files rewritten: same data files, now DV-masked
    assert {a["path"] for a in t.files()} == files_before
    assert t.snapshot().count() == 450
    assert t.snapshot().filter("id % 10 = 7").count() == 0
    # protocol upgraded to (3,7)+deletionVectors, exactly once
    proto = DeltaTable(spark, root)._state()["protocol"]
    assert proto["minReaderVersion"] == 3
    assert "deletionVectors" in proto["readerFeatures"]
    # second delete merges with existing DVs
    t.delete_where_dv("id % 10 = 3")
    assert t.snapshot().count() == 400
    assert DeltaTable(spark, root).snapshot().count() == 400


def test_dv_survives_checkpoint(spark, root):
    t = DeltaTable.create(spark, root, _df(spark, 0, 300))
    t.delete_where_dv("id < 100")
    t.checkpoint()
    t.prune_log()
    fresh = DeltaTable(spark, root)
    assert fresh.snapshot().count() == 200
    assert fresh.snapshot().filter("id < 100").count() == 0


def test_dv_file_storage_large_bitmap(spark, root):
    # one big file, scattered deletes → bitmap too large for inline z85
    df = spark.range(0, 200_000).withColumn("val", F.col("id") * 1.0).coalesce(1)
    t = DeltaTable.create(spark, root, df)
    t.delete_where_dv("id % 2 = 1")
    dvs = [a["deletionVector"] for a in t.files() if a.get("deletionVector")]
    assert dvs and dvs[0]["storageType"] == "p"
    assert dvs[0]["cardinality"] == 100_000
    assert os.path.getsize(dvs[0]["pathOrInlineDv"]) > 256
    assert t.snapshot().count() == 100_000
    assert t.snapshot().filter("id % 2 = 1").count() == 0


def test_dv_uuid_storage_type_read(spark, root):
    """Craft a spec-shaped storageType='u' descriptor by hand and prove
    the reader resolves <root>/deletion_vector_<uuid>.bin from the
    z85-encoded uuid."""
    import struct
    import uuid as uuid_mod
    import zlib

    from projectdatalake_spark.sources.roaring import (
        MAGIC, serialize_rba, z85_encode,
    )

    t = DeltaTable.create(spark, root, _df(spark, 0, 50).coalesce(1))
    add = t.files()[0]
    # rows 0 and 1 of the single data file get masked
    data = struct.pack("<i", MAGIC) + serialize_rba({0, 1})
    uid = uuid_mod.uuid4()
    blob = b"\x01" + struct.pack(">i", len(data)) + data + struct.pack(
        ">i", zlib.crc32(data) & 0x7FFFFFFF
    )
    with open(os.path.join(root, f"deletion_vector_{uid}.bin"), "wb") as f:
        f.write(blob)
    desc = {
        "storageType": "u",
        "pathOrInlineDv": z85_encode(uid.bytes),
        "offset": 1,
        "sizeInBytes": len(data),
        "cardinality": 2,
    }
    state = t._state()
    actions = [
        {"remove": {"path": add["path"], "deletionTimestamp": 0, "dataChange": True}},
        {"add": {**add, "deletionVector": desc}},
    ]
    t._publish(state["version"] + 1, actions)
    assert DeltaTable(spark, root).snapshot().count() == 48


def test_optimize_materializes_dvs_and_compacts(spark, root):
    t = DeltaTable.create(
        spark, root, _df(spark, 0, 500), partition_by=("seg",)
    )
    t.delete_where_dv("id % 10 = 7")
    assert any(a.get("deletionVector") for a in t.files())
    files_before = t.num_files()
    v = t.optimize()
    assert v == 2
    assert t.num_files() < files_before
    assert not any(a.get("deletionVector") for a in t.files())
    assert t.snapshot().count() == 450
    assert t.snapshot().filter("id % 10 = 7").count() == 0
    # the rewrite is dataChange=false (layout change, not data change)
    lines = [
        json.loads(x)
        for x in open(f"{root}/_delta_log/{v:020d}.json")
        if x.strip()
    ]
    adds = [a["add"] for a in lines if "add" in a]
    removes = [a["remove"] for a in lines if "remove" in a]
    assert adds and all(a["dataChange"] is False for a in adds)
    assert removes and all(r["dataChange"] is False for r in removes)
    # pre-optimize version still reads through its DVs (time travel)
    assert DeltaTable(spark, root).snapshot(version=1).count() == 450
    # nothing left to do
    assert t.optimize(target_files_per_partition=999) is None


def test_changes_cdf_by_version_diff(spark, root):
    t = DeltaTable.create(spark, root, _df(spark, 0, 100), partition_by=("seg",))
    t.append(
        spark.range(100, 120)
        .withColumn("seg", F.lit(5).cast("int"))
        .withColumn("val", F.lit(0.0))
    )
    t.delete_where_dv("id % 10 = 7")
    t.optimize()
    t.overwrite(
        spark.range(0, 5)
        .withColumn("seg", F.lit(0).cast("int"))
        .withColumn("val", F.lit(9.0))
    )
    got = {
        (r["_commit_version"], r["_change_type"]): r["count"]
        for r in t.changes(0)
        .groupBy("_commit_version", "_change_type")
        .count()
        .collect()
    }
    assert got == {
        (0, "insert"): 100,
        (1, "insert"): 20,
        (2, "delete"): 12,      # ids ≡7 (mod 10) in 0..119
        # v3 OPTIMIZE: dataChange=false → NO change rows
        (4, "delete"): 108,     # overwrite removes the 108 survivors
        (4, "insert"): 5,
    }
    # windowed read: only the delete commit
    assert t.changes(2, 2).count() == 12
    # the DV delete emits the exact masked rows
    deleted = {r["id"] for r in t.changes(2, 2).collect()}
    assert deleted == {i for i in range(120) if i % 10 == 7}


def test_column_mapping_name_mode_read(spark, root):
    """A column-mapped table (mode=name, the delta-spark default once
    mapping is enabled): data files carry PHYSICAL names, partitionValues
    are keyed physically, the schemaString maps logical names. Reads
    resolve and rename; writes are refused (read-only support)."""
    phys_part = "col-p1"
    df = spark.range(0, 60).select(
        F.col("id").alias("col-a1"),
        (F.col("id") * 2.0).alias("col-b2"),
        (F.col("id") % 2).cast("int").alias(phys_part),
    )
    df.repartition(2).write.partitionBy(phys_part).mode("overwrite").parquet(root)
    files = [
        os.path.relpath(os.path.join(dp, f), root)
        for dp, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet") and "_delta_log" not in dp
    ]
    schema = {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "col-a1"}},
            {"name": "val", "type": "double", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "col-b2"}},
            {"name": "seg", "type": "integer", "nullable": True,
             "metadata": {"delta.columnMapping.id": 3,
                          "delta.columnMapping.physicalName": phys_part}},
        ],
    }
    os.makedirs(f"{root}/_delta_log")
    with open(f"{root}/_delta_log/{0:020d}.json", "w") as fh:
        fh.write(json.dumps(
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}}) + "\n")
        fh.write(json.dumps({"metaData": {
            "id": "m", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema),
            "partitionColumns": ["seg"],
            "configuration": {"delta.columnMapping.mode": "name"},
        }}) + "\n")
        for rel in files:
            seg = rel.split("=")[1].split("/")[0]
            fh.write(json.dumps({"add": {
                "path": rel, "partitionValues": {phys_part: seg},
                "size": 1, "modificationTime": 0, "dataChange": True}}) + "\n")

    t = DeltaTable(spark, root)
    s = t.snapshot()
    assert s.columns == ["id", "val", "seg"]  # LOGICAL names
    assert dict(s.dtypes)["seg"] == "int"
    assert s.count() == 60
    assert s.agg(F.sum("val")).collect()[0][0] == sum(i * 2.0 for i in range(60))
    # partition pruning accepts the LOGICAL name, maps to physical keys
    assert t.snapshot(where_eq={"seg": [1]}).count() == 30
    # a frame carrying PHYSICAL names is refused: appends speak LOGICAL
    # names, so physical names read as unknown columns (round 12: no
    # longer a blanket mapped-table refusal — with merge_schema=True
    # they would mint as NEW logical columns, which is why the default
    # refusal matters)
    with pytest.raises(DeltaProtocolError, match="merge_schema"):
        t.append(df)
    # round 11 (was a refusal): DV delete through the mapping — the
    # predicate speaks LOGICAL names, the DV binds to (file, row_index)
    assert t.delete_where_dv("id % 10 = 1") is not None
    s2 = t.snapshot()
    assert s2.count() == 54
    assert s2.filter("id % 10 = 1").count() == 0
    assert s2.agg(F.sum("val")).collect()[0][0] == sum(
        i * 2.0 for i in range(60) if i % 10 != 1
    )


def test_replace_where_partition_scoped(spark, root):
    t = DeltaTable.create(spark, root, _df(spark, 0, 90), partition_by=("seg",))
    untouched_before = {
        a["path"] for a in t.files() if a["partitionValues"]["seg"] != "1"
    }
    repl = (
        spark.range(1000, 1010)
        .withColumn("seg", F.lit(1).cast("int"))
        .withColumn("val", F.lit(-1.0))
    )
    v = t.replace_where(repl, {"seg": [1]})
    assert v == 1
    s = t.snapshot()
    assert s.filter("seg = 1").count() == 10      # replaced
    assert s.filter("seg != 1").count() == 60     # untouched rows
    # untouched partitions keep their add actions byte-identical
    untouched_after = {
        a["path"] for a in t.files() if a["partitionValues"]["seg"] != "1"
    }
    assert untouched_before == untouched_after
    # rerun idempotence: same replace again → same final state
    t.replace_where(repl, {"seg": [1]})
    assert t.snapshot().filter("seg = 1").count() == 10
    # out-of-scope rows are refused
    with pytest.raises(DeltaProtocolError, match="outside"):
        t.replace_where(
            spark.range(5)
            .withColumn("seg", F.lit(2).cast("int"))
            .withColumn("val", F.lit(0.0)),
            {"seg": [1]},
        )
    with pytest.raises(DeltaProtocolError, match="partition columns"):
        t.replace_where(repl, {"val": [1.0]})


def test_stats_keyed_by_full_path_not_basename(spark, root):
    """Partitioned writes reuse part-file basenames across partition dirs
    (seg=0/part-00000-… and seg=1/part-00000-…). Stats must be keyed by
    FULL path — a basename-keyed map attributes one file's stats to its
    same-named siblings, and min/max skipping then silently DROPS rows.
    Regression for exactly that bug."""
    df = (
        spark.range(0, 300)
        .withColumn("seg", (F.col("id") % 3).cast("int"))
        .withColumn("val", F.col("id") * 1.0)
        .repartition(4)
    )
    t = DeltaTable.create(spark, root, df, partition_by=("seg",))
    # same basenames exist across partitions (the collision precondition)
    bases = [a["path"].rsplit("/", 1)[-1] for a in t.files()]
    assert len(bases) != len(set(bases))
    # per-file stats must describe THEIR file: the skipping read loses no rows
    for lo in (0, 100, 250):
        got = t.snapshot(where={"id": (lo, None)}).filter(F.col("id") >= lo).count()
        assert got == 300 - lo
    # per-add numRecords sums to the table count (each file described once)
    total = sum(
        json.loads(a["stats"])["numRecords"] for a in t.files() if a.get("stats")
    )
    assert total == 300


def test_vacuum_reclaims_unreferenced_files(spark, root):
    t = DeltaTable.create(spark, root, _df(spark, 0, 300), partition_by=("seg",))
    t.delete_where_dv("id % 10 = 7")
    t.optimize()  # old files + DV blob now unreferenced by the tip
    before = sum(
        1
        for dp, _, fs in os.walk(root)
        if "_delta_log" not in dp
        for f in fs
        if f.endswith(".parquet")
    )
    n = t.vacuum(retain_versions=1)
    assert n > 0
    after = sum(
        1
        for dp, _, fs in os.walk(root)
        if "_delta_log" not in dp
        for f in fs
        if f.endswith(".parquet")
    )
    assert after == before - n == t.num_files()
    # current snapshot intact
    assert t.snapshot().count() == 270
    assert t.snapshot().filter("id % 10 = 7").count() == 0
    # pre-vacuum time travel now fails LOUDLY (missing file), not silently
    with pytest.raises(Exception):
        DeltaTable(spark, root).snapshot(version=0).count()


def test_timestamp_as_of(spark, root):
    import time as _time

    t = DeltaTable.create(spark, root, _df(spark, 0, 50))
    _time.sleep(0.8)
    mid = int(_time.time() * 1000)
    _time.sleep(0.8)
    t.append(_df(spark, 100, 120))
    assert t.version_at(mid) == 0
    assert t.version_at(int(_time.time() * 1000)) == 1
    assert t.snapshot(version=t.version_at(mid)).count() == 50
    with pytest.raises(ValueError, match="predates"):
        t.version_at(1)


def test_merge_schema_append(spark, root):
    t = DeltaTable.create(spark, root, _df(spark, 0, 50))
    extra = (
        spark.range(100, 110)
        .withColumn("seg", F.lit(9).cast("int"))
        .withColumn("val", F.lit(0.0))
        .withColumn("note", F.lit("x"))
    )
    # refused without the flag
    with pytest.raises(DeltaProtocolError, match="merge_schema"):
        t.append(extra)
    t.append(extra, merge_schema=True)
    s = t.snapshot()
    assert s.columns == ["id", "seg", "val", "note"]
    assert s.count() == 60
    assert s.filter("note = 'x'").count() == 10
    assert s.filter("note IS NULL").count() == 50  # old files: typed null
    # fresh reader sees the evolved schema from the log
    assert DeltaTable(spark, root).snapshot().columns == ["id", "seg", "val", "note"]


def test_rename_column_via_column_mapping(spark, root):
    """First rename upgrades to columnMapping name mode — ids +
    physicalNames frozen to the pre-rename names, protocol (2,5) — and
    is METADATA-ONLY: zero data files rewritten, old files resolve
    under the new logical name."""
    import json as _json

    df = _df(spark, 0, 100)
    t = DeltaTable.create(spark, root, df, partition_by=("seg",))
    files_before = sorted(a["path"] for a in t.files())
    t.rename_column("val", "amount")
    assert sorted(a["path"] for a in t.files()) == files_before  # no rewrite
    back = t.snapshot()
    assert set(back.columns) == {"id", "seg", "amount"}
    assert (
        back.agg(F.sum("amount")).collect()[0][0]
        == df.agg(F.sum("val")).collect()[0][0]
    )
    meta = t._state()["metaData"]
    cfg = meta["configuration"]
    assert cfg["delta.columnMapping.mode"] == "name"
    fields = {f["name"]: f for f in _json.loads(meta["schemaString"])["fields"]}
    # physical name frozen to the ORIGINAL name; mapping ids assigned
    assert fields["amount"]["metadata"]["delta.columnMapping.physicalName"] == "val"
    assert fields["amount"]["metadata"]["delta.columnMapping.id"] >= 1
    proto = t._state()["protocol"]
    assert proto["minReaderVersion"] == 2 and proto["minWriterVersion"] == 5
    # time travel BEFORE the rename still shows the old logical name
    assert "val" in t.snapshot(version=0).columns
    # partition column rename refused (physical name = directory layout)
    with pytest.raises(DeltaProtocolError, match="partition column"):
        t.rename_column("seg", "bucket")


def test_append_after_rename_physical_staging(spark, root):
    t = DeltaTable.create(spark, root, _df(spark, 0, 50), partition_by=("seg",))
    t.rename_column("val", "amount")
    t.append(
        spark.range(50, 70)
        .withColumn("seg", (F.col("id") % 3).cast("int"))
        .withColumn("amount", F.col("id") * 2.5)
    )
    back = t.snapshot()
    assert back.count() == 70
    # old and new files agree under one resolution rule
    assert back.filter("id >= 50").agg(F.sum("amount")).collect()[0][0] == sum(
        i * 2.5 for i in range(50, 70)
    )
    # a second rename reuses the frozen physical names (no re-upgrade)
    t.rename_column("amount", "price")
    assert t.snapshot().filter("price IS NOT NULL").count() == 70
    # mergeSchema on a mapped table mints fresh ids (round 12 — was a
    # refusal; full coverage in test_merge_schema_on_mapped_tables)
    t.append(
        spark.range(0, 1)
        .withColumn("seg", F.lit(0).cast("int"))
        .withColumn("price", F.lit(0.0))
        .withColumn("extra", F.lit(1)),
        merge_schema=True,
    )
    assert t.snapshot().filter("extra = 1").count() == 1
    # ...but without merge_schema=True unknown columns stay refused
    with pytest.raises(DeltaProtocolError, match="merge_schema"):
        t.append(
            spark.range(1, 2)
            .withColumn("seg", F.lit(0).cast("int"))
            .withColumn("price", F.lit(0.0))
            .withColumn("surprise", F.lit(1))
        )


def test_check_constraints(spark, root):
    """Protocol checkConstraints: delta.constraints.<name> in the table
    config, minWriterVersion 3, writer-enforced on append/overwrite
    (SQL CHECK semantics — NULL passes, FALSE refuses), refused if the
    current snapshot already violates."""
    t = DeltaTable.create(spark, root, _df(spark, 0, 50))
    t.add_constraint("val_nonneg", "val >= 0")
    st = t._state()
    assert st["protocol"]["minWriterVersion"] == 3
    assert st["metaData"]["configuration"]["delta.constraints.val_nonneg"] == "val >= 0"
    t.append(_df(spark, 50, 60))
    assert t.snapshot().count() == 60
    bad = (
        spark.range(60, 61)
        .withColumn("seg", F.lit(0).cast("int"))
        .withColumn("val", F.lit(-5.0))
    )
    with pytest.raises(DeltaProtocolError, match="CHECK constraint"):
        t.append(bad)
    with pytest.raises(DeltaProtocolError, match="CHECK constraint"):
        t.overwrite(bad)
    assert t.snapshot().count() == 60  # nothing leaked
    # a constraint the current rows violate is refused at creation
    with pytest.raises(DeltaProtocolError, match="existing rows"):
        t.add_constraint("val_big", "val >= 10")
    with pytest.raises(DeltaProtocolError, match="already exists"):
        t.add_constraint("val_nonneg", "val >= 0")
    # NULL passes (SQL CHECK semantics): merge_schema append whose new
    # column is absent from the constraint's inputs stays writable
    t.add_constraint("seg_small", "seg < 100")
    t.append(
        spark.range(70, 72)
        .withColumn("seg", F.lit(1).cast("int"))
        .withColumn("val", F.lit(1.0))
        .withColumn("origin", F.lit("late")),
        merge_schema=True,
    )
    assert t.snapshot().count() == 62
    # drop releases enforcement
    t.drop_constraint("val_nonneg")
    t.append(bad.withColumn("origin", F.lit(None).cast("string")))
    assert t.snapshot().count() == 63


def test_merge_upsert_touched_files_only(spark, root):
    """MERGE through the Delta log: matched keys update, new keys insert,
    and ONLY files containing a matched key are removed+re-added — every
    other add action survives the commit byte-identical (the touched-file
    contract that keeps 100 TB merges O(matched files))."""
    t = DeltaTable.create(spark, root, _df(spark, 0, 90), partition_by=("seg",))
    before = t._state()
    upd = (
        spark.createDataFrame(
            [(5, 5 % 3, -1.0), (200, 200 % 3, -2.0)],
            "id long, seg int, val double",
        )
    )
    v = t.merge_upsert(upd, keys=["id"])
    back = t.snapshot()
    assert back.count() == 91  # 90 + 1 insert
    assert back.filter("id = 5").collect()[0]["val"] == -1.0
    assert back.filter("id = 200").collect()[0]["val"] == -2.0
    assert back.filter("id = 6").collect()[0]["val"] == 15.0  # untouched
    # only the files holding id=5 were removed; survivors byte-identical
    acts = t._commit_actions(v)
    removed = {a["remove"]["path"] for a in acts if "remove" in a}
    assert removed and removed < set(before["adds"])
    after = t._state()
    untouched = set(before["adds"]) - removed
    assert untouched <= set(after["adds"])
    assert all(before["adds"][p] == after["adds"][p] for p in untouched)
    assert any("commitInfo" in a and a["commitInfo"]["operation"] == "MERGE"
               for a in acts)
    # empty updates: no-op, no commit
    assert t.merge_upsert(upd.limit(0), keys=["id"]) == -1
    assert t.latest_version() == v


def test_merge_upsert_respects_deletion_vectors(spark, root):
    """A key whose only prior row is DV-masked must INSERT, not resurrect
    the masked generation alongside the update."""
    t = DeltaTable.create(spark, root, _df(spark, 0, 30))
    t.delete_where_dv("id = 7")
    assert t.snapshot().filter("id = 7").count() == 0
    upd = spark.createDataFrame([(7, 1, 99.0)], "id long, seg int, val double")
    t.merge_upsert(upd, keys=["id"])
    rows = t.snapshot().filter("id = 7").collect()
    assert [r["val"] for r in rows] == [99.0]
    assert t.snapshot().count() == 30  # 29 survivors + 1 upserted


def test_merge_upsert_conflict_refuses_stale_touched_set(spark, root):
    """A racer committing between merge planning and publish must surface
    as DeltaCommitConflict — a blind retry could drop the racer's rows
    from the rewritten files."""
    t = DeltaTable.create(spark, root, _df(spark, 0, 30))
    orig_stage = t._stage

    def racing_stage(df, pcols):
        adds = orig_stage(df, pcols)
        DeltaTable(spark, root).append(_df(spark, 100, 110))  # racer lands
        return adds

    t._stage = racing_stage
    upd = spark.createDataFrame([(5, 2, -1.0)], "id long, seg int, val double")
    with pytest.raises(DeltaCommitConflict):
        t.merge_upsert(upd, keys=["id"])
    # racer's rows intact; merge never half-landed
    fresh = DeltaTable(spark, root)
    assert fresh.snapshot().count() == 40
    assert fresh.snapshot().filter("val = -1.0").count() == 0
    # recompute against the new tip → clean landing
    fresh.merge_upsert(upd, keys=["id"])
    assert DeltaTable(spark, root).snapshot().filter("val = -1.0").count() == 1


def test_merge_upsert_stats_prune_bounds_probe(spark, root):
    """Merge candidate pruning: with range-clustered files, an update
    batch touching a narrow key range must REWRITE only the files whose
    stats overlap it — the property that keeps a 100 TB merge O(matched
    files). Asserted on commit actions (counts, not timings)."""
    df = (
        spark.range(0, 4000)
        .withColumn("seg", F.lit(0).cast("int"))
        .withColumn("val", F.col("id") * 1.0)
        .repartitionByRange(8, "id")  # contiguous id range per file
    )
    t = DeltaTable.create(spark, root, df)
    n_files = len(t._state()["adds"])
    assert n_files >= 8
    upd = spark.createDataFrame(
        [(100, 0, -1.0), (101, 0, -2.0)], "id long, seg int, val double"
    )
    v = t.merge_upsert(upd, keys=["id"])
    removed = [
        a for a in t._commit_actions(v) if "remove" in a
    ]
    # ids 100-101 live in ONE range file; everything else untouched
    assert len(removed) == 1, (len(removed), n_files)
    assert t.snapshot().count() == 4000
    assert t.snapshot().filter("val = -1.0").count() == 1


def test_merge_bloom_prune_bounds_probe(spark, root):
    """Bloom-augmented merge probe: with HASH-SCATTERED keys (every file's
    min/max spans the whole range, so stats pruning keeps everything), a
    table opted into bloom_by on the merge key must probe only the files
    whose bloom may contain an update key — the bound that keeps a
    trickle-CDC merge from scanning every file's key column. Blooms live
    in add.tags (protocol-safe; external readers ignore them) and must
    survive a checkpoint round-trip."""
    df = (
        spark.range(0, 4000)
        .withColumn("seg", F.lit(0).cast("int"))
        .withColumn("val", F.col("id") * 1.0)
        .repartition(8)  # round-robin: overlapping id ranges per file
    )
    t = DeltaTable.create(spark, root, df, bloom_by=("id",))
    state = t._state()
    n_files = len(state["adds"])
    assert n_files >= 8
    assert all("graft.bloom.id" in (a.get("tags") or {}) for a in state["adds"].values())
    upd = spark.createDataFrame(
        [(100, 0, -1.0), (101, 0, -2.0), (9999, 0, -3.0)],
        "id long, seg int, val double",
    )
    v = t.merge_upsert(upd, keys=["id"])
    # stats keep all files; blooms must cut the probe well below that
    assert t._last_merge_probe_files < n_files, (
        t._last_merge_probe_files, n_files,
    )
    removed = [a for a in t._commit_actions(v) if "remove" in a]
    assert 1 <= len(removed) <= t._last_merge_probe_files
    snap = t.snapshot()
    assert snap.count() == 4001  # 4000 + the id=9999 insert
    assert snap.filter("val = -1.0").count() == 1
    assert snap.filter("id = 9999").collect()[0]["val"] == -3.0
    assert snap.filter("id = 102").collect()[0]["val"] == 102.0
    # blooms survive checkpoint replay, and the rewritten file got a fresh
    # one (0-row part files carry neither stats nor bloom — same contract)
    t.checkpoint()
    t2 = DeltaTable(spark, root)
    adds2 = t2._state()["adds"]
    def _has_rows(a):
        return json.loads(a.get("stats") or '{"numRecords":0}')["numRecords"] > 0
    assert all(
        "graft.bloom.id" in (a.get("tags") or {})
        for a in adds2.values() if _has_rows(a)
    )
    upd2 = spark.createDataFrame([(200, 0, -9.0)], "id long, seg int, val double")
    t2.merge_upsert(upd2, keys=["id"])
    assert t2._last_merge_probe_files < len(adds2)
    assert DeltaTable(spark, root).snapshot().filter("val = -9.0").count() == 1


def test_restore_to_version(spark, root):
    """RESTORE resets the live file set to an old version's as a FORWARD
    commit: late adds removed, DV-rewritten files re-added with their
    original descriptors; the undone interval stays time-travelable."""
    t = DeltaTable.create(spark, root, _df(spark, 0, 60))
    t.append(_df(spark, 100, 120))          # v1
    t.delete_where_dv("id < 5")             # v2 (DV on v0 files)
    assert t.snapshot().count() == 75
    v = t.restore(0)                        # v3
    assert v == 3 and t.latest_version() == 3
    got = sorted(r.id for r in t.snapshot().select("id").collect())
    assert got == list(range(60))           # exactly version 0 again
    # the undone interval still time travels
    assert t.snapshot(version=2).count() == 75
    assert t.snapshot(version=1).count() == 80
    # restore FORWARD works too (back to the muddied state)
    t.restore(2)
    assert t.snapshot().count() == 75
    # drop the v1 files from the tip again, vacuum them away → restoring
    # into the reclaimed interval refuses loudly
    t.restore(0)
    t.vacuum(retain_versions=1)
    with pytest.raises(DeltaProtocolError, match="vacuumed"):
        t.restore(1)


def test_shallow_clone_independent_evolution(spark, root):
    """A shallow clone references the source's files absolutely (zero
    copy), then evolves independently — including cloning a DV-masked
    file whose deletion vector keeps applying in the clone."""
    t = DeltaTable.create(spark, root, _df(spark, 0, 50))
    t.delete_where_dv("id = 7")
    dest = root + "_clone"
    c = t.shallow_clone(dest)
    assert c.snapshot().count() == 49
    assert c.snapshot().filter("id = 7").count() == 0  # DV traveled
    # no data bytes under the clone root
    import os
    data_files = [
        f for dp, _, fs in os.walk(dest) for f in fs
        if f.endswith(".parquet") and "_delta_log" not in dp
    ]
    assert data_files == []
    # clone evolves; source untouched
    c.append(_df(spark, 100, 110))
    assert c.snapshot().count() == 59
    assert DeltaTable(spark, root).snapshot().count() == 49
    assert DeltaTable(spark, root).latest_version() == 1
    # deleting in the clone never rewrites SOURCE files
    c.delete_where_dv("id = 8")
    assert c.snapshot().count() == 58
    assert DeltaTable(spark, root).snapshot().filter("id = 8").count() == 1


def test_shallow_clone_carries_row_tracking_domain(spark, root):
    """Cloning a row-tracked table must carry the delta.rowTracking
    domainMetadata: the cloned adds keep their baseRowIds, so a clone
    whose rowIdHighWaterMark reset to -1 would allocate its first
    append from 0 and DUPLICATE the cloned ids in
    snapshot_with_row_ids."""
    df = (
        spark.range(0, 100)
        .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        .coalesce(1).sortWithinPartitions("k")
    )
    t = DeltaTable.create(spark, root, df)
    t.enable_row_tracking()
    c = t.shallow_clone(root + "_clone")
    # the domain traveled: the clone's high-water mark is the source's
    assert c._row_id_high_water_mark(c._state()) == 99
    c.append(
        spark.range(100, 150)
        .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        .coalesce(1).sortWithinPartitions("k")
    )
    rows = c.snapshot_with_row_ids().collect()
    ids = [r.row_id for r in rows]
    assert len(ids) == len(set(ids)) == 150  # no collision
    assert {r.k: r.row_id for r in rows} == {k: k for k in range(150)}
    # source mark untouched by the clone's allocation
    assert t._row_id_high_water_mark(t._state()) == 99


@contextlib.contextmanager
def _full_range_sample(spark):
    """Spark seeds its range-partition sample with the RDD id, which
    counts every RDD the session built before, so the OPTIMIZE file
    boundaries (and the overlap counts below) moved with what ran
    earlier in the process. A sample of every row makes them a function
    of the data alone."""
    key = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    spark.conf.set(key, "20000")
    try:
        yield
    finally:
        spark.conf.unset(key)


def test_optimize_zorder_multi_column_skipping(spark, root):
    """OPTIMIZE ZORDER BY: after Z-clustering on (x, y), file-level
    stats prune narrow predicates on EITHER column — the multi-column
    skipping single-column sorting cannot give — and the rows are
    byte-identical before/after (dataChange=false layout change)."""
    df = (
        spark.range(0, 20_000)
        .select(
            F.col("id").alias("k"),
            (F.col("id") % 199).cast("long").alias("x"),
            ((F.col("id") * 7919) % 211).cast("long").alias("y"),
        )
        .repartition(8)
    )
    t = DeltaTable.create(spark, root, df)
    before = t.snapshot().count()
    with _full_range_sample(spark):
        v = t.optimize(zorder_by=("x", "y"), target_files=16)
    assert v is not None
    assert t.snapshot().count() == before
    adds = list(t._state()["adds"].values())
    assert len(adds) == 16

    def overlap(col, lo, hi):
        n = 0
        for a in adds:
            s = DeltaTable._parse_stats(a)
            mn, mx = s["minValues"][col], s["maxValues"][col]
            if not (mx < lo or mn > hi):
                n += 1
        return n

    # a narrow range on EACH clustered column prunes most files
    assert overlap("x", 10, 20) <= len(adds) // 2
    assert overlap("y", 10, 20) <= len(adds) // 2
    # the commit is layout-only: CDF emits nothing for it
    assert t.changes(v, v).count() == 0
    with pytest.raises(DeltaProtocolError, match="zorder_by"):
        t.optimize(zorder_by=("nope",))


def test_optimize_hilbert_curve_skipping(spark, root):
    """optimize(curve='hilbert'): the liquid-clustering curve through the
    same OPTIMIZE path — file stats prune on either clustered column,
    rows unchanged, commitInfo records the non-default curve."""
    df = (
        spark.range(0, 20_000)
        .select(
            F.col("id").alias("k"),
            (F.col("id") % 199).cast("long").alias("x"),
            ((F.col("id") * 7919) % 211).cast("long").alias("y"),
        )
        .repartition(8)
    )
    t = DeltaTable.create(spark, root, df)
    before = t.snapshot().count()
    with _full_range_sample(spark):
        v = t.optimize(zorder_by=("x", "y"), curve="hilbert", target_files=16)
    assert v is not None
    assert t.snapshot().count() == before
    adds = list(t._state()["adds"].values())
    assert len(adds) == 16

    def overlap(col, lo, hi):
        n = 0
        for a in adds:
            s = DeltaTable._parse_stats(a)
            mn, mx = s["minValues"][col], s["maxValues"][col]
            if not (mx < lo or mn > hi):
                n += 1
        return n

    assert overlap("x", 10, 20) <= len(adds) // 2
    assert overlap("y", 10, 20) <= len(adds) // 2
    info = next(h for h in t.history() if h["version"] == v)
    assert info["operationParameters"]["clusteringCurve"] == "hilbert"
    with pytest.raises(ValueError, match="unknown clustering curve"):
        t.optimize(zorder_by=("x", "y"), curve="peano")


def test_generated_columns_lifecycle(spark, root):
    """Generated columns (protocol delta.generationExpression): computed
    and MATERIALIZED at create, recomputed on appends that omit them,
    validated (and refused) on appends that contradict them, declared in
    schema metadata with minWriterVersion 4."""
    base = _df(spark, 0, 40)
    t = DeltaTable.create(
        spark, root, base, generated={"dbl": "val * 2.0", "par": "id % 4"}
    )
    assert t.generated_columns() == {"dbl": "val * 2.0", "par": "id % 4"}
    # protocol gate recorded
    with open(os.path.join(root, "_delta_log",
                           "00000000000000000000.json")) as f:
        actions = [json.loads(l) for l in f if l.strip()]
    proto = next(a["protocol"] for a in actions if "protocol" in a)
    assert proto["minWriterVersion"] == 4
    meta = next(a["metaData"] for a in actions if "metaData" in a)
    fields = {f["name"]: f for f in json.loads(meta["schemaString"])["fields"]}
    assert fields["dbl"]["metadata"]["delta.generationExpression"] == "val * 2.0"

    # append WITHOUT the generated columns: computed by the writer
    t.append(_df(spark, 40, 60))
    got = {r.id: (r.dbl, r.par) for r in t.snapshot().collect()}
    assert len(got) == 60
    assert all(got[i] == (i * 2.5 * 2.0, i % 4) for i in got)

    # append WITH correct caller-supplied values: accepted
    ok = _df(spark, 60, 70).withColumn("dbl", F.col("val") * 2.0).withColumn(
        "par", F.col("id") % 4
    )
    t.append(ok)
    assert t.snapshot().count() == 70

    # append contradicting the expression: refused atomically
    bad = _df(spark, 70, 80).withColumn("dbl", F.lit(-1.0)).withColumn(
        "par", F.col("id") % 4
    )
    with pytest.raises(DeltaProtocolError, match="generated column"):
        t.append(bad)
    assert t.snapshot().count() == 70

    # a CREATE frame carrying the generated column is a contract breach
    with pytest.raises(DeltaProtocolError, match="must not be in the CREATE"):
        DeltaTable.create(
            spark, root + "_x",
            _df(spark).withColumn("dbl", F.lit(0.0)),
            generated={"dbl": "val * 2.0"},
        )


def test_generated_column_values_materialized(spark, root):
    """Generated values live IN the data files (spec: readers never
    re-derive) — prove it by reading a data file raw, bypassing the
    Delta layer entirely."""
    t = DeltaTable.create(
        spark, root, _df(spark, 0, 20), generated={"dbl": "val * 2.0"}
    )
    add = t.files()[0]
    raw = spark.read.parquet(os.path.join(root, add["path"]))
    assert "dbl" in raw.columns
    r = raw.select("id", "dbl").first()
    assert r.dbl == r.id * 2.5 * 2.0


def test_space_partition_stats_and_dv(spark, root):
    """Percent-encoding regression (round 6): add-action stats must
    attach for space-valued partitions and the DV writer must resolve
    hit files (encoded-URI keyed lookup used to KeyError)."""
    df = (
        spark.range(40)
        .withColumn("seg", F.when(F.col("id") % 2 == 0, "A B").otherwise("C D"))
        .withColumn("val", F.col("id") * 1.5)
        .repartition(2)
    )
    t = DeltaTable.create(spark, root, df, partition_by=("seg",))
    stats = [json.loads(a["stats"]) for a in t.files() if a.get("stats")]
    assert stats and sum(s["numRecords"] for s in stats) == 40, stats
    v = t.delete_where_dv("id < 10")
    assert v is not None
    assert t.snapshot().count() == 30
    assert {r.id for r in t.snapshot().select("id").collect()} == set(range(10, 40))


def test_generated_columns_all_write_paths(spark, root):
    """The generated-column contract must hold on EVERY write path, not
    just append: overwrite and merge recompute omitted columns, and
    replace_where both recomputes generated values and enforces CHECK
    constraints (it previously enforced neither — a writer could smuggle
    constraint-violating rows through a partition replace)."""
    t = DeltaTable.create(
        spark, root, _df(spark, 0, 30), partition_by=("seg",),
        generated={"dbl": "val * 2.0"},
    )
    # overwrite without the generated column: recomputed
    t.overwrite(_df(spark, 0, 20))
    got = {r.id: r.dbl for r in t.snapshot().collect()}
    assert len(got) == 20 and all(got[i] == i * 2.5 * 2.0 for i in got)
    # merge without the generated column: recomputed for inserts+updates
    upd = _df(spark, 10, 25).withColumn("val", F.col("id") * 10.0)
    t.merge_upsert(upd, keys=["id"])
    got = {r.id: (r.val, r.dbl) for r in t.snapshot().collect()}
    assert len(got) == 25
    assert got[12] == (120.0, 240.0) and got[24] == (240.0, 480.0)
    assert got[5] == (12.5, 25.0)  # untouched row keeps original values
    # replace_where recomputes the generated column for the new rows
    seg0 = _df(spark, 30, 36, seg_mod=1).withColumn("seg", F.lit(0))
    t.replace_where(seg0, {"seg": 0})
    rows = {r.id: r.dbl for r in t.snapshot().filter("seg = 0").collect()}
    assert set(rows) == set(range(30, 36))
    assert all(rows[i] == i * 2.5 * 2.0 for i in rows)
    # replace_where now enforces CHECK constraints too
    t2 = DeltaTable.create(
        spark, root + "_ck", _df(spark, 0, 30), partition_by=("seg",)
    )
    t2.add_constraint("val_pos", "val >= 0")
    bad = _df(spark, 40, 45, seg_mod=1).withColumn("seg", F.lit(0)).withColumn(
        "val", F.lit(-5.0)
    )
    with pytest.raises(DeltaProtocolError, match="CHECK constraint"):
        t2.replace_where(bad, {"seg": 0})


def test_column_defaults_fill_only_when_omitted(spark, root):
    """allowColumnDefaults: CURRENT_DEFAULT in the field metadata fills a
    column only when a write omits it; supplied values (including NULL)
    pass through; the protocol carries the writer feature at mwv 7."""
    base = spark.range(0, 20).withColumn("val", F.col("id") * 1.0)
    t = DeltaTable.create(
        spark, root, base, defaults={"tag": "'seed'"}
    )
    assert t.column_defaults() == {"tag": "'seed'"}
    proto = t._state()["protocol"]
    assert proto["minWriterVersion"] == 7
    assert "allowColumnDefaults" in proto["writerFeatures"]
    assert t.snapshot().filter("tag = 'seed'").count() == 20  # create fill
    t.append(spark.range(20, 30).withColumn("val", F.lit(0.0)))  # omitted
    t.append(
        spark.range(30, 35)
        .withColumn("val", F.lit(0.0))
        .withColumn("tag", F.lit("late"))  # supplied: kept
    )
    t.append(
        spark.range(35, 40)
        .withColumn("val", F.lit(0.0))
        .withColumn("tag", F.lit(None).cast("string"))  # explicit NULL kept
    )
    got = {r.tag: r.n for r in
           t.snapshot().groupBy("tag").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == {"seed": 30, "late": 5, None: 5}
    # survives checkpoint + log pruning (metadata rides the schemaString)
    t.checkpoint_v2(sidecar_files=1)
    t.prune_log()
    t2 = DeltaTable(spark, root)
    assert t2.column_defaults() == {"tag": "'seed'"}
    t2.append(spark.range(40, 45).withColumn("val", F.lit(0.0)))
    assert t2.snapshot().filter("tag = 'seed'").count() == 35
    # a column cannot be both generated and defaulted
    with pytest.raises(DeltaProtocolError):
        DeltaTable.create(
            spark, root + "_x", base,
            generated={"g": "id + 1"}, defaults={"g": "0"},
        )


def test_domain_metadata_and_liquid_recluster(spark, root):
    """domainMetadata actions fold through state and BOTH checkpoint
    shapes; the delta.clustering domain drives an incremental recluster
    that rewrites only overlapping-stats file pockets (dataChange=false)
    and converges in one pass."""
    import random

    rng = random.Random(3)
    a = [(i, rng.randrange(0, 5_000)) for i in range(1200)]
    b = [(10_000 + i, rng.randrange(20_000, 30_000)) for i in range(1200)]
    c = [(20_000 + i, rng.randrange(0, 5_000)) for i in range(1200)]
    mk = lambda rows: spark.createDataFrame(rows, ["id", "v"])
    t = DeltaTable.create(
        spark, root,
        mk(a).repartitionByRange(4, "v").sortWithinPartitions("v"),
    )
    with pytest.raises(DeltaProtocolError):
        t.recluster()  # no clustering declared yet
    t.set_clustering(("v",))
    assert t.cluster_columns() == ("v",)
    proto = t._state()["protocol"]
    assert {"domainMetadata", "clustering"} <= set(proto["writerFeatures"])
    # disjoint pocket + an overlapping ingest batch
    t.append(mk(b).repartitionByRange(4, "v").sortWithinPartitions("v"))
    t.append(mk(c).repartitionByRange(4, "v").sortWithinPartitions("v"))
    before = t.files()
    b_paths = {
        f["path"] for f in before
        if json.loads(f["stats"])["minValues"]["v"] >= 20_000
    }
    assert len(b_paths) >= 2
    v = t.recluster()
    assert v is not None
    after_paths = {f["path"] for f in t.files()}
    assert b_paths <= after_paths  # disjoint pocket untouched
    rows = {(r.id, r.v) for r in t.snapshot().collect()}
    assert rows == set(a) | set(b) | set(c)
    assert t.recluster() is None  # converged
    # the rewrite commit is dataChange=false end to end (CDF-silent)
    acts = t._commit_actions(v)
    assert all(
        a["add"]["dataChange"] is False for a in acts if "add" in a
    ) and all(
        a["remove"]["dataChange"] is False for a in acts if "remove" in a
    )
    # domain + clustering survive BOTH checkpoint shapes and log pruning
    t.checkpoint()
    t.prune_log()
    t2 = DeltaTable(spark, root)
    assert t2.cluster_columns() == ("v",)
    t2.checkpoint_v2(sidecar_files=1)
    t2.prune_log()
    t3 = DeltaTable(spark, root)
    assert t3.cluster_columns() == ("v",)
    assert {(r.id, r.v) for r in t3.snapshot().collect()} == rows
    # tombstone: empty cols removes the domain
    t3.set_clustering(())
    assert DeltaTable(spark, root).cluster_columns() == ()


def test_delta_stats_ndv_staleness_and_checkpoint(spark, root):
    """Delta column stats via domainMetadata: exact NDV in exact mode,
    survival through a checkpoint, staleness on any later add/remove
    commit, and the duck-typed NDV-informed join consumer."""
    from pyspark.sql import functions as F

    from projectdatalake_spark.sources.iceberg_interop import (
        ndv_semi_reduce_join,
    )

    dim = spark.range(0, 4000).select(
        (F.col("id") % 30).alias("k"),
        F.concat(F.lit("a"), F.col("id")).alias("attr"),
    )
    t = DeltaTable.create(spark, root, dim.repartition(4))
    t.write_stats(["k"], k=1024)
    assert t.ndv("k") == 30
    assert int(round(t.read_stats_sketch("k").estimate())) == 30
    # a metadata-only commit (another stats write) does NOT invalidate
    t.write_stats(["attr"], k=1024)
    assert t.ndv("k") == 30
    assert abs(t.ndv("attr") - 4000) / 4000 < 0.05
    # survives a checkpoint + fresh reader
    t.checkpoint()
    t2 = DeltaTable(spark, root)
    assert t2.ndv("k") == 30
    # consumer fires off the stats with broadcasts disabled by size
    fact = spark.range(0, 2000).select((F.col("id") % 90).alias("k"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        informed = ndv_semi_reduce_join(fact, t2, "k")
        plan = informed._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert informed.count() == fact.join(t2.snapshot(), "k").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # staleness: a data commit invalidates
    t2.append(dim.limit(5).withColumn("k", F.lit(77).cast("long")))
    assert t2.ndv("k") is None
    t2.write_stats(["k"], k=1024)
    assert t2.ndv("k") == 31


def test_row_tracking_protocol_and_stability(spark, root):
    """Row tracking lifecycle: enable backfills baseRowId +
    defaultRowCommitVersion in path order with the protocol upgraded and
    the high-water-mark domain seeded; appends allocate ABOVE the mark
    and advance it in the same commit; ids fold through a checkpoint; a
    DV delete leaves survivor ids untouched; and every file-rewriting op
    refuses loudly (this writer does not materialize ids into rewritten
    files)."""
    import pytest

    from projectdatalake_spark.sources.delta_interop import (
        DeltaProtocolError,
        DeltaTable,
    )

    df = (
        spark.range(0, 100)
        .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        .coalesce(1).sortWithinPartitions("k")
    )
    t = DeltaTable.create(spark, root, df)
    t.enable_row_tracking()
    st = t._state()
    proto = st["protocol"]
    assert proto["minWriterVersion"] == 7
    assert {"rowTracking", "domainMetadata"} <= set(proto["writerFeatures"])
    assert t._row_id_high_water_mark(st) == 99
    adds = list(st["adds"].values())
    assert all("baseRowId" in a for a in adds)
    # enable is idempotent
    v_before = t.latest_version()
    t.enable_row_tracking()
    assert t.latest_version() == v_before
    # append allocates above the mark, same-commit advance
    t.append(
        spark.range(100, 150)
        .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        .coalesce(1).sortWithinPartitions("k")
    )
    st = t._state()
    assert t._row_id_high_water_mark(st) == 149
    ids = {r.k: r.row_id for r in t.snapshot_with_row_ids().collect()}
    assert ids == {k: k for k in range(150)}  # sorted fixtures: id == k
    before = dict(ids)
    # DV delete: survivors keep ids (position-based)
    t.delete_where_dv("k % 10 = 3")
    after = {r.k: r.row_id for r in t.snapshot_with_row_ids().collect()}
    assert after == {k: v for k, v in before.items() if k % 10 != 3}
    # ids fold through a checkpoint + fresh reader
    t.checkpoint()
    t2 = DeltaTable(spark, root)
    assert t2._row_id_high_water_mark(t2._state()) == 149
    assert {r.k: r.row_id for r in t2.snapshot_with_row_ids().collect()} == after
    # id-reassigning rewrites refuse (optimize is the exception — it
    # materializes ids in-column, tested separately)
    for op in (
        lambda: t.recluster(),
        lambda: t.overwrite(df),
        lambda: t.merge_upsert(df.limit(1), ["k"]),
    ):
        with pytest.raises(DeltaProtocolError, match="row-tracked"):
            op()


def test_delta_optimize_materializes_row_ids(spark, root):
    """OPTIMIZE under row tracking (the spec's materialized-column
    mechanism, config delta.rowTracking.materializedRowIdColumnName):
    the rewrite carries each row's id in a physical `_row_id` column
    while the new adds burn FRESH baseRowIds (the mark advances) that
    readers override via coalesce(materialized, base + position).
    Contract: the (key → row_id) map is identical before and after,
    DV masks fold in, normal snapshot() never sees the column, later
    appends allocate above the advanced mark, and the min_row_id
    consumer prunes rewritten files on the column's write-time stats."""
    from projectdatalake_spark.sources.delta_interop import DeltaTable

    def batch(lo, hi):
        return (
            spark.range(lo, hi)
            .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
            .coalesce(1).sortWithinPartitions("k")
        )

    t = DeltaTable.create(spark, root, batch(0, 60))
    t.enable_row_tracking()
    t.append(batch(60, 120))
    t.append(batch(120, 180))
    t.delete_where_dv("k % 7 = 1")
    before = {r.k: r.row_id for r in t.snapshot_with_row_ids().collect()}
    hwm_before = t._row_id_high_water_mark(t._state())
    assert t.optimize() is not None
    after = {r.k: r.row_id for r in t.snapshot_with_row_ids().collect()}
    assert after == before  # ids survived the rewrite exactly
    st = t._state()
    # fresh baseRowIds burned: the mark advanced past the rewrite
    assert t._row_id_high_water_mark(st) > hwm_before
    assert all("baseRowId" in a for a in st["adds"].values())
    assert "_row_id" not in t.snapshot().columns
    t.append(batch(180, 200))
    mixed = {r.k: r.row_id for r in t.snapshot_with_row_ids().collect()}
    hwm = t._row_id_high_water_mark(t._state())
    assert mixed == {
        **before, **{k: hwm - 199 + k for k in range(180, 200)}
    }
    # watermark pruning: content ids >= the last batch's first id must
    # not open the compacted file (its fresh baseRowId range is HIGHER
    # than its content ids — pruning must use the _row_id column stats)
    first_new = hwm - 19
    inc = t.snapshot_with_row_ids(min_row_id=first_new)
    assert {r.k for r in inc.collect()} == set(range(180, 200))
    data_files = [f for f in inc.inputFiles() if "/_delta_log/" not in f]
    assert len(data_files) == 1, data_files


# --- type widening (typeWidening table feature) -------------------------


def _narrow_df(spark, n=50):
    return spark.range(0, n).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") % 3).cast("int").alias("seg"),
        F.col("id").cast("float").alias("v"),
    )


def test_widen_column_reads_both_eras(spark, root):
    t = DeltaTable.create(spark, root, _narrow_df(spark), partition_by=("seg",))
    t.widen_column("k", "bigint")  # Spark spelling accepted
    t.widen_column("v", "double")
    wide = spark.range(0, 10).select(
        (F.col("id") + 5_000_000_000).alias("k"),
        (F.col("id") % 3).cast("int").alias("seg"),
        (F.col("id") + 0.25).alias("v"),
    )
    t.append(wide)
    got = t.snapshot()
    types = {f.name: f.dataType.simpleString() for f in got.schema.fields}
    assert types["k"] == "bigint" and types["v"] == "double"
    assert got.count() == 60
    assert got.agg(F.max("k")).collect()[0][0] == 5_000_000_009
    # narrow-era pages promoted, values intact
    old = got.filter(F.col("k") < 100)
    assert old.count() == 50
    assert old.agg(F.sum("k")).collect()[0][0] == sum(range(50))


def test_widen_records_type_changes_and_protocol(spark, root):
    byte_df = spark.range(0, 20).select(
        F.col("id").cast("tinyint").alias("k"), F.col("id").alias("x")
    )
    t = DeltaTable.create(spark, root, byte_df)
    v1 = t.widen_column("k", "smallint")
    v2 = t.widen_column("k", "integer")  # Delta spelling accepted
    st = t._state()
    field = next(
        f for f in json.loads(st["metaData"]["schemaString"])["fields"]
        if f["name"] == "k"
    )
    assert field["type"] == "integer"
    assert field["metadata"]["delta.typeChanges"] == [
        {"fromType": "byte", "toType": "short", "tableVersion": v1},
        {"fromType": "short", "toType": "integer", "tableVersion": v2},
    ]
    proto = st["protocol"]
    assert proto["minReaderVersion"] == 3 and proto["minWriterVersion"] == 7
    assert "typeWidening" in proto["readerFeatures"]
    assert "typeWidening" in proto["writerFeatures"]
    cfg = st["metaData"]["configuration"]
    assert cfg["delta.enableTypeWidening"] == "true"
    # a fresh reader accepts the feature table it just demanded
    assert DeltaTable(spark, t.root).snapshot().count() == 20


def test_widen_refusals(spark, root):
    t = DeltaTable.create(spark, root, _narrow_df(spark), partition_by=("seg",))
    with pytest.raises(DeltaProtocolError):
        t.widen_column("v", "float")  # same type
    with pytest.raises(DeltaProtocolError):
        t.widen_column("v", "int")  # cross-family
    with pytest.raises(DeltaProtocolError):
        t.widen_column("seg", "bigint")  # partition column
    with pytest.raises(KeyError):
        t.widen_column("nope", "bigint")
    t.widen_column("k", "bigint")
    with pytest.raises(DeltaProtocolError):
        t.widen_column("k", "int")  # narrowing back


def test_widen_survives_checkpoint(spark, root):
    t = DeltaTable.create(spark, root, _narrow_df(spark))
    t.widen_column("k", "long")
    t.checkpoint()
    t.append(
        spark.range(0, 5).select(
            (F.col("id") + 6_000_000_000).alias("k"),
            (F.col("id") % 3).cast("int").alias("seg"),
            (F.col("id") * 1.0).cast("float").alias("v"),
        )
    )
    fresh = DeltaTable(spark, root)
    got = fresh.snapshot()
    assert got.schema["k"].dataType.simpleString() == "bigint"
    assert got.count() == 55
    assert got.agg(F.max("k")).collect()[0][0] == 6_000_000_004


# --- in-commit timestamps (inCommitTimestamp writer feature) -------------


def test_ict_monotonic_under_clock_skew(spark, root, monkeypatch):
    import projectdatalake_spark.sources.delta_interop as D

    t = DeltaTable.create(spark, root, _df(spark, 0, 30))
    v_on = t.enable_in_commit_timestamps()
    # collapse the wall clock: file mtimes / commitInfo wall timestamps
    # become useless, the in-commit clock must still advance
    monkeypatch.setattr(D.time, "time", lambda: 0.001)
    t.append(_df(spark, 30, 40))
    t.append(_df(spark, 40, 50))
    hist = {h["version"]: h for h in t.history()}
    assert "inCommitTimestamp" not in hist[0]
    icts = [hist[v]["inCommitTimestamp"] for v in sorted(hist) if v >= v_on]
    assert len(icts) == 3
    assert all(b > a for a, b in zip(icts, icts[1:]))
    # post-enablement: commitInfo is the FIRST action of the commit
    log = os.path.join(root, "_delta_log")
    lines = [
        json.loads(x)
        for x in open(f"{log}/{t.latest_version():020d}.json")
        if x.strip()
    ]
    assert next(iter(lines[0])) == "commitInfo"
    assert lines[0]["commitInfo"]["inCommitTimestamp"] == icts[-1]
    # writer-only feature: readers untouched
    proto = t._state()["protocol"]
    assert "inCommitTimestamp" in proto["writerFeatures"]
    assert proto.get("minReaderVersion", 1) == 1


def test_ict_version_at_and_enablement_props(spark, root, monkeypatch):
    import projectdatalake_spark.sources.delta_interop as D

    t = DeltaTable.create(spark, root, _df(spark, 0, 30))
    ts0 = t.history()[0]["timestamp"]
    v_on = t.enable_in_commit_timestamps()
    monkeypatch.setattr(D.time, "time", lambda: 0.001)
    v2 = t.append(_df(spark, 30, 40))
    hist = {h["version"]: h for h in t.history()}
    ict_on, ict2 = hist[v_on]["inCommitTimestamp"], hist[v2]["inCommitTimestamp"]
    assert ict2 == ict_on + 1  # floored at prev + 1, not the dead clock
    assert t.version_at(ts0) == 0
    assert t.version_at(ict_on) == v_on
    assert t.version_at(ict2 - 1) == v_on
    assert t.version_at(ict2) == v2
    cfg = t._state()["metaData"]["configuration"]
    assert cfg["delta.inCommitTimestampEnablementVersion"] == str(v_on)
    assert cfg["delta.inCommitTimestampEnablementTimestamp"] == str(ict_on)
    # idempotent re-enable: no new commit
    assert t.enable_in_commit_timestamps() == t.latest_version()


# --- identity columns (identityColumns writer feature) -------------------


def _seg_df(spark, lo, hi):
    return (
        spark.range(lo, hi)
        .select(
            F.col("id").alias("k"),
            (F.col("id") % 3).cast("int").alias("seg"),
        )
        .repartition(4)
    )


_ID_POLICY = {"rid": {"partition_by": ["seg"], "order_by": ["k"]}}


def test_identity_allocation_and_hwm(spark, root):
    t = DeltaTable.create(
        spark, root, _seg_df(spark, 0, 30),
        identity={"rid": {"start": 10, "step": 2,
                          "partition_by": ["seg"], "order_by": ["k"]}},
    )
    got = {r.k: r.rid for r in t.snapshot().collect()}
    # ids follow start + step·(rank-1) in (seg, k) order, dense
    order = sorted(range(30), key=lambda k: (k % 3, k))
    assert got == {k: 10 + 2 * i for i, k in enumerate(order)}
    ids = t.identity_columns()["rid"]
    assert ids == {"start": 10, "step": 2, "hwm": 10 + 2 * 29,
                   "allow_explicit": False}
    proto = t._state()["protocol"]
    assert "identityColumns" in proto["writerFeatures"]
    # second allocation continues above the mark in the same commit's meta
    t.append(_seg_df(spark, 30, 40), identity_order=_ID_POLICY)
    got2 = {r.k: r.rid for r in t.snapshot().collect()}
    assert {v for k, v in got2.items() if k < 30} == set(got.values())
    new_ids = sorted(v for k, v in got2.items() if k >= 30)
    assert new_ids == [10 + 2 * 29 + 2 * (i + 1) for i in range(10)]
    assert t.identity_columns()["rid"]["hwm"] == 10 + 2 * 39
    assert len(set(got2.values())) == 40  # all unique


def test_identity_refusals(spark, root):
    t = DeltaTable.create(
        spark, root, _seg_df(spark, 0, 10),
        identity={"rid": {"start": 1, "step": 1,
                          "partition_by": ["seg"], "order_by": ["k"]}},
    )
    with pytest.raises(DeltaProtocolError):  # GENERATED ALWAYS
        t.append(_seg_df(spark, 10, 12).withColumn("rid", F.lit(999)))
    with pytest.raises(DeltaProtocolError):  # no allocation policy
        t.append(_seg_df(spark, 10, 12))
    with pytest.raises(DeltaProtocolError):
        t.overwrite(_seg_df(spark, 0, 5))
    with pytest.raises(DeltaProtocolError):
        t.merge_upsert(
            _seg_df(spark, 0, 2).withColumn("rid", F.lit(1).cast("long")),
            keys=["k"],
        )


def test_identity_race_reallocates(spark, root, monkeypatch):
    """A racer landing an allocating commit between our staging and
    publish moves the high-water mark; the retry must re-allocate above
    the racer's mark (no duplicate ids)."""
    t = DeltaTable.create(
        spark, root, _seg_df(spark, 0, 10),
        identity={"rid": {"start": 1, "step": 1,
                          "partition_by": ["seg"], "order_by": ["k"]}},
    )
    racer = DeltaTable(spark, root)
    real_publish = DeltaTable._publish
    fired = {"done": False}

    def racing_publish(self, version, actions):
        if self is t and not fired["done"]:
            fired["done"] = True
            racer.append(_seg_df(spark, 100, 105), identity_order=_ID_POLICY)
        return real_publish(self, version, actions)

    monkeypatch.setattr(DeltaTable, "_publish", racing_publish)
    t.append(_seg_df(spark, 10, 15), identity_order=_ID_POLICY)
    rows = t.snapshot().collect()
    ids = [r.rid for r in rows]
    assert len(ids) == len(set(ids)) == 20
    assert t.identity_columns()["rid"]["hwm"] == 20


# --- log compaction files -------------------------------------------------


def test_log_compaction_reconciles_and_survives_pruning(spark, root):
    t = DeltaTable.create(spark, root, _df(spark, 0, 30))          # v0
    t.append(_df(spark, 30, 60))                                   # v1
    t.append(_df(spark, 60, 90))                                   # v2
    t.delete_where_dv("id % 10 = 3")                               # v3 (DV)
    t.append(_df(spark, 90, 100), txn=("app", 5))                  # v4
    path = t.compact_log(1, 3)
    lines = [json.loads(x) for x in open(path.replace("file:", "")) if x.strip()]
    kinds = [next(iter(a)) for a in lines]
    assert "commitInfo" not in kinds  # spec: compactions carry none
    assert {"add", "protocol"} <= set(kinds)  # DV commit upgraded the proto
    # reconciliation: the DV'd adds appear ONCE, with their vector
    dv_adds = [
        a["add"] for a in lines
        if "add" in a and a["add"].get("deletionVector")
    ]
    assert dv_adds
    before = {r.id for r in t.snapshot().collect()}
    assert len(before) == 91  # 100 ids minus the 9 DV-deleted
    # a cleanup drops the per-commit JSONs inside the compacted range:
    # replay must route through the compaction file
    for v in range(1, 4):
        assert _atomic.delete(t.spark, f"{root}/_delta_log/{v:020d}.json")
    fresh = DeltaTable(spark, root)
    after = {r.id for r in fresh.snapshot().collect()}
    assert after == before
    assert fresh.txn_version("app") == 5
    # the compaction's END boundary replays (DV applied, last append absent)
    assert fresh.snapshot(version=3).count() == 81
    # a version strictly INSIDE the pruned range is gone
    with pytest.raises(FileNotFoundError):
        fresh._state(2)
    # refusals: missing versions, degenerate range
    with pytest.raises(FileNotFoundError):
        fresh.compact_log(2, 3)
    with pytest.raises(ValueError):
        fresh.compact_log(4, 4)


def test_log_compaction_preferred_on_intact_logs(spark, root, monkeypatch):
    t = DeltaTable.create(spark, root, _df(spark, 0, 20))
    for lo in range(20, 100, 20):
        t.append(_df(spark, lo, lo + 20))
    t.compact_log(1, 3)
    reads: list[int] = []
    real = DeltaTable._commit_actions

    def counting(self, version):
        reads.append(version)
        return real(self, version)

    monkeypatch.setattr(DeltaTable, "_commit_actions", counting)
    fresh = DeltaTable(spark, root)
    assert fresh.snapshot().count() == 100
    # versions 1-3 were served by the compaction, never read individually
    assert not ({1, 2, 3} & set(reads)), reads


def test_identity_merge_inherits_and_allocates(spark, root):
    t = DeltaTable.create(
        spark, root, _seg_df(spark, 0, 30),
        identity={"rid": {"start": 1, "step": 1,
                          "partition_by": ["seg"], "order_by": ["k"]}},
    )
    before = {r.k: r.rid for r in t.snapshot().collect()}
    upd = spark.createDataFrame(
        [(0, 9), (2, 9), (4, 9), (100, 1), (101, 2)], "k long, seg int"
    )
    t.merge_upsert(upd, keys=["k"], identity_order=_ID_POLICY)
    rows = {r.k: (r.rid, r.seg) for r in t.snapshot().collect()}
    assert len(rows) == 32
    # matched rows INHERITED their ids (seg rewritten to 9)
    for k in (0, 2, 4):
        assert rows[k] == (before[k], 9)
    # untouched rows untouched
    assert rows[7][0] == before[7]
    # inserts allocated above the mark in (seg, k) policy order:
    # k=100 (seg 1) before k=101 (seg 2)
    assert rows[100][0] == 31 and rows[101][0] == 32
    assert t.identity_columns()["rid"]["hwm"] == 32
    assert len({v[0] for v in rows.values()}) == 32  # all unique
    # pure-insert merge continues the sequence
    t.merge_upsert(
        spark.createDataFrame([(200, 0), (201, 0)], "k long, seg int"),
        keys=["k"], identity_order=_ID_POLICY,
    )
    rows2 = {r.k: r.rid for r in t.snapshot().collect()}
    assert sorted((rows2[200], rows2[201])) == [33, 34]
    # duplicate update keys refused (they would inherit one id twice)
    with pytest.raises(DeltaProtocolError):
        t.merge_upsert(
            spark.createDataFrame([(0, 1), (0, 2)], "k long, seg int"),
            keys=["k"], identity_order=_ID_POLICY,
        )


def test_ict_floor_survives_log_compaction_pruning(spark, root, monkeypatch):
    """Round-10: (a) compact_log carries the range's last inCommitTimestamp
    in the engine-owned graft.ict domain (commitInfo is dropped per spec),
    so after a cleanup prunes the per-commit JSONs the NEXT commit recovers
    the monotonic floor — under a dead wall clock its ICT must still land
    exactly one above the pruned range's last; (b) version_at REFUSES a
    timestamp inside the pruned gap instead of silently resolving to the
    pre-gap version (delta-spark likewise fails time travel past cleaned
    logs)."""
    import projectdatalake_spark.sources.delta_interop as D

    t = DeltaTable.create(spark, root, _df(spark, 0, 30))   # v0
    t.enable_in_commit_timestamps()                          # v1
    t.append(_df(spark, 30, 40))                             # v2
    t.append(_df(spark, 40, 50))                             # v3
    hist = {h["version"]: h for h in t.history()}
    ts0 = hist[0]["timestamp"]
    ict3 = hist[3]["inCommitTimestamp"]
    t.compact_log(1, 3)
    for v in range(1, 4):
        assert _atomic.delete(t.spark, f"{root}/_delta_log/{v:020d}.json")
    # clock skew: the wall clock collapses below every pruned ICT
    monkeypatch.setattr(D.time, "time", lambda: 0.001)
    fresh = DeltaTable(spark, root)
    fresh.append(_df(spark, 50, 60))                         # v4
    h4 = {h["version"]: h for h in fresh.history()}[4]
    assert h4["inCommitTimestamp"] == ict3 + 1  # domain floor, not wall clock
    # monotonic through ANOTHER post-prune commit (floor now from v4's JSON)
    fresh.append(_df(spark, 60, 70))                         # v5
    h5 = {h["version"]: h for h in fresh.history()}[5]
    assert h5["inCommitTimestamp"] == ict3 + 2
    # version_at: tip resolves, inside the pruned gap refuses loudly
    assert fresh.version_at(h5["inCommitTimestamp"]) == 5
    with pytest.raises(ValueError, match="cleaned-up log range"):
        fresh.version_at(ts0)


def test_version_at_leading_pruned_gap(spark, root):
    """ADVICE r11: when the cleanup pruned the log's HEAD (versions
    0..k gone, replay via compaction), a timestamp older than every
    surviving commit must raise the cleaned-up-log-range error — not
    'predates the table's first commit', which is unknowable (the ts
    may well postdate the pruned v0)."""
    t = DeltaTable.create(spark, root, _df(spark, 0, 30))   # v0
    t.enable_in_commit_timestamps()                          # v1
    t.append(_df(spark, 30, 40))                             # v2
    t.append(_df(spark, 40, 50))                             # v3
    hist = {h["version"]: h for h in t.history()}
    ts_v0 = hist[0]["timestamp"]
    t.compact_log(0, 2)
    for v in range(0, 3):
        assert _atomic.delete(t.spark, f"{root}/_delta_log/{v:020d}.json")
    fresh = DeltaTable(spark, root)
    assert fresh.snapshot().count() == 50  # replay through the compaction
    # ts at pruned v0: POSTDATES the (pruned) table start — the old code
    # misreported 'predates the first commit'
    with pytest.raises(ValueError, match="cleaned-up log range"):
        fresh.version_at(ts_v0)
    # genuinely ancient ts: indistinguishable from the leading gap once
    # v0's JSON is gone — same loud refusal, never a silent answer
    with pytest.raises(ValueError, match="cleaned-up log range"):
        fresh.version_at(1)
    # the surviving tip still resolves
    h3 = {h["version"]: h for h in fresh.history()}[3]
    assert fresh.version_at(h3["inCommitTimestamp"]) == 3


def test_version_at_checkpoint_only_survivors(spark, root):
    """ADVICE r11 follow-up: when EVERY per-commit JSON is pruned and
    only the checkpoint survives, the leading-gap guard derived its
    boundary from JSON commits alone — surviving0 was empty and the
    code fell through to the misleading 'predates the table's first
    commit' error. The boundary must come from every witness of pruned
    history (checkpoints, compaction ranges), not just JSONs."""
    t = DeltaTable.create(spark, root, _df(spark, 0, 20))  # v0
    t.append(_df(spark, 20, 30))                           # v1
    t.append(_df(spark, 30, 40))                           # v2
    t.checkpoint()                                          # at v2
    t.prune_log()
    # prune_log keeps the checkpoint-version JSON; remove it too so the
    # checkpoint is the ONLY surviving log file
    _atomic.delete(t.spark, f"{root}/_delta_log/{2:020d}.json")
    fresh = DeltaTable(spark, root)
    assert fresh.snapshot().count() == 40  # replays from the checkpoint
    with pytest.raises(ValueError, match="cleaned up"):
        fresh.version_at(1)  # NOT 'predates the table's first commit'


def test_ict_compaction_domain_requires_writer_feature(spark, root):
    """ADVICE r11: compact_log may synthesize the graft.ict domain ONLY
    when the protocol in effect at the range end declares the
    domainMetadata writer feature. (a) the engine's own ICT enablement
    now declares it (so its compactions stay licensed); (b) on an
    ICT table whose protocol lacks the feature (external shape), the
    compaction carries NO domain action — and replay through it still
    works, just without the carried floor."""
    t = DeltaTable.create(spark, root, _df(spark, 0, 30))   # v0
    t.enable_in_commit_timestamps()                          # v1
    wf = set(t._state()["protocol"]["writerFeatures"])
    assert {"inCommitTimestamp", "domainMetadata"} <= wf

    t.append(_df(spark, 30, 40))                             # v2
    t.append(_df(spark, 40, 50))                             # v3
    t.compact_log(1, 3)
    acts = t._compaction_actions(1, 3)
    assert any(
        a.get("domainMetadata", {}).get("domain") == "graft.ict"
        for a in acts
    )

    # external shape: ICT enabled but domainMetadata never declared —
    # strip the feature from every protocol action in the log
    root2 = root + "_nofeat"
    t2 = DeltaTable.create(spark, root2, _df(spark, 0, 30))
    t2.enable_in_commit_timestamps()
    t2.append(_df(spark, 30, 40))
    t2.append(_df(spark, 40, 50))
    for v in range(0, 4):
        p = f"{root2}/_delta_log/{v:020d}.json"
        if not _atomic.exists(t2.spark, p):
            continue
        lines = _atomic.read_text(t2.spark, p).splitlines()
        out = []
        for ln in lines:
            a = json.loads(ln)
            if "protocol" in a and a["protocol"].get("writerFeatures"):
                a["protocol"]["writerFeatures"] = sorted(
                    set(a["protocol"]["writerFeatures"]) - {"domainMetadata"}
                )
            out.append(json.dumps(a, separators=(",", ":")))
        _atomic.delete(t2.spark, p)
        _atomic.write_text(t2.spark, p, "\n".join(out) + "\n", exclusive=True)
    t2 = DeltaTable(spark, root2)
    t2.compact_log(1, 3)
    acts2 = t2._compaction_actions(1, 3)
    assert not any("domainMetadata" in a for a in acts2)
    # replay through the compaction still reconstructs the table
    for v in range(1, 4):
        _atomic.delete(t2.spark, f"{root2}/_delta_log/{v:020d}.json")
    fresh = DeltaTable(spark, root2)
    assert fresh.snapshot().count() == 50


def test_widen_decimal_records_type_changes(spark, root):
    """Round-10: the typeWidening decimal rule — decimal(p,s) →
    decimal(p+k1, s+k2), k1 ≥ k2 ≥ 0 — widens metadata-only, records
    delta.typeChanges, and reads overflow-of-narrow values next to
    promoted narrow pages."""
    from decimal import Decimal

    df = spark.createDataFrame(
        [(1, Decimal("123.45")), (2, Decimal("67.89"))],
        "id int, price decimal(12,2)",
    )
    t = DeltaTable.create(spark, root, df)
    v = t.widen_column("price", "decimal(25,2)")
    t.append(
        spark.createDataFrame(
            [(3, Decimal("99999999999999999999999.99"))],
            "id int, price decimal(25,2)",
        )
    )
    got = t.snapshot()
    assert dict(got.dtypes)["price"] == "decimal(25,2)"
    vals = {r.id: str(r.price) for r in got.collect()}
    assert vals == {
        1: "123.45", 2: "67.89", 3: "99999999999999999999999.99"
    }
    schema_json = json.loads(t._state()["metaData"]["schemaString"])
    fld = next(f for f in schema_json["fields"] if f["name"] == "price")
    changes = fld["metadata"]["delta.typeChanges"]
    assert changes == [
        {"fromType": "decimal(12,2)", "toType": "decimal(25,2)",
         "tableVersion": v}
    ]
    proto = t._state()["protocol"]
    assert "typeWidening" in proto["readerFeatures"]
    # refusals: same type, k1 < k2, scale shrink, p > 38
    for bad in ("decimal(25,2)", "decimal(26,4)", "decimal(30,1)",
                "decimal(40,2)"):
        with pytest.raises(DeltaProtocolError):
            t.widen_column("price", bad)


def test_identity_negative_step(spark, root):
    """Round-10 (previously refused): a NEGATIVE identity step descends —
    the high-water mark is the step-direction extreme (the minimum) and
    every later allocation continues below it; zero step still refuses."""
    t = DeltaTable.create(
        spark, root, _seg_df(spark, 0, 10),
        identity={"rid": {"start": 100, "step": -5,
                          "partition_by": ["seg"], "order_by": ["k"]}},
    )
    rows = {r.k: r.rid for r in t.snapshot().collect()}
    assert sorted(rows.values(), reverse=True) == list(range(100, 54, -5))
    assert t.identity_columns()["rid"]["hwm"] == 55
    t.append(_seg_df(spark, 10, 13), identity_order=_ID_POLICY)
    rows2 = {r.k: r.rid for r in t.snapshot().collect()}
    assert len(set(rows2.values())) == 13
    assert sorted(set(rows2.values()) - set(rows.values()), reverse=True) == [
        50, 45, 40
    ]
    assert t.identity_columns()["rid"]["hwm"] == 40
    with pytest.raises(DeltaProtocolError, match="nonzero"):
        DeltaTable.create(
            spark, root + "_z", _seg_df(spark, 0, 5),
            identity={"rid": {"start": 1, "step": 0,
                              "partition_by": ["seg"], "order_by": ["k"]}},
        )


def test_identity_with_schema_merge_one_commit(spark, root):
    """Round-10 (previously refused): an append that BOTH adds a new
    nullable column (merge_schema) and allocates identity values fuses
    the two schema mutations into ONE metaData action — the commit
    carries the merged schema WITH the advanced high-water mark."""
    t = DeltaTable.create(
        spark, root, _seg_df(spark, 0, 10),
        identity={"rid": {"start": 1, "step": 1,
                          "partition_by": ["seg"], "order_by": ["k"]}},
    )
    widened = _seg_df(spark, 10, 15).withColumn("note", F.lit("late"))
    t.append(widened, merge_schema=True, identity_order=_ID_POLICY)
    snap = t.snapshot()
    assert "note" in snap.columns
    rows = {r.k: (r.rid, r.note) for r in snap.collect()}
    assert len(rows) == 15
    assert {v[0] for v in rows.values()} == set(range(1, 16))
    assert all(rows[k][1] is None for k in range(0, 10))
    assert all(rows[k][1] == "late" for k in range(10, 15))
    assert t.identity_columns()["rid"]["hwm"] == 15
    # the commit carried exactly ONE metaData action with both mutations
    v = t.latest_version()
    acts = t._commit_actions(v)
    metas = [a["metaData"] for a in acts if "metaData" in a]
    assert len(metas) == 1
    sj = json.loads(metas[0]["schemaString"])
    names = [f["name"] for f in sj["fields"]]
    assert "note" in names
    rid_md = next(f for f in sj["fields"] if f["name"] == "rid")["metadata"]
    assert rid_md["delta.identity.highWaterMark"] == 15


def test_identity_on_name_mapped_table(spark, root):
    """Round-10 (previously refused): identity allocation composes with
    name-mode column mapping — a rename flips the table to physical-name
    staging, and later appends still allocate above the mark, stamp the
    hwm by LOGICAL name, and read back under the renamed schema."""
    t = DeltaTable.create(
        spark, root, _seg_df(spark, 0, 10),
        identity={"rid": {"start": 1, "step": 1,
                          "partition_by": ["seg"], "order_by": ["k"]}},
    )
    t.rename_column("k", "key")
    assert t._column_mapping(t._state()["metaData"])  # mapping active
    t.append(
        spark.range(10, 14)
        .select(F.col("id").alias("key"),
                (F.col("id") % 3).cast("int").alias("seg"))
        .repartition(2),
        identity_order={"rid": {"partition_by": ["seg"],
                                "order_by": ["key"]}},
    )
    snap = t.snapshot()
    rows = {r.key: r.rid for r in snap.collect()}
    assert len(rows) == 14 and len(set(rows.values())) == 14
    assert set(rows.values()) == set(range(1, 15))
    assert t.identity_columns()["rid"]["hwm"] == 14


def _foreign_id_mode_table(spark, root, n=30):
    """A foreign-writer-shaped id-mode table: physical column names c1/c2
    with parquet field ids stamped in the files, schemaString mapping
    logical k/v by delta.columnMapping.id."""
    import os

    prior = spark.conf.get("spark.sql.parquet.fieldId.write.enabled", None)
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    try:
        phys = spark.range(0, n).select(
            F.col("id").alias("c1", metadata={"parquet.field.id": 1}),
            (F.col("id") * 1.5).alias("c2", metadata={"parquet.field.id": 2}),
        )
        phys.coalesce(1).write.mode("overwrite").parquet(root)
    finally:  # don't leak id-resolution semantics into other tests
        if prior is None:
            spark.conf.unset("spark.sql.parquet.fieldId.write.enabled")
        else:
            spark.conf.set("spark.sql.parquet.fieldId.write.enabled", prior)
    files = [f for f in os.listdir(root) if f.endswith(".parquet")]
    schema = {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "c1"}},
            {"name": "v", "type": "double", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "c2"}},
        ],
    }
    os.makedirs(f"{root}/_delta_log")
    with open(f"{root}/_delta_log/{0:020d}.json", "w") as fh:
        fh.write(json.dumps(
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}}
        ) + "\n")
        fh.write(json.dumps({"metaData": {
            "id": "m", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema), "partitionColumns": [],
            "configuration": {"delta.columnMapping.mode": "id",
                              "delta.columnMapping.maxColumnId": "2"},
        }}) + "\n")
        for rel in files:
            fh.write(json.dumps({"add": {
                "path": rel, "partitionValues": {}, "size": 1,
                "modificationTime": 0, "dataChange": True}}) + "\n")
    return DeltaTable(spark, root)


def test_id_mode_append_and_merge(spark, root):
    """Round-11 (was a declared refusal): id-mode column-mapped tables
    accept appends and merges — staging renames to physical names AND
    stamps each column's mapping id as the parquet field id, so
    engine-written files resolve exactly like the foreign writer's
    (id-based, names irrelevant)."""
    import pyarrow.parquet as pq

    t = _foreign_id_mode_table(spark, root, n=30)
    assert t.snapshot().columns == ["k", "v"]

    t.append(
        spark.range(30, 40).select(
            F.col("id").alias("k"), (F.col("id") * 1.5).alias("v")
        )
    )
    s = t.snapshot()
    assert s.count() == 40
    assert s.agg(F.sum("v")).collect()[0][0] == sum(i * 1.5 for i in range(40))
    # the engine-staged file physically carries the mapping field ids
    new_adds = [
        a for a in t.files()
        if a["path"] not in {x["path"] for x in t.files(version=0)}
    ]
    assert new_adds
    pf = pq.ParquetFile(t._abs_data_path(new_adds[0]["path"]).replace("file:", ""))
    ids = {
        pf.schema_arrow.field(i).name: (
            pf.schema_arrow.field(i).metadata or {}
        ).get(b"PARQUET:field_id")
        for i in range(len(pf.schema_arrow.names))
    }
    assert ids == {"c1": b"1", "c2": b"2"}

    # merge: matched keys rewrite, new keys insert, untouched resolve
    t.merge_upsert(
        spark.range(35, 45).select(
            F.col("id").alias("k"), F.lit(0.0).alias("v")
        ),
        keys=["k"],
    )
    s2 = t.snapshot()
    assert s2.count() == 45
    assert s2.filter("k >= 35 and v = 0.0").count() == 10
    assert s2.filter("k < 35 and v = k * 1.5").count() == 35

    # DV delete through id-mode resolution (round 11): predicate on
    # logical names, files resolved by parquet field id
    assert t.delete_where_dv("k % 9 = 4") is not None
    s3 = t.snapshot()
    assert s3.count() == 40
    assert s3.filter("k % 9 = 4").count() == 0


def _foreign_id_mode_partitioned_table(spark, root, n=30):
    """Foreign-writer-shaped id-mode PARTITIONED table whose partition
    column's physical name (p1) diverges from the logical one (seg):
    hive dirs and partitionValues keys use the PHYSICAL name."""
    import os

    prior = spark.conf.get("spark.sql.parquet.fieldId.write.enabled", None)
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    try:
        phys = spark.range(0, n).select(
            F.col("id").alias("c1", metadata={"parquet.field.id": 1}),
            (F.col("id") * 1.5).alias("c2", metadata={"parquet.field.id": 2}),
            (F.col("id") % 3).cast("int").alias("p1"),
        )
        phys.coalesce(1).write.mode("overwrite").partitionBy("p1").parquet(root)
    finally:
        if prior is None:
            spark.conf.unset("spark.sql.parquet.fieldId.write.enabled")
        else:
            spark.conf.set("spark.sql.parquet.fieldId.write.enabled", prior)
    rels = []
    for d in os.listdir(root):
        if not d.startswith("p1="):
            continue
        for fn in os.listdir(f"{root}/{d}"):
            if fn.endswith(".parquet"):
                rels.append((f"{d}/{fn}", d.split("=", 1)[1]))
    schema = {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "c1"}},
            {"name": "v", "type": "double", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "c2"}},
            {"name": "seg", "type": "integer", "nullable": True,
             "metadata": {"delta.columnMapping.id": 3,
                          "delta.columnMapping.physicalName": "p1"}},
        ],
    }
    os.makedirs(f"{root}/_delta_log")
    with open(f"{root}/_delta_log/{0:020d}.json", "w") as fh:
        fh.write(json.dumps(
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}}
        ) + "\n")
        fh.write(json.dumps({"metaData": {
            "id": "m", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema),
            "partitionColumns": ["seg"],
            "configuration": {"delta.columnMapping.mode": "id",
                              "delta.columnMapping.maxColumnId": "3"},
        }}) + "\n")
        for rel, pv in rels:
            fh.write(json.dumps({"add": {
                "path": rel, "partitionValues": {"p1": pv}, "size": 1,
                "modificationTime": 0, "dataChange": True}}) + "\n")
    return DeltaTable(spark, root)


def test_id_mode_divergent_partition_physical_name(spark, root):
    """Round 12 (was a refusal in _physical_stage): appends to a
    foreign id-mode table whose PARTITION column's physical name
    diverges from the logical one stage the hive layout by PHYSICAL
    name — new directory segments and partitionValues keys match the
    foreign writer's — and reads resolve both file generations under
    one rule."""
    import os

    t = _foreign_id_mode_partitioned_table(spark, root, n=30)
    s0 = t.snapshot()
    assert set(s0.columns) == {"k", "v", "seg"}
    assert s0.count() == 30
    assert s0.filter("seg = k % 3").count() == 30

    t.append(
        spark.range(30, 45).select(
            F.col("id").alias("k"),
            (F.col("id") * 1.5).alias("v"),
            (F.col("id") % 3).cast("int").alias("seg"),
        )
    )
    s = t.snapshot()
    assert s.count() == 45
    assert s.filter("seg = k % 3").count() == 45
    assert s.agg(F.sum("v")).collect()[0][0] == sum(i * 1.5 for i in range(45))
    # the engine-written adds carry PHYSICAL hive segments and
    # partitionValues keys, exactly like the foreign writer's
    new_adds = [
        a for a in t.files()
        if a["path"] not in {x["path"] for x in t.files(version=0)}
    ]
    assert new_adds
    for a in new_adds:
        assert a["path"].startswith("p1=")
        assert set(a["partitionValues"]) == {"p1"}
    assert not any(
        d.startswith("seg=") for d in os.listdir(root) if "=" in d
    )
    # partition-pruned read through the divergent mapping
    assert t.snapshot(where_eq={"seg": [1]}).count() == s.filter(
        "seg = 1"
    ).count()
    # DV delete across both generations resolves files by field id
    assert t.delete_where_dv("k % 5 = 2") is not None
    s2 = t.snapshot()
    assert s2.count() == 45 - len([k for k in range(45) if k % 5 == 2])
    assert s2.filter("k % 5 = 2").count() == 0


def test_merge_schema_on_mapped_tables(spark, root):
    """Round 12 (was a declared refusal): merge_schema on column-mapped
    tables mints FRESH mapping ids + uuid physical names for appended
    columns and advances delta.columnMapping.maxColumnId in the same
    commit — old files read the addition as null, id-mode files carry
    the minted parquet field id, and renames of the new column stay
    metadata-only."""
    import pyarrow.parquet as pq

    # name mode via rename upgrade
    df = spark.range(0, 20).select("id", (F.col("id") * 2.0).alias("val"))
    t = DeltaTable.create(spark, root + "_n", df)
    t.rename_column("val", "price")
    t.append(
        spark.range(20, 30).select(
            "id", (F.col("id") * 2.0).alias("price"), F.lit(7).alias("extra")
        ),
        merge_schema=True,
    )
    s = t.snapshot()
    assert set(s.columns) == {"id", "price", "extra"}
    assert s.count() == 30
    assert s.filter("id < 20 and extra is null").count() == 20
    assert s.filter("id >= 20 and extra = 7").count() == 10
    meta = t._state()["metaData"]
    extra_f = next(
        f for f in json.loads(meta["schemaString"])["fields"]
        if f["name"] == "extra"
    )
    assert extra_f["metadata"]["delta.columnMapping.id"] == 3
    assert extra_f["metadata"]["delta.columnMapping.physicalName"].startswith(
        "col-"
    )
    assert meta["configuration"]["delta.columnMapping.maxColumnId"] == "3"
    t.rename_column("extra", "bonus")  # the minted column renames freely
    assert t.snapshot().filter("bonus = 7").count() == 10

    # id mode: the appended column's minted id is STAMPED into new files
    t2 = _foreign_id_mode_table(spark, root + "_i", n=10)
    t2.append(
        spark.range(10, 15).select(
            F.col("id").alias("k"),
            (F.col("id") * 1.5).alias("v"),
            F.lit("x").alias("tag"),
        ),
        merge_schema=True,
    )
    s2 = t2.snapshot()
    assert s2.count() == 15
    assert s2.filter("k < 10 and tag is null").count() == 10
    assert s2.filter("k >= 10 and tag = 'x'").count() == 5
    meta2 = t2._state()["metaData"]
    tag_f = next(
        f for f in json.loads(meta2["schemaString"])["fields"]
        if f["name"] == "tag"
    )
    assert tag_f["metadata"]["delta.columnMapping.id"] == 3
    assert meta2["configuration"]["delta.columnMapping.maxColumnId"] == "3"
    phys_tag = tag_f["metadata"]["delta.columnMapping.physicalName"]
    new_adds = [
        a for a in t2.files()
        if a["path"] not in {x["path"] for x in t2.files(version=0)}
    ]
    assert new_adds
    pf = pq.ParquetFile(t2._abs_data_path(new_adds[0]["path"]))
    ids = {
        pf.schema_arrow.field(i).name: (
            pf.schema_arrow.field(i).metadata or {}
        ).get(b"PARQUET:field_id")
        for i in range(len(pf.schema_arrow.names))
    }
    assert ids[phys_tag] == b"3"
    assert ids["c1"] == b"1" and ids["c2"] == b"2"


def test_name_mode_merge_after_rename(spark, root):
    """Round-11 (was _refuse_mapped): MERGE on a renamed (name-mapped)
    table — the probe/survivor reads resolve by physical name and the
    rewrite stages physically, so pre-rename and post-merge file
    generations coexist under one resolution rule."""
    df = spark.range(0, 50).select(
        "id", (F.col("id") * 2.0).alias("val"),
        (F.col("id") % 3).cast("int").alias("seg"),
    )
    t = DeltaTable.create(spark, root, df, partition_by=("seg",))
    t.rename_column("val", "price")
    cfg = t._state()["metaData"]["configuration"]
    assert cfg["delta.columnMapping.mode"] == "name"
    v = t.merge_upsert(
        spark.range(40, 60).select(
            "id", F.lit(-1.0).alias("price"),
            (F.col("id") % 3).cast("int").alias("seg"),
        ),
        keys=["id"],
    )
    assert v is not None
    s = t.snapshot()
    assert s.count() == 60
    assert s.filter("id >= 40 and price = -1.0").count() == 20
    assert s.filter("id < 40 and price = id * 2.0").count() == 40
    # physical staging: rewritten files carry the frozen physical name
    # in their stats keys, not the logical one
    phys = t._column_mapping(t._state()["metaData"])["price"]
    assert phys != "price"
    stats_keys = {
        k
        for a in t.files()
        if a.get("stats")
        for k in json.loads(a["stats"]).get("minValues", {})
    }
    assert phys in stats_keys and "price" not in stats_keys
