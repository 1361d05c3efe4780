"""Iceberg v2 interop: metadata-tree conformance and read semantics.

The writer (sources/iceberg_interop.py) must produce the spec's
filesystem-catalog layout — version-hinted metadata JSON, Avro manifest
lists, Avro manifests with per-file partition tuples — and the reader
must replay it (time travel by snapshot id, partition pruning from
manifest tuples, typed identity-partition restoration). Manifest Avro
bytes are additionally opened with the REAL Apache Avro library on the
JVM classpath, proving a genuine Iceberg reader's Avro layer would parse
them."""

from __future__ import annotations

import json
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from projectdatalake_spark.sources import atomic as _atomic
from projectdatalake_spark.sources.avro_codec import read_container
from projectdatalake_spark.sources.iceberg_interop import (
    IcebergCommitConflict,
    IcebergProtocolError,
    IcebergTable,
)


def _df(spark, lo=0, hi=100, seg_mod=3):
    return (
        spark.range(lo, hi)
        .withColumn("seg", (F.col("id") % seg_mod).cast("int"))
        .withColumn("val", F.col("id") * 2.5)
        .repartition(4)
    )


@pytest.fixture()
def root():
    yield tempfile.mkdtemp(prefix="iceberg_test_")


def test_metadata_tree_layout(spark, root):
    t = IcebergTable.create(spark, root, _df(spark), partition_by=("seg",))
    meta_dir = os.path.join(root, "metadata")
    names = [f for f in os.listdir(meta_dir) if not f.startswith(".")]
    assert "version-hint.text" in names
    assert "v0.metadata.json" in names and "v1.metadata.json" in names
    assert any(n.startswith("snap-") and n.endswith(".avro") for n in names)
    assert any(n.endswith("-m0.avro") for n in names)
    meta = json.load(open(f"{meta_dir}/v1.metadata.json"))
    assert meta["format-version"] == 2
    assert meta["partition-specs"][0]["fields"][0] == {
        "name": "seg", "transform": "identity", "source-id": 2, "field-id": 1000,
    }
    snap = meta["snapshots"][0]
    assert snap["summary"]["operation"] == "append"
    assert meta["current-snapshot-id"] == snap["snapshot-id"]
    # schema carries stable field ids (the Iceberg evolution contract)
    ids = [f["id"] for f in meta["schemas"][0]["fields"]]
    assert ids == [1, 2, 3]


def test_manifest_partition_tuples_typed(spark, root):
    t = IcebergTable.create(spark, root, _df(spark), partition_by=("seg",))
    meta = t.metadata()
    snap = meta["snapshots"][0]
    _, manifests = read_container(_atomic.read_bytes(t.spark, snap["manifest-list"]))
    assert manifests[0]["added_files_count"] > 0
    _, entries = read_container(_atomic.read_bytes(t.spark, manifests[0]["manifest_path"]))
    parts = {e["data_file"]["partition"]["seg"] for e in entries}
    assert parts <= {0, 1, 2} and all(isinstance(p, int) for p in parts)
    total = sum(e["data_file"]["record_count"] for e in entries)
    assert total == 100
    assert all(e["data_file"]["file_format"] == "PARQUET" for e in entries)


def test_jvm_avro_parses_our_manifests(spark, root):
    t = IcebergTable.create(spark, root, _df(spark), partition_by=("seg",))
    jvm = spark.sparkContext._jvm
    meta = t.metadata()
    snap = meta["snapshots"][0]
    for path in [snap["manifest-list"]]:
        reader = jvm.org.apache.avro.generic.GenericDatumReader()
        dfr = jvm.org.apache.avro.file.DataFileReader(jvm.java.io.File(path), reader)
        rows = []
        while dfr.hasNext():
            rows.append(str(dfr.next()))
        dfr.close()
        assert rows and "manifest_path" in rows[0]
    _, manifests = read_container(_atomic.read_bytes(t.spark, snap["manifest-list"]))
    reader = jvm.org.apache.avro.generic.GenericDatumReader()
    dfr = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(manifests[0]["manifest_path"]), reader
    )
    first = str(dfr.next())
    dfr.close()
    assert '"status": 1' in first and "file_path" in first


def test_read_semantics(spark, root):
    t = IcebergTable.create(spark, root, _df(spark), partition_by=("seg",))
    sid0 = t.current_snapshot_id()
    t.append(
        spark.range(100, 130)
        .withColumn("seg", F.lit(7).cast("int"))
        .withColumn("val", F.lit(0.0))
        .repartition(2)
    )
    assert t.snapshot().count() == 130
    assert t.snapshot(snapshot_id=sid0).count() == 100  # time travel
    assert dict(t.snapshot().dtypes)["seg"] == "int"  # typed restoration
    pruned = t.snapshot(where_eq={"seg": [7]})
    assert pruned.count() == 30
    fresh = IcebergTable(spark, root)
    got = sorted(fresh.snapshot().select("id", "seg", "val").collect())
    want = sorted(
        _df(spark)
        .unionByName(
            spark.range(100, 130)
            .withColumn("seg", F.lit(7).cast("int"))
            .withColumn("val", F.lit(0.0))
        )
        .select("id", "seg", "val")
        .collect()
    )
    assert got == want


def test_version_hint_recovery(spark, root):
    t = IcebergTable.create(spark, root, _df(spark, 0, 20))
    os.remove(os.path.join(root, "metadata", "version-hint.text"))
    crc = os.path.join(root, "metadata", ".version-hint.text.crc")
    if os.path.exists(crc):
        os.remove(crc)
    # hint lost (crash window): reader scans for the highest metadata file
    assert IcebergTable(spark, root).snapshot().count() == 20


def test_version_hint_torn_read(spark, root):
    """A racing writer overwriting version-hint.text can expose an EMPTY or
    half-written hint to a concurrent reader (truncate-then-write window).
    The reader must fall back to the metadata-directory scan, not crash
    with ValueError (pinned: round-4 verdict, only red test in the repo)."""
    t = IcebergTable.create(spark, root, _df(spark, 0, 20))
    t.append(_df(spark, 100, 110))
    hint = os.path.join(root, "metadata", "version-hint.text")
    crc = os.path.join(root, "metadata", ".version-hint.text.crc")
    for torn in (b"", b"1x"):  # truncated-empty and mid-write garbage
        if os.path.exists(crc):
            os.remove(crc)  # checksummed local FS would veto the raw edit
        with open(hint, "wb") as f:
            f.write(torn)
        fresh = IcebergTable(spark, root)
        assert fresh.current_metadata_version() == 2
        assert fresh.snapshot().count() == 30


def test_version_hint_stale(spark, root):
    """Out-of-order hint writes can leave the hint pointing BEHIND the tip;
    the reader walks forward to the newest v*.metadata.json so a stale
    hint never wedges the optimistic-commit retry loop."""
    t = IcebergTable.create(spark, root, _df(spark, 0, 20))
    t.append(_df(spark, 100, 110))
    hint = os.path.join(root, "metadata", "version-hint.text")
    crc = os.path.join(root, "metadata", ".version-hint.text.crc")
    if os.path.exists(crc):
        os.remove(crc)
    with open(hint, "wb") as f:
        f.write(b"0")  # stale: v1 and v2 exist
    fresh = IcebergTable(spark, root)
    assert fresh.current_metadata_version() == 2
    fresh.append(_df(spark, 200, 210))  # commit proceeds from the true tip
    assert IcebergTable(spark, root).snapshot().count() == 40


def test_create_refuses_existing(spark, root):
    IcebergTable.create(spark, root, _df(spark, 0, 10))
    with pytest.raises(IcebergCommitConflict):
        IcebergTable.create(spark, root, _df(spark, 0, 10))


def test_unknown_manifest_content_refused(spark, root):
    t = IcebergTable.create(spark, root, _df(spark, 0, 10))
    meta = t.metadata()
    snap = meta["snapshots"][0]
    _, manifests = read_container(_atomic.read_bytes(t.spark, snap["manifest-list"]))
    manifests[0]["content"] = 2  # a future manifest kind
    from projectdatalake_spark.sources.avro_codec import write_container
    from projectdatalake_spark.sources.iceberg_interop import _manifest_list_schema

    with open(snap["manifest-list"], "wb") as f:
        f.write(write_container(_manifest_list_schema(), manifests))
    crc = os.path.join(
        os.path.dirname(snap["manifest-list"]),
        "." + os.path.basename(snap["manifest-list"]) + ".crc",
    )
    if os.path.exists(crc):
        os.remove(crc)
    with pytest.raises(IcebergProtocolError, match="manifest content"):
        IcebergTable(spark, root).snapshot().count()


# --- v2 position deletes ----------------------------------------------------


def test_position_delete_merge_on_read(spark, root):
    t = IcebergTable.create(
        spark, root, _df(spark, 0, 500), partition_by=("seg",)
    )
    data_before = sorted(
        e["data_file"]["file_path"]
        for e in t._entries_for_snapshot(t.metadata(), None)[0]
    )
    sid = t.delete_where("id % 10 = 7")
    assert sid is not None
    # zero data files rewritten — only a content=1 delete manifest added
    data_after = sorted(
        e["data_file"]["file_path"]
        for e in t._entries_for_snapshot(t.metadata(), None)[0]
    )
    assert data_before == data_after
    assert t.snapshot().count() == 450
    assert t.snapshot().filter("id % 10 = 7").count() == 0
    dels = t._entries_for_snapshot(t.metadata(), None)[1]
    assert dels and all(e["data_file"]["content"] == 1 for e in dels)
    assert sum(e["data_file"]["record_count"] for e in dels) == 50
    # snapshot summary records the delete operation
    assert t.snapshots()[-1]["summary"]["operation"] == "delete"


def test_position_delete_composes_and_travels(spark, root):
    t = IcebergTable.create(spark, root, _df(spark, 0, 300))
    sid0 = t.current_snapshot_id()
    t.delete_where("id < 100")
    t.delete_where("id >= 250")
    assert t.snapshot().count() == 150
    assert t.snapshot(snapshot_id=sid0).count() == 300  # pre-delete travel
    # appends after a delete are NOT retro-masked (deletes are path-scoped)
    t.append(
        spark.range(0, 20)
        .withColumn("seg", F.lit(9).cast("int"))
        .withColumn("val", F.lit(0.0))
    )
    assert t.snapshot().count() == 170
    assert t.snapshot().filter("seg = 9").count() == 20
    # fresh reader agrees
    assert IcebergTable(spark, root).snapshot().count() == 170


def test_position_delete_no_match_is_noop(spark, root):
    t = IcebergTable.create(spark, root, _df(spark, 0, 50))
    v_before = t.current_metadata_version()
    assert t.delete_where("id = 123456") is None
    assert t.current_metadata_version() == v_before


def test_delete_file_layout(spark, root):
    """The delete file itself is spec-shaped: parquet of (file_path, pos),
    sorted, readable standalone."""
    t = IcebergTable.create(spark, root, _df(spark, 0, 100))
    t.delete_where("id % 2 = 0")
    dels = t._entries_for_snapshot(t.metadata(), None)[1]
    df = spark.read.parquet(dels[0]["data_file"]["file_path"])
    assert df.columns == ["file_path", "pos"]
    rows = df.collect()
    assert len(rows) == 50
    assert all(r["file_path"].endswith(".parquet") for r in rows[:5])


def test_equality_deletes_refused(spark, root):
    t = IcebergTable.create(spark, root, _df(spark, 0, 10))
    t.delete_where("id = 1")
    meta = t.metadata()
    snap = meta["snapshots"][-1]
    _, manifests = read_container(_atomic.read_bytes(t.spark, snap["manifest-list"]))
    dm = next(m for m in manifests if m["content"] == 1)
    _, entries = read_container(_atomic.read_bytes(t.spark, dm["manifest_path"]))
    entries[0]["data_file"]["content"] = 2  # pose as an equality delete
    from projectdatalake_spark.sources.avro_codec import write_container
    from projectdatalake_spark.sources.iceberg_interop import (
        _manifest_entry_schema, _partition_record_schema,
    )

    schema = _manifest_entry_schema(_partition_record_schema([]))
    with open(dm["manifest_path"], "wb") as f:
        f.write(write_container(schema, entries))
    crc = os.path.join(
        os.path.dirname(dm["manifest_path"]),
        "." + os.path.basename(dm["manifest_path"]) + ".crc",
    )
    if os.path.exists(crc):
        os.remove(crc)
    # a posed content=2 entry WITHOUT equality_ids is malformed — the
    # reader refuses rather than resurrecting rows (well-formed equality
    # deletes are supported; see the equality-delete tests below)
    with pytest.raises(IcebergProtocolError, match="equality delete"):
        IcebergTable(spark, root).snapshot().count()


# --- id-based schema evolution ----------------------------------------------


def test_rename_column_metadata_only(spark, root):
    t = IcebergTable.create(spark, root, _df(spark, 0, 100), partition_by=("seg",))
    files_before = sorted(
        e["data_file"]["file_path"]
        for e in t._entries_for_snapshot(t.metadata(), None)[0]
    )
    t.rename_column("val", "amount")
    files_after = sorted(
        e["data_file"]["file_path"]
        for e in t._entries_for_snapshot(t.metadata(), None)[0]
    )
    assert files_before == files_after  # zero rewrites
    s = t.snapshot()
    assert s.columns == ["id", "seg", "amount"]
    # old files resolve the renamed column BY FIELD ID
    assert s.agg(F.sum("amount")).collect()[0][0] == sum(i * 2.5 for i in range(100))
    # ids are stable across the evolution
    metas = t.metadata()["schemas"]
    old = {f["name"]: f["id"] for f in metas[0]["fields"]}
    new = {f["name"]: f["id"] for f in metas[-1]["fields"]}
    assert new["amount"] == old["val"]


def test_add_column_fresh_id_and_backfill(spark, root):
    t = IcebergTable.create(spark, root, _df(spark, 0, 50))
    t.add_column("note", "string")
    meta = t.metadata()
    ice = next(s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"])
    assert ice["fields"][-1]["id"] == meta["last-column-id"] == 4
    assert t.snapshot().filter("note IS NULL").count() == 50
    # old-shape append (no note) backfills typed nulls; new-shape carries it
    t.append(
        spark.range(100, 110)
        .withColumn("seg", F.lit(5).cast("int"))
        .withColumn("val", F.lit(1.0))
    )
    t.append(
        spark.range(110, 120)
        .withColumn("seg", F.lit(6).cast("int"))
        .withColumn("val", F.lit(2.0))
        .withColumn("note", F.lit("x"))
    )
    s = t.snapshot()
    assert s.count() == 70
    assert s.filter("note = 'x'").count() == 10


def test_evolution_refusals(spark, root):
    t = IcebergTable.create(spark, root, _df(spark, 0, 10), partition_by=("seg",))
    with pytest.raises(IcebergProtocolError, match="partition"):
        t.rename_column("seg", "zone")
    with pytest.raises(IcebergProtocolError, match="already exists"):
        t.add_column("val", "double")
    with pytest.raises(IcebergProtocolError, match="not in table schema"):
        t.append(spark.range(5).withColumn("bogus", F.lit(1)))


def test_drop_column_and_id_retirement(spark, root):
    t = IcebergTable.create(spark, root, _df(spark, 0, 50), partition_by=("seg",))
    t.drop_column("val")
    assert t.snapshot().columns == ["id", "seg"]
    assert t.snapshot().count() == 50
    # a new column after the drop gets a FRESH id, never val's old one
    t.add_column("val2", "double")
    meta = t.metadata()
    ice = next(
        s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"]
    )
    assert ice["fields"][-1]["id"] == 4  # val was 3; 3 is retired
    # old files do NOT leak the dropped column's bytes into the new one
    assert t.snapshot().filter("val2 IS NOT NULL").count() == 0
    with pytest.raises(IcebergProtocolError, match="partition"):
        t.drop_column("seg")


def test_manifest_bounds_and_range_skipping(spark, root):
    df = spark.range(0, 1000).withColumn("val", F.col("id") * 1.0)
    t = IcebergTable.create(spark, root, df.repartitionByRange(10, "id"))
    meta = t.metadata()
    snap = meta["snapshots"][0]
    _, manifests = read_container(_atomic.read_bytes(t.spark, snap["manifest-list"]))
    _, entries = read_container(_atomic.read_bytes(t.spark, manifests[0]["manifest_path"]))
    e0 = entries[0]["data_file"]
    # iceberg single-value binary bounds keyed by FIELD ID
    assert e0["lower_bounds"] and e0["upper_bounds"]
    import struct

    lo = {kv["key"]: kv["value"] for kv in e0["lower_bounds"]}
    hi = {kv["key"]: kv["value"] for kv in e0["upper_bounds"]}
    assert struct.unpack("<q", lo[1])[0] <= struct.unpack("<q", hi[1])[0]
    # range pruning skips files before any footer is opened
    pruned = t.snapshot(where={"id": (950, None)})
    assert pruned.count() < 1000          # files skipped
    assert pruned.filter("id >= 950").count() == 50  # rows intact
    # files lacking bounds are conservatively kept (probe an unknown col)
    assert t.snapshot(where={"nope": (0, 1)}).count() == 1000


def test_expire_snapshots_reclaims(spark, root):
    t = IcebergTable.create(spark, root, _df(spark, 0, 100), partition_by=("seg",))
    sid0 = t.current_snapshot_id()
    t.append(
        spark.range(100, 120)
        .withColumn("seg", F.lit(5).cast("int"))
        .withColumn("val", F.lit(0.0))
    )
    # overwrite-free history: snapshot 0's files are all still referenced
    out = t.expire_snapshots(retain=1)
    assert out["snapshots"] == 1
    # current snapshot intact and complete (shared files survived)
    assert t.snapshot().count() == 120
    # expired snapshot id no longer resolvable — loud, not silent
    with pytest.raises(FileNotFoundError):
        t.snapshot(snapshot_id=sid0).count()
    # a delete-then-expire retires the delete-only metadata cleanly
    t.delete_where("id < 10")
    assert t.snapshot().count() == 110
    out2 = t.expire_snapshots(retain=1)
    assert out2["snapshots"] == 1
    assert t.snapshot().count() == 110
    assert IcebergTable(spark, root).snapshot().count() == 110


# --- partition transforms (spec "Partition Transforms" + Appendix B) ---


def test_murmur3_spec_vectors():
    """The exact hash vectors the Iceberg spec publishes for the bucket
    transform (Appendix B) — scalar and vectorized paths must agree."""
    import datetime

    import numpy as np

    from projectdatalake_spark.functions.murmur3 import (
        mmh3_long_np,
        murmur3_32,
    )

    def h_long(v):
        return murmur3_32(int(v).to_bytes(8, "little", signed=True))

    assert h_long(34) == 2017239379                       # int + long agree
    assert murmur3_32(b"iceberg") == 1210000089           # string
    days = (datetime.date(2017, 11, 16) - datetime.date(1970, 1, 1)).days
    assert h_long(days) == -653330422                     # date
    micros = int(
        datetime.datetime(
            2017, 11, 16, 22, 31, 8, tzinfo=datetime.timezone.utc
        ).timestamp()
    ) * 1_000_000
    assert h_long(micros) == -2047944441                  # timestamp micros
    vec = mmh3_long_np(np.array([34, days, micros], dtype=np.int64))
    assert list(vec) == [2017239379, -653330422, -2047944441]


def test_bucket_transform_roundtrip_and_pruning(spark, root):
    t = IcebergTable.create(
        spark, root, _df(spark, 0, 1000, seg_mod=5), partition_by=("bucket(4, id)",)
    )
    back = t.snapshot()
    # non-identity source column comes back from DATA FILES, not constants
    assert set(back.columns) == {"id", "seg", "val"}
    assert back.count() == 1000
    assert back.exceptAll(_df(spark, 0, 1000, seg_mod=5)).count() == 0
    # the spec JSON records the transform
    meta = t.metadata()
    f = meta["partition-specs"][0]["fields"][0]
    assert f["transform"] == "bucket[4]" and f["name"] == "id_bucket"
    # manifest partition tuples carry the spec's murmur3 bucket ids
    from projectdatalake_spark.functions.murmur3 import bucket_of_long

    entries, _ = t._entries_for_snapshot(meta, None)
    for e in entries:
        assert e["data_file"]["partition"]["id_bucket"] in range(4)
    # equality pruning through the transform: planning keeps only the
    # predicate key's bucket, and rows survive the residual filter
    probe = 777
    n_all = len(entries)
    pruned_entries = [
        e
        for e in entries
        if e["data_file"]["partition"]["id_bucket"] == bucket_of_long(probe, 4)
    ]
    assert 0 < len(pruned_entries) < n_all
    got = t.snapshot(where_eq={"id": probe}).filter(F.col("id") == probe)
    assert got.count() == 1


def test_bucket_string_and_nulls(spark, root):
    from projectdatalake_spark.functions.murmur3 import bucket_of_bytes

    df = spark.createDataFrame(
        [(1, "iceberg"), (2, "parquet"), (3, None)], "id long, name string"
    )
    t = IcebergTable.create(spark, root, df, partition_by=("bucket(16, name)",))
    back = t.snapshot()
    assert back.count() == 3
    assert back.filter("name IS NULL").count() == 1
    meta = t.metadata()
    entries, _ = t._entries_for_snapshot(meta, None)
    buckets = {e["data_file"]["partition"]["name_bucket"] for e in entries}
    # spec vector: hash("iceberg") = 1210000089 → bucket 1210000089 % 16
    assert (1210000089 & 0x7FFFFFFF) % 16 in buckets
    assert bucket_of_bytes(b"iceberg", 16) == (1210000089 & 0x7FFFFFFF) % 16
    assert None in buckets  # null partition survives the hive layout


def test_truncate_and_date_transforms(spark, root):
    import datetime

    df = spark.createDataFrame(
        [
            (-7, "1-URGENT", datetime.date(1995, 3, 5)),
            (-8, "3-MEDIUM", datetime.date(1995, 11, 30)),
            (9, "5-LOW", datetime.date(1997, 1, 1)),
        ],
        "v int, prio string, d date",
    )
    t = IcebergTable.create(
        spark,
        root,
        df,
        partition_by=("truncate(4, v)", "truncate(1, prio)", "month(d)"),
    )
    meta = t.metadata()
    fields = meta["partition-specs"][0]["fields"]
    assert [f["transform"] for f in fields] == ["truncate[4]", "truncate[1]", "month"]
    entries, _ = t._entries_for_snapshot(meta, None)
    tuples = {
        (
            e["data_file"]["partition"]["v_trunc"],
            e["data_file"]["partition"]["prio_trunc"],
            e["data_file"]["partition"]["d_month"],
        )
        for e in entries
    }
    # floor semantics for negatives (-7 → -8), month = months-from-1970-01
    assert (-8, "1", (1995 - 1970) * 12 + 2) in tuples
    assert (-8, "3", (1995 - 1970) * 12 + 10) in tuples
    assert (8, "5", (1997 - 1970) * 12 + 0) in tuples
    back = t.snapshot()
    assert back.exceptAll(df).count() == 0 and back.count() == 3
    # source-column equality predicate prunes through month()
    pr = t.snapshot(where_eq={"d": datetime.date(1995, 3, 20)})
    assert pr.count() == 1  # only the 1995-03 file planned


def test_temporal_transforms_session_timezone_independent(spark, root):
    """IcebergTable accepts ANY SparkSession, not just the project
    factory's UTC-pinned one. Written partition tuples and driver-side
    pruning must agree under a non-UTC session: NTZ sources partition by
    their wall clock, LTZ sources by the UTC calendar of the instant
    (round-5 advice, low)."""
    import datetime

    tokyo = spark.newSession()
    tokyo.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    # 2021-03-01 23:30 UTC — in Tokyo rendering this is 2021-03-02 08:30,
    # so any session-tz leak flips day/hour/month and the bucket hash
    ntz = datetime.datetime(2021, 3, 1, 23, 30, 15)
    df = tokyo.createDataFrame(
        [(1, ntz), (2, datetime.datetime(2021, 6, 30, 1, 0, 0))],
        "id long, ts timestamp_ntz",
    )
    t = IcebergTable.create(
        tokyo, root, df, partition_by=("month(ts)", "bucket(8, ts)")
    )
    entries, _ = t._entries_for_snapshot(t.metadata(), None)
    months = {e["data_file"]["partition"]["ts_month"] for e in entries}
    assert months == {(2021 - 1970) * 12 + 2, (2021 - 1970) * 12 + 5}
    from projectdatalake_spark.sources.iceberg_interop import _transform_py

    bucket_vals = {e["data_file"]["partition"]["ts_bucket"] for e in entries}
    assert _transform_py("bucket[8]", ntz, "timestamp") in bucket_vals
    # point lookup prunes via _transform_py and still FINDS the row
    assert t.snapshot(where_eq={"ts": ntz}).count() == 1
    # LTZ source: partition tuple reflects the UTC instant, not Tokyo wall
    df2 = tokyo.sql(
        "SELECT 1L AS id, TIMESTAMP'2021-03-01 23:30:15 UTC' AS ts"
    )
    t2 = IcebergTable.create(
        tokyo, root + "_ltz", df2, partition_by=("day(ts)", "hour(ts)")
    )
    e2, _ = t2._entries_for_snapshot(t2.metadata(), None)
    part = e2[0]["data_file"]["partition"]
    want_day = (datetime.date(2021, 3, 1) - datetime.date(1970, 1, 1)).days
    assert part["ts_day"] == want_day
    assert part["ts_hour"] == want_day * 24 + 23
    assert (
        t2.snapshot(
            where_eq={
                "ts": datetime.datetime(
                    2021, 3, 1, 23, 30, 15, tzinfo=datetime.timezone.utc
                )
            }
        ).count()
        == 1
    )


def test_transform_source_columns_protected(spark, root):
    t = IcebergTable.create(
        spark, root, _df(spark, 0, 50), partition_by=("bucket(4, id)",)
    )
    with pytest.raises(IcebergProtocolError):
        t.rename_column("id", "id2")
    with pytest.raises(IcebergProtocolError):
        t.drop_column("id")
    # non-source columns still evolve, and the table stays readable
    t.rename_column("val", "amount")
    assert "amount" in t.snapshot().columns
    # deletes work on transformed tables (tuple schema uses result types)
    t.delete_where("id % 10 = 3")
    assert t.snapshot().count() == 45


def test_unsupported_transforms_refused(spark, root):
    df = _df(spark, 0, 10)
    with pytest.raises(IcebergProtocolError):
        IcebergTable.create(spark, root, df, partition_by=("bucket(0, id)",))
    with pytest.raises(IcebergProtocolError):
        IcebergTable.create(spark, root, df, partition_by=("truncate(2, val)",))
    with pytest.raises(IcebergProtocolError):
        IcebergTable.create(spark, root, df, partition_by=("hour(id)",))
    with pytest.raises(IcebergProtocolError):
        IcebergTable.create(spark, root, df, partition_by=("sha1(id)",))


# --- equality deletes (content=2) -------------------------------------------


def test_equality_delete_applies_and_manifests(spark, root):
    t = IcebergTable.create(spark, root, _df(spark, 0, 100), partition_by=("seg",))
    sid = t.delete_equality(spark.range(10, 20).select("id"))
    assert sid is not None
    assert t.snapshot().count() == 90
    assert t.snapshot().filter("id = 15").count() == 0
    meta = t.metadata()
    snap = meta["snapshots"][-1]
    assert snap["summary"]["added-equality-deletes"] == "10"
    # manifest entry carries content=2 + the equality field ids
    _, manifests = read_container(_atomic.read_bytes(t.spark, snap["manifest-list"]))
    dm = next(m for m in manifests if m["content"] == 1)
    _, entries = read_container(_atomic.read_bytes(t.spark, dm["manifest_path"]))
    rec = entries[0]["data_file"]
    assert rec["content"] == 2
    id_fid = next(
        f["id"]
        for f in meta["schemas"][meta["current-schema-id"]]["fields"]
        if f["name"] == "id"
    )
    assert rec["equality_ids"] == [id_fid]
    # empty key set commits nothing
    assert t.delete_equality(spark.range(0, 0).select("id")) is None


def test_equality_delete_reinsert_survives(spark, root):
    """The spec's sequence-number rule: an equality delete applies only to
    data files with STRICTLY SMALLER data sequence numbers, so the same
    key appended after the delete is alive — upsert semantics."""
    t = IcebergTable.create(spark, root, _df(spark, 0, 50))
    t.delete_equality(spark.createDataFrame([(7,), (8,)], "id long"))
    assert t.snapshot().count() == 48
    t.append(_df(spark, 7, 9))  # ids 7, 8 come back at a higher seq
    back = t.snapshot()
    assert back.count() == 50
    assert back.filter("id IN (7, 8)").count() == 2
    # a LATER delete removes the re-inserted generation too
    t.delete_equality(spark.createDataFrame([(7,)], "id long"))
    assert t.snapshot().count() == 49
    # time travel BEFORE the second delete still sees both
    prior = t.metadata()["snapshots"][-2]["snapshot-id"]
    assert t.snapshot(snapshot_id=prior).filter("id = 7").count() == 1


def test_equality_delete_multi_column_and_nulls(spark, root):
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, "b")], "id long, tag string"
    )
    t = IcebergTable.create(spark, root, df)
    # (2,'b') matches one row; (3, NULL) must match the NULL row
    # (null-safe equality, the spec's delete-row semantics)
    t.delete_equality(
        spark.createDataFrame([(2, "b"), (3, None)], "id long, tag string"),
        cols=["id", "tag"],
    )
    back = t.snapshot()
    assert {r["id"] for r in back.collect()} == {1, 4}
    # unknown column refused loudly
    with pytest.raises(IcebergProtocolError, match="not in table schema"):
        t.delete_equality(spark.createDataFrame([(1,)], "nope long"))


def test_equality_delete_stream_refused(spark, root):
    from projectdatalake_spark.sources import iceberg_stream

    iceberg_stream.register(spark)
    t = IcebergTable.create(spark, root, _df(spark, 0, 20))
    t.delete_equality(spark.createDataFrame([(3,)], "id long"))
    q = (
        spark.readStream.format("iceberg_changes")
        .option("path", root)
        .load()
        .writeStream.format("memory")
        .queryName("eq_refuse")
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="equality deletes"):
        q.awaitTermination()


def _unsorted_rewrite_layout(spark, n_input_parts, target_files):
    """Files per partition after an unsorted rewrite of a MOR table whose
    files, and so whose snapshot plan, come in ``n_input_parts`` pieces."""
    root = tempfile.mkdtemp(prefix="iceberg_test_")
    t = IcebergTable.create(
        spark, root, _df(spark, 0, 600).repartition(n_input_parts),
        partition_by=("seg",),
    )
    t.append(_df(spark, 600, 900).repartition(n_input_parts))
    t.delete_where("id % 10 = 7")
    assert t.rewrite_data_files(target_files=target_files) is not None
    entries, _ = t._entries_for_snapshot(t.metadata(), None)
    per_part: dict = {}
    for e in entries:
        seg = e["data_file"]["partition"]["seg"]
        per_part[seg] = per_part.get(seg, 0) + 1
    assert t.snapshot().count() == 810
    return per_part


@pytest.mark.parametrize("target_files", [None, 3])
def test_unsorted_rewrite_file_count_ignores_input_layout(spark, target_files):
    """Without a sort order the rewrite lays out each partition by its
    own rule (at most ``target_files``, default 1, files per partition),
    so the file count is the same however the input plan is split."""
    one = _unsorted_rewrite_layout(spark, 1, target_files)
    seven = _unsorted_rewrite_layout(spark, 7, target_files)
    assert one == seven
    assert sorted(one) == [0, 1, 2]
    if target_files is None:
        assert set(one.values()) == {1}
    else:
        assert all(1 <= n <= target_files for n in one.values())


def test_rewrite_data_files_folds_deletes(spark, root):
    """Copy-on-write compaction: MOR delete files (position + equality)
    are folded into fresh data files; reads become plain scans, prior
    snapshots still time travel, expire reclaims the old generation."""
    t = IcebergTable.create(
        spark, root, _df(spark, 0, 200), partition_by=("seg",)
    )
    t.delete_where("id % 10 = 7")
    t.delete_equality(spark.range(0, 5).select("id"))
    before = t.snapshot()
    n = before.count()
    assert n == 175  # 200 - 20 (pos) - 5 (eq, ids 0..4 none end in 7)
    sid_prior = t.current_snapshot_id()
    assert t.rewrite_data_files() is not None
    meta = t.metadata()
    entries, dels = t._entries_for_snapshot(meta, None)
    assert dels == []                       # delete files left the live set
    after = t.snapshot()
    assert after.count() == n
    assert after.exceptAll(before).count() == 0
    assert meta["snapshots"][-1]["summary"]["operation"] == "replace"
    # partition tuples survive compaction (spec-typed, prunable)
    assert {e["data_file"]["partition"]["seg"] for e in entries} == {0, 1, 2}
    assert t.snapshot(where_eq={"seg": [1]}).count() < n
    # prior snapshot untouched; expire retires it and the table still reads
    assert t.snapshot(snapshot_id=sid_prior).count() == n
    t.expire_snapshots(retain=1)
    assert IcebergTable(spark, root).snapshot().count() == n
    # empty table: nothing to rewrite
    e = IcebergTable.create_empty(
        spark, root + "_e", _df(spark, 0, 1).schema
    )
    assert e.rewrite_data_files() is None


def test_rewrite_position_deletes_compacts(spark, root):
    """Delete-file compaction: N position-delete files become one sorted
    pair file; the visible rows are bit-identical, data files untouched,
    prior snapshots still apply the OLD delete files on time travel."""
    t = IcebergTable.create(spark, root, _df(spark, 0, 400))
    t.delete_where("id % 10 = 7")
    t.delete_where("id % 10 = 3")
    before = t.snapshot()
    n = before.count()
    assert n == 320
    data_before = sorted(
        e["data_file"]["file_path"]
        for e in t._entries_for_snapshot(t.metadata(), None)[0]
    )
    pos_before = [
        e
        for e in t._entries_for_snapshot(t.metadata(), None)[1]
        if e["data_file"]["content"] == 1
    ]
    assert len(pos_before) >= 2
    sid_prior = t.current_snapshot_id()
    sid = t.rewrite_position_deletes()
    assert sid is not None
    meta = t.metadata()
    data_after, dels = t._entries_for_snapshot(meta, None)
    pos_after = [e for e in dels if e["data_file"]["content"] == 1]
    assert len(pos_after) == 1  # compacted
    assert sorted(
        e["data_file"]["file_path"] for e in data_after
    ) == data_before  # zero data files rewritten
    assert sum(e["data_file"]["record_count"] for e in pos_after) == 80
    after = t.snapshot()
    assert after.count() == n and after.exceptAll(before).count() == 0
    snap = meta["snapshots"][-1]
    assert snap["summary"]["operation"] == "replace"
    assert snap["summary"]["added-position-delete-files"] == "1"
    # the pair file itself is spec-shaped: sorted (file_path, pos)
    rows = (
        spark.read.parquet(pos_after[0]["data_file"]["file_path"])
        .collect()
    )
    assert [r.asDict() for r in rows] == sorted(
        (r.asDict() for r in rows), key=lambda d: (d["file_path"], d["pos"])
    )
    # time travel to the pre-rewrite snapshot still reads via old deletes
    assert t.snapshot(snapshot_id=sid_prior).count() == n
    # fresh reader agrees
    assert IcebergTable(spark, root).snapshot().count() == n
    # idempotent second pass over a single file still commits (re-sorts);
    # a table with no position deletes is a no-op
    t2 = IcebergTable.create(spark, root + "_2", _df(spark, 0, 10))
    assert t2.rewrite_position_deletes() is None


def test_rewrite_position_deletes_drops_dangling(spark, root):
    """Dynamic overwrite carries delete manifests along, so pairs aimed
    at the replaced files become dangling; the rewrite drops exactly
    those and reports the count in the snapshot summary."""
    t = IcebergTable.create(
        spark, root, _df(spark, 0, 300), partition_by=("seg",)
    )
    t.delete_where("id % 10 = 7")  # 30 pairs across seg 0/1/2
    fix = (
        spark.range(1000, 1050)
        .withColumn("seg", F.lit(1).cast("int"))
        .withColumn("val", F.col("id") * 1.0)
    )
    t.overwrite_partitions(fix.repartition(1))  # seg=1 files replaced
    n = t.snapshot().count()
    # seg 0/2: 200 rows - 20 deleted; seg 1: 50 fresh rows
    assert n == 230
    pairs_before = sum(
        e["data_file"]["record_count"]
        for e in t._entries_for_snapshot(t.metadata(), None)[1]
        if e["data_file"]["content"] == 1
    )
    assert pairs_before == 30
    t.rewrite_position_deletes()
    meta = t.metadata()
    pos_after = [
        e
        for e in t._entries_for_snapshot(meta, None)[1]
        if e["data_file"]["content"] == 1
    ]
    assert sum(e["data_file"]["record_count"] for e in pos_after) == 20
    summary = meta["snapshots"][-1]["summary"]
    assert summary["removed-dangling-position-deletes"] == "10"
    assert t.snapshot().count() == n
    # all-dangling: overwrite the remaining partitions too, rewrite must
    # retire every position delete without adding a new file
    t.overwrite_partitions(
        spark.range(2000, 2010)
        .withColumn("seg", F.lit(0).cast("int"))
        .withColumn("val", F.lit(0.0))
        .unionByName(
            spark.range(3000, 3010)
            .withColumn("seg", F.lit(2).cast("int"))
            .withColumn("val", F.lit(0.0))
        )
        .repartition(1)
    )
    n2 = t.snapshot().count()
    assert t.rewrite_position_deletes() is not None
    dels = t._entries_for_snapshot(t.metadata(), None)[1]
    assert [e for e in dels if e["data_file"]["content"] == 1] == []
    assert t.snapshot().count() == n2


def test_rewrite_position_deletes_equality_rides_through(spark, root):
    """Equality-delete files are NOT compacted by this action: they ride
    through with their original sequence numbers pinned, so the
    reinsert-survives ordering semantics are preserved across the
    rewrite."""
    t = IcebergTable.create(spark, root, _df(spark, 0, 100))
    t.delete_equality(spark.range(0, 10).select("id"))
    # eq-only table: nothing to rewrite
    assert t.rewrite_position_deletes() is None
    t.append(
        spark.range(0, 5)  # reinsert half the eq-deleted keys
        .withColumn("seg", F.lit(5).cast("int"))
        .withColumn("val", F.lit(1.0))
    )
    t.delete_where("id >= 90")
    assert t.snapshot().count() == 85  # 100 - 10 eq + 5 reinserted - 10 pos
    eq_before = [
        (e["data_file"]["file_path"], e["_seq"])
        for e in t._entries_for_snapshot(t.metadata(), None)[1]
        if e["data_file"]["content"] == 2
    ]
    assert t.rewrite_position_deletes() is not None
    dels = t._entries_for_snapshot(t.metadata(), None)[1]
    eq_after = [
        (e["data_file"]["file_path"], e["_seq"])
        for e in dels
        if e["data_file"]["content"] == 2
    ]
    # same files, same effective sequence numbers → same ordering result
    assert sorted(eq_after) == sorted(eq_before)
    assert t.snapshot().count() == 85
    assert t.snapshot().filter("id < 5").count() == 5  # reinserts survive


def test_partition_spec_evolution(spark, root):
    """update_spec: O(metadata) repartitioning — old files stay under
    their spec era, reads interpret each file's tuple under ITS spec
    (pruning + identity restore), writes use the new spec, and
    rewrite_data_files migrates the physical layout on demand."""
    t = IcebergTable.create(
        spark, root, _df(spark, 0, 100), partition_by=("seg",)
    )
    files_before = sorted(
        e["data_file"]["file_path"]
        for e in t._entries_for_snapshot(t.metadata(), None)[0]
    )
    new_spec = t.update_spec(("bucket(4, id)",))
    # metadata only: no files touched, spec list grew, default advanced
    meta = t.metadata()
    assert meta["default-spec-id"] == new_spec
    assert len(meta["partition-specs"]) == 2
    assert sorted(
        e["data_file"]["file_path"]
        for e in t._entries_for_snapshot(meta, None)[0]
    ) == files_before
    t.append(_df(spark, 100, 150))
    entries, _ = t._entries_for_snapshot(t.metadata(), None)
    assert {e["_spec_id"] for e in entries} == {0, 1}
    back = t.snapshot()
    assert back.count() == 150
    want = _df(spark, 0, 100).unionByName(_df(spark, 100, 150))
    assert back.exceptAll(want).count() == 0
    # era-scoped pruning: a seg predicate prunes only era-0 files (era-1
    # files are kept — their spec never partitioned on seg) ...
    pr = t.snapshot(where_eq={"seg": [1]})
    assert pr.filter("id >= 100").count() == 50
    assert pr.filter("id < 100").select("seg").distinct().collect() == [
        pytest.approx(1)
    ] or {r.seg for r in pr.filter("id < 100").select("seg").distinct().collect()} == {1}
    # ... and an id predicate prunes only era-1 files
    pr2 = t.snapshot(where_eq={"id": 120})
    assert pr2.filter("id = 120").count() == 1
    assert pr2.filter("id < 100").count() == 100
    # field ids are table-wide: re-adding identity(seg) reuses its id
    t.update_spec(("seg", "bucket(4, id)"))
    specs = t.metadata()["partition-specs"]
    fid_of = {
        (f["source-id"], f["transform"]): f["field-id"]
        for f in specs[0]["fields"] + specs[1]["fields"]
    }
    for f in specs[2]["fields"]:
        assert f["field-id"] == fid_of[(f["source-id"], f["transform"])]
    # deletes work across eras; compaction migrates to the current spec
    t.delete_where("id % 10 = 7")
    assert t.snapshot().count() == 135
    t.rewrite_data_files()
    entries2, dels2 = t._entries_for_snapshot(t.metadata(), None)
    assert {e["_spec_id"] for e in entries2} == {2} and dels2 == []
    assert t.snapshot().count() == 135
    # dropping a column sourced by a HISTORICAL spec is refused
    with pytest.raises(IcebergProtocolError, match="historical"):
        t.drop_column("seg")


def test_dynamic_partition_overwrite(spark, root):
    """overwrite_partitions replaces exactly the touched partitions in
    one atomic snapshot: untouched files carry over as EXISTING entries
    pinning their original sequence numbers, delete manifests ride
    along, prior snapshots time travel."""
    t = IcebergTable.create(
        spark, root, _df(spark, 0, 90), partition_by=("seg",)
    )
    t.delete_equality(spark.range(0, 10).select("id"))
    n_before = t.snapshot().count()  # 80
    fix = (
        spark.range(1000, 1010)
        .withColumn("seg", F.lit(1).cast("int"))
        .withColumn("val", F.lit(-1.0))
    )
    t.overwrite_partitions(fix.repartition(1))
    back = t.snapshot()
    # seg=1 fully replaced; other partitions untouched; eq deletes still
    # apply to the carried files (original seqs preserved)
    assert back.filter("seg = 1").count() == 10
    assert back.filter("seg = 1 AND val = -1.0").count() == 10
    assert back.filter("seg != 1 AND id < 10").count() == 0
    assert back.filter("seg != 1").count() == 53  # 60 carried - 7 eq-deleted
    assert t.snapshots()[-1]["summary"]["operation"] == "overwrite"
    # carried entries are EXISTING with pinned seqs (manifest-level check)
    entries, dels = t._entries_for_snapshot(t.metadata(), None)
    assert dels  # delete manifests carried
    carried = [e for e in entries if e["status"] == 0]
    assert carried and all(e["sequence_number"] is not None for e in carried)
    # prior snapshot intact
    prior = t.metadata()["snapshots"][-2]["snapshot-id"]
    assert t.snapshot(snapshot_id=prior).count() == n_before
    # unpartitioned table: dynamic overwrite = full overwrite
    t2 = IcebergTable.create(spark, root + "_u", _df(spark, 0, 50))
    t2.overwrite_partitions(fix)
    assert t2.snapshot().count() == 10
    # spec-evolved live set refused (tuples not comparable across eras)
    t3 = IcebergTable.create(
        spark, root + "_e", _df(spark, 0, 30), partition_by=("seg",)
    )
    t3.update_spec(("bucket(4, id)",))
    t3.append(_df(spark, 30, 60))
    with pytest.raises(IcebergProtocolError, match="historical partition specs"):
        t3.overwrite_partitions(fix)


def test_global_delete_written_under_unpartitioned_spec(spark, root):
    """Iceberg spec: table-wide (global) delete files must be written
    under an UNPARTITIONED spec with an empty partition tuple — under a
    partitioned spec an all-null tuple scopes the delete to the null
    partition and a compliant external reader resurrects the deleted
    rows everywhere else (round-5 advice, medium)."""
    t = IcebergTable.create(spark, root, _df(spark, 0, 60), partition_by=("seg",))
    t.delete_equality(spark.range(0, 5).select("id"))
    t.delete_where("id >= 55")
    meta = t.metadata()
    specs = {s["spec-id"]: s for s in meta["partition-specs"]}
    unpart = [sid for sid, s in specs.items() if not s["fields"]]
    assert unpart, "global delete did not register an unpartitioned spec"
    assert meta["default-spec-id"] not in unpart  # data writes keep theirs
    _, manifests = read_container(
        _atomic.read_bytes(t.spark, meta["snapshots"][-1]["manifest-list"])
    )
    for dm in (m for m in manifests if m.get("content") == 1):
        assert dm["partition_spec_id"] in unpart
        _, entries = read_container(_atomic.read_bytes(t.spark, dm["manifest_path"]))
        for e in entries:
            assert not (e["data_file"].get("partition") or {})
    # semantics unchanged: deletes apply table-wide through our reader
    assert t.snapshot().count() == 50
    assert t.snapshot().filter("id < 5 OR id >= 55").count() == 0


def test_replace_commit_detects_moved_base(spark, root):
    """A replace (compaction / dynamic overwrite) whose file set was
    computed against a base snapshot must REFUSE to commit once any
    concurrent commit moves the tip — blind success would drop the
    racer's files from the manifest list (round-5 advice, high)."""
    t = IcebergTable.create(spark, root, _df(spark, 0, 30))
    meta = t.metadata()  # base state the replace set is computed against
    files = t._prepare_files(t.snapshot(), meta)
    IcebergTable(spark, root).append(_df(spark, 100, 110))  # racer lands
    with pytest.raises(IcebergCommitConflict, match="base snapshot moved"):
        t.append_files(files, meta=meta, replace=True, operation="replace")
    # recompute against the new tip → commit succeeds, racer's rows live
    assert t.rewrite_data_files() is not None
    assert t.snapshot().count() == 40


def test_overwrite_manifest_min_sequence_number_covers_carried(spark, root):
    """min_sequence_number on the overwrite manifest must cover EXISTING
    entries' pinned data seqs, or external readers skip older equality
    deletes against carried files (round-5 advice, medium)."""
    t = IcebergTable.create(spark, root, _df(spark, 0, 90), partition_by=("seg",))
    t.delete_equality(spark.range(0, 10).select("id"))  # seq 2
    fix = (
        spark.range(1000, 1010)
        .withColumn("seg", F.lit(1).cast("int"))
        .withColumn("val", F.lit(-1.0))
    )
    t.overwrite_partitions(fix.repartition(1))
    meta = t.metadata()
    _, manifests = read_container(
        _atomic.read_bytes(t.spark, meta["snapshots"][-1]["manifest-list"])
    )
    dm = next(m for m in manifests if m.get("content", 0) == 0)
    _, entries = read_container(_atomic.read_bytes(t.spark, dm["manifest_path"]))
    pinned = [
        e["sequence_number"]
        for e in entries
        if e["status"] == 0 and e.get("sequence_number") is not None
    ]
    assert pinned  # carried files exist (seq 1, the original append)
    assert dm["min_sequence_number"] == min(pinned)
    assert dm["min_sequence_number"] < dm["sequence_number"]


def test_jvm_avro_parses_equality_delete_manifest(spark, root):
    """The equality-delete manifest (content=2 entries + the optional
    equality_ids int-array field) must stay parseable by the REAL Apache
    Avro library on Spark's classpath — the schema-evolution risk of
    adding a field to the entry record."""
    t = IcebergTable.create(spark, root, _df(spark, 0, 30))
    t.delete_equality(spark.range(0, 3).select("id"))
    meta = t.metadata()
    snap = meta["snapshots"][-1]
    _, manifests = read_container(_atomic.read_bytes(t.spark, snap["manifest-list"]))
    dm = next(m for m in manifests if m["content"] == 1)
    jvm = spark.sparkContext._jvm
    reader = jvm.org.apache.avro.generic.GenericDatumReader()
    dfr = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(dm["manifest_path"]), reader
    )
    first = str(dfr.next())
    dfr.close()
    assert '"content": 2' in first
    assert '"equality_ids": [1]' in first  # id field's iceberg id


def test_branches_tags_and_wap(spark, root):
    """Refs: tags pin snapshots immutably, branches advance
    independently of main, fast_forward publishes an audited branch
    atomically (refused unless a true fast-forward), and expire keeps
    every ref target alive."""
    t = IcebergTable.create(spark, root, _df(spark, 0, 60))
    t.create_tag("v1")
    t.create_branch("audit")
    t.append(_df(spark, 60, 80), branch="audit")
    t.append(_df(spark, 80, 90), branch="audit")
    # staging is invisible on main; visible on the branch; tag pinned
    assert t.snapshot().count() == 60
    assert t.snapshot(ref="audit").count() == 90
    assert t.snapshot(ref="v1").count() == 60
    sid = t.fast_forward("main", "audit")
    assert t.snapshot().count() == 90
    assert t.current_snapshot_id() == sid
    assert t.snapshot(ref="v1").count() == 60
    # stale branch (forked pre-publish, then diverged) cannot publish
    t.create_branch("stale", snapshot_id=t._resolve_ref(t.metadata(), "v1"))
    t.append(_df(spark, 90, 95), branch="stale")
    with pytest.raises(IcebergProtocolError, match="not a fast-forward"):
        t.fast_forward("main", "stale")
    # tags are immutable: no writes, no fast-forward, no duplicate refs
    with pytest.raises(IcebergProtocolError, match="tag"):
        t.append(_df(spark, 0, 1), branch="v1")
    with pytest.raises(IcebergProtocolError, match="already exists"):
        t.create_tag("v1")
    with pytest.raises(IcebergProtocolError, match="main"):
        t.drop_ref("main")
    # expire keeps every ref target even past the retain horizon
    t.expire_snapshots(retain=1)
    fresh = IcebergTable(spark, root)
    assert fresh.snapshot(ref="v1").count() == 60
    assert fresh.snapshot(ref="stale").count() == 65
    assert fresh.snapshot().count() == 90
    # dropping the stale branch releases its pin; next expire reclaims
    t.drop_ref("stale")
    t.expire_snapshots(retain=1)
    with pytest.raises(FileNotFoundError):
        IcebergTable(spark, root).snapshot(ref="stale").count()


def test_concurrent_appends_no_lost_snapshots(spark, root):
    """Optimistic-commit correctness under racing writers: every commit
    must rebuild against a CONSISTENT (version, metadata) pair — a
    writer that pairs a fresh version number with stale metadata lands
    without conflict and silently drops the racer's snapshot (the bug
    this test pins). Six threads, all commits must survive."""
    import threading

    from projectdatalake_spark.sources import atomic as _atomic

    _atomic.reset_retry_stats()
    t = IcebergTable.create(spark, root, _df(spark, 0, 10))
    errs = []

    def go(lo):
        try:
            IcebergTable(spark, root).append(_df(spark, lo, lo + 10))
        except Exception as e:  # pragma: no cover - failure path
            errs.append(e)

    threads = [
        threading.Thread(target=go, args=(100 * (i + 1),)) for i in range(6)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    # a LOUD conflict under extreme contention is contract-compliant
    # (caller retries); what this test pins is SILENT loss — every
    # append that returned success must exist in the history and the
    # parent chain, and the row count must account for all of them
    from projectdatalake_spark.sources.iceberg_interop import (
        IcebergCommitConflict,
    )

    assert all(isinstance(e, IcebergCommitConflict) for e in errs), errs
    committed = 1 + 6 - len(errs)
    fresh = IcebergTable(spark, root)
    assert len(fresh.metadata()["snapshots"]) == committed
    assert fresh.snapshot().count() == committed * 10
    # every snapshot sits on the single main parent chain (no orphans)
    parents = {
        s["snapshot-id"]: s.get("parent-snapshot-id")
        for s in fresh.metadata()["snapshots"]
    }
    head = fresh.current_snapshot_id()
    depth = 0
    while head is not None:
        head = parents.get(head)
        depth += 1
    assert depth == committed
    # retry budget: the torn-read retries (hint budget 5, metadata budget
    # 10) must never come CLOSE to exhausting at this writer count — the
    # jittered backoff exists so contention drains early, and exhaustion
    # would surface as IcebergProtocolError above. Assert headroom so a
    # future regression (e.g. a longer torn window) fails loudly here
    # instead of flaking in production-shaped runs.
    assert _atomic.RETRY_STATS["max_attempt"] <= 4, _atomic.RETRY_STATS


def test_stream_sink_exactly_once(spark, root):
    """foreachBatch sink: each micro-batch is one idempotent snapshot
    (summary carries app-id/batch-id); a replayed batch is skipped."""
    import tempfile

    from projectdatalake_spark.sources.iceberg_interop import append_stream
    from projectdatalake_spark import streaming as ST

    sf = "/root/testdata/sf0.001"
    stream = ST.read_events_stream(spark, sf).select(
        "event_id", "event_type", F.col("value").cast("double").alias("value")
    )
    t = IcebergTable.create_empty(spark, root, stream.schema)
    ckpt = tempfile.mkdtemp(prefix="ice_sink_ckpt_")
    q = append_stream(stream, t, ckpt)
    q.awaitTermination(300)
    n = t.snapshot().count()
    assert n == spark.read.parquet(f"{sf}/events.parquet").count()
    sm = t.metadata()["snapshots"][-1]["summary"]
    assert "app-id" in sm and "batch-id" in sm
    # crash-replay of the same batch id: skipped before any staging
    assert t.append_once(t.snapshot().limit(5), sm["app-id"], int(sm["batch-id"])) is None
    assert t.snapshot().count() == n


def test_rollback_and_metadata_tables(spark, root):
    t = IcebergTable.create(
        spark, root, _df(spark, 0, 60), partition_by=("seg",)
    )
    sid0 = t.current_snapshot_id()
    t.append(_df(spark, 60, 70))
    t.delete_equality(spark.range(0, 3).select("id"))
    # metadata tables: O(metadata) views over the live file set
    files = t.inspect("files")
    assert files.count() == len(t._entries_for_snapshot(t.metadata(), None)[0])
    assert t.inspect("delete_files").count() == 1
    parts = {r["partition"]: r["file_count"] for r in t.inspect("partitions").collect()}
    assert set(parts) == {'{"seg": 0}', '{"seg": 1}', '{"seg": 2}'}
    assert t.inspect("snapshots").count() == 3
    assert t.inspect("refs").filter("name = 'main'").count() == 1
    rows = t.inspect("files").agg(F.sum("record_count")).collect()[0][0]
    assert rows == 70  # pre-delete file rows (deletes are merge-on-read)
    with pytest.raises(ValueError, match="unknown metadata table"):
        t.inspect("nope")
    # rollback: main returns to the ancestor; abandoned tail still
    # travels until expiry; non-ancestors refused
    n_tip = t.snapshot().count()
    t.rollback_to(sid0)
    assert t.snapshot().count() == 60
    assert IcebergTable(spark, root).snapshot().count() == 60
    t.append(_df(spark, 100, 105))  # roll forward on the restored line
    assert t.snapshot().count() == 65
    off_line = [
        s["snapshot-id"]
        for s in t.snapshots()
        if s["summary"].get("operation") == "delete"
    ][0]
    with pytest.raises(IcebergProtocolError, match="not a rollback"):
        t.rollback_to(off_line)


def test_merge_upsert_single_snapshot(spark, root):
    """MERGE as ONE v2 snapshot: equality delete (killing older
    generations of the keys) + the update rows as data files, both at
    the SAME sequence number — the strictly-smaller rule keeps the
    same-snapshot data alive. No existing data file is read or
    rewritten (O(|updates|) write cost)."""
    t = IcebergTable.create(spark, root, _df(spark, 0, 90), partition_by=("seg",))
    before_files = {
        e["data_file"]["file_path"]
        for e in t._entries_for_snapshot(t.metadata(), None)[0]
    }
    upd = spark.createDataFrame(
        [(5, 5 % 3, -1.0), (200, 200 % 3, -2.0)],
        "id long, seg int, val double",
    )
    sid = t.merge_upsert(upd, keys=["id"])
    back = t.snapshot()
    assert back.count() == 91
    assert back.filter("id = 5").collect()[0]["val"] == -1.0
    assert back.filter("id = 200").collect()[0]["val"] == -2.0
    assert back.filter("id = 6").collect()[0]["val"] == 15.0
    meta = t.metadata()
    assert len(meta["snapshots"]) == 2  # create + ONE merge snapshot
    snap = meta["snapshots"][-1]
    assert snap["snapshot-id"] == sid
    assert snap["summary"]["added-equality-deletes"] == "2"
    # manifest list: prior data + new data manifest + delete manifest,
    # data and delete at the SAME sequence number
    _, manifests = read_container(_atomic.read_bytes(t.spark, snap["manifest-list"]))
    data_m = [m for m in manifests if m.get("content", 0) == 0]
    del_m = [m for m in manifests if m.get("content") == 1]
    assert len(del_m) == 1
    new_data = [m for m in data_m if m["sequence_number"] == snap["sequence-number"]]
    assert new_data and del_m[0]["sequence_number"] == snap["sequence-number"]
    # every pre-merge data file is still referenced (MOR: zero rewrites)
    after_files = {
        e["data_file"]["file_path"]
        for e in t._entries_for_snapshot(meta, None)[0]
    }
    assert before_files <= after_files
    # delete manifest sits under an unpartitioned spec (global delete)
    specs = {s["spec-id"]: s for s in meta["partition-specs"]}
    assert specs[del_m[0]["partition_spec_id"]]["fields"] == []
    # a second merge on the SAME key wins again (seq ordering chains)
    t.merge_upsert(
        spark.createDataFrame([(5, 2, -9.0)], "id long, seg int, val double"),
        keys=["id"],
    )
    assert t.snapshot().filter("id = 5").collect()[0]["val"] == -9.0
    assert t.snapshot().count() == 91
    # compaction materializes the MOR state and reads stay identical
    t.rewrite_data_files()
    assert t.snapshot().count() == 91
    assert t.snapshot().filter("id = 5").collect()[0]["val"] == -9.0


def test_merge_upsert_pure_insert_and_time_travel(spark, root):
    t = IcebergTable.create(spark, root, _df(spark, 0, 30))
    pre = t.current_snapshot_id()
    upd = spark.createDataFrame(
        [(100, 1, 1.0), (101, 2, 2.0)], "id long, seg int, val double"
    )
    t.merge_upsert(upd, keys=["id"])
    assert t.snapshot().count() == 32
    # time travel BEFORE the merge sees the pre-merge generation
    assert t.snapshot(snapshot_id=pre).count() == 30
    # updates must carry the key columns in the schema
    with pytest.raises(IcebergProtocolError, match="merge keys"):
        t.merge_upsert(upd, keys=["nope"])


def test_maintenance_under_racing_appends(spark, root):
    """Expire/rewrite racing appenders (round-5 verdict item 3): no
    combination of racing maintenance + appends may LOSE a successful
    append — every appended row batch that reported success must be in
    the final table, and history must stay a single parent chain."""
    import threading

    t = IcebergTable.create(spark, root, _df(spark, 0, 10))
    for k in range(3):
        t.append(_df(spark, 100 * (k + 1), 100 * (k + 1) + 10))
    results = {"appended": [], "errs": []}

    def appender(lo):
        try:
            IcebergTable(spark, root).append(_df(spark, lo, lo + 10))
            results["appended"].append(lo)
        except Exception as e:
            results["errs"].append(("append", e))

    def expirer():
        try:
            IcebergTable(spark, root).expire_snapshots(retain=2)
        except IcebergCommitConflict:
            pass  # loud conflict is contract-compliant; silent loss is not
        except Exception as e:
            results["errs"].append(("expire", e))

    def rewriter():
        try:
            IcebergTable(spark, root).rewrite_data_files()
        except IcebergCommitConflict:
            pass  # caller recomputes — the contract
        except Exception as e:
            results["errs"].append(("rewrite", e))

    threads = (
        [threading.Thread(target=appender, args=(1000 + 100 * i,)) for i in range(3)]
        + [threading.Thread(target=expirer)]
        + [threading.Thread(target=rewriter)]
    )
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not results["errs"], results["errs"]
    fresh = IcebergTable(spark, root)
    final = fresh.snapshot()
    # every append that reported success is fully present
    for lo in results["appended"]:
        assert final.filter(f"id >= {lo} AND id < {lo + 10}").count() == 10, lo
    assert final.count() == 40 + 10 * len(results["appended"])
    # history is one parent chain ending at the current head
    meta = fresh.metadata()
    parents = {
        s["snapshot-id"]: s.get("parent-snapshot-id") for s in meta["snapshots"]
    }
    head = fresh.current_snapshot_id()
    seen = 0
    while head is not None and head in parents:
        seen += 1
        head = parents.get(head)
    assert seen == len(meta["snapshots"]) or head not in parents


def test_sort_order_clustered_compaction(spark, root):
    """set_sort_order + rewrite_data_files: compacted files are
    range-clustered on the sort columns with tight DISJOINT bounds, so
    a narrow range read plans a small subset of files; the sort order
    lives in metadata per the spec (default-sort-order-id advances)."""
    t = IcebergTable.create(spark, root, _df(spark, 0, 2000))
    for k in range(3):  # fragment: interleaved id ranges across appends
        t.append(_df(spark, 2000 + k, 8000 + k, seg_mod=3).filter(
            (F.col("id") % 3).cast("int") == k % 3
        ))
    oid = t.set_sort_order(("id",))
    meta = t.metadata()
    assert meta["default-sort-order-id"] == oid
    order = next(o for o in meta["sort-orders"] if o["order-id"] == oid)
    assert [f["source-id"] for f in order["fields"]] == [1]  # id's field id
    n_before = t.snapshot().count()
    t.rewrite_data_files(target_files=8)
    assert t.snapshot().count() == n_before
    meta = t.metadata()
    entries, _ = t._entries_for_snapshot(meta, None)
    assert len(entries) == 8
    # where= is FILE-level pruning (caller applies the row filter — the
    # documented contract): the pruned scan plus the filter is exact
    narrow = t.snapshot(where={"id": (100, 120)})
    assert (
        narrow.filter("id >= 100 AND id <= 120").count()
        == t.snapshot().filter("id >= 100 AND id <= 120").count()
    )
    # and the pruned scan reads FAR less than the table (bounds disjoint)
    assert narrow.count() < t.snapshot().count() / 3
    # metadata-level check: count files whose bounds overlap the range
    from projectdatalake_spark.sources.iceberg_interop import _decode_bound

    def bounds(e, fid=1):
        lo = next((b["value"] for b in e["data_file"]["lower_bounds"] or []
                   if b["key"] == fid), None)
        hi = next((b["value"] for b in e["data_file"]["upper_bounds"] or []
                   if b["key"] == fid), None)
        return (_decode_bound(lo, "long"), _decode_bound(hi, "long"))

    overlapping = [
        e for e in entries
        if not (bounds(e)[1] < 100 or bounds(e)[0] > 120)
    ]
    assert len(overlapping) <= 2, [bounds(e) for e in entries]
    with pytest.raises(IcebergProtocolError, match="sort order columns"):
        t.set_sort_order(("nope",))


def test_remove_orphan_files(spark, root):
    """Orphan cleanup: files a crashed writer staged but never committed
    are reclaimed; everything ANY snapshot references (current or
    time-travelable) survives; young files survive the in-flight-writer
    horizon; the table reads identically afterwards."""
    import os

    t = IcebergTable.create(spark, root, _df(spark, 0, 50))
    t.append(_df(spark, 100, 120))
    # simulate a crashed writer: staged data, no commit
    t._stage_data(_df(spark, 900, 950), (), None)
    n_before = sum(len(fs) for _, _, fs in os.walk(os.path.join(root, "data")))
    # young orphans survive the default horizon
    assert t.remove_orphan_files() == 0
    deleted = t.remove_orphan_files(older_than_ms=None)
    assert deleted > 0
    n_after = sum(len(fs) for _, _, fs in os.walk(os.path.join(root, "data")))
    assert n_after < n_before
    # table intact, including time travel to the first snapshot
    assert t.snapshot().count() == 70
    first = t.metadata()["snapshots"][0]["snapshot-id"]
    assert t.snapshot(snapshot_id=first).count() == 50
    # idempotent
    assert t.remove_orphan_files(older_than_ms=None) == 0


def test_rewrite_zorder_clusters_and_prunes_both_columns(spark, root):
    """rewrite_data_files(zorder_by=..., curve=...): after the clustered
    REPLACE, per-file bounds prune narrow predicates on EITHER clustered
    column; rows are unchanged; bad curve names are refused."""
    import random

    rng = random.Random(23)
    rows = [(i, rng.randrange(0, 1000), rng.randrange(0, 1000)) for i in range(6000)]
    df = spark.createDataFrame(rows, ["id", "a", "b"]).repartition(8)
    t = IcebergTable.create(spark, root, df)
    before = t.snapshot().count()
    for curve in ("z", "hilbert"):
        sid = t.rewrite_data_files(
            target_files=16, zorder_by=("a", "b"), curve=curve
        )
        assert sid is not None
        entries, _ = t._entries_for_snapshot(t.metadata(), None)
        assert len(entries) == 16
        assert t.snapshot().count() == before
        # either-column pruning: narrow slices plan a strict file subset
        assert t.snapshot(where={"a": (0, 99)}).count() < before
        assert t.snapshot(where={"b": (0, 99)}).count() < before
        # exactness survives the residual filter
        got = t.snapshot(where={"a": (0, 99)}).filter("a <= 99").count()
        assert got == sum(1 for _, a, _b in rows if a <= 99)
    with pytest.raises(ValueError, match="unknown clustering curve"):
        t.rewrite_data_files(zorder_by=("a", "b"), curve="peano")


def test_space_partition_record_counts_and_deletes(spark, root):
    """Percent-encoding regression (round 6): input_file_name /
    _metadata.file_path return ENCODED URIs, so partition values with
    spaces used to land record_count=0 in manifests (stats map keyed by
    the encoded form, looked up by the raw form) and position deletes
    stored encoded paths. Manifest bookkeeping must be truthful and
    deletes must apply for 'A B'-style partition values."""
    from pyspark.sql import functions as F

    df = (
        spark.range(40)
        .withColumn("seg", F.when(F.col("id") % 2 == 0, "A B").otherwise("C D"))
        .withColumn("val", F.col("id") * 1.5)
        .repartition(2)
    )
    t = IcebergTable.create(spark, root, df, partition_by=("seg",))
    parts = {
        r["partition"]: r["record_count"]
        for r in t.inspect("partitions").collect()
    }
    assert sum(parts.values()) == 40, parts
    assert all(v > 0 for v in parts.values()), parts
    # file bounds attached → stats pruning works on the space partition
    files = t.inspect("files").collect()
    assert all(f["record_count"] > 0 for f in files)
    # position delete on rows inside a space-valued partition
    t.delete_where("id < 10")
    assert t.snapshot().count() == 30
    assert {r.id for r in t.snapshot().select("id").collect()} == set(range(10, 40))


def test_escaped_partition_position_deletes_survive(spark, root):
    """Double-decode regression (round 7): delete files store RAW
    manifest-form paths, and a raw path whose hive-escaped partition dir
    itself contains %XX (':' → %3A, '%' → %25 — timestamp- or
    percent-valued partitions) must be compared VERBATIM on read; an
    unconditional second url_decode turns %3A back into ':' and the MOR
    anti-join silently resurrects deleted rows, while
    rewrite_position_deletes drops the live pairs as dangling."""
    from pyspark.sql import functions as F

    df = (
        spark.range(40)
        .withColumn(
            "seg",
            F.when(F.col("id") % 2 == 0, "t=08:30").otherwise("pct 50%"),
        )
        .withColumn("val", F.col("id") * 1.5)
        .repartition(2)
    )
    t = IcebergTable.create(spark, root, df, partition_by=("seg",))
    t.delete_where("id < 10")
    assert t.snapshot().count() == 30
    assert {r.id for r in t.snapshot().select("id").collect()} == set(
        range(10, 40)
    )
    # compaction of the pair files must keep them (they are NOT dangling)
    assert t.rewrite_position_deletes(target_files=1) is not None
    assert t.snapshot().count() == 30
    assert {r.id for r in t.snapshot().select("id").collect()} == set(
        range(10, 40)
    )
    # a second delete over the rewritten pairs still composes
    t.delete_where("id >= 35")
    assert {r.id for r in t.snapshot().select("id").collect()} == set(
        range(10, 35)
    )


def test_rewrite_manifests_consolidates_metadata_only(spark, root):
    """Pure metadata rewrite: N append manifests become one per spec
    era; data file paths, rows, pruning, equality-delete ordering and
    time travel are all unchanged."""
    t = IcebergTable.create(
        spark, root, _df(spark, 0, 100), partition_by=("seg",)
    )
    for i in range(4):
        t.append(_df(spark, 100 + i * 50, 150 + i * 50))
    t.delete_equality(spark.range(0, 5).select("id"))
    t.delete_where("id >= 290")
    n = t.snapshot().count()
    meta = t.metadata()
    cur = next(
        s for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _, prior = read_container(_atomic.read_bytes(t.spark, cur["manifest-list"]))
    assert len([m for m in prior if m.get("content", 0) == 0]) == 5
    data_before = sorted(
        e["data_file"]["file_path"]
        for e in t._entries_for_snapshot(meta, None)[0]
    )
    seqs_before = sorted(
        (e["data_file"]["file_path"], e["_seq"])
        for e in t._entries_for_snapshot(meta, None)[0]
    )
    sid_prior = t.current_snapshot_id()
    assert t.rewrite_manifests() is not None
    meta2 = t.metadata()
    cur2 = next(
        s for s in meta2["snapshots"]
        if s["snapshot-id"] == meta2["current-snapshot-id"]
    )
    _, after = read_container(_atomic.read_bytes(t.spark, cur2["manifest-list"]))
    assert len([m for m in after if m.get("content", 0) == 0]) == 1
    assert len([m for m in after if m.get("content", 0) == 1]) == 2  # kept
    entries2, _ = t._entries_for_snapshot(meta2, None)
    assert sorted(e["data_file"]["file_path"] for e in entries2) == data_before
    # sequence numbers pinned → equality-delete ordering preserved
    assert sorted((e["data_file"]["file_path"], e["_seq"]) for e in entries2) \
        == seqs_before
    assert t.snapshot().count() == n
    # pruning still works off the consolidated manifest
    assert t.snapshot(where_eq={"seg": [1]}).count() < n
    assert t.snapshot(snapshot_id=sid_prior).count() == n  # time travel
    assert IcebergTable(spark, root).snapshot().count() == n
    # converged: second pass is a no-op
    assert t.rewrite_manifests() is None
    # empty table: no-op
    e = IcebergTable.create_empty(spark, root + "_e", _df(spark, 0, 1).schema)
    assert e.rewrite_manifests() is None


def test_manifest_list_partition_summaries_prune_planning(spark, root):
    """The manifest list's `partitions` field summaries let planning skip
    whole manifests without opening their Avro: four seg-disjoint append
    manifests, a seg-pruned snapshot must open exactly the one whose
    bounds cover the predicate (plus the manifest list itself), and the
    result is identical to the unpruned filter."""
    t = IcebergTable.create(
        spark,
        root,
        _df(spark, 0, 50).withColumn("seg", F.lit(0).cast("int")),
        partition_by=("seg",),
    )
    for s in (1, 2, 3):
        t.append(
            _df(spark, 100 * s, 100 * s + 50)
            .withColumn("seg", F.lit(s).cast("int"))
        )
    meta = t.metadata()
    cur = next(
        x for x in meta["snapshots"]
        if x["snapshot-id"] == meta["current-snapshot-id"]
    )
    _, mrows = read_container(_atomic.read_bytes(t.spark, cur["manifest-list"]))
    assert len(mrows) == 4
    for m in mrows:
        s = m["partitions"][0]
        assert s["lower_bound"] == s["upper_bound"]  # seg-disjoint batches
        assert s["contains_null"] is False
    opened = []
    real = _atomic.read_bytes

    def counting(spark_, p):
        opened.append(p)
        return real(spark_, p)

    _atomic.read_bytes = counting
    try:
        got = t.snapshot(where_eq={"seg": [2]})
        assert got.count() == 50
        assert got.filter("seg = 2").count() == 50
        manifests_opened = [p for p in opened if p.endswith("-m0.avro")]
        assert len(manifests_opened) == 1, manifests_opened
    finally:
        _atomic.read_bytes = real
    # no predicate: all four open, full count
    assert t.snapshot().count() == 200
    # delete manifests are never summary-skipped: a global position
    # delete still applies under partition pruning
    t.delete_where("id % 10 = 0")
    assert t.snapshot(where_eq={"seg": [2]}).filter("id % 10 = 0").count() == 0
    # rewrite_manifests consolidates to ONE manifest whose summary spans
    # all segs — pruning keeps it (and results stay exact)
    t.rewrite_manifests()
    meta2 = t.metadata()
    cur2 = next(
        x for x in meta2["snapshots"]
        if x["snapshot-id"] == meta2["current-snapshot-id"]
    )
    _, mrows2 = read_container(_atomic.read_bytes(t.spark, cur2["manifest-list"]))
    data_rows = [m for m in mrows2 if m.get("content", 0) == 0]
    assert len(data_rows) == 1
    s = data_rows[0]["partitions"][0]
    assert s["lower_bound"] != s["upper_bound"]  # spans seg 0..3
    assert t.snapshot(where_eq={"seg": [2]}).count() == 45


def test_puffin_stats_roundtrip_and_ndv(spark, root):
    """Puffin stats lifecycle (spec: puffin-spec.md): write_stats lands a
    PFA1 container with one theta blob per column, registers it under
    metadata's `statistics`, ndv() reads the blob property, the sketch
    payload deserializes to the same estimate, and inspect('statistics')
    surfaces the entries. A new snapshot's stats REPLACE the old entry
    for that snapshot only."""
    from projectdatalake_spark.sources import puffin as P

    df = (
        spark.range(0, 5000)
        .withColumn("k", (F.col("id") % 40).cast("long"))
        .withColumn("val", F.col("id") * 1.5)
        .repartition(4)
    )
    t = IcebergTable.create(spark, root, df)
    path = t.write_stats(["k", "id"], k=1024)
    # raw container parses: magics, footer JSON, blob payloads
    raw = open(path, "rb").read()
    assert raw[:4] == b"PFA1" and raw[-4:] == b"PFA1"
    blobs, props = P.read_puffin(raw)
    assert {b[0]["type"] for b in blobs} == {P.THETA_BLOB_TYPE}
    # ndv: exact-mode for 40 distinct keys; estimation-mode for 5000 ids
    assert t.ndv("k") == 40
    assert abs(t.ndv("id") - 5000) / 5000 < 0.05
    sk = t.read_stats_sketch("id")
    assert int(round(sk.estimate())) == t.ndv("id")
    # field ids recorded, snapshot pinned
    meta = t.metadata()
    ent = meta["statistics"][0]
    assert ent["snapshot-id"] == t.current_snapshot_id()
    assert ent["file-footer-size-in-bytes"] > 0
    ins = {r.column: r.ndv for r in t.inspect("statistics").collect()}
    assert ins == {"k": 40, "id": t.ndv("id")}
    # stats for a NEW snapshot coexist; rewriting the same snapshot replaces
    t.append(
        spark.range(5000, 6000)
        .withColumn("k", F.lit(99).cast("long"))
        .withColumn("val", F.col("id") * 1.5)
    )
    t.write_stats(["k"], k=1024)
    assert t.ndv("k") == 41
    assert len(t.metadata()["statistics"]) == 2
    t.write_stats(["k"], k=1024)  # same snapshot again → replaced, not added
    assert len(t.metadata()["statistics"]) == 2


def test_theta_sketch_bounded_heap_matches_brute_force(spark):
    """column_theta_sketch keeps only k+1 hashes per partition (bounded
    max-heap) — on a HIGH-NDV column (every value unique, the worst case
    the old uniques-set held entirely in memory) the sketch must still
    byte-equal the brute-force k+1-smallest-hashes-of-all-values form,
    and the estimate must stay within KMV error."""
    from projectdatalake_spark.sources.puffin import (
        ThetaSketch,
        column_theta_sketch,
        theta_hash,
    )

    n, k = 50_000, 64
    df = (
        spark.range(0, n)
        .select(F.concat(F.lit("u"), F.col("id")).alias("u"))
        .repartition(8)
    )
    sk = column_theta_sketch(df, "u", k)
    want = sorted(theta_hash(f"u{i}") for i in range(n))[: k + 1]
    assert sk.to_bytes() == ThetaSketch(k, want).to_bytes()
    assert abs(sk.estimate() - n) / n < 4 / (k ** 0.5)


def test_ndv_semi_reduce_join_plan_and_semantics(spark, root):
    """The CBO consumer: with autoBroadcastJoinThreshold disabled (row
    counts alone never broadcast anything), the NDV-informed join still
    injects a broadcast left-semi fact reduction because the registered
    NDV says the dim's distinct-key set is tiny — and the result equals
    the plain join exactly."""
    from projectdatalake_spark.sources.iceberg_interop import (
        ndv_semi_reduce_join,
    )

    dim_df = (
        spark.range(0, 20000)
        .withColumn("k", (F.col("id") % 50).cast("long"))
        .withColumn("attr", F.concat(F.lit("a"), F.col("id")))
        .drop("id")
        .repartition(4)
    )
    t = IcebergTable.create(spark, root, dim_df)
    t.write_stats(["k"], k=1024)
    assert t.ndv("k") == 50
    fact = spark.range(0, 2000).withColumn(
        "k", (F.col("id") % 200).cast("long")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plain = fact.join(t.snapshot(), "k", "inner")
        informed = ndv_semi_reduce_join(fact, t, "k")
        plan_plain = plain._jdf.queryExecution().executedPlan().toString()
        plan_inf = informed._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan_plain  # rowcounts: no bcast
        assert "BroadcastHashJoin" in plan_inf  # NDV licenses the semi
        assert plan_inf.count("SortMergeJoin") >= 1  # main join unchanged
        assert informed.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # an un-stats'd key refuses nothing but reduces nothing
    t2 = IcebergTable.create(
        spark, root + "_nostats", dim_df
    )
    out = ndv_semi_reduce_join(fact, t2, "k")
    assert out.count() == plain.count()
    with pytest.raises(ValueError, match="inner/semi"):
        ndv_semi_reduce_join(fact, t, "k", how="left")


def test_ndv_informed_star_join_order_and_strategy(spark, root):
    """The second CBO consumer — multi-join PLANNING from stored NDVs on
    a crafted skew: dim_a is LOW-selectivity (ndv 500 of the fact's 1000
    ka keys), dim_b HIGH-selectivity (ndv 50 of 1000 kb keys). Passed
    worst-first, the informed plan must (a) flip the order so dim_b
    joins FIRST (deepest in the physical tree — every later join sees
    the reduced fact), (b) broadcast both (NDV x key_bytes under
    budget) where Catalyst with autoBroadcastJoinThreshold=-1
    sort-merges everything in syntactic order, and (c) equal the plain
    fixed-order join exactly (inner joins commute)."""
    from projectdatalake_spark.sources.iceberg_interop import (
        ndv_informed_star_join,
    )

    fact_df = (
        spark.range(0, 20000)
        .select(
            (F.col("id") % 1000).alias("ka"),
            ((F.col("id") * 7) % 1000).alias("kb"),
            F.col("id").alias("v"),
        )
        .repartition(4)
    )
    dim_a_df = spark.range(0, 500).select(
        F.col("id").alias("ka"), F.concat(F.lit("a"), F.col("id")).alias("attr_a")
    )
    dim_b_df = spark.range(0, 50).select(
        F.col("id").alias("kb"), F.concat(F.lit("b"), F.col("id")).alias("attr_b")
    )
    fact_t = IcebergTable.create(spark, root + "/fact", fact_df)
    fact_t.write_stats(["ka", "kb"], k=4096)
    a_t = IcebergTable.create(spark, root + "/dima", dim_a_df)
    a_t.write_stats(["ka"], k=4096)
    b_t = IcebergTable.create(spark, root + "/dimb", dim_b_df)
    b_t.write_stats(["kb"], k=4096)
    assert (fact_t.ndv("ka"), fact_t.ndv("kb")) == (1000, 1000)
    assert (a_t.ndv("ka"), b_t.ndv("kb")) == (500, 50)

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # Catalyst default on the same worst-first order: syntactic order
        # kept (ka joins first/deepest), all SortMergeJoin
        naive = (
            fact_t.snapshot()
            .join(a_t.snapshot(), "ka", "inner")
            .join(b_t.snapshot(), "kb", "inner")
        )
        plan_naive = naive._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan_naive
        # topmost (= last-executed) join prints first: kb before ka
        assert plan_naive.index("SortMergeJoin [kb") < plan_naive.index(
            "SortMergeJoin [ka"
        ), plan_naive
        informed = ndv_informed_star_join(
            fact_t.snapshot(), fact_t, [(a_t, "ka"), (b_t, "kb")]
        )
        plan = informed._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan, plan  # both dims broadcast
        # flipped: kb joins DEEPEST (prints last) despite being listed last
        assert plan.index("BroadcastHashJoin [ka") < plan.index(
            "BroadcastHashJoin [kb"
        ), plan
        got = sorted(map(tuple, informed.select("v", "attr_a", "attr_b").collect()))
        want = sorted(map(tuple, naive.select("v", "attr_a", "attr_b").collect()))
        assert got == want and len(got) > 0
        # non-unique dim keys: semi-reduction still broadcasts, the main
        # join must NOT broadcast the dim (NDV says nothing about rows)
        shuffled = ndv_informed_star_join(
            fact_t.snapshot(), fact_t, [(b_t, "kb")], assume_unique_keys=False
        )
        plan_nu = shuffled._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan_nu and "SortMergeJoin" in plan_nu

        # LEFT-OUTER dim: the planner must REFUSE the key-set
        # semi-reduction (it would drop the null-extended fact rows),
        # keep the left join's fact side complete, rank the left join
        # AFTER the reducing inner tier, and still broadcast the dim
        outer = ndv_informed_star_join(
            fact_t.snapshot(), fact_t,
            [(a_t, "ka", "left"), (b_t, "kb", "inner")],
        )
        plan_o = outer._jdf.queryExecution().executedPlan().toString()
        # exactly ONE semi (dim_b's reduction) — none for the left dim
        assert plan_o.count("LeftSemi") == 1 and "[kb" in plan_o[
            plan_o.index("LeftSemi") - 40 : plan_o.index("LeftSemi")
        ], plan_o
        # the left join ranks LAST (topmost in the tree → prints first)
        assert "LeftOuter" in plan_o.split("LeftSemi")[0], plan_o
        assert "SortMergeJoin" not in plan_o, plan_o  # dims broadcast
        got_o = sorted(
            map(tuple, outer.select("v", "attr_a", "attr_b").collect())
        )
        want_o = sorted(
            map(
                tuple,
                fact_t.snapshot()
                .join(b_t.snapshot(), "kb", "inner")
                .join(a_t.snapshot(), "ka", "left")
                .select("v", "attr_a", "attr_b")
                .collect(),
            )
        )
        assert got_o == want_o and len(got_o) > 0
        # null-extended rows actually present (the semantics the refused
        # reduction would have destroyed)
        assert any(t[1] is None for t in got_o)

        # left_semi dim: the reduction IS the join — one broadcast semi
        semi = ndv_informed_star_join(
            fact_t.snapshot(), fact_t, [(b_t, "kb", "left_semi")]
        )
        plan_s = semi._jdf.queryExecution().executedPlan().toString()
        assert plan_s.count("LeftSemi") == 1 and "BroadcastHashJoin" in plan_s
        assert semi.count() == fact_t.snapshot().join(
            b_t.snapshot().select("kb").distinct(), "kb", "left_semi"
        ).count() > 0
        import pytest

        with pytest.raises(ValueError, match="unsupported join type"):
            ndv_informed_star_join(
                fact_t.snapshot(), fact_t, [(a_t, "ka", "full")]
            )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_theta_sketch_intersection_estimation_mode(spark):
    """intersect() beyond exact mode: two overlapping 30k-unique columns
    sketched at k=256 must estimate their 10k-row overlap within KMV
    error (|common below min-theta| / theta), and exact-mode
    intersection is exactly the set intersection."""
    from projectdatalake_spark.sources.puffin import column_theta_sketch

    a = spark.range(0, 30_000).select(F.col("id").alias("u"))
    b = spark.range(20_000, 50_000).select(F.col("id").alias("u"))
    k = 256
    sk = column_theta_sketch(a, "u", k).intersect(column_theta_sketch(b, "u", k))
    est = sk.estimate()
    assert abs(est - 10_000) / 10_000 < 0.35, est  # 2 sketches, small k
    # exact mode: tiny sets intersect exactly
    sa = column_theta_sketch(spark.range(0, 100), "id", 1024)
    sb = column_theta_sketch(spark.range(60, 200), "id", 1024)
    assert sa.intersect(sb).estimate() == 40.0


def test_row_lineage_inheritance_and_stability(spark, root):
    """Iceberg v3 row lineage: enable backfills first_row_id onto the
    manifest LIST (inheritance base — no data manifest rewritten) and
    seeds next-row-id; appends allocate above it in the same commit;
    ids = first_row_id + row_index survive position deletes untouched;
    replace-shaped commits and rewrite_manifests refuse."""
    import pytest

    df = (
        spark.range(0, 100)
        .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        .coalesce(1).sortWithinPartitions("k")
    )
    t = IcebergTable.create(spark, root, df)
    t.enable_row_lineage()
    meta = t.metadata()
    assert meta["row-lineage"] is True and meta["next-row-id"] == 100
    v_before = t.current_metadata_version()
    t.enable_row_lineage()  # idempotent
    assert t.current_metadata_version() == v_before
    t.append(
        spark.range(100, 150)
        .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        .coalesce(1).sortWithinPartitions("k")
    )
    assert t.metadata()["next-row-id"] == 150
    ids = {r.k: r._row_id for r in t.snapshot_with_row_ids().collect()}
    assert ids == {k: k for k in range(150)}
    t.delete_where("k % 10 = 3")  # position deletes: ids stable
    after = {r.k: r._row_id for r in t.snapshot_with_row_ids().collect()}
    assert after == {k: k for k in range(150) if k % 10 != 3}
    # round 11 (was a refusal): an unpartitioned dynamic overwrite is a
    # FULL replace — no file survives, so nothing carries: every old id
    # retires and the new rows allocate strictly above the old watermark
    hwm = t.metadata()["next-row-id"]
    t.overwrite_partitions(df)
    fresh = {r.k: r._row_id for r in t.snapshot_with_row_ids().collect()}
    assert set(fresh) == set(range(100))
    assert all(rid >= hwm for rid in fresh.values())
    # a raw replace WITHOUT resolved carried stamps still refuses
    with pytest.raises(IcebergProtocolError, match="lineage"):
        t.append_files(
            [{"path": "x.parquet", "size": 1, "partition": {},
              "record_count": 1, "status": 0, "sequence_number": 1}],
            replace=True,
        )


def test_row_lineage_identity_partitioned_reads(spark, root):
    """Round 12 (was a declared refusal): identity-partitioned lineage
    tables read end to end. Identity files DROP the source column; the
    direct-path reader restores it from each file's partition tuple via
    the same O(#files) broadcast map the row-id base rides. Mixed spec
    eras: pre-identity files keep the column physically and must NOT be
    clobbered by their (null) map constant — coalesce semantics."""
    df0 = spark.range(0, 40).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).cast("int").alias("seg"),
        (F.col("id") * 2.0).alias("v"),
    ).coalesce(1).sortWithinPartitions("k")
    t = IcebergTable.create(spark, root, df0)  # unpartitioned era
    t.enable_row_lineage()
    t.update_spec(("seg",))  # identity era for future writes
    t.append(
        spark.range(40, 60).select(
            F.col("id").alias("k"),
            (F.col("id") % 4).cast("int").alias("seg"),
            (F.col("id") * 2.0).alias("v"),
        ).coalesce(1).sortWithinPartitions("k")
    )
    rows = t.snapshot_with_row_ids().collect()
    assert {r.k: r.seg for r in rows} == {k: k % 4 for k in range(60)}
    assert {r.k: r.v for r in rows} == {k: k * 2.0 for k in range(60)}
    # lineage semantics undisturbed by the restoration: the pre-spec
    # era keeps k==id; the identity era's 4 per-partition files split
    # ids 40..59 among them (inheritance accumulates per file)
    ids = {r.k: r._row_id for r in rows}
    assert {k: ids[k] for k in range(40)} == {k: k for k in range(40)}
    assert sorted(ids[k] for k in range(40, 60)) == list(range(40, 60))
    # position deletes over restored constants: surviving ids stay put
    t.delete_where("k % 10 = 7")
    after = t.snapshot_with_row_ids().collect()
    assert {r.k: r._row_id for r in after} == {
        k: v for k, v in ids.items() if k % 10 != 7
    }
    assert all(r.seg == r.k % 4 for r in after)
    # purely-identity-from-creation table (every file lacks the column)
    t2 = IcebergTable.create(
        spark,
        root + "_pure",
        df0,
        partition_by=("seg",),
    )
    t2.enable_row_lineage()
    t2.append(
        spark.range(40, 50).select(
            F.col("id").alias("k"),
            (F.col("id") % 4).cast("int").alias("seg"),
            (F.col("id") * 2.0).alias("v"),
        ).coalesce(1).sortWithinPartitions("k")
    )
    rows2 = t2.snapshot_with_row_ids().collect()
    assert {r.k: r.seg for r in rows2} == {k: k % 4 for k in range(50)}
    assert sorted(r._row_id for r in rows2) == list(range(50))
    # the incremental watermark consumer sees restored constants too
    hwm = 40
    inc = t2.snapshot_with_row_ids(min_row_id=hwm).filter(
        F.col("_row_id") >= hwm
    )
    got = {r.k: r.seg for r in inc.collect()}
    assert set(got.values()) <= {0, 1, 2, 3} and len(got) == 10


def test_row_lineage_rewrites_preserve_ids(spark, root):
    """The v3 rewrite rule: rewrite_data_files MATERIALIZES _row_id into
    the new files (fresh inherited ids burn; the column overrides), and
    rewrite_manifests stamps each carried file's resolved first_row_id
    explicitly — both change the id of NOTHING. The watermark consumer
    prunes rewritten files on the materialized column's upper bound."""
    def batch(lo, hi):
        return (
            spark.range(lo, hi)
            .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
            .coalesce(1).sortWithinPartitions("k")
        )

    t = IcebergTable.create(spark, root, batch(0, 100))
    t.enable_row_lineage()
    t.append(batch(100, 200))
    t.append(batch(200, 300))
    t.delete_where("k % 10 = 3")
    want = {k: k for k in range(300) if k % 10 != 3}
    assert {r.k: r._row_id for r in t.snapshot_with_row_ids().collect()} == want

    # manifest consolidation first: ids stable, per-file stamps explicit
    assert t.rewrite_manifests() is not None
    assert {r.k: r._row_id for r in t.snapshot_with_row_ids().collect()} == want

    # compaction: one materialized file replaces the set; ids stable
    next_before = t.metadata()["next-row-id"]
    assert t.rewrite_data_files(target_files=1) is not None
    assert t.metadata()["next-row-id"] > next_before  # fresh ids burned
    got = {r.k: r._row_id for r in t.snapshot_with_row_ids().collect()}
    assert got == want
    # the normal read is untouched by the extra physical column
    assert t.snapshot().columns == ["k", "v"]
    assert t.snapshot().count() == len(want)

    # watermark pruning works THROUGH the rewrite (ids now live in the
    # materialized column; inherited ranges say nothing)
    inc = t.snapshot_with_row_ids(min_row_id=150)
    assert {r.k: r._row_id for r in inc.collect()} == {
        k: v for k, v in want.items() if v >= 150
    }
    # a second append allocates ABOVE the burned ids; a watermark above
    # the rewritten file's max CONTENT id (299) skips it UNOPENED via
    # the materialized column's upper bound
    alloc = t.metadata()["next-row-id"]
    assert alloc > 300  # the rewrite burned fresh ids
    t.append(batch(300, 350))
    new_ids = {k: alloc + (k - 300) for k in range(300, 350)}
    inc2 = t.snapshot_with_row_ids(min_row_id=300)
    assert {r.k: r._row_id for r in inc2.collect()} == new_ids
    assert len(inc2.inputFiles()) == 1  # only the new batch's file

    # position deletes keep working on materialized files (ids stable)
    t.delete_where("k = 5")
    final = {r.k: r._row_id for r in t.snapshot_with_row_ids().collect()}
    want2 = {
        k: v for k, v in {**want, **new_ids}.items() if k != 5
    }
    assert final == want2
    # and a SECOND rewrite re-materializes ids that came from the column
    assert t.rewrite_data_files(target_files=1) is not None
    assert {
        r.k: r._row_id for r in t.snapshot_with_row_ids().collect()
    } == want2


def test_theta_sketch_a_not_b_estimation_mode(spark):
    """a_not_b() beyond exact mode: two overlapping 30k-unique columns
    at k=256 must estimate the 20k-row one-sided differences within KMV
    error; exact mode is exactly the set difference (both directions)."""
    from projectdatalake_spark.sources.puffin import column_theta_sketch

    a = spark.range(0, 30_000).select(F.col("id").alias("u"))
    b = spark.range(20_000, 50_000).select(F.col("id").alias("u"))
    k = 256
    sk_a = column_theta_sketch(a, "u", k)
    sk_b = column_theta_sketch(b, "u", k)
    est_ab = sk_a.a_not_b(sk_b).estimate()
    est_ba = sk_b.a_not_b(sk_a).estimate()
    assert abs(est_ab - 20_000) / 20_000 < 0.35, est_ab
    assert abs(est_ba - 20_000) / 20_000 < 0.35, est_ba
    # exact mode, both directions + empty difference
    sa = column_theta_sketch(spark.range(0, 100), "id", 1024)
    sb = column_theta_sketch(spark.range(60, 200), "id", 1024)
    assert sa.a_not_b(sb).estimate() == 60.0  # 0..59
    assert sb.a_not_b(sa).estimate() == 100.0  # 100..199
    assert sa.a_not_b(sa).estimate() == 0.0


def test_deletion_vectors_v3_lifecycle(spark, root):
    """Iceberg v3 deletion vectors: positions compress into ONE puffin
    file per delete commit (one deletion-vector-v1 blob per masked data
    file, addressed by referenced_data_file + content_offset/size),
    readers union DVs with v2 position deletes, maintenance composes
    (consolidation + compaction), row lineage survives DV masking, and
    a corrupted blob fails LOUDLY instead of resurrecting rows."""
    import os

    from projectdatalake_spark.sources.puffin import (
        dv_blob_positions,
        read_puffin,
    )

    def batch(lo, hi):
        return (
            spark.range(lo, hi)
            .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
            .coalesce(1).sortWithinPartitions("k")
        )

    t = IcebergTable.create(spark, root, batch(0, 100))
    t.append(batch(100, 200))
    t.append(batch(200, 300))
    assert t.delete_where_dv("k % 10 = 3") is not None
    want = {k for k in range(300) if k % 10 != 3}
    assert {r.k for r in t.snapshot().collect()} == want
    # the delete commit wrote exactly ONE puffin, one blob per data file
    puffins = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".puffin")
    ]
    assert len(puffins) == 1
    blobs, props = read_puffin(open(puffins[0], "rb").read())
    assert len(blobs) == 3  # 3 data files masked
    for meta_b, payload in blobs:
        assert meta_b["type"] == "deletion-vector-v1"
        n = int(meta_b["properties"]["cardinality"])
        positions = dv_blob_positions(payload)
        assert len(positions) == n == 10  # 10 masked per 100-row file
    # v2-embedded deviation recorded in table properties
    assert t.metadata()["properties"]["deletion-vectors.v2-embedded"] == "true"

    # DVs accumulate across commits; v2 position deletes coexist
    assert t.delete_where_dv("k = 5") is not None
    assert t.delete_where("k = 6") is not None
    want -= {5, 6}
    assert {r.k for r in t.snapshot().collect()} == want

    # consolidation folds DV + v2 pairs into sorted pair parquet
    assert t.rewrite_position_deletes(target_files=1) is not None
    assert {r.k for r in t.snapshot().collect()} == want
    # compaction materializes the MOR state
    assert t.rewrite_data_files(target_files=1) is not None
    assert t.snapshot().count() == len(want)

    # row lineage + DV masking: survivor ids untouched
    t2 = IcebergTable.create(spark, root + "_rl", batch(0, 100))
    t2.enable_row_lineage()
    t2.delete_where_dv("k % 7 = 0")
    got = {r.k: r._row_id for r in t2.snapshot_with_row_ids().collect()}
    assert got == {k: k for k in range(100) if k % 7 != 0}

    # corruption: flipping a payload byte must raise (CRC), not resurrect
    t3 = IcebergTable.create(spark, root + "_bad", batch(0, 50))
    t3.delete_where_dv("k < 5")
    bad = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(root + "_bad")
        for f in fs
        if f.endswith(".puffin")
    ][0]
    raw = bytearray(open(bad, "rb").read())
    raw[10] ^= 0xFF
    open(bad, "wb").write(bytes(raw))
    import pytest

    with pytest.raises(Exception, match="CRC|magic|length"):
        t3.snapshot().count()


def test_promote_column_reads_both_eras_and_prunes(spark, tmp_path):
    from projectdatalake_spark.sources.iceberg_interop import (
        IcebergProtocolError,
        IcebergTable,
    )

    narrow = spark.range(0, 50).select(
        F.col("id").cast("int").alias("k"),
        F.col("id").cast("float").alias("v"),
        (F.col("id") % 3).cast("int").alias("seg"),
    )
    t = IcebergTable.create(spark, str(tmp_path / "t"), narrow.repartition(4))
    t.promote_column("k", "long")
    t.promote_column("v", "double")
    wide = spark.range(0, 10).select(
        (F.col("id") + 7_000_000_000).alias("k"),
        (F.col("id") + 0.25).alias("v"),
        (F.col("id") % 3).cast("int").alias("seg"),
    )
    t.append(wide.repartition(2))
    got = t.snapshot()
    types = {f.name: f.dataType.simpleString() for f in got.schema.fields}
    assert types["k"] == "bigint" and types["v"] == "double"
    assert got.count() == 60
    assert got.agg(F.max("k")).collect()[0][0] == 7_000_000_009
    assert got.filter(F.col("k") < 100).count() == 50
    # bounds pruning still decodes OLD 4-byte int bounds and NEW 8-byte
    # ones under the promoted field id
    pruned = t.snapshot(where={"k": (7_000_000_000, 7_100_000_000)})
    assert pruned.count() == 10
    # refusals: narrowing, cross-family, partition source, unknown
    with pytest.raises(IcebergProtocolError):
        t.promote_column("k", "int")
    with pytest.raises(IcebergProtocolError):
        t.promote_column("v", "long")
    with pytest.raises(KeyError):
        t.promote_column("nope", "long")
    p = IcebergTable.create(
        spark, str(tmp_path / "p"), narrow, partition_by=("seg",)
    )
    with pytest.raises(IcebergProtocolError):
        p.promote_column("seg", "long")


def test_kll_puffin_roundtrip_and_type_guard(spark, tmp_path):
    from projectdatalake_spark.operators.aggregates import KLLSketch
    from projectdatalake_spark.sources.iceberg_interop import IcebergTable

    sk = KLLSketch(64)
    sk.update_many(range(5000))  # past exact mode: multi-level state
    back = KLLSketch.from_bytes(sk.to_bytes())
    assert back.k == sk.k and back.n == sk.n
    assert back.compactors == sk.compactors
    assert back.quantile_disc(0.5) == sk.quantile_disc(0.5)

    df = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    t = IcebergTable.create(spark, str(tmp_path / "t"), df)
    # a KLL-only stats file must not feed the THETA reader (type guard),
    # and vice versa — each reader resolves by blob type, not column name
    t.write_quantile_stats("v", k=512)
    assert t.read_stats_sketch("v") is None
    got = t.read_quantile_sketch("v")
    assert got is not None and got.n == 100
    assert got.quantile_disc(0.5) == 3.0
    t.write_stats(["v"], k=512)  # replaces the snapshot's stats entry
    assert t.read_quantile_sketch("v") is not None  # carried forward
    assert t.read_stats_sketch("v") is not None


def test_kll_puffin_official_datasketches_blob(spark, tmp_path):
    """Round 12 (the last sketch-interop refusal): write_quantile_stats
    writes an ``apache-datasketches-kll-v1`` blob beside the graft one
    — the official KllDoublesSketch compact image, which the REAL
    library (the datasketches-java copy Spark bundles) heapifies
    directly with matching n/extremes; a stats file carrying ONLY the
    official blob still answers the engine's quantile reads."""
    from projectdatalake_spark.sources import puffin as _puffin
    from projectdatalake_spark.sources.iceberg_interop import IcebergTable

    df = spark.range(0, 3000).select(
        F.col("id").alias("k"), (F.col("id") % 97).cast("double").alias("v")
    )
    t = IcebergTable.create(spark, str(tmp_path / "t"), df)
    t.write_quantile_stats("v", k=64)
    entry = t.metadata()["statistics"][0]
    blobs, _props = _puffin.read_puffin(
        _atomic.read_bytes(t.spark, entry["statistics-path"])
    )
    by_type = {bm["type"]: payload for bm, payload in blobs}
    assert set(by_type) == {"graft-kll-v1", "apache-datasketches-kll-v1"}
    img = by_type["apache-datasketches-kll-v1"]
    jvm = spark.sparkContext._jvm
    KDS = jvm.org.apache.datasketches.kll.KllDoublesSketch
    Memory = jvm.org.apache.datasketches.memory.Memory
    h = KDS.heapify(Memory.wrap(bytearray(img)))
    assert h.getN() == 3000
    assert h.getMinItem() == 0.0 and h.getMaxItem() == 96.0
    # a foreign stats file carrying ONLY the official blob still reads
    ds_only = [
        (bm, payload)
        for bm, payload in blobs
        if bm["type"] == "apache-datasketches-kll-v1"
    ]
    data, footer = _puffin.write_puffin(ds_only, {})
    import os

    path = f"{t.root}/metadata/foreign-{os.getpid()}.stats"
    _atomic.write_bytes(t.spark, path, data, exclusive=True)

    def mutate(md):
        md["statistics"] = [
            {
                "snapshot-id": entry["snapshot-id"],
                "statistics-path": path,
                "file-size-in-bytes": len(data),
                "file-footer-size-in-bytes": footer,
                "blob-metadata": [
                    {**bm, "length": len(p)} for bm, p in ds_only
                ],
            }
        ]

    t._commit_metadata(mutate)  # generic optimistic metadata mutation
    got = t.read_quantile_sketch("v")
    assert got is not None and got.n == 3000
    assert got.min_value == 0.0 and got.max_value == 96.0
    # compacted sketch: the median answers within the k=64 rank-error
    # band (the exactness gates live in the exact-mode rungs)
    assert abs(got.quantile_disc(0.5) - 48.0) <= 4.0


def test_partition_stats_file_shape(spark, tmp_path):
    import pyarrow.parquet as pq

    from projectdatalake_spark.sources.iceberg_interop import (
        IcebergProtocolError,
        IcebergTable,
    )

    df = spark.range(0, 60).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("int").alias("seg")
    )
    t = IcebergTable.create(
        spark, str(tmp_path / "t"), df.repartition(F.col("seg")),
        partition_by=("seg",),
    )
    path = t.write_partition_stats()
    # spec field ids 1-5 stamped in the parquet schema; partition struct
    # fields keyed by the spec's partition-field ids (1000+)
    sch = pq.read_schema(path)
    fid = {f.name: f.metadata[b"PARQUET:field_id"] for f in sch}
    assert fid["partition"] == b"1" and fid["spec_id"] == b"2"
    assert fid["data_record_count"] == b"3"
    part_struct = sch.field("partition").type
    assert part_struct.field(0).metadata[b"PARQUET:field_id"] == b"1000"
    # registered + readable; one row per partition, 20 records each
    got = {
        r["partition"]["seg"]: (r["data_record_count"], r["data_file_count"])
        for r in t.read_partition_stats().collect()
    }
    assert got == {0: (20, 1), 1: (20, 1), 2: (20, 1)}
    # stale snapshot: stats cover only the snapshot they were written at
    t.append(df.repartition(F.col("seg")))
    assert t.read_partition_stats() is None  # new snapshot, no stats yet
    t.write_partition_stats()
    got2 = t.read_partition_stats().collect()
    assert all(r["data_file_count"] == 2 for r in got2)
    # non-identity transforms: the manifest tuple stores the TRANSFORMED
    # value (bucket ordinal), and the stats roll up per ordinal —
    # supported since round 10 (previously refused)
    b = IcebergTable.create(
        spark, str(tmp_path / "b"), df, partition_by=("bucket(4, k)",)
    )
    b.write_partition_stats()
    brows = b.read_partition_stats().collect()
    assert sum(r["data_record_count"] for r in brows) == 60
    assert all(0 <= r["partition"]["k_bucket"] < 4 for r in brows)
    assert all(r["spec_id"] == 0 for r in brows)


def test_promote_decimal_precision_reads_and_prunes(spark, tmp_path):
    """Round-10: the spec's decimal rule — decimal(P,S) → decimal(P',S),
    P' > P, SAME scale — promotes metadata-only; old manifests' minimal-
    length two's-complement decimal bounds stay byte-valid through the
    promotion (same scale ⇒ same unscaled integers), so range pruning
    keeps skipping narrow-era files."""
    from decimal import Decimal

    from projectdatalake_spark.sources.iceberg_interop import (
        IcebergProtocolError,
        IcebergTable,
    )

    narrow = spark.range(0, 50).select(
        F.col("id").alias("k"),
        (F.col("id").cast("decimal(10,2)") + F.lit("0.25").cast("decimal(3,2)"))
        .cast("decimal(12,2)").alias("price"),
    )
    t = IcebergTable.create(spark, str(tmp_path / "t"), narrow.repartition(4))
    t.promote_column("price", "decimal(25, 2)")
    wide = spark.range(0, 10).select(
        (F.col("id") + 100).alias("k"),
        (F.col("id").cast("decimal(25,2)")
         + F.lit("99999999999.99").cast("decimal(13,2)"))
        .cast("decimal(25,2)").alias("price"),
    )
    t.append(wide.repartition(2))
    got = t.snapshot()
    assert dict(got.dtypes)["price"] == "decimal(25,2)"
    assert got.count() == 60
    assert str(got.agg(F.max("price")).collect()[0][0]) == "100000000008.99"
    # pruning on the DECIMAL column: narrow-era bounds (written at
    # decimal(12,2)) must still skip those files under the wide type
    hi = t.snapshot(where={"price": (Decimal("99999999999.00"), None)})
    assert hi.count() == 10
    lo = t.snapshot(where={"price": (None, Decimal("1000.00"))})
    assert lo.count() == 50
    # refusals: scale change, precision shrink, p > 38
    with pytest.raises(IcebergProtocolError):
        t.promote_column("price", "decimal(30, 4)")
    with pytest.raises(IcebergProtocolError):
        t.promote_column("price", "decimal(12, 2)")
    with pytest.raises(IcebergProtocolError):
        t.promote_column("price", "decimal(40, 2)")


def test_expire_snapshots_retires_statistics(spark, tmp_path):
    """Round-10 (spec: writers must drop statistics entries for expired
    snapshots): expire removes the puffin/partition-stats ENTRIES of
    expired snapshots from the metadata AND deletes their files; the
    retained snapshot's stats survive untouched."""
    import os

    from projectdatalake_spark.sources.iceberg_interop import IcebergTable

    df = spark.range(0, 60).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("int").alias("seg")
    )
    t = IcebergTable.create(
        spark, str(tmp_path / "t"),
        df.repartition(F.col("seg")), partition_by=("seg",),
    )
    t.write_stats(["k"])
    t.write_quantile_stats("k")
    t.write_partition_stats()
    old_stats = [s["statistics-path"] for s in t.metadata()["statistics"]]
    old_pstats = [
        s["statistics-path"] for s in t.metadata()["partition-statistics"]
    ]
    assert old_stats and old_pstats
    t.append(
        spark.range(60, 90)
        .select(F.col("id").alias("k"),
                (F.col("id") % 3).cast("int").alias("seg"))
        .repartition(F.col("seg"))
    )
    t.write_stats(["k"])
    t.write_partition_stats()
    keep_stats = {
        s["statistics-path"] for s in t.metadata()["statistics"]
    } - set(old_stats)
    res = t.expire_snapshots(retain=1)
    assert res["snapshots"] == 1
    meta = t.metadata()
    live_ids = {s["snapshot-id"] for s in meta["snapshots"]}
    assert all(
        s["snapshot-id"] in live_ids for s in meta.get("statistics", [])
    )
    assert all(
        s["snapshot-id"] in live_ids
        for s in meta.get("partition-statistics", [])
    )
    # the expired snapshot's stats FILES are gone; the kept one's remain
    for p in old_stats + old_pstats:
        assert not os.path.exists(p.replace("file:", "")), p
    for p in keep_stats:
        assert os.path.exists(p.replace("file:", "")), p
    # the surviving stats still answer
    assert t.ndv("k") is not None


def test_encode_bound_decimal_minimal_twos_complement():
    """ADVICE r11: Appendix D requires the MINIMUM byte count for
    decimal bounds. Exact negative powers -2^(8k-1) must land on k
    bytes (-128 → 0x80, not 0xFF80); positives whose top bit is set
    need the leading sign byte (128 → 0x0080). Every encoding must
    also decode back to the same value (length-aware decode)."""
    from decimal import Decimal

    from projectdatalake_spark.sources.iceberg_interop import (
        _decode_bound,
        _encode_bound,
    )

    cases = {
        0: b"\x00",
        1: b"\x01",
        127: b"\x7f",
        128: b"\x00\x80",
        255: b"\x00\xff",
        256: b"\x01\x00",
        -1: b"\xff",
        -127: b"\x81",
        -128: b"\x80",          # the reported bug: was 0xFF80
        -129: b"\xff\x7f",
        -255: b"\xff\x01",
        -256: b"\xff\x00",
        -32768: b"\x80\x00",    # advisor's own formula got this wrong (3B)
        32767: b"\x7f\xff",
        32768: b"\x00\x80\x00",
    }
    for unscaled, want in cases.items():
        v = Decimal(unscaled).scaleb(-2)  # e.g. -128 → Decimal('-1.28')
        got = _encode_bound(v, "decimal(18,2)")
        assert got == want, (unscaled, got.hex(), want.hex())
        back = _decode_bound(got, "decimal(18,2)")
        assert back == v, (unscaled, back)
    # sweep: every length is minimal (re-encoding the decoded value
    # never shrinks) across a dense range
    for unscaled in range(-70000, 70000, 7):
        v = Decimal(unscaled).scaleb(-2)
        b = _encode_bound(v, "decimal(18,2)")
        assert int.from_bytes(b, "big", signed=True) == unscaled
        if len(b) > 1:
            # dropping the leading byte must change the value
            assert int.from_bytes(b[1:], "big", signed=True) != unscaled


def test_lineage_reader_applies_equality_deletes(spark, root):
    """Round-11 (was a refusal): snapshot_with_row_ids applies equality
    deletes by the strictly-smaller-seq rule — a masked row's id
    retires, survivors keep theirs untouched, and a row RE-APPENDED
    after the delete (higher seq) survives its own key's older delete
    with a fresh id."""
    def batch(lo, hi):
        return (
            spark.range(lo, hi)
            .select(F.col("id").alias("k"), (F.col("id") * 2.0).alias("v"))
            .coalesce(1).sortWithinPartitions("k")
        )

    t = IcebergTable.create(spark, root, batch(0, 100))
    t.enable_row_lineage()
    t.delete_equality(
        spark.range(0, 100).filter("id % 10 = 3").select(
            F.col("id").alias("k")
        )
    )
    ids = {r.k: r._row_id for r in t.snapshot_with_row_ids().collect()}
    assert ids == {k: k for k in range(100) if k % 10 != 3}
    # re-append two previously-deleted keys: higher seq → they survive,
    # with FRESH ids above the watermark; everything else untouched
    hwm = t.metadata()["next-row-id"]
    t.append(batch(3, 4).unionAll(batch(13, 14)).coalesce(1))
    after = {r.k: r._row_id for r in t.snapshot_with_row_ids().collect()}
    assert {k: v for k, v in after.items() if k not in (3, 13)} == ids
    assert sorted(after[k] for k in (3, 13)) == [hwm, hwm + 1]
    # merge: one snapshot = key delete + new generation at the same seq
    t.merge_upsert(
        spark.range(0, 100).filter("id % 10 = 7").select(
            F.col("id").alias("k"), F.lit(-1.0).alias("v")
        ),
        keys=["k"],
    )
    merged = t.snapshot_with_row_ids()
    rows = {r.k: (r.v, r._row_id) for r in merged.collect()}
    for k, (v, rid) in rows.items():
        if k % 10 == 7:
            assert v == -1.0 and rid >= hwm + 2, (k, v, rid)
        elif k in (3, 13):
            assert rid == after[k]
        elif k % 10 != 3:
            assert v == k * 2.0 and rid == k, (k, v, rid)
