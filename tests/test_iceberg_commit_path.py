"""Iceberg commit path: every snapshot-producing operation, traced.

``test_commit_trace_matches_recorded`` scripts one run of every op that
writes a snapshot and compares, per snapshot, its operation and
summary, parent link, sequence number and manifest-list rows (paths,
lengths, ids and timestamps left out), plus each table's final rows,
against ``iceberg_commit_trace.json`` — recorded from the per-operation
commit code this path replaced. Re-record (only when a change to the
trace is intended) with::

    python tests/test_iceberg_commit_path.py record

The other tests pin the rules a single commit path owns: a manifest's
partition spec is registered or checked at commit (a racing spec
evolution cannot re-purpose its id), every metadata commit appends the
predecessor to ``metadata-log`` (newest 100 kept), and every manifest
carries the header keys the spec requires."""

from __future__ import annotations

import io
import json
import os
import sys
import tempfile

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from projectdatalake_spark.sources import atomic as _atomic  # noqa: E402
from projectdatalake_spark.sources import avro_codec  # noqa: E402
from projectdatalake_spark.sources.iceberg_interop import (  # noqa: E402
    IcebergCommitConflict,
    IcebergTable,
)

TRACE_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "iceberg_commit_trace.json")


def _df(spark, lo, hi, scale=2.5):
    # one input partition: one data file per partition value, whatever
    # the session's parallelism
    return (
        spark.range(lo, hi)
        .coalesce(1)
        .select(
            "id",
            (F.col("id") % 3).cast("int").alias("seg"),
            (F.col("id") * scale).alias("val"),
        )
    )


def _rows(df) -> list:
    return sorted([list(r) for r in df.collect()], key=repr)


def _manifest_row(r: dict, index: dict) -> dict:
    out = {
        k: v
        for k, v in r.items()
        if k not in ("manifest_path", "manifest_length", "added_snapshot_id", "partitions")
    }
    out["added_snapshot"] = index.get(r.get("added_snapshot_id"))
    out["partitions"] = (
        None
        if r.get("partitions") is None
        else [
            {
                k: (v.hex() if isinstance(v, (bytes, bytearray)) else v)
                for k, v in p.items()
            }
            for p in r["partitions"]
        ]
    )
    return out


def _table_trace(t: IcebergTable, rows: list) -> dict:
    meta = t.metadata()
    snaps = meta["snapshots"]
    index = {s["snapshot-id"]: i for i, s in enumerate(snaps)}
    out = []
    for s in snaps:
        _, mrows = avro_codec.read_container(
            _atomic.read_bytes(t.spark, s["manifest-list"])
        )
        summary = {k: str(v) for k, v in s["summary"].items() if k != "app-id"}
        out.append(
            {
                "summary": summary,
                "parent": index.get(s.get("parent-snapshot-id")),
                "sequence-number": s["sequence-number"],
                "first-row-id": s.get("first-row-id"),
                "manifests": [_manifest_row(r, index) for r in mrows],
            }
        )
    return {
        "snapshots": out,
        "current": index.get(meta.get("current-snapshot-id")),
        "last-sequence-number": meta["last-sequence-number"],
        "next-row-id": meta.get("next-row-id"),
        "partition-specs": meta["partition-specs"],
        "rows": rows,
    }


def _scripted_run(spark, base: str) -> dict:
    """Every operation that produces an Iceberg snapshot, on three
    tables; returns the trace."""
    from projectdatalake_spark.sources.delta_interop import DeltaTable
    from projectdatalake_spark.sources.format_convert import uniform_export

    # partitioned table: appends, WAP branch, merge, the three deletes,
    # the three rewrites and a dynamic overwrite
    a = IcebergTable.create(spark, f"{base}/a", _df(spark, 0, 60), partition_by=("seg",))
    a.append(_df(spark, 60, 90))
    a.create_branch("audit")
    a.append(_df(spark, 90, 100), branch="audit")
    a.fast_forward("main", "audit")
    a.merge_upsert(_df(spark, 50, 70, scale=4.0), ["id"])
    a.rewrite_manifests()
    a.delete_where("id % 7 = 0")
    a.delete_where_dv("id % 11 = 1")
    a.delete_equality(spark.range(3, 6).coalesce(1))
    a.rewrite_position_deletes()
    a.overwrite_partitions(_df(spark, 200, 230).filter("seg = 1"))
    rows_a_before_compaction = _rows(a.snapshot())
    a.rewrite_data_files()
    rows_a = _rows(a.snapshot())
    assert rows_a == rows_a_before_compaction

    # row lineage: enable on a populated table, then append
    b = IcebergTable.create(spark, f"{base}/b", _df(spark, 0, 30))
    b.enable_row_lineage()
    b.append(_df(spark, 30, 50))
    rows_b = _rows(b.snapshot_with_row_ids())

    # Delta -> Iceberg export, first plain, then carrying deletion vectors
    d = DeltaTable.create(spark, f"{base}/c", _df(spark, 0, 40))
    uniform_export(d)
    d.delete_where_dv("id % 7 = 3")
    c, _ = uniform_export(d)
    rows_c = _rows(c.snapshot())

    return {
        "a": _table_trace(a, rows_a),
        "b": _table_trace(b, rows_b),
        "c": _table_trace(c, rows_c),
    }


@pytest.fixture(scope="module")
def scripted(spark):
    base = tempfile.mkdtemp(prefix="iceberg_commit_path_")
    return base, _scripted_run(spark, base)


def test_commit_trace_matches_recorded(scripted):
    _, got = scripted
    with open(TRACE_FILE) as fh:
        want = json.load(fh)
    # JSON round trip so tuples/ints compare as the recorded file does
    got = json.loads(json.dumps(got))
    for name in want:
        assert got[name] == want[name], name


def test_every_manifest_carries_spec_header(scripted):
    base, _ = scripted
    required = {"schema", "partition-spec", "partition-spec-id", "format-version", "content"}
    seen = 0
    for table in ("a", "b", "c"):
        mdir = f"{base}/{table}/metadata"
        for name in sorted(os.listdir(mdir)):
            if not name.endswith(".avro") or name.startswith("snap-"):
                continue
            with open(f"{mdir}/{name}", "rb") as fh:
                data = fh.read()
            assert data[:4] == b"Obj\x01", name
            header = avro_codec._decode(avro_codec._META_SCHEMA, io.BytesIO(data[4:]))
            missing = required - set(header)
            assert not missing, (table, name, missing)
            content = header["content"].decode()
            assert content in ("data", "deletes"), (name, content)
            schema = json.loads(header["schema"])
            assert schema["fields"], name
            seen += 1
    assert seen >= 10


@pytest.mark.parametrize("op", ["delete_equality", "rewrite_position_deletes"])
def test_spec_id_race_with_update_spec(spark, tmp_path, monkeypatch, op):
    """A global delete manifest is written under a field-less spec whose
    id is picked at planning; a spec evolution that commits before the
    delete claims the same id for different fields. The commit must
    refuse (the manifest would read under the racer's spec), leave the
    table's snapshots as they were, and a re-run must succeed under a
    registered field-less spec."""
    root = str(tmp_path / "t")
    t = IcebergTable.create(spark, root, _df(spark, 0, 60), partition_by=("seg",))
    if op == "rewrite_position_deletes":
        # position deletes that predate any field-less spec: written the
        # way older writers did, under the table's partitioned spec
        with monkeypatch.context() as m:
            m.setattr(
                IcebergTable,
                "_unpartitioned_spec",
                staticmethod(IcebergTable._current_spec),
            )
            t.delete_where("id % 5 = 0")
        assert all(s["fields"] for s in t.metadata()["partition-specs"])

        def run():
            return t.rewrite_position_deletes()
    else:
        def run():
            return t.delete_equality(spark.range(3, 6).coalesce(1))

    real_write = _atomic.write_bytes
    fired = []

    def racing_write(spark_, path, data, exclusive):
        real_write(spark_, path, data, exclusive)
        if path.endswith("-m1.avro") and not fired:
            fired.append(path)
            IcebergTable(spark, root).update_spec(("bucket(4, id)",))

    before = t.metadata()
    monkeypatch.setattr(_atomic, "write_bytes", racing_write)
    with pytest.raises(IcebergCommitConflict):
        run()
    monkeypatch.setattr(_atomic, "write_bytes", real_write)
    assert fired
    after = t.metadata()
    assert after["snapshots"] == before["snapshots"]
    assert after["current-snapshot-id"] == before["current-snapshot-id"]
    racer = next(s for s in after["partition-specs"] if s["spec-id"] == after["default-spec-id"])
    assert racer["fields"] and racer["fields"][0]["transform"] == "bucket[4]"

    assert run() is not None
    meta = t.metadata()
    specs = {s["spec-id"]: s for s in meta["partition-specs"]}
    head = next(s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"])
    _, mrows = avro_codec.read_container(_atomic.read_bytes(spark, head["manifest-list"]))
    deletes = [m for m in mrows if m["content"] == 1]
    assert deletes
    for m in deletes:
        assert m["partition_spec_id"] in specs
        if m["added_snapshot_id"] == head["snapshot-id"]:
            assert specs[m["partition_spec_id"]]["fields"] == []
    expected = {
        "delete_equality": [i for i in range(60) if not 3 <= i < 6],
        "rewrite_position_deletes": [i for i in range(60) if i % 5],
    }[op]
    assert sorted(r.id for r in t.snapshot().collect()) == expected


def _fire_once_on_write(monkeypatch, match, racer, before=False):
    """Patch the file seam so the first write whose path ends with
    ``match`` runs ``racer`` (a second writer) before or after it."""
    real_write = _atomic.write_bytes
    fired = []

    def racing_write(spark_, path, data, exclusive):
        hit = path.endswith(match) and not fired
        if hit:
            fired.append(path)
            if before:
                racer()
        real_write(spark_, path, data, exclusive)
        if hit and not before:
            racer()

    monkeypatch.setattr(_atomic, "write_bytes", racing_write)
    return fired


def _assert_lineage_ids(t: IcebergTable, n: int) -> None:
    meta = t.metadata()
    assert meta["next-row-id"] == n
    ids = sorted((r.id, r._row_id) for r in t.snapshot_with_row_ids().collect())
    assert sorted(i for _, i in ids) == list(range(n))


def test_enable_row_lineage_race_with_enable(spark, tmp_path, monkeypatch):
    """Two enables race: the loser's retry sees lineage already on and
    commits nothing, so ``next-row-id`` is never re-seeded and later
    appends never reissue an id."""
    root = str(tmp_path / "t")
    t = IcebergTable.create(spark, root, _df(spark, 0, 60))
    fired = _fire_once_on_write(
        monkeypatch, ".avro", lambda: IcebergTable(spark, root).enable_row_lineage()
    )
    t.enable_row_lineage()
    monkeypatch.undo()
    assert fired
    meta = t.metadata()
    assert [s["summary"]["operation"] for s in meta["snapshots"]].count(
        "enable-row-lineage"
    ) == 1
    assert meta["next-row-id"] == 60
    t.append(_df(spark, 60, 80))
    _assert_lineage_ids(t, 80)


def test_enable_row_lineage_race_with_first_append(spark, tmp_path, monkeypatch):
    """An enable planned on an empty table loses its commit to the first
    append: the retry sees a populated head and backfills it, so the
    append's manifest carries a first_row_id and lineage reads."""
    root = str(tmp_path / "t")
    t = IcebergTable.create_empty(spark, root, _df(spark, 0, 1).schema)
    fired = _fire_once_on_write(
        monkeypatch,
        ".metadata.json",
        lambda: IcebergTable(spark, root).append(_df(spark, 0, 40)),
        before=True,
    )
    t.enable_row_lineage()
    monkeypatch.undo()
    assert fired
    assert t.metadata()["snapshots"][-1]["summary"]["operation"] == "enable-row-lineage"
    _assert_lineage_ids(t, 40)
    t.append(_df(spark, 40, 50))
    _assert_lineage_ids(t, 50)


def test_expire_race_writes_no_empty_commit(spark, tmp_path, monkeypatch):
    """An expire that loses to an identical expire finds nothing left to
    retire on retry and writes no metadata version."""
    root = str(tmp_path / "t")
    t = IcebergTable.create(spark, root, _df(spark, 0, 10))
    t.append(_df(spark, 10, 20))
    t.append(_df(spark, 20, 30))
    fired = _fire_once_on_write(
        monkeypatch,
        ".metadata.json",
        lambda: IcebergTable(spark, root).expire_snapshots(retain=1),
        before=True,
    )
    out = t.expire_snapshots(retain=1)
    monkeypatch.undo()
    assert fired
    assert out["snapshots"] == 0
    v = t.current_metadata_version()
    assert v == 4  # create, two appends, the racer's expire
    assert len(t.metadata()["snapshots"]) == 1
    assert t.expire_snapshots(retain=1) == {"snapshots": 0, "files": 0}
    assert t.current_metadata_version() == v


def test_metadata_log_every_commit_kind(spark, tmp_path):
    """Each kind of metadata commit appends exactly one metadata-log
    entry, naming the version it replaced."""
    t = IcebergTable.create(spark, str(tmp_path / "t"), _df(spark, 0, 30))

    def log():
        return t.metadata().get("metadata-log", [])

    steps = [
        ("snapshot", lambda: t.append(_df(spark, 30, 40))),
        ("delete", lambda: t.delete_where("id = 3")),
        ("ref", lambda: t.create_branch("b")),
        ("stats", lambda: t.write_stats(["id"])),
        ("schema", lambda: t.add_column("extra", "long")),
        ("spec", lambda: t.update_spec(("seg",))),
        ("sort-order", lambda: t.set_sort_order(("id",))),
        ("expire", lambda: t.expire_snapshots(retain=1)),
    ]
    for kind, step in steps:
        n = len(log())
        step()
        entries = log()
        assert len(entries) == n + 1, kind
        v = t.current_metadata_version()
        assert entries[-1]["metadata-file"].endswith(f"/v{v - 1}.metadata.json"), kind


def test_metadata_log_keeps_newest_100(spark, tmp_path):
    t = IcebergTable.create(spark, str(tmp_path / "t"), _df(spark, 0, 10))
    for i in range(52):  # 104 ref commits after the create's append
        t.create_tag(f"t{i}")
        t.drop_ref(f"t{i}")
    log = t.metadata()["metadata-log"]
    v = t.current_metadata_version()
    assert v == 105
    assert len(log) == 100
    assert [e["metadata-file"].rsplit("/", 1)[1] for e in log] == [
        f"v{i}.metadata.json" for i in range(5, 105)
    ]


if __name__ == "__main__" and sys.argv[1:] == ["record"]:
    from projectdatalake_spark.session import get_spark

    session = get_spark("pytest", shuffle_partitions=8)
    trace = _scripted_run(session, tempfile.mkdtemp(prefix="iceberg_commit_path_"))
    with open(TRACE_FILE, "w") as fh:
        json.dump(trace, fh, indent=1, sort_keys=True)
        fh.write("\n")
    session.stop()
