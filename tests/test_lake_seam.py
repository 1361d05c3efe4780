"""The lake path's filesystem seam, one-scan Iceberg snapshots and
deletion vectors without Python workers.

- ``sources/atomic.py`` is the only module in ``sources/`` that talks to
  Hadoop FS; every seam operation gives the same result through the
  ``os`` branch and the Hadoop branch (forced on a local root), and
  files the Hadoop branch wrote, with ``.crc`` sidecars, stay readable
  and committable through the ``os`` branch and back.
- An Iceberg snapshot reads each spec era in one scan; across spec
  evolution, v2 position deletes, deletion vectors, equality deletes,
  null and awkward partition values and ``file:`` manifest paths it
  gives the row multiset of the form it replaced (each data file read on
  its own with literal partition constants, the deletes applied row by
  row).
- Deletion vectors are built and read without a Python worker, and the
  new writer's blobs are byte-equal to those of the ``applyInPandas``
  build it replaced.
- One definition per table-format metadata rule: Delta protocol upgrades
  go through ``DeltaTable._protocol_with``, column sketches through
  ``table_stats.py`` (whose stored bytes match those written before it),
  and every stream sink through one ``foreachBatch`` starter.
"""

from __future__ import annotations

import ast
import collections
import hashlib
import json
import pathlib

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

import projectdatalake_spark
from projectdatalake_spark.sources import atomic
from projectdatalake_spark.sources.deletion_vectors import positions_by_file
from projectdatalake_spark.sources.iceberg_interop import (
    IcebergTable,
    _spec_part_fields,
)
from projectdatalake_spark.sources.puffin import dv_blob_payload, dv_blob_positions

SOURCES = pathlib.Path(projectdatalake_spark.__file__).parent / "sources"


def _dotted(node) -> str:
    parts = []
    while isinstance(node, ast.Attribute):
        parts.append(node.attr)
        node = node.value
    if isinstance(node, ast.Name):
        parts.append(node.id)
    return ".".join(reversed(parts))


def _attribute_refs(path: pathlib.Path, match) -> list[str]:
    tree = ast.parse(path.read_text(), filename=str(path))
    return sorted(
        {
            _dotted(n)
            for n in ast.walk(tree)
            if isinstance(n, ast.Attribute) and match(n)
        }
    )


# -- guards ----------------------------------------------------------------


def test_only_the_seam_references_hadoop_fs():
    """Outside ``atomic.py`` no module in ``sources/`` reaches Hadoop FS
    (``org.apache.hadoop.fs``, ``getFileSystem``, ``IOUtils``)."""

    def hadoop(n):
        return n.attr in ("getFileSystem", "IOUtils") or "hadoop.fs" in _dotted(n)

    found = {
        p.name: refs
        for p in sorted(SOURCES.glob("*.py"))
        if p.name != "atomic.py" and (refs := _attribute_refs(p, hadoop))
    }
    assert found == {}


def test_iceberg_runs_no_pandas_udf():
    refs = _attribute_refs(
        SOURCES / "iceberg_interop.py",
        lambda n: n.attr in ("applyInPandas", "mapInPandas"),
    )
    assert refs == []


def _calls(path: pathlib.Path, match) -> int:
    tree = ast.parse(path.read_text(), filename=str(path))
    return sum(
        1
        for n in ast.walk(tree)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) and match(n)
    )


def _names_in(node) -> set[str]:
    return {n.id for n in ast.walk(node) if isinstance(n, ast.Name)}


def test_staged_file_stats_live_in_footer_stats():
    """The grouped ``input_file_name`` stats aggregate and the bloom bit
    expression (``pmod(xxhash64(..), _BLOOM_M)``) exist once each, in
    ``footer_stats.py``; no format keeps an ``_attach_stats_spark`` or
    names the bloom seeds."""
    counts = collections.Counter()
    for p in sorted(SOURCES.glob("*.py")):
        counts[(p.name, "input_file_name")] = _calls(
            p, lambda n: n.func.attr == "input_file_name"
        )
        counts[(p.name, "bloom")] = _calls(
            p, lambda n: n.func.attr == "pmod" and "_BLOOM_M" in _names_in(n)
        )
        tree = ast.parse(p.read_text())
        counts[(p.name, "_attach_stats_spark")] = sum(
            isinstance(n, ast.FunctionDef) and n.name == "_attach_stats_spark"
            for n in ast.walk(tree)
        )
        counts[(p.name, "_BLOOM_SEEDS")] = int(
            p.name != "footer_stats.py" and "_BLOOM_SEEDS" in _names_in(tree)
        )
    assert +counts == {
        ("footer_stats.py", "input_file_name"): 1,
        ("footer_stats.py", "bloom"): 1,
    }


def _callers(path: pathlib.Path, callee: str) -> set[str]:
    """Module functions and class methods of ``path`` whose body (nested
    functions included) calls ``callee``."""
    tree = ast.parse(path.read_text())
    defs = [n for n in tree.body if isinstance(n, ast.FunctionDef)] + [
        m
        for c in tree.body
        if isinstance(c, ast.ClassDef)
        for m in c.body
        if isinstance(m, ast.FunctionDef)
    ]
    return {
        d.name
        for d in defs
        if any(
            isinstance(n, ast.Call) and _dotted(n.func).rsplit(".", 1)[-1] == callee
            for n in ast.walk(d)
        )
    }


def test_one_iceberg_manifest_writer_and_reader():
    """Iceberg manifests and manifest lists are written only by
    ``_write_manifest`` and ``_commit_snapshot`` and read only by the
    ``_manifest_list`` / ``_manifest_entries`` reader; no other module in
    ``sources/`` decodes Avro, except the session-less stream reader."""
    ice = SOURCES / "iceberg_interop.py"
    assert _callers(ice, "write_container") == {"_write_manifest", "_commit_snapshot"}
    assert _callers(ice, "read_container") == {"_manifest_list", "_manifest_entries"}
    others = {
        p.name
        for p in sorted(SOURCES.glob("*.py"))
        if p.name not in ("iceberg_interop.py", "iceberg_stream.py")
        and _callers(p, "read_container")
    }
    assert others == set()


def test_one_protocol_upgrade_rule():
    """The legacy-version feature tables are read only by
    ``DeltaTable._protocol_with``: every commit path that needs a feature
    asks that one rule for its protocol action."""
    readers = {}
    for p in sorted(SOURCES.glob("*.py")):
        tree = ast.parse(p.read_text())
        names = {
            d.name
            for d in ast.walk(tree)
            if isinstance(d, ast.FunctionDef)
            and any(
                isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
                and n.id.startswith("_LEGACY_")
                for n in ast.walk(d)
            )
        }
        if names:
            readers[p.name] = names
    assert readers == {"delta_interop.py": {"_protocol_with"}}


def test_one_stats_sketch_builder_and_one_stream_starter():
    """Only ``table_stats.py`` builds column sketches for the formats, and
    one ``writeStream.foreachBatch`` starts every stream sink."""
    builders = {
        p.name
        for p in sorted(SOURCES.glob("*.py"))
        if _callers(p, "column_theta_sketches") | _callers(p, "column_kll_sketch")
    }
    assert builders == {"table_stats.py"}
    starters = collections.Counter()
    for p in sorted(SOURCES.glob("*.py")):
        for ref in _attribute_refs(p, lambda n: n.attr == "foreachBatch"):
            if ref.endswith("writeStream.foreachBatch"):
                starters[p.name] += 1
    assert starters == {"iceberg_interop.py": 1}


def _stats_frame(spark):
    return spark.range(0, 3000, numPartitions=1).select(
        "id", (F.col("id") % 37).alias("x")
    )


def _digest(data: bytes) -> str:
    return hashlib.sha256(data).hexdigest()[:16]


def test_stats_bytes_unchanged(spark, tmp_path):
    """For a fixed frame the stats entries Delta and txlog store and the
    puffin blob payloads Iceberg writes keep the bytes tables written
    before ``table_stats.py`` carry, so those tables read back unchanged."""
    from projectdatalake_spark.sources.delta_interop import DeltaTable
    from projectdatalake_spark.sources.puffin import read_puffin
    from projectdatalake_spark.sources.txlog import TxTable

    d = DeltaTable.create(spark, str(tmp_path / "d"), _stats_frame(spark))
    d.write_stats(["id", "x"], k=256)
    d.write_quantile_stats("x", k=64)
    domains = d._state()["domains"]
    assert _digest(domains["projectdatalake.columnStats"].encode()) == "bf8a241f162e527f"
    assert _digest(domains["graft.quantileStats"].encode()) == "22ab4f77b07adcda"

    t = TxTable.create(spark, str(tmp_path / "t"), _stats_frame(spark))
    t.write_stats(["id", "x"], k=256)
    t.write_quantile_stats("x", k=64)
    stats = t._state()["stats"]
    assert set(stats) == {"id", "x", "__kll__:x"}
    assert _digest(json.dumps(stats, sort_keys=True).encode()) == "93fb7edda0e6a3a3"

    i = IcebergTable.create(spark, str(tmp_path / "i"), _stats_frame(spark))
    payloads = set()
    for path in (i.write_stats(["id", "x"], k=256), i.write_quantile_stats("x", k=64)):
        blobs, _ = read_puffin(open(path, "rb").read())
        payloads |= {(m["type"], m["properties"]["column"], _digest(b)) for m, b in blobs}
    assert sorted(payloads) == [
        ("apache-datasketches-kll-v1", "x", "9064ebf203721c60"),
        ("apache-datasketches-theta-v1", "id", "8ee75be5c233f49a"),
        ("apache-datasketches-theta-v1", "x", "933a0005fe321260"),
        ("graft-kll-v1", "x", "55c7688960fd26aa"),
    ]


def test_iceberg_stats_keep_the_snapshots_other_blobs(spark, tmp_path):
    """Writing one stats kind on a snapshot keeps the other kind's blobs
    (the snapshot's stats file is replaced, not added), as Delta and
    txlog keep both."""
    t = IcebergTable.create(spark, str(tmp_path / "i"), _lake_df(spark, 200))
    t.write_stats(["id"], k=1024)
    assert t.ndv("id") == 200
    t.write_quantile_stats("seg", k=64)
    assert t.ndv("id") == 200
    assert t.read_stats_sketch("id") is not None
    assert t.read_quantile_sketch("seg").n == 200
    t.write_stats(["seg"], k=1024)
    assert (t.ndv("id"), t.ndv("seg")) == (200, 3)
    assert t.read_quantile_sketch("seg").n == 200
    assert len(t.metadata()["statistics"]) == 1


def _lake_df(spark, n):
    return (
        spark.range(n)
        .withColumn("seg", (F.col("id") % 3).cast("int"))
        .withColumn("val", F.col("id") * 2.5)
        .repartition(2)
    )


def test_iceberg_mor_read_is_one_scan_without_python(spark, tmp_path):
    t = IcebergTable.create(
        spark, str(tmp_path / "i"), _lake_df(spark, 300), partition_by=("seg",)
    )
    t.delete_where_dv("id % 10 = 7")
    snap = t.snapshot()
    plan = snap._jdf.queryExecution().optimizedPlan().toString()
    assert "MapInPandas" not in plan and "PythonUDF" not in plan, plan
    assert plan.count("] parquet") == 1, plan
    assert snap.count() == 270


# -- the seam, both branches -----------------------------------------------


@pytest.fixture(params=["os", "hadoop"])
def branch(request, monkeypatch):
    if request.param == "hadoop":
        monkeypatch.setattr(atomic, "is_local_path", lambda p: False)
    return request.param


def test_seam_operations(spark, tmp_path, branch):
    root = str(tmp_path / "r")
    p = f"{root}/a/b.bin"
    assert not atomic.exists(spark, p)
    with pytest.raises(FileNotFoundError):
        atomic.read_bytes(spark, p)
    atomic.write_bytes(spark, p, b"one", exclusive=True)
    assert atomic.exists(spark, p) and atomic.read_bytes(spark, p) == b"one"
    with pytest.raises(atomic.ExclusiveCreateConflict):
        atomic.write_bytes(spark, p, b"two", exclusive=True)
    assert atomic.read_bytes(spark, p) == b"one"
    atomic.write_text(spark, p, "three", exclusive=False)
    assert atomic.read_text(spark, p) == "three"
    atomic.write_bytes(spark, f"{root}/a/c/d.parquet", b"x", exclusive=True)
    atomic.mkdirs(spark, f"{root}/empty")

    assert atomic.list_dir(spark, f"{root}/a") == ["b.bin", "c"]
    assert atomic.list_dir(spark, root) == ["a", "empty"]
    assert atomic.list_dir(spark, f"{root}/missing") == []
    listed = [
        (atomic.path_only(q), size)
        for q, size, _m in atomic.list_files(spark, root)
    ]
    assert listed == [(f"{root}/a/b.bin", 5), (f"{root}/a/c/d.parquet", 1)]
    assert [
        atomic.path_only(q) for q, _s, _m in atomic.list_files(spark, root, ".parquet")
    ] == [f"{root}/a/c/d.parquet"]
    assert atomic.list_files(spark, f"{root}/missing") == []

    # rename to a new place (parents created), then replace a file
    assert atomic.rename(spark, f"{root}/a/c/d.parquet", f"{root}/e/f/d.parquet")
    assert not atomic.exists(spark, f"{root}/a/c/d.parquet")
    assert atomic.read_bytes(spark, f"{root}/e/f/d.parquet") == b"x"
    # onto an existing file: ``os`` replaces it, Hadoop refuses
    atomic.write_bytes(spark, f"{root}/new.bin", b"four", exclusive=True)
    replaced = atomic.rename(spark, f"{root}/new.bin", p)
    assert replaced == (branch == "os")
    assert atomic.read_bytes(spark, p) == (b"four" if replaced else b"three")
    assert atomic.exists(spark, f"{root}/new.bin") != replaced
    assert abs(atomic.mtime_ms(spark, p) - atomic.list_files(spark, f"{root}/a")[0][2]) < 1000

    assert atomic.delete(spark, p) and not atomic.exists(spark, p)
    assert not atomic.delete(spark, p)
    assert atomic.delete(spark, f"{root}/e", recursive=True)
    assert not atomic.exists(spark, f"{root}/e/f/d.parquet")
    assert not any(n.endswith(".crc") for n in atomic.list_dir(spark, f"{root}/a"))


def test_path_only():
    assert atomic.path_only("/a/b c#d%25") == "/a/b c#d%25"
    assert atomic.path_only("file:/a/b") == "/a/b"
    assert atomic.path_only("file:///a/b") == "/a/b"
    assert atomic.path_only("hdfs://nn:8020/a/p=x#y") == "/a/p=x#y"
    assert atomic.path_only("s3a://bucket") == "/"


def _force_hadoop(monkeypatch):
    monkeypatch.setattr(atomic, "is_local_path", lambda p: False)


def test_hadoop_written_iceberg_with_crc_reads_and_commits(spark, tmp_path, monkeypatch):
    """Metadata and hint written by Hadoop (with ``.crc`` sidecars) read
    and commit through the ``os`` branch; the local hint replace drops
    the stale sidecar, so Hadoop reads the table again afterwards."""
    root = str(tmp_path / "ice")
    df = _lake_df(spark, 30)
    _force_hadoop(monkeypatch)
    IcebergTable.create(spark, root, df, partition_by=("seg",))
    monkeypatch.undo()
    meta_dir = tmp_path / "ice" / "metadata"
    assert (meta_dir / ".version-hint.text.crc").exists()
    assert not any(n.endswith(".crc") for n in atomic.list_dir(spark, str(meta_dir)))

    t = IcebergTable(spark, root)
    assert t.snapshot().count() == 30
    t.append(df)
    t.delete_where_dv("id % 10 = 3")
    assert not (meta_dir / ".version-hint.text.crc").exists()
    want = sorted(map(tuple, t.snapshot().collect()))
    assert len(want) == 54

    _force_hadoop(monkeypatch)
    again = IcebergTable(spark, root)
    assert again.current_metadata_version() == t.current_metadata_version()
    assert sorted(map(tuple, again.snapshot().collect())) == want
    again.append(df)
    monkeypatch.undo()
    assert IcebergTable(spark, root).snapshot().count() == 84


def test_hadoop_written_delta_checkpoint_with_crc(spark, tmp_path, monkeypatch):
    from projectdatalake_spark.sources.delta_interop import DeltaTable

    root = str(tmp_path / "d")
    df = _lake_df(spark, 30)
    _force_hadoop(monkeypatch)
    t = DeltaTable.create(spark, root, df)
    t.checkpoint()
    monkeypatch.undo()
    log = tmp_path / "d" / "_delta_log"
    assert (log / "._last_checkpoint.crc").exists()

    t = DeltaTable(spark, root)
    t.append(df)
    t.delete_where_dv("id % 10 = 3")
    t.checkpoint()
    assert not (log / "._last_checkpoint.crc").exists()
    want = sorted(map(tuple, t.snapshot().collect()))
    assert len(want) == 54

    _force_hadoop(monkeypatch)
    assert sorted(map(tuple, DeltaTable(spark, root).snapshot().collect())) == want


# -- Iceberg snapshot: one scan per era vs the per-file form ---------------


def _reference_rows(spark, t: IcebergTable) -> collections.Counter:
    """The row multiset by the form the one-scan snapshot replaced: each
    data file read on its own under its era's read schema, identity
    partition values attached as literals, then position deletes, DVs
    and equality deletes (data seq < delete seq) applied row by row."""
    meta = t.metadata()
    schema = t._spark_schema(meta)
    names = [f.name for f in schema.fields]
    ptypes = {f.name: f.dataType for f in schema.fields}
    fields_by_id = {
        f["id"]: f["name"]
        for f in next(
            s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"]
        )["fields"]
    }
    idcols = {
        s["spec-id"]: [
            p["pname"] for p in _spec_part_fields(meta, s) if p["transform"] == "identity"
        ]
        for s in meta["partition-specs"]
    }
    entries, deletes = t._entries_for_snapshot(meta, None)
    deleted: set = set()
    eq: list = []
    for e in deletes:
        d = e["data_file"]
        if d.get("content") == 2:
            cols = [fields_by_id[i] for i in d["equality_ids"]]
            for r in spark.read.parquet(d["file_path"]).collect():
                eq.append((cols, tuple(r[c] for c in cols), e["_seq"]))
        elif d.get("file_format") == "PUFFIN":
            data = atomic.read_bytes(spark, d["file_path"])
            off, ln = d["content_offset"], d["content_size_in_bytes"]
            for pos in dv_blob_positions(data[off : off + ln]):
                deleted.add((atomic.path_only(d["referenced_data_file"]), pos))
        else:
            for r in spark.read.parquet(d["file_path"]).collect():
                deleted.add((atomic.path_only(r.file_path), r.pos))
    out: collections.Counter = collections.Counter()
    for e in entries:
        d = e["data_file"]
        era = idcols[e["_spec_id"]]
        part = d.get("partition") or {}
        df = spark.read.schema(
            StructType([f for f in schema.fields if f.name not in era])
        ).parquet(d["file_path"]).withColumn("__ri", F.col("_metadata.row_index"))
        for c in era:
            df = df.withColumn(c, F.lit(part.get(c)).cast(ptypes[c]))
        for r in df.collect():
            if (atomic.path_only(d["file_path"]), r["__ri"]) in deleted:
                continue
            if any(
                e["_seq"] < seq and tuple(r[c] for c in cols) == key
                for cols, key, seq in eq
            ):
                continue
            out[tuple(r[c] for c in names)] += 1
    return out


def _rows(df) -> collections.Counter:
    return collections.Counter(tuple(r) for r in df.collect())


_AWKWARD = ["a b", "50%", "x#y", "k=v", None, "plain"]


def _awkward_df(spark, lo, hi):
    return (
        spark.range(lo, hi)
        .select(
            F.col("id"),
            F.element_at(
                F.array(*[F.lit(v) for v in _AWKWARD]),
                (F.col("id") % len(_AWKWARD) + 1).cast("int"),
            ).alias("p"),
            F.when(F.col("id") % 4 == 0, F.lit(None))
            .otherwise((F.col("id") % 3).cast("int"))
            .alias("q"),
            (F.col("id") * 1.5).alias("v"),
        )
        .repartition(3)
    )


def test_iceberg_snapshot_across_eras_and_delete_kinds(spark, tmp_path):
    t = IcebergTable.create(
        spark, str(tmp_path / "ice"), _awkward_df(spark, 0, 120), partition_by=("p",)
    )
    t.delete_where("id % 7 = 0")  # v2 position deletes
    t.update_spec(("q",))  # a second spec era
    t.append(_awkward_df(spark, 120, 200))
    t.delete_where_dv("id % 5 = 1")  # DVs across both eras
    t.delete_equality(spark.range(0, 200, 9).select("id"))
    t.append(_awkward_df(spark, 0, 30).filter("id % 9 = 0"))  # re-added keys survive
    want = _reference_rows(spark, t)
    assert sum(want.values()) > 100
    assert _rows(t.snapshot()) == want
    assert {r.p for r in t.snapshot().select("p").distinct().collect()} == set(_AWKWARD)
    assert _rows(t.snapshot(where_eq={"q": [1]}).filter("q = 1")) == collections.Counter(
        {r: n for r, n in want.items() if r[2] == 1}
    )


def test_iceberg_snapshot_with_file_scheme_manifest_paths(spark, tmp_path):
    """Data files registered under ``file:`` paths: constants, position
    deletes and DVs all key on the same normalised path."""
    src = IcebergTable.create(
        spark, str(tmp_path / "src"), _awkward_df(spark, 0, 90), partition_by=("p",)
    )
    entries, _ = src._entries_for_snapshot(src.metadata(), None)
    t = IcebergTable.create_empty(
        spark, str(tmp_path / "dst"), src._spark_schema(src.metadata()), partition_by=("p",)
    )
    t.append_files(
        [
            {
                "path": "file:" + e["data_file"]["file_path"],
                "size": e["data_file"]["file_size_in_bytes"],
                "partition": e["data_file"]["partition"],
                "record_count": e["data_file"]["record_count"],
            }
            for e in entries
        ]
    )
    paths = [e["data_file"]["file_path"] for e in t._entries_for_snapshot(t.metadata(), None)[0]]
    assert paths and all(p.startswith("file:/") for p in paths)
    assert _rows(t.snapshot()) == _rows(src.snapshot())
    t.delete_where("id % 4 = 0")
    t.delete_where_dv("id % 3 = 0")
    want = _reference_rows(spark, t)
    assert sum(want.values()) == sum(1 for i in range(90) if i % 4 and i % 3)
    assert _rows(t.snapshot()) == want


# -- deletion vectors ------------------------------------------------------


def test_dv_blobs_equal_the_pandas_udf_build(spark, tmp_path):
    """Blobs from the JVM-grouped writer are byte-equal to
    ``dv_blob_payload(sorted(positions))`` and to the blobs the former
    one-``applyInPandas``-per-file build produced from the same pairs, so
    vectors written either way read back identically."""
    import pandas as pd

    t = IcebergTable.create(
        spark, str(tmp_path / "ice"), _awkward_df(spark, 0, 150), partition_by=("p",)
    )
    pairs = t._matching_positions(t.metadata(), "id % 3 = 0")
    by_file = positions_by_file(pairs)
    assert by_file and all(ps == sorted(set(ps)) for ps in by_file.values())

    def to_blob(pdf: pd.DataFrame) -> pd.DataFrame:
        positions = [int(p) for p in pdf["pos"]]
        return pd.DataFrame(
            [[pdf["file_path"].iloc[0], dv_blob_payload(positions)]],
            columns=["file_path", "blob"],
        )

    former = {
        r.file_path: bytes(r.blob)
        for r in pairs.groupBy("file_path")
        .applyInPandas(to_blob, "file_path string, blob binary")
        .collect()
    }
    t.delete_where_dv("id % 3 = 0")
    _, deletes = t._entries_for_snapshot(t.metadata(), None)
    written = {}
    for e in deletes:
        d = e["data_file"]
        data = atomic.read_bytes(spark, d["file_path"])
        off, ln = d["content_offset"], d["content_size_in_bytes"]
        written[d["referenced_data_file"]] = data[off : off + ln]
    assert written == {fp: dv_blob_payload(ps) for fp, ps in by_file.items()}
    assert written == former
    assert _rows(t.snapshot()) == _reference_rows(spark, t)
    assert t.snapshot().count() == 100


def test_positions_by_file_empty_and_duplicates(spark):
    from projectdatalake_spark.session import local_frame

    schema = "file_path string, pos long"
    assert positions_by_file(local_frame(spark, [], schema)) == {}
    rows = [("b", 3), ("a", 2), ("b", 1), ("b", 3)]
    assert positions_by_file(local_frame(spark, rows, schema)) == {"a": [2], "b": [1, 3]}
