"""Streaming consumption of the txlog change feed (sources/txlog_stream.py):
commit-version offsets, incremental micro-batches, restart-from-checkpoint
exactly-once."""

from __future__ import annotations

import time

import pytest

from pyspark.sql import functions as F

from projectdatalake_spark.sources import txlog_stream
from projectdatalake_spark.sources.txlog import TxTable


def _mkdf(spark, rows):
    return spark.createDataFrame(rows, ["id", "seg", "val"])


@pytest.fixture()
def table(spark, tmp_path):
    return TxTable.create(
        spark, str(tmp_path / "cdf_tbl"), _mkdf(spark, [(1, "A", 10), (2, "B", 20)])
    )


def _run_until(spark, stream, name, ckpt, predicate, timeout=120):
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + timeout
        while time.time() < deadline:
            if predicate(spark.table(name)):
                break
            time.sleep(0.3)
        else:
            raise AssertionError(f"timed out; sink has {spark.table(name).count()} rows")
    finally:
        q.stop()
        q.awaitTermination()
    return spark.table(name)


def test_cdf_stream_delivers_commit_deltas(spark, table, tmp_path):
    txlog_stream.register(spark)
    stream = (
        spark.readStream.format("txlog_changes")
        .option("path", table.root)
        .load()
    )
    table.append(_mkdf(spark, [(3, "A", 30)]))
    table.delete_where("seg = 'B'")
    expected = table.changes(-1)  # full feed: create+append inserts, delete
    got = _run_until(
        spark, stream, "cdf_sink_1", str(tmp_path / "ck1"),
        lambda df: df.count() >= expected.count(),
    )
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0
    # the delete shows up as a tagged delete row for (2, B, 20)
    assert (
        got.filter(
            (F.col("_change_type") == "delete") & (F.col("id") == 2)
        ).count()
        == 1
    )


def test_cdf_stream_restart_resumes_from_offset(spark, table, tmp_path):
    txlog_stream.register(spark)
    ckpt = str(tmp_path / "ck2")
    out = str(tmp_path / "out2")

    def run_drain(min_rows):
        q = (
            spark.readStream.format("txlog_changes")
            .option("path", table.root)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="100 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + 120
            while time.time() < deadline:
                try:
                    if spark.read.parquet(out).count() >= min_rows:
                        break
                except Exception:
                    pass
                time.sleep(0.3)
            else:
                raise AssertionError("timed out draining CDF stream")
        finally:
            q.stop()
            q.awaitTermination()
        return spark.read.parquet(out)

    first = run_drain(2)
    assert first.count() == 2  # version 0's two inserts
    # new commits while the stream is DOWN
    table.append(_mkdf(spark, [(4, "B", 40)]))
    table.append(_mkdf(spark, [(5, "A", 50)]))
    resumed = run_drain(4)
    # exactly the two new inserts arrived — nothing replayed twice
    assert resumed.count() == 4
    ids = sorted(r["id"] for r in resumed.select("id").collect())
    assert ids == [1, 2, 4, 5]


def test_cdf_backlog_plans_multiple_input_partitions(spark, table, tmp_path):
    """The scale contract: a multi-commit backlog fans out to one
    InputPartition per changed file per commit (executor-side decode),
    not a single driver-side replay."""
    table.append(_mkdf(spark, [(3, "A", 30)]))
    table.append(_mkdf(spark, [(4, "B", 40)]))
    reader = txlog_stream.TxLogChangesStreamReader({"path": table.root})
    latest = reader.latestOffset()
    parts = reader.partitions({"version": -1}, latest)
    assert len(parts) > 1  # create + two appends → ≥3 files
    assert all(isinstance(p, txlog_stream.ChangeFilePartition) for p in parts)
    # executor read of all partitions reproduces the batch changes() feed
    rows = [r for p in parts for r in reader.read(p)]
    assert len(rows) == table.changes(-1).count()


def test_cdf_starting_version_is_inclusive(spark, table, tmp_path):
    """startingVersion=N delivers commit N itself (Delta's convention)."""
    table.append(_mkdf(spark, [(3, "A", 30)]))  # version 1
    txlog_stream.register(spark)
    stream = (
        spark.readStream.format("txlog_changes")
        .option("path", table.root)
        .option("startingVersion", "1")
        .load()
    )
    got = _run_until(
        spark, stream, "cdf_sink_incl", str(tmp_path / "ck_incl"),
        lambda df: df.count() >= 1,
    )
    ids = sorted(r["id"] for r in got.select("id").collect())
    assert ids == [3]  # version 1 included, version 0's create excluded


def test_cdf_partition_values_typed_from_path(spark, tmp_path):
    """Hive path segments of a non-string-partitioned table come back
    with the declared type, matching batch changes()."""
    df = spark.createDataFrame([(1, 10, "x"), (2, 20, "y")], ["id", "bucket_no", "s"])
    t = TxTable.create(
        spark, str(tmp_path / "int_part"), df, partition_by=("bucket_no",)
    )
    t.append(spark.createDataFrame([(3, 10, "z")], ["id", "bucket_no", "s"]))
    txlog_stream.register(spark)
    stream = (
        spark.readStream.format("txlog_changes")
        .option("path", t.root)
        .load()
    )
    got = _run_until(
        spark, stream, "cdf_sink_typed", str(tmp_path / "ck_typed"),
        lambda d: d.count() >= 3,
    )
    assert dict(got.dtypes)["bucket_no"] == "bigint"
    assert sorted(r["bucket_no"] for r in got.select("bucket_no").collect()) == [10, 10, 20]
    expected = t.changes(-1).select("id", "bucket_no", "s", "_change_type")
    assert got.select("id", "bucket_no", "s", "_change_type").exceptAll(expected).count() == 0


def test_cdf_partition_values_unescaped_from_path(spark, tmp_path):
    """Partition values hive escapes in directory names (``50%``,
    ``a=b``) and the null marker stream as the values batch changes()
    reads."""
    df = spark.createDataFrame(
        [(1, "50%"), (2, "a=b"), (3, None)], "id long, seg string"
    )
    t = TxTable.create(spark, str(tmp_path / "esc_part"), df, partition_by=("seg",))
    txlog_stream.register(spark)
    stream = (
        spark.readStream.format("txlog_changes").option("path", t.root).load()
    )
    got = _run_until(
        spark, stream, "cdf_sink_esc", str(tmp_path / "ck_esc"),
        lambda d: d.count() >= 3,
    ).select("id", "seg", "_change_type")
    expected = t.changes(-1).select("id", "seg", "_change_type")
    assert sorted(r["seg"] or "" for r in got.collect()) == ["", "50%", "a=b"]
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_cdf_stream_after_widen_uses_wide_schema(spark, tmp_path):
    """widen_column commits fold into the stream schema: narrow-file rows
    arrive as the wide type, matching batch changes()."""
    t = TxTable.create(
        spark,
        str(tmp_path / "widen_tbl"),
        spark.createDataFrame([(1, "A", 10)], "id int, seg string, val int"),
    )
    t.widen_column("val", "bigint")
    t.append(spark.createDataFrame([(2, "B", 2**40)], "id int, seg string, val bigint"))
    txlog_stream.register(spark)
    stream = (
        spark.readStream.format("txlog_changes")
        .option("path", t.root)
        .load()
    )
    got = _run_until(
        spark, stream, "cdf_sink_widen", str(tmp_path / "ck_widen"),
        lambda d: d.count() >= 2,
    )
    assert dict(got.dtypes)["val"] == "bigint"
    assert {r["val"] for r in got.select("val").collect()} == {10, 2**40}


def test_cdf_simple_fallback_matches_partition_reader(spark, table, tmp_path):
    """txlog_changes_simple (driver-side tiny-feed variant) delivers the
    identical feed."""
    table.append(_mkdf(spark, [(3, "A", 30)]))
    table.delete_where("seg = 'B'")
    txlog_stream.register(spark)
    stream = (
        spark.readStream.format("txlog_changes_simple")
        .option("path", table.root)
        .load()
    )
    expected = table.changes(-1)
    got = _run_until(
        spark, stream, "cdf_sink_simple", str(tmp_path / "ck_simple"),
        lambda df: df.count() >= expected.count(),
    )
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_cdf_stream_batch_cap_raises(spark, table, tmp_path):
    txlog_stream.register(spark)
    stream = (
        spark.readStream.format("txlog_changes")
        .option("path", table.root)
        .option("maxRowsPerBatch", "1")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("cdf_sink_3")
        .option("checkpointLocation", str(tmp_path / "ck3"))
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    try:
        with pytest.raises(Exception, match="maxRowsPerBatch"):
            q.awaitTermination(60)
            raise AssertionError("stream should have failed on the cap")
    finally:
        try:
            q.stop()
        except Exception:
            pass
