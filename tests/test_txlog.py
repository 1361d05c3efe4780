"""Protocol tests for the minimal transactional table format (txlog)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from projectdatalake_spark.sources import atomic as _atomic
from projectdatalake_spark.sources.txlog import CommitConflict, TxTable


def _mkdf(spark, rows):
    return spark.createDataFrame(rows, ["id", "seg", "val"])


@pytest.fixture()
def table(spark, tmp_path):
    df = _mkdf(spark, [(1, "A", 10), (2, "A", 20), (3, "B", 30)])
    t = TxTable.create(spark, str(tmp_path / "tbl"), df, partition_by=("seg",))
    return t


def test_create_and_snapshot(table):
    got = {(r.id, r.seg, r.val) for r in table.snapshot().collect()}
    assert got == {(1, "A", 10), (2, "A", 20), (3, "B", 30)}
    assert table.latest_version() == 0


def test_append_and_time_travel(spark, table):
    table.append(_mkdf(spark, [(4, "B", 40)]))
    assert table.latest_version() == 1
    assert table.snapshot().count() == 4
    # time travel: version 0 unchanged
    assert table.snapshot(version=0).count() == 3


def test_overwrite_replaces_everything(spark, table):
    table.overwrite(_mkdf(spark, [(9, "C", 90)]))
    got = [(r.id, r.seg, r.val) for r in table.snapshot().collect()]
    assert got == [(9, "C", 90)]
    assert table.snapshot(version=0).count() == 3


def test_replace_where_rewrites_only_target_partition(spark, table):
    before = {
        a["path"]: a["size"] for a in table._active_files() if a["partition"]["seg"] == "B"
    }
    table.replace_where(_mkdf(spark, [(1, "A", 11), (2, "A", 22)]), {"seg": ["A"]})
    after = {
        a["path"]: a["size"] for a in table._active_files() if a["partition"]["seg"] == "B"
    }
    # untouched partition: same files, same bytes (not rewritten)
    assert before == after
    got = {(r.id, r.val) for r in table.snapshot().collect()}
    assert got == {(1, 11), (2, 22), (3, 30)}


def test_replace_where_rejects_out_of_scope_rows(spark, table):
    with pytest.raises(ValueError, match="outside the target partitions"):
        table.replace_where(_mkdf(spark, [(1, "A", 11), (3, "B", 33)]), {"seg": ["A"]})


def _escaped_table(spark, tmp_path):
    # partition values hive writes escaped in directory names (%25, %3D)
    df = _mkdf(spark, [(1, "50%", 10), (2, "a=b", 20), (3, "plain", 30)])
    return TxTable.create(spark, str(tmp_path / "esc"), df, partition_by=("seg",))


def test_partition_values_are_logged_unescaped(spark, tmp_path):
    t = _escaped_table(spark, tmp_path)
    assert {a["partition"]["seg"] for a in t._active_files()} == {"50%", "a=b", "plain"}
    t.replace_where(_mkdf(spark, [(4, "50%", 40)]), {"seg": ["50%"]})
    got = {(r.id, r.seg, r.val) for r in t.snapshot().collect()}
    assert got == {(4, "50%", 40), (2, "a=b", 20), (3, "plain", 30)}


def test_partition_pruning_matches_escaped_values(spark, tmp_path):
    t = _escaped_table(spark, tmp_path)
    got = [(r.id, r.seg) for r in t.snapshot(where={"seg": ("a=b", "a=b")}).collect()]
    assert got == [(2, "a=b")]
    got = [(r.id, r.seg) for r in t.snapshot(where_eq={"seg": "50%"}).collect()]
    assert got == [(1, "50%")]


def test_merge_upsert_partition_scoped(spark, table):
    b_files_before = {
        a["path"] for a in table._active_files() if a["partition"]["seg"] == "B"
    }
    # update id=1, insert id=5 — both land in partition A
    table.merge_upsert(_mkdf(spark, [(1, "A", 111), (5, "A", 50)]), keys=["id"])
    got = {(r.id, r.seg, r.val) for r in table.snapshot().collect()}
    assert got == {(1, "A", 111), (2, "A", 20), (5, "A", 50), (3, "B", 30)}
    b_files_after = {
        a["path"] for a in table._active_files() if a["partition"]["seg"] == "B"
    }
    assert b_files_before == b_files_after


def test_commit_conflict_retries_to_next_version(spark, table):
    # simulate a concurrent writer owning version 1
    log_dir = os.path.join(table.root, "_txlog")
    rival = {"version": 1, "op": "append", "ts": 0, "adds": [], "removes": []}
    with open(os.path.join(log_dir, "00000001.json"), "w") as fh:
        json.dump(rival, fh)
    v = table.append(_mkdf(spark, [(6, "B", 60)]))
    assert v == 2  # lost the race for v1, landed at v2
    assert table.snapshot().count() == 4


def test_orphan_files_invisible_and_vacuumed(spark, table):
    # a crashed writer left a parquet file in the table dir, uncommitted
    orphan_dir = os.path.join(table.root, "seg=A")
    _mkdf(spark, [(99, "A", 990)]).drop("seg").write.mode("append").parquet(orphan_dir)
    orphans = [
        f for f in os.listdir(orphan_dir)
        if f.endswith(".parquet")
        and f"seg=A/{f}" not in {a["path"] for a in table._active_files()}
    ]
    assert orphans, "fixture should have created an uncommitted file"
    assert table.snapshot().count() == 3  # snapshot readers never see it
    deleted = table.vacuum()
    assert any(p.endswith(o) for o in orphans for p in deleted)
    assert table.snapshot().count() == 3


def test_vacuum_retains_time_travel_window(spark, table):
    table.overwrite(_mkdf(spark, [(9, "C", 90)]))
    # retain one historical version: v0's files survive
    deleted = table.vacuum(retain_versions=1)
    assert deleted == []
    assert table.snapshot(version=0).count() == 3
    # drop history: v0's files go, latest still reads
    table.vacuum(retain_versions=0)
    assert table.snapshot().count() == 1


def test_append_schema_evolution(spark, table):
    evolved = spark.createDataFrame([(7, "B", 70, "extra")], ["id", "seg", "val", "note"])
    table.append(evolved)
    snap = table.snapshot()
    assert "note" in snap.columns
    got = {(r.id, r.note) for r in snap.collect()}
    assert (7, "extra") in got
    assert all(r.note is None for r in snap.filter(F.col("id") != 7).collect())


def test_history_records_operations(spark, table):
    table.append(_mkdf(spark, [(4, "B", 40)]))
    table.replace_where(_mkdf(spark, [(4, "B", 44), (3, "B", 33)]), {"seg": ["B"]})
    ops = [c["op"] for c in table.history()]
    assert ops == ["create", "append", "replace_where"]
    assert table.history()[2]["predicate"] == {"seg": ["B"]}


def test_append_once_is_idempotent(spark, table):
    v = table.append_once(_mkdf(spark, [(4, "B", 40)]), app_id="ckpt-1", batch_id=0)
    assert v is not None
    assert table.append_once(_mkdf(spark, [(4, "B", 40)]), "ckpt-1", 0) is None
    assert table.snapshot().count() == 4  # replay added nothing
    # a later batch from the same writer commits
    assert table.append_once(_mkdf(spark, [(5, "A", 50)]), "ckpt-1", 1) is not None
    # ...and an older/equal batch id after it is still a no-op
    assert table.append_once(_mkdf(spark, [(6, "B", 60)]), "ckpt-1", 1) is None
    assert table.snapshot().count() == 5


def test_append_stream_exactly_once(spark, table, tmp_path):
    from projectdatalake_spark.sources.txlog import append_stream

    src = str(tmp_path / "src")
    _mkdf(spark, [(10, "A", 100), (11, "B", 110)]).write.parquet(src)
    stream = spark.readStream.schema(_mkdf(spark, [(0, "x", 0)]).schema).parquet(src)
    ckpt = str(tmp_path / "ckpt")
    q = append_stream(stream, table, ckpt)
    q.awaitTermination(120)
    assert table.snapshot().count() == 5
    # restart from the same checkpoint: no new input -> no new commits
    before = table.latest_version()
    q2 = append_stream(stream, table, ckpt)
    q2.awaitTermination(120)
    assert table.latest_version() == before
    assert table.snapshot().count() == 5
    txns = [c["txn"] for c in table.history() if c.get("txn")]
    assert txns == [{"app": ckpt, "batch": 0}]


def test_optimize_compacts_transactionally(spark, table):
    # three more appends -> partition A holds 4 files
    for i in range(3):
        table.append(_mkdf(spark, [(20 + i, "A", i)]))
    pre_version = table.latest_version()
    before = {(r.id, r.seg, r.val) for r in table.snapshot().collect()}
    a_files = [a for a in table._active_files() if a["partition"]["seg"] == "A"]
    assert len(a_files) >= 4
    v = table.optimize()
    assert v == pre_version + 1
    after = {(r.id, r.seg, r.val) for r in table.snapshot().collect()}
    assert after == before  # pure layout change
    a_after = [a for a in table._active_files() if a["partition"]["seg"] == "A"]
    assert len(a_after) == 1
    # time travel to pre-optimize still resolves the old files
    assert {(r.id, r.seg, r.val) for r in table.snapshot(pre_version).collect()} == before
    # nothing left to compact
    assert table.optimize() is None


def test_optimize_abandons_on_concurrent_partition_change(spark, table):
    table.append(_mkdf(spark, [(21, "A", 1)]))
    # plan an optimize, then yank one of its inputs before publish
    import projectdatalake_spark.sources.txlog as TL

    original = TL.TxTable._publish

    def racing_publish(self, op, adds, removes, precondition=None, **extra):
        if op == "optimize" and not getattr(self, "_raced", False):
            self._raced = True
            self.replace_where(_mkdf(spark, [(1, "A", -1)]), {"seg": ["A"]})
        return original(self, op, adds, removes, precondition=precondition, **extra)

    TL.TxTable._publish = racing_publish
    try:
        assert table.optimize() is None  # abandoned, not resurrected
    finally:
        TL.TxTable._publish = original
    got = {(r.id, r.val) for r in table.snapshot().collect()}
    assert got == {(1, -1), (3, 30)}  # the racing replace won; no stale rows


def test_write_time_stats_recorded(spark, table):
    for a in table._active_files():
        assert "stats" in a
        assert set(a["stats"]) == {"id", "val"}  # partition col excluded
        assert a["stats"]["id"]["min"] <= a["stats"]["id"]["max"]


def test_snapshot_where_skips_files_and_matches_filter(spark, table):
    # three more commits with disjoint val ranges -> separate files
    table.append(_mkdf(spark, [(4, "A", 100), (5, "B", 110)]))
    table.append(_mkdf(spark, [(6, "A", 200), (7, "B", 210)]))
    table.append(_mkdf(spark, [(8, "A", 300), (9, "B", 310)]))
    full = table.snapshot()
    pruned = table.snapshot(where={"val": (200, 210)})
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    want = {(r.id, r.val) for r in full.filter("val between 200 and 210").collect()}
    got = {(r.id, r.val) for r in pruned.collect()}
    assert got == want == {(6, 200), (7, 210)}
    # one-sided + unbounded intervals
    assert {r.id for r in table.snapshot(where={"val": (300, None)}).collect()} == {8, 9}
    assert table.snapshot(where={"val": (None, 30)}).count() == 3
    # empty overlap -> empty result, schema intact
    none = table.snapshot(where={"val": (9999, None)})
    assert none.count() == 0 and set(none.columns) == {"id", "seg", "val"}


def test_changes_feed(spark, table):
    table.append(_mkdf(spark, [(4, "B", 40)]))                       # v1: insert
    table.replace_where(_mkdf(spark, [(1, "A", 99)]), {"seg": ["A"]})  # v2: delete A + insert
    # v3: optimize is data-neutral and must not appear in the feed
    table.append(_mkdf(spark, [(7, "A", 70)]))                       # v3
    assert table.optimize() is not None                              # v4
    ch = table.changes(0)
    got = {(r.id, r.seg, r.val, r._change_type, r._commit_version) for r in ch.collect()}
    assert (4, "B", 40, "insert", 1) in got
    assert (1, "A", 99, "insert", 2) in got
    assert (1, "A", 10, "delete", 2) in got and (2, "A", 20, "delete", 2) in got
    assert (7, "A", 70, "insert", 3) in got
    assert not any(v == 4 for (_, _, _, _, v) in got), "optimize leaked into CDC"
    # incremental window: only v3
    ch3 = table.changes(2, 3)
    assert {(r.id, r._change_type) for r in ch3.collect()} == {(7, "insert")}
    # empty window keeps schema
    empty = table.changes(table.latest_version())
    assert empty.count() == 0
    assert "_change_type" in empty.columns


def test_schema_enforcement_rejects_type_change(spark, table):
    bad = spark.createDataFrame([(4, "B", "not-an-int")], ["id", "seg", "val"])
    with pytest.raises(ValueError, match="schema enforcement.*val"):
        table.append(bad)
    assert table.snapshot().count() == 3  # nothing landed
    # additive new column still allowed
    table.append(spark.createDataFrame([(4, "B", 40, 1.5)], ["id", "seg", "val", "score"]))
    assert table.snapshot().count() == 4


def test_check_constraints_enforced_at_write(spark, table):
    table.add_constraint("positive_val", "val > 0")
    with pytest.raises(ValueError, match="positive_val.*violated by 1"):
        table.append(_mkdf(spark, [(4, "B", -5)]))
    table.append(_mkdf(spark, [(4, "B", 5)]))  # satisfying batch lands
    assert table.snapshot().count() == 4
    # NULL predicate passes (SQL CHECK semantics)
    evolved = spark.createDataFrame([(5, "A", None)], "id long, seg string, val long")
    table.append(evolved)
    assert table.snapshot().count() == 5
    # installing a constraint the table already violates is rejected
    with pytest.raises(ValueError, match="existing rows violate"):
        table.add_constraint("small_id", "id < 3")
    # dropped constraint stops enforcing
    table.drop_constraint("positive_val")
    table.append(_mkdf(spark, [(6, "B", -1)]))
    assert table.active_constraints() == {}


def test_hidden_partitioning_days(spark, tmp_path):
    import datetime

    rows = [
        (1, "2024-01-01 10:00:00", 10.0),
        (2, "2024-01-01 18:00:00", 20.0),
        (3, "2024-01-02 09:00:00", 30.0),
        (4, "2024-01-03 09:00:00", 40.0),
    ]
    df = spark.createDataFrame(rows, ["id", "ts", "v"]).select(
        "id", F.col("ts").cast("timestamp_ntz").alias("ts"), "v"
    )
    t = TxTable.create(spark, str(tmp_path / "hp"), df, partition_by=("days(ts)",))
    # the hidden column exists on disk but never in the user's frame
    assert "_p_days_ts" not in t.snapshot().columns
    assert {a["partition"]["_p_days_ts"] for a in t._active_files()} == {
        "2024-01-01", "2024-01-02", "2024-01-03",
    }
    # source-column predicate prunes whole day-partitions
    full = t.snapshot()
    pruned = t.snapshot(
        where={"ts": (datetime.datetime(2024, 1, 2), datetime.datetime(2024, 1, 2, 23))}
    )
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    assert {r.id for r in pruned.collect()} == {3}
    # merge through the transform rewrites only the touched day
    d3_before = {a["path"] for a in t._active_files() if a["partition"]["_p_days_ts"] == "2024-01-03"}
    upd = spark.createDataFrame(
        [(3, "2024-01-02 09:00:00", 99.0)], ["id", "ts", "v"]
    ).select("id", F.col("ts").cast("timestamp_ntz").alias("ts"), "v")
    t.merge_upsert(upd, keys=["id"])
    assert {(r.id, r.v) for r in t.snapshot().collect()} == {
        (1, 10.0), (2, 20.0), (3, 99.0), (4, 40.0)
    }
    d3_after = {a["path"] for a in t._active_files() if a["partition"]["_p_days_ts"] == "2024-01-03"}
    assert d3_before == d3_after


def test_days_partitioning_session_tz_independent(spark, tmp_path):
    """days(ts) over a TIMESTAMP (LTZ) column routes rows by the
    instant's UTC calendar day regardless of spark.sql.session.timeZone.
    Regression: the transform used date_format on the raw timestamp,
    which renders in the session timezone — the same instant would land
    in different partitions under different sessions, and pruning
    (which assumes UTC days) would silently miss rows."""
    import datetime

    utc = datetime.timezone.utc
    rows = [
        # 2024-01-02 02:00 UTC == 2024-01-01 18:00 PST: a session-tz
        # rendering under PST would misfile this row into Jan 1
        (1, datetime.datetime(2024, 1, 2, 2, 0, tzinfo=utc), 1.0),
        (2, datetime.datetime(2024, 1, 1, 12, 0, tzinfo=utc), 2.0),
        (3, datetime.datetime(2024, 1, 3, 23, 30, tzinfo=utc), 3.0),
    ]
    base_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        df = spark.createDataFrame(rows, ["id", "ts", "v"]).select(
            "id", F.col("ts").cast("timestamp").alias("ts"), "v"
        )
        t = TxTable.create(
            spark, str(tmp_path / "tzdays"), df, partition_by=("days(ts)",)
        )
        assert {a["partition"]["_p_days_ts"] for a in t._active_files()} == {
            "2024-01-01", "2024-01-02", "2024-01-03",
        }
        # prune with an aware bound: Jan 2 UTC holds exactly row 1
        pruned = t.snapshot(
            where={
                "ts": (
                    datetime.datetime(2024, 1, 2, tzinfo=utc),
                    datetime.datetime(2024, 1, 2, 23, 59, tzinfo=utc),
                )
            }
        )
        assert {r.id for r in pruned.collect()} == {1}
        assert len(pruned.inputFiles()) < len(t.snapshot().inputFiles())
    finally:
        spark.conf.set("spark.sql.session.timeZone", base_tz)
    # written under PST, read under UTC: same partitions, same answer
    t2 = TxTable(spark, str(tmp_path / "tzdays"))
    pruned2 = t2.snapshot(
        where={
            "ts": (
                datetime.datetime(2024, 1, 2, tzinfo=utc),
                datetime.datetime(2024, 1, 2, 23, 59, tzinfo=utc),
            )
        }
    )
    assert {r.id for r in pruned2.collect()} == {1}


def test_hidden_partitioning_bucket_and_truncate(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, f"name-{i:03d}", i * 1.0) for i in range(20)], ["id", "name", "v"]
    )
    t = TxTable.create(
        spark, str(tmp_path / "bt"), df, partition_by=("bucket(4, id)", "truncate(6, name)")
    )
    snap = t.snapshot()
    assert set(snap.columns) == {"id", "name", "v"}
    assert snap.count() == 20
    buckets = {a["partition"]["_p_bucket_id"] for a in t._active_files()}
    assert buckets <= {"0", "1", "2", "3"} and len(buckets) > 1
    # truncate transform prunes on the string prefix
    pruned = t.snapshot(where={"name": ("name-01", "name-019")})
    got = {r.id for r in pruned.collect()}
    assert got == set(range(10, 20))


def test_checkpoint_consolidates_log(spark, table):
    for i in range(11):  # crosses the auto-checkpoint threshold at v10
        table.append(_mkdf(spark, [(100 + i, "A", i)]))
    assert table._read_checkpoint() is not None
    assert table._read_checkpoint()["version"] == 10
    want = {(r.id, r.val) for r in table.snapshot().collect()}
    # simulate log retention pruning the pre-checkpoint commit files:
    # snapshot planning must come from the checkpoint alone
    import glob as _glob
    import os
    for p in sorted(_glob.glob(os.path.join(table.root, "_txlog", "0000000[0-5].json"))):
        os.remove(p)
    got = {(r.id, r.val) for r in table.snapshot().collect()}
    assert got == want
    # and new commits still replay on top of the checkpoint
    table.append(_mkdf(spark, [(999, "B", 9)]))
    assert (999, 9) in {(r.id, r.val) for r in table.snapshot().collect()}


def test_optimize_sort_clustering_tightens_stats(spark, tmp_path):
    import random

    rng = random.Random(7)
    rows = [(i, rng.randrange(0, 10_000)) for i in range(4000)]
    df = spark.createDataFrame(rows, ["id", "v"]).repartition(8)
    t = TxTable.create(spark, str(tmp_path / "cl"), df)
    # interleaved writes: every file spans ~the full v range -> no skipping
    widths = [
        a["stats"]["v"]["max"] - a["stats"]["v"]["min"] for a in t._active_files()
    ]
    assert min(widths) > 5_000
    assert len(t.snapshot(where={"v": (100, 200)}).inputFiles()) == len(t._active_files())
    before = {(r.id, r.v) for r in t.snapshot().collect()}
    t.optimize(sort_by=("v",), target_files=8)
    after_files = t._active_files()
    # disjoint narrow ranges -> the same interval now touches few files
    widths = [a["stats"]["v"]["max"] - a["stats"]["v"]["min"] for a in after_files]
    assert sum(widths) <= 11_000  # ranges partition the domain, not cover it 8x
    pruned = t.snapshot(where={"v": (100, 200)})
    assert len(pruned.inputFiles()) <= 2
    assert {(r.id, r.v) for r in t.snapshot().collect()} == before
    assert {(r.id, r.v) for r in pruned.collect()} == {
        (i, v) for i, v in rows if 100 <= v <= 200
    }


def test_checkpoint_state_survives_log_pruning(spark, tmp_path):
    """The checkpoint consolidates ALL metadata state — partition specs,
    bloom/cluster settings, column mapping, constraints, widened schema —
    so a log-retention job pruning pre-checkpoint commits loses nothing
    (Delta checkpoints consolidate metadata actions for the same reason).
    Before this, every history-walking helper silently reverted to
    defaults once commit 0 vanished."""
    import glob as _glob
    import os

    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [(i, "A" if i % 2 else "B", i * 10) for i in range(1, 5)],
        "id int, seg string, val int",
    )
    t = TxTable.create(
        spark, str(tmp_path / "st"), df, partition_by=("seg",),
        bloom_by=("id",), cluster_by=("val",), cluster_target_files=2,
    )
    t.rename_column("val", "amount")
    t.add_constraint("pos", "amount IS NULL OR amount >= 0")
    t.widen_column("id", "bigint")
    t.checkpoint()
    ck_v = t.latest_version()
    for p in sorted(_glob.glob(os.path.join(t.root, "_txlog", "*.json"))):
        name = os.path.basename(p)
        if name.endswith(".checkpoint.json"):
            continue
        if int(name[:-5]) < ck_v:
            os.remove(p)

    t2 = TxTable(spark, t.root)  # fresh instance, no warm caches
    assert t2._partition_by() == ("seg",)
    assert ("seg",) in t2._all_partition_specs()
    assert t2._bloom_by() == ("id",)
    assert (t2._cluster_spec() or {}).get("by") == ["val"]
    assert t2.column_mapping()["amount"] == "val"
    assert t2.active_constraints() == {"pos": "amount IS NULL OR amount >= 0"}
    assert t2.table_schema()["id"] == "bigint"
    # behavior, not just metadata: renamed-column read; constraint still
    # enforced; append inherits clustering and the widened type
    assert {r.amount for r in t2.snapshot().collect()} == {10, 20, 30, 40}
    with pytest.raises(ValueError, match="pos"):
        t2.append(
            spark.createDataFrame([(9, "A", -5)], "id long, seg string, amount int")
        )
    t2.append(
        spark.createDataFrame([(9, "A", 90)], "id long, seg string, amount int")
    )
    assert t2.snapshot().filter(F.col("amount") == 90).count() == 1
    # re-checkpoint after pruning builds on the previous base
    t2.checkpoint()
    assert t2._read_checkpoint()["state"]["mapping"]["amount"] == "val"


def test_prune_log_retention(spark, table):
    """prune_log deletes commit JSONs below the horizon, refuses without
    a state checkpoint, never prunes past the checkpoint, and reads
    below the new horizon raise instead of going silently wrong."""
    import os

    with pytest.raises(ValueError, match="checkpoint"):
        table.prune_log()
    for i in range(11):  # crosses the auto-checkpoint at v10
        table.append(_mkdf(spark, [(100 + i, "A", i)]))
    want = {(r.id, r.val) for r in table.snapshot().collect()}
    deleted = table.prune_log(retain_versions=1)
    # latest=11, retain 1 → cutoff 10 (also the checkpoint version bound)
    assert deleted == [f"{v:08d}.json" for v in range(10)]
    assert not os.path.exists(os.path.join(table.root, "_txlog", "00000003.json"))
    t2 = TxTable(table.spark, table.root)
    assert {(r.id, r.val) for r in t2.snapshot().collect()} == want
    # time travel AT the checkpoint still works (one append shy of tip)
    assert {(r.id, r.val) for r in t2.snapshot(version=10).collect()} == want - {
        (110, 10)
    }
    with pytest.raises(ValueError, match="horizon"):
        t2.snapshot(version=5)
    # writes continue on the pruned log
    t2.append(_mkdf(spark, [(999, "B", 9)]))
    assert (999, 9) in {(r.id, r.val) for r in t2.snapshot().collect()}


def test_upsert_stream_exactly_once(spark, table, tmp_path):
    from projectdatalake_spark.sources.txlog import upsert_stream

    src = str(tmp_path / "updates")
    # update id=1 (stays in A), move id=3 B→A, insert id=7
    _mkdf(spark, [(1, "A", 111), (3, "A", 333), (7, "B", 70)]).write.parquet(src)
    stream = spark.readStream.schema(_mkdf(spark, [(0, "x", 0)]).schema).parquet(src)
    ckpt = str(tmp_path / "ck")
    q = upsert_stream(stream, table, ["id"], ckpt)
    q.awaitTermination(120)
    got = {(r.id, r.seg, r.val) for r in table.snapshot().collect()}
    assert got == {(1, "A", 111), (2, "A", 20), (3, "A", 333), (7, "B", 70)}
    # restart from the same checkpoint: no new input → no new commits
    before = table.latest_version()
    q2 = upsert_stream(stream, table, ["id"], ckpt)
    q2.awaitTermination(120)
    assert table.latest_version() == before
    # crash-replay simulation: same (app, batch) is a no-op
    assert table._txn_seen(ckpt, 0)
    table.with_txn(ckpt, 0)
    assert (
        table.merge_upsert(_mkdf(spark, [(1, "A", 999)]), ["id"]) is None
    )
    assert {(r.id, r.val) for r in table.snapshot().collect()} == {
        (1, 111), (2, 20), (3, 333), (7, 70)
    }
    txns = [c["txn"] for c in table.history() if c.get("txn")]
    assert txns == [{"app": ckpt, "batch": 0}]


def test_apply_changes_cdc(spark, table):
    """apply_changes: one atomic commit carrying updates, inserts, AND
    key deletes; untouched partitions survive byte-identical."""
    changes = spark.createDataFrame(
        [
            (1, "A", 111, False),   # update in A
            (5, "A", 50, False),    # insert into A
            (2, "A", 0, True),      # delete from A (carries partition)
        ],
        ["id", "seg", "val", "_deleted"],
    )
    b_before = {
        a["path"]: a["size"] for a in table._active_files()
        if a["partition"]["seg"] == "B"
    }
    v = table.apply_changes(changes, ["id"])
    assert v == 1
    got = {(r.id, r.seg, r.val) for r in table.snapshot().collect()}
    assert got == {(1, "A", 111), (5, "A", 50), (3, "B", 30)}
    b_after = {
        a["path"]: a["size"] for a in table._active_files()
        if a["partition"]["seg"] == "B"
    }
    assert b_before == b_after  # B never rewritten
    assert table.snapshot(version=0).count() == 3  # time travel intact


def test_upsert_stream_with_deletes(spark, table, tmp_path):
    from projectdatalake_spark.sources.txlog import upsert_stream

    src = str(tmp_path / "cdc")
    spark.createDataFrame(
        [(1, "A", 111, False), (3, "B", 0, True), (7, "B", 70, False)],
        ["id", "seg", "val", "_deleted"],
    ).write.parquet(src)
    stream = spark.readStream.schema(
        "id long, seg string, val long, _deleted boolean"
    ).parquet(src)
    ckpt = str(tmp_path / "ck2")
    q = upsert_stream(stream, table, ["id"], ckpt, delete_col="_deleted")
    q.awaitTermination(120)
    got = {(r.id, r.seg, r.val) for r in table.snapshot().collect()}
    assert got == {(1, "A", 111), (2, "A", 20), (7, "B", 70)}
    # replay from the same checkpoint: no-op
    before = table.latest_version()
    q2 = upsert_stream(stream, table, ["id"], ckpt, delete_col="_deleted")
    q2.awaitTermination(120)
    assert table.latest_version() == before


def test_concurrent_writers_stress(spark, table):
    """Optimistic-concurrency stress: 8 writer threads, each its own
    TxTable instance, racing 3 appends apiece against the same log.
    Every append must land (the retry loop absorbs CommitConflict),
    versions must be gap-free, and the final snapshot must hold every
    row exactly once — the serializability contract exclusive-create
    commits are supposed to buy."""
    import threading

    n_writers, n_batches = 8, 3
    errors: list[Exception] = []

    def writer(w: int) -> None:
        try:
            t = TxTable(table.spark, table.root)  # independent instance
            for b in range(n_batches):
                t.append(
                    _mkdf(table.spark, [(1000 + w * 10 + b, "A", w * 100 + b)])
                )
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(n_writers)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    versions = [c["version"] for c in table.history()]
    assert versions == list(range(n_writers * n_batches + 1))  # gap-free
    got = {(r.id, r.val) for r in table.snapshot().collect()}
    want = {(1, 10), (2, 20), (3, 30)} | {
        (1000 + w * 10 + b, w * 100 + b)
        for w in range(n_writers)
        for b in range(n_batches)
    }
    assert got == want


def test_dynamic_partition_pruning_through_snapshot(spark, tmp_path):
    """Joins against a filtered dim prune txlog partitions at RUNTIME
    (Spark DPP): snapshot() keeps hive-style partition inference (explicit
    file list + basePath), so the scan carries PartitionFilters and the
    planner injects the dynamicpruning subquery — scan-side file pruning
    driven by the dim filter, the join-shaped complement to the log's own
    static where= pruning. At 100 TB this is the difference between
    scanning one partition and all of them for every star join."""
    import pyspark.sql.functions as F

    rows = [(i, 1995 + i % 4) for i in range(400)]
    df = spark.createDataFrame(rows, ["id", "yr"])
    t = TxTable.create(spark, str(tmp_path / "dpp"), df, partition_by=("yr",))
    dim = spark.createDataFrame(
        [(1995, "keep"), (1996, "drop"), (1997, "drop"), (1998, "drop")],
        ["yr", "tag"],
    ).filter(F.col("tag") == "keep")
    j = t.snapshot().join(dim, "yr")
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    assert "PartitionFilters" in plan, plan
    assert j.count() == 100


def test_clustered_write_skipping(spark, tmp_path):
    """Stats-clustered sink: cluster_by at create makes every write
    range-shuffle + sort + split by maxRecordsPerFile, so files carve the
    key domain into tight disjoint slices and interval reads skip."""
    import random

    rng = random.Random(11)
    rows = [(i, rng.randrange(0, 10_000)) for i in range(4000)]
    df = spark.createDataFrame(rows, ["id", "v"]).repartition(8)
    t = TxTable.create(
        spark, str(tmp_path / "cw"), df,
        cluster_by=("v",), cluster_target_files=8, cluster_max_rows=300,
    )
    files = t._active_files()
    # maxRecordsPerFile splits the 8 ranges further (4000/300 ≈ 14 files)
    assert len(files) >= 12
    widths = [a["stats"]["v"]["max"] - a["stats"]["v"]["min"] for a in files]
    # disjoint slices PARTITION the domain (an unclustered 14-file write
    # would sum to ~14 × full-range; see the sibling interleaved test)
    assert sum(widths) <= 11_000
    pruned = t.snapshot(where={"v": (100, 200)})
    assert len(pruned.inputFiles()) <= 2
    assert {(r.id, r.v) for r in pruned.collect()} == {
        (i, v) for i, v in rows if 100 <= v <= 200
    }
    # append INHERITS the table's clustering setting
    rows2 = [(10_000 + i, rng.randrange(0, 10_000)) for i in range(2000)]
    t.append(spark.createDataFrame(rows2, ["id", "v"]).repartition(8))
    old = {a["path"] for a in files}
    new = [a for a in t._active_files() if a["path"] not in old]
    assert sum(a["stats"]["v"]["max"] - a["stats"]["v"]["min"] for a in new) <= 11_000
    # full-table read still exact
    assert {(r.id, r.v) for r in t.snapshot().collect()} == set(rows) | set(rows2)
    # metadata commit turns clustering off; later writes are unclustered
    t.set_clustering(())
    assert t._cluster_spec() is None
    t.append(spark.createDataFrame(rows, ["id", "v"]).repartition(6))
    assert t.snapshot().count() == 10_000


def test_delete_where_partition_scoped(spark, table):
    b_before = {a["path"] for a in table._active_files() if a["partition"]["seg"] == "B"}
    v = table.delete_where("seg = 'A' AND val >= 20")
    assert v is not None
    assert {(r.id, r.val) for r in table.snapshot().collect()} == {(1, 10), (3, 30)}
    # partition B untouched; time travel still sees the deleted row
    b_after = {a["path"] for a in table._active_files() if a["partition"]["seg"] == "B"}
    assert b_before == b_after
    assert table.snapshot(version=0).count() == 3
    # no matches -> no commit
    assert table.delete_where("val > 10000") is None
    # NULL predicate rows survive (SQL DELETE semantics)
    evolved = spark.createDataFrame([(9, "B", None)], "id long, seg string, val long")
    table.append(evolved)
    table.delete_where("val < 100")
    assert {r.id for r in table.snapshot().collect()} == {9}  # NULL-val row kept


# --- deletion vectors ------------------------------------------------------


def test_delete_dv_no_file_rewrite(spark, table):
    before = {a["path"]: a["size"] for a in table._active_files()}
    v = table.delete_where_dv("val = 20")
    assert v == 1
    after = {a["path"]: a["size"] for a in table._active_files()}
    assert before == after  # zero data files touched
    assert {(r.id, r.val) for r in table.snapshot().collect()} == {(1, 10), (3, 30)}
    # time travel to pre-delete still sees the row
    assert table.snapshot(version=0).count() == 3
    # nothing matched -> no commit
    assert table.delete_where_dv("val = 999") is None
    # a second vector stacks; already-masked rows do not rematch
    assert table.delete_where_dv("val <= 10") == 2
    assert {r.id for r in table.snapshot().collect()} == {3}


def test_prune_log_keeps_live_deletion_vectors(spark, table):
    """The checkpoint records the vectors in force, so pruning the
    delete_dv commit that wrote one cannot resurrect its rows."""
    assert table.delete_where_dv("val = 20") is not None
    table.append(_mkdf(spark, [(4, "B", 40)]))
    table.checkpoint()
    table.prune_log(retain_versions=0)
    t2 = TxTable(table.spark, table.root)
    assert not any("dv" in c for c in t2.history())  # the DV commit is gone
    got = {(r.id, r.val) for r in t2.snapshot().collect()}
    assert got == {(1, 10), (3, 30), (4, 40)}
    # a later vector stacks on the checkpointed one
    assert t2.delete_where_dv("id = 4") is not None
    assert {r.id for r in t2.snapshot().collect()} == {1, 3}


def test_delete_dv_changes_feed(spark, table):
    table.delete_where_dv("id = 1")
    ch = table.changes(0).collect()
    assert [(r.id, r._change_type, r._commit_version) for r in ch] == [(1, "delete", 1)]


def test_optimize_materializes_deletion_vectors(spark, table):
    table.append(_mkdf(spark, [(4, "A", 40)]))
    table.delete_where_dv("id = 1")
    assert table._active_dvs() != []
    assert table.optimize(min_files=2) is not None
    assert table._active_dvs() == []  # vector died with its files
    assert {r.id for r in table.snapshot().collect()} == {2, 3, 4}


def test_vacuum_retains_active_dv(spark, table):
    table.delete_where_dv("id = 1")
    deleted = table.vacuum()
    assert all(not p.startswith("_dv/") for p in deleted)
    assert {r.id for r in table.snapshot().collect()} == {2, 3}


# --- column mapping --------------------------------------------------------


def test_rename_column_zero_rewrite(spark, table):
    before = {a["path"]: a["size"] for a in table._active_files()}
    assert table.rename_column("val", "amount") == 1
    assert before == {a["path"]: a["size"] for a in table._active_files()}
    cols = table.snapshot().columns
    assert "amount" in cols and "val" not in cols
    # writes use the logical name; files keep storing the physical one
    table.append(spark.createDataFrame([(5, "B", 50)], ["id", "seg", "amount"]))
    got = {(r.id, r.amount) for r in table.snapshot().collect()}
    assert got == {(1, 10), (2, 20), (3, 30), (5, 50)}
    assert table.logical_schema()["amount"] == "bigint"
    # logical filters and DV deletes work on the renamed column
    assert table.delete_where_dv("amount = 50") is not None
    assert {r.amount for r in table.snapshot().collect()} == {10, 20, 30}


def test_rename_column_guards(spark, table):
    with pytest.raises(ValueError, match="partition source"):
        table.rename_column("seg", "segment")
    with pytest.raises(ValueError, match="already exists"):
        table.rename_column("val", "id")
    table.add_constraint("val_pos", "val >= 0")
    with pytest.raises(ValueError, match="CHECK constraint"):
        table.rename_column("val", "amount")


# --- restore ---------------------------------------------------------------


def test_restore_rolls_back_data(spark, table):
    table.append(_mkdf(spark, [(4, "B", 40)]))          # v1
    table.overwrite(_mkdf(spark, [(9, "C", 90)]))       # v2
    v = table.restore(1)                                # back to v1 state
    assert v == 3
    got = {(r.id, r.seg, r.val) for r in table.snapshot().collect()}
    assert got == {(1, "A", 10), (2, "A", 20), (3, "B", 30), (4, "B", 40)}
    # history preserved: time travel above the restore still works
    assert {r.id for r in table.snapshot(version=2).collect()} == {9}


def test_restore_does_not_resurrect_later_dv_deletes(spark, table):
    table.append(_mkdf(spark, [(4, "B", 40)]))          # v1
    table.delete_where_dv("id = 1")                     # v2 (mask on v0 file)
    table.restore(1)                                    # v3: restore PRE-delete
    # the v2 deletion vector must not leak through the restore
    assert {r.id for r in table.snapshot().collect()} == {1, 2, 3, 4}
    # and restoring to a post-delete version keeps the mask
    table.restore(2)
    assert {r.id for r in table.snapshot().collect()} == {2, 3, 4}


def test_restore_refuses_vacuumed_target(spark, table):
    table.overwrite(_mkdf(spark, [(9, "C", 90)]))       # v1: v0 files removed
    table.vacuum(retain_versions=0)                     # reap v0 files
    with pytest.raises(ValueError, match="vacuumed"):
        table.restore(0)


# --- shallow clone ---------------------------------------------------------


def test_clone_is_zero_copy_and_isolated(spark, table, tmp_path):
    clone = table.clone_to(str(tmp_path / "clone"))
    # zero-copy: the clone root holds no data files, only its log
    import os
    clone_files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(str(tmp_path / "clone"))
        for f in fs
        if f.endswith(".parquet")
    ]
    assert clone_files == []
    assert {(r.id, r.val) for r in clone.snapshot().collect()} == {(1, 10), (2, 20), (3, 30)}
    # writes to the clone never touch the source
    clone.append(_mkdf(spark, [(4, "B", 40)]))
    clone.delete_where("id = 1")
    assert {r.id for r in clone.snapshot().collect()} == {2, 3, 4}
    assert {r.id for r in table.snapshot().collect()} == {1, 2, 3}
    # stats-based skipping still works through the clone's foreign refs
    assert {r.id for r in clone.snapshot(where={"val": (25, None)}).collect()} == {3, 4}


def test_clone_carries_dv_and_rename(spark, table, tmp_path):
    table.delete_where_dv("id = 2")
    table.rename_column("val", "amount")
    clone = table.clone_to(str(tmp_path / "clone2"))
    got = {(r.id, r.amount) for r in clone.snapshot().collect()}
    assert got == {(1, 10), (3, 30)}
    # the clone's own vacuum must not delete the source's files
    clone.vacuum(retain_versions=0)
    assert {r.id for r in table.snapshot().collect()} == {1, 3}


def test_optimize_zorder_skips_on_both_columns(spark, tmp_path):
    import random

    rng = random.Random(11)
    rows = [(i, rng.randrange(0, 1000), rng.randrange(0, 1000)) for i in range(4000)]
    df = spark.createDataFrame(rows, ["id", "a", "b"]).repartition(8)
    t = TxTable.create(spark, str(tmp_path / "zo"), df)
    n_files = len(t._active_files())
    # interleaved writes: no predicate skips anything
    assert len(t.snapshot(where={"a": (0, 99)}).inputFiles()) == n_files
    before = {(r.id, r.a, r.b) for r in t.snapshot().collect()}
    t.optimize(zorder_by=("a", "b"), target_files=16)
    files = t._active_files()
    # Z-clustering: predicates on EITHER column now skip most files
    # (a single-column sort would only serve one of them)
    pruned_a = t.snapshot(where={"a": (0, 99)})
    pruned_b = t.snapshot(where={"b": (0, 99)})
    assert len(pruned_a.inputFiles()) <= len(files) // 2
    assert len(pruned_b.inputFiles()) <= len(files) // 2
    # results are exact, not approximate
    assert {(r.id, r.a, r.b) for r in t.snapshot().collect()} == before
    assert {(r.id, r.a, r.b) for r in pruned_a.collect()} == {
        (i, a, b) for i, a, b in rows if a <= 99
    }
    assert {(r.id, r.a, r.b) for r in pruned_b.collect()} == {
        (i, a, b) for i, a, b in rows if b <= 99
    }
    with pytest.raises(ValueError, match="not both"):
        t.optimize(sort_by=("a",), zorder_by=("b",))


def test_where_eq_dictionary_skipping(spark, tmp_path):
    # each file holds 2 labels that INTERLEAVE alphabetically, so min/max
    # ranges overlap almost everything and only the dictionary can prune
    def batch(i):
        rows = [(i * 200 + j, lab, j) for lab in (f"g{i}", f"g{i+4}") for j in range(100)]
        return spark.createDataFrame(rows, ["id", "lab", "v"]).coalesce(1)

    t = TxTable.create(spark, str(tmp_path / "dict"), batch(0))
    for i in range(1, 4):
        t.append(batch(i))
    files = t._active_files()
    assert len(files) == 4
    # dictionaries recorded for the low-cardinality column, not the id
    assert all(sorted(a["dict"]["lab"]) == sorted([f"g{i}", f"g{i+4}"])
               for i, a in enumerate(files))
    assert all("id" not in a.get("dict", {}) for a in files)
    # min/max alone cannot prune g2 (g0..g4 ranges overlap it); dict can
    pruned = t.snapshot(where_eq={"lab": "g2"})
    assert len(pruned.inputFiles()) == 1
    assert pruned.count() == 100
    assert {r.lab for r in pruned.collect()} == {"g2"}
    # equality + interval compose
    both = t.snapshot(where={"v": (0, 9)}, where_eq={"lab": "g2"})
    assert both.count() == 10


# --- partition evolution ---------------------------------------------------


def test_partition_evolution_append_and_prune(spark, table):
    # evolve seg -> val identity partitioning; nothing is rewritten
    before = {a["path"]: a["size"] for a in table._active_files()}
    table.set_partition_spec(("val",))
    assert before == {a["path"]: a["size"] for a in table._active_files()}
    # new writes land under the NEW spec
    table.append(_mkdf(spark, [(4, "B", 40)]))
    new = [a for a in table._active_files() if a["path"] not in before]
    assert all("val=40" in a["path"] for a in new)
    # reads see both eras; pruning works per era
    assert {r.id for r in table.snapshot().collect()} == {1, 2, 3, 4}
    pruned = table.snapshot(where={"val": (35, None)})
    # old-era files prune by stats; the new-era file by its val= path
    assert {r.id for r in pruned.collect()} == {4}


def test_partition_evolution_delete_migrates_stale_files(spark, table):
    table.set_partition_spec(("val",))
    table.append(_mkdf(spark, [(4, "B", 40)]))
    assert len(table._stale_spec_files()) > 0
    table.delete_where("id = 2")
    # the delete rewrote old-layout files under the new spec
    assert table._stale_spec_files() == []
    assert {(r.id, r.val) for r in table.snapshot().collect()} == {
        (1, 10), (3, 30), (4, 40)
    }
    # with migration complete, replace_where unlocks
    table.replace_where(_mkdf(spark, [(5, "C", 10)]), {"val": ["10"]})
    assert {r.id for r in table.snapshot().collect()} == {3, 4, 5}


def test_partition_evolution_merge_and_replace_guard(spark, table):
    table.set_partition_spec(("val",))
    with pytest.raises(ValueError, match="spec evolved"):
        table.replace_where(_mkdf(spark, [(9, "A", 10)]), {"val": ["10"]})
    updates = _mkdf(spark, [(2, "A", 21), (9, "C", 90)])
    table.merge_upsert(updates, keys=["id"])
    got = {(r.id, r.seg, r.val) for r in table.snapshot().collect()}
    assert got == {(1, "A", 10), (2, "A", 21), (3, "B", 30), (9, "C", 90)}
    assert table._stale_spec_files() == []


# --- UPDATE ... SET (copy-on-write) ---------------------------------------


def test_update_where_partition_scoped(spark, table):
    b_before = {
        a["path"]: a["size"] for a in table._active_files() if a["partition"]["seg"] == "B"
    }
    v = table.update_where("seg = 'A' AND val >= 20", {"val": "val + 5"})
    assert v is not None
    got = {(r.id, r.val) for r in table.snapshot().collect()}
    assert got == {(1, 10), (2, 25), (3, 30)}
    # partition B untouched — same files, same bytes
    b_after = {
        a["path"]: a["size"] for a in table._active_files() if a["partition"]["seg"] == "B"
    }
    assert b_before == b_after
    # time travel still sees the pre-update value
    assert {(r.id, r.val) for r in table.snapshot(version=0).collect()} == {
        (1, 10), (2, 20), (3, 30)
    }
    # no matches -> no commit
    assert table.update_where("val > 10000", {"val": "0"}) is None


def test_update_where_sql_semantics(spark, table):
    # NULL condition keeps the row as-is; RHS sees the PRE-update row
    evolved = spark.createDataFrame([(9, "B", None)], "id long, seg string, val long")
    table.append(evolved)
    table.update_where("val < 100", {"val": "val * 10", "id": "id + val"})
    got = {(r.id, r.val) for r in table.snapshot().collect()}
    # id computed from the ORIGINAL val (simultaneous assignment), NULL row kept
    assert got == {(11, 100), (22, 200), (33, 300), (9, None)}


def test_update_where_partition_column_falls_back_to_overwrite(spark, table):
    v = table.update_where("id = 3", {"seg": "'A'"})
    assert v is not None
    assert table.history()[-1]["op"] == "overwrite"
    got = {(r.id, r.seg, r.val) for r in table.snapshot().collect()}
    assert got == {(1, "A", 10), (2, "A", 20), (3, "A", 30)}


def test_update_where_rejects_unknown_column(spark, table):
    with pytest.raises(ValueError, match="unknown columns"):
        table.update_where("id = 1", {"nope": "1"})


def test_update_where_migrates_stale_files(spark, table):
    table.set_partition_spec(("val",))
    table.append(_mkdf(spark, [(4, "B", 40)]))
    assert len(table._stale_spec_files()) > 0
    table.update_where("id = 2", {"val": "val + 1"})
    assert table._stale_spec_files() == []
    assert {(r.id, r.val) for r in table.snapshot().collect()} == {
        (1, 10), (2, 21), (3, 30), (4, 40)
    }


def test_version_at_resolves_timestamps(spark, table):
    import time

    t0 = time.time()
    table.append(_mkdf(spark, [(4, "B", 40)]))
    assert table.version_at(t0) == 0
    assert table.version_at(time.time()) == 1
    with pytest.raises(ValueError, match="predates"):
        table.version_at(0.0)


# --- UPDATE via deletion vector (merge-on-read) ---------------------------


def test_update_dv_no_file_rewrite(spark, table):
    before = {a["path"]: a["size"] for a in table._active_files()}
    v = table.update_where_dv("val >= 20", {"val": "val + 1"})
    assert v == 1
    # every pre-existing data file survives byte-identical; the updated
    # images are NEW files on top
    after = {a["path"]: a["size"] for a in table._active_files()}
    assert all(after[p] == s for p, s in before.items())
    assert len(after) > len(before)
    got = {(r.id, r.val) for r in table.snapshot().collect()}
    assert got == {(1, 10), (2, 21), (3, 31)}
    # time travel still sees the pre-update values
    assert {r.val for r in table.snapshot(version=0).collect()} == {10, 20, 30}
    # nothing matched -> no commit
    assert table.update_where_dv("val = 999", {"val": "0"}) is None
    # updated images are live rows: a second update re-matches them
    assert table.update_where_dv("val = 21", {"val": "val * 10"}) == 2
    assert {(r.id, r.val) for r in table.snapshot().collect()} == {
        (1, 10), (2, 210), (3, 31)
    }


def test_update_dv_sql_semantics(spark, table):
    # NULL condition rows are untouched; RHS sees the pre-update row
    table.append(spark.createDataFrame([(9, "B", None)], "id long, seg string, val long"))
    table.update_where_dv("val < 100", {"val": "val * 10", "id": "id + val"})
    got = {(r.id, r.val) for r in table.snapshot().collect()}
    assert got == {(11, 100), (22, 200), (33, 300), (9, None)}


def test_update_dv_moves_rows_across_partitions(spark, table):
    # partition-column assignment needs no rewrite in merge-on-read: the
    # new image lands in its new partition, the old row is masked
    before = {a["path"]: a["size"] for a in table._active_files()}
    table.update_where_dv("id = 3", {"seg": "'C'"})
    after = {a["path"]: a["size"] for a in table._active_files()}
    assert all(after[p] == s for p, s in before.items())
    assert any(a["partition"]["seg"] == "C" for a in table._active_files())
    got = {(r.id, r.seg) for r in table.snapshot().collect()}
    assert got == {(1, "A"), (2, "A"), (3, "C")}


def test_update_dv_changes_feed(spark, table):
    table.update_where_dv("id = 2", {"val": "99"})
    ch = table.changes(0).collect()
    got = {(r.id, r.val, r._change_type, r._commit_version) for r in ch}
    assert got == {(2, 20, "delete", 1), (2, 99, "insert", 1)}


def test_optimize_materializes_update_dv(spark, table):
    table.update_where_dv("id = 1", {"val": "11"})
    assert table._active_dvs() != []
    assert table.optimize(min_files=2) is not None
    assert table._active_dvs() == []
    assert {(r.id, r.val) for r in table.snapshot().collect()} == {
        (1, 11), (2, 20), (3, 30)
    }


def test_bloom_skipping_high_cardinality(spark, tmp_path):
    from projectdatalake_spark.sources.readers import load_table
    from projectdatalake_spark.sources.txlog import _bloom_may_match
    from tests.conftest import SF_SMOKE

    o = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderpriority", F.col("o_totalprice").cast("double")
    )
    # hash-scatter the key across 8 files: min/max spans everything and the
    # dictionary (>64 distinct per file) never forms — bloom territory
    t = TxTable.create(
        spark,
        str(tmp_path / "bloomed"),
        o.repartition(8, "o_orderkey"),
        bloom_by=("o_orderkey",),
    )
    adds = t._active_files()
    assert len(adds) == 8
    assert all(a.get("bloom", {}).get("o_orderkey") for a in adds)
    assert not any(a.get("dict", {}).get("o_orderkey") for a in adds)

    some_key = o.limit(1).collect()[0]["o_orderkey"]
    # present key: exact result through the bloom path
    got = t.snapshot(where_eq={"o_orderkey": some_key})
    want = t.snapshot().filter(F.col("o_orderkey") == some_key)
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    assert got.count() >= 1

    # present key lives in exactly one hash partition: the other 7 files
    # must be bloom-prunable up to the (small) false-positive rate
    probes = t._bloom_probes({"o_orderkey": some_key})
    surviving = [a for a in adds if _bloom_may_match(a, probes)]
    assert len(surviving) <= 4

    # absent key: empty result, and most files pruned before the scan
    absent = -99999
    assert t.snapshot(where_eq={"o_orderkey": absent}).count() == 0
    probes = t._bloom_probes({"o_orderkey": absent})
    surviving = [a for a in adds if _bloom_may_match(a, probes)]
    assert len(surviving) <= 4


def test_bloom_survives_optimize_and_retro_setting(spark, tmp_path):
    from projectdatalake_spark.sources.readers import load_table
    from tests.conftest import SF_SMOKE

    c = load_table(spark, SF_SMOKE, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    t = TxTable.create(spark, str(tmp_path / "retro"), c.repartition(4))
    # no blooms yet: probing is a safe no-op (files kept)
    key = c.limit(1).collect()[0]["c_custkey"]
    assert t.snapshot(where_eq={"c_custkey": key}).count() == 1
    # opt in retroactively; OPTIMIZE rewrite backfills blooms
    t.set_bloom_columns(("c_custkey",))
    t.append(c.limit(0))  # no-op data, proves setting persists in log
    t.optimize(min_files=2, target_files=2)
    adds = t._active_files()
    assert all(a.get("bloom", {}).get("c_custkey") for a in adds)
    got = t.snapshot(where_eq={"c_custkey": key})
    assert got.count() == 1


# --- type widening ---------------------------------------------------------


def _ints(spark, rows):
    return spark.createDataFrame(rows, "id int, seg string, val int")


def test_widen_int_to_bigint_reads_old_and_new_files(spark, tmp_path):
    t = TxTable.create(spark, str(tmp_path / "w1"), _ints(spark, [(1, "A", 10)]))
    t.widen_column("val", "bigint")
    big = 2**40
    t.append(spark.createDataFrame([(2, "B", big)], "id int, seg string, val bigint"))
    snap = t.snapshot()
    assert dict(snap.dtypes)["val"] == "bigint"
    got = {(r.id, r.val) for r in snap.collect()}
    assert got == {(1, 10), (2, big)}


def test_widen_allows_narrow_batches_after(spark, tmp_path):
    t = TxTable.create(spark, str(tmp_path / "w2"), _ints(spark, [(1, "A", 10)]))
    t.widen_column("val", "bigint")
    # an int-typed batch is still a legal write (stores narrow, reads wide)
    t.append(_ints(spark, [(2, "B", 20)]))
    snap = t.snapshot()
    assert dict(snap.dtypes)["val"] == "bigint"
    assert snap.count() == 2


def test_widen_rejects_narrowing_and_unknown(spark, tmp_path):
    t = TxTable.create(spark, str(tmp_path / "w3"), _ints(spark, [(1, "A", 10)]))
    t.widen_column("val", "bigint")
    with pytest.raises(ValueError, match="not a supported widening"):
        t.widen_column("val", "int")  # narrowing back
    with pytest.raises(ValueError, match="unknown column"):
        t.widen_column("nope", "bigint")
    with pytest.raises(ValueError, match="not a supported widening"):
        t.widen_column("seg", "bigint")  # cross-family
    # a too-wide batch without widen_column is still rejected
    with pytest.raises(ValueError, match="schema enforcement"):
        t.append(spark.createDataFrame([(2, "B", 1.5)], "id int, seg string, val double"))


def test_widen_float_to_double(spark, tmp_path):
    df = spark.createDataFrame([(1, 1.5)], "id int, x float")
    t = TxTable.create(spark, str(tmp_path / "w4"), df)
    t.widen_column("x", "double")
    t.append(spark.createDataFrame([(2, 2.25)], "id int, x double"))
    snap = t.snapshot()
    assert dict(snap.dtypes)["x"] == "double"
    assert {(r.id, r.x) for r in snap.collect()} == {(1, 1.5), (2, 2.25)}


def test_widen_time_travel_keeps_era_schema(spark, tmp_path):
    t = TxTable.create(spark, str(tmp_path / "w5"), _ints(spark, [(1, "A", 10)]))
    t.widen_column("val", "bigint")  # version 1
    t.append(spark.createDataFrame([(2, "B", 2**40)], "id int, seg string, val bigint"))
    assert dict(t.snapshot(version=0).dtypes)["val"] == "int"
    assert dict(t.snapshot(version=2).dtypes)["val"] == "bigint"


def test_widen_check_constraint_interaction(spark, tmp_path):
    t = TxTable.create(spark, str(tmp_path / "w6"), _ints(spark, [(1, "A", 10)]))
    t.add_constraint("val_small", "val < 1000000")
    t.widen_column("val", "bigint")
    # the constraint survives the widen and rejects a wide violator
    with pytest.raises(ValueError, match="CHECK constraint"):
        t.append(
            spark.createDataFrame([(2, "B", 2**40)], "id int, seg string, val bigint")
        )
    t.append(
        spark.createDataFrame([(3, "B", 999)], "id int, seg string, val bigint")
    )
    assert t.snapshot().count() == 2


def test_widen_changes_feed_uses_wide_schema(spark, tmp_path):
    t = TxTable.create(spark, str(tmp_path / "w7"), _ints(spark, [(1, "A", 10)]))
    t.widen_column("val", "bigint")
    t.append(spark.createDataFrame([(2, "B", 2**40)], "id int, seg string, val bigint"))
    cdf = t.changes(-1)
    assert dict(cdf.dtypes)["val"] == "bigint"
    got = {(r.val, r._change_type) for r in cdf.collect()}
    assert got == {(10, "insert"), (2**40, "insert")}


def test_stats_keyed_by_full_path_not_basename(spark, tmp_path):
    """Same regression as the delta twin: partitioned staged writes reuse
    part-file basenames across partition dirs; stats keyed by basename
    attribute one file's min/max to its siblings and skipping then drops
    rows. Partitioned table + same-basename collision + range skip."""
    from pyspark.sql import functions as F

    df = (
        spark.range(0, 300)
        .withColumn("seg", (F.col("id") % 3).cast("int"))
        .withColumn("amount", F.col("id").cast("double"))
        .repartition(4)
    )
    t = TxTable.create(spark, str(tmp_path / "pstats"), df, partition_by=("seg",))
    bases = [a["path"].rsplit("/", 1)[-1] for a in t._active_files()]
    assert len(bases) != len(set(bases))  # the collision precondition
    for lo in (0.0, 100.0, 250.0):
        got = (
            t.snapshot(where={"amount": (lo, None)})
            .filter(F.col("amount") >= lo)
            .count()
        )
        assert got == 300 - int(lo)


def _hilbert_xy2d_ref(order: int, x: int, y: int) -> int:
    """Canonical xy2d reference (Wikipedia form), order = 2^bits."""
    d = 0
    s = order // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_index_matches_reference_exhaustively(spark):
    """The Column-expression Hilbert index equals the canonical xy2d
    recurrence on EVERY point of the 16x16 grid (bits=4), and the curve
    is contiguous: consecutive positions are Manhattan-distance-1
    neighbours — the property that makes range slices tighter than Z."""
    from pyspark.sql import functions as F

    from projectdatalake_spark.functions.clustering import hilbert_index_2d

    pts = [(x, y) for x in range(16) for y in range(16)]
    df = spark.createDataFrame(pts, ["x", "y"]).repartition(4)
    got = {
        (r["x"], r["y"]): r["d"]
        for r in df.select(
            "x", "y", hilbert_index_2d(F.col("x"), F.col("y"), bits=4).alias("d")
        ).collect()
    }
    want = {(x, y): _hilbert_xy2d_ref(16, x, y) for x, y in pts}
    assert got == want
    by_d = sorted(got, key=got.get)
    assert sorted(got.values()) == list(range(256))  # a true permutation
    for (x0, y0), (x1, y1) in zip(by_d, by_d[1:]):
        assert abs(x0 - x1) + abs(y0 - y1) == 1  # contiguity


def test_optimize_hilbert_skips_on_both_columns(spark, tmp_path):
    import random

    rng = random.Random(13)
    rows = [(i, rng.randrange(0, 1000), rng.randrange(0, 1000)) for i in range(4000)]
    df = spark.createDataFrame(rows, ["id", "a", "b"]).repartition(8)
    t = TxTable.create(spark, str(tmp_path / "hb"), df)
    before = {(r.id, r.a, r.b) for r in t.snapshot().collect()}
    t.optimize(zorder_by=("a", "b"), curve="hilbert", target_files=16)
    files = t._active_files()
    pruned_a = t.snapshot(where={"a": (0, 99)})
    pruned_b = t.snapshot(where={"b": (0, 99)})
    assert len(pruned_a.inputFiles()) <= len(files) // 2
    assert len(pruned_b.inputFiles()) <= len(files) // 2
    # layout change only: rows identical, predicates exact
    assert {(r.id, r.a, r.b) for r in t.snapshot().collect()} == before
    assert {(r.id, r.a, r.b) for r in pruned_a.collect()} == {
        (i, a, b) for i, a, b in rows if a <= 99
    }
    with pytest.raises(ValueError, match="unknown clustering curve"):
        t.optimize(zorder_by=("a", "b"), curve="peano")
    with pytest.raises(ValueError, match="2-D"):
        t.optimize(zorder_by=("a", "b", "id"), curve="hilbert")


def test_hilbert_prunes_at_least_as_tight_as_z_on_average(spark, tmp_path):
    """Same data, same bit budget, 2-D box probes: the contiguous curve
    should read no more files than Z on average (ties allowed — at 16
    files the difference is bounded; the claim is 'not worse', the
    literature's 'strictly tighter' shows up at larger file counts)."""
    import random

    rng = random.Random(17)
    rows = [(i, rng.randrange(0, 1000), rng.randrange(0, 1000)) for i in range(6000)]
    df = spark.createDataFrame(rows, ["id", "a", "b"]).repartition(8)
    reads = {}
    for curve in ("z", "hilbert"):
        t = TxTable.create(spark, str(tmp_path / curve), df)
        t.optimize(zorder_by=("a", "b"), curve=curve, target_files=16)
        boxes = [
            {"a": (lo, lo + 199), "b": (hi, hi + 199)}
            for lo in (0, 400, 800)
            for hi in (0, 400, 800)
        ]
        reads[curve] = sum(
            len(t.snapshot(where=box).inputFiles()) for box in boxes
        )
    assert reads["hilbert"] <= reads["z"] + 2, reads


def test_space_partition_stats_and_dv(spark, tmp_path):
    """Percent-encoding regression (round 6): stats/bloom/numRecords must
    attach for partition dirs with spaces, and DV deletes must resolve
    the touched files (the encoded-URI lookup used to KeyError)."""
    from pyspark.sql import functions as F

    from projectdatalake_spark.sources.txlog import TxTable

    df = (
        spark.range(40)
        .withColumn("seg", F.when(F.col("id") % 2 == 0, "A B").otherwise("C D"))
        .withColumn("val", F.col("id") * 1.5)
        .repartition(2)
    )
    t = TxTable.create(spark, str(tmp_path / "t"), df, partition_by=("seg",))
    adds = t._active_files()
    assert adds and all(a.get("numRecords", 0) > 0 for a in adds), adds
    assert any(a.get("stats") for a in adds)
    v = t.delete_where_dv("id < 10")
    assert v is not None
    assert t.snapshot().count() == 30
    assert {r.id for r in t.snapshot().select("id").collect()} == set(range(10, 40))


def test_generated_columns_lifecycle(spark, tmp_path):
    """txlog GENERATED columns (Delta-parity, single _commit_write
    funnel): computed+materialized at create, recomputed on every write
    path that omits them (append, overwrite, merge), contradicting
    writes refused, state survives checkpoint + log pruning, rename of
    source or generated column refused."""
    from pyspark.sql import functions as F

    from projectdatalake_spark.sources.txlog import TxTable

    def df(lo, hi):
        return (
            spark.range(lo, hi)
            .withColumn("seg", (F.col("id") % 3).cast("int"))
            .withColumn("val", F.col("id") * 2.5)
            .repartition(2)
        )

    t = TxTable.create(
        spark, str(tmp_path / "t"), df(0, 30), generated={"dbl": "val * 2.0"}
    )
    assert t.generated_columns() == {"dbl": "val * 2.0"}
    got = {r.id: r.dbl for r in t.snapshot().collect()}
    assert len(got) == 30 and all(got[i] == i * 2.5 * 2.0 for i in got)

    # append omitting the column: computed
    t.append(df(30, 40))
    got = {r.id: r.dbl for r in t.snapshot().collect()}
    assert len(got) == 40 and got[35] == 35 * 2.5 * 2.0

    # contradicting append refused atomically
    import pytest as _pytest

    with _pytest.raises(ValueError, match="generated column"):
        t.append(df(40, 45).withColumn("dbl", F.lit(-1.0)))
    assert t.snapshot().count() == 40

    # merge omitting the column: computed for inserts and updates
    upd = df(35, 42).withColumn("val", F.col("id") * 10.0)
    t.merge_upsert(upd, keys=["id"])
    got = {r.id: (r.val, r.dbl) for r in t.snapshot().collect()}
    assert len(got) == 42 and got[41] == (410.0, 820.0)

    # survives checkpoint + retention pruning of the creation commit
    t.checkpoint()
    t.prune_log(retain_versions=1)
    fresh = TxTable(spark, str(tmp_path / "t"))
    assert fresh.generated_columns() == {"dbl": "val * 2.0"}
    with _pytest.raises(ValueError, match="generated"):
        fresh.rename_column("val", "price")
    with _pytest.raises(ValueError, match="generated"):
        fresh.rename_column("dbl", "twice")

    # UPDATE on a source column recomputes the generated value; direct
    # SET on a generated column is refused
    fresh.update_where("id = 3", {"val": "100.0"})
    row = fresh.snapshot().filter("id = 3").first()
    assert (row.val, row.dbl) == (100.0, 200.0)
    with _pytest.raises(ValueError, match="generated columns directly"):
        fresh.update_where("id = 4", {"dbl": "0.0"})


def test_recluster_incremental_touches_only_overlap_pockets(spark, tmp_path):
    """Liquid-style maintenance: three clustered batches — two covering
    the same key range (overlapping file intervals), one in a disjoint
    range — recluster rewrites ONLY the overlapping pocket, keeps the
    disjoint files byte-identical, preserves rows exactly, and a second
    pass over unchanged data converges to a no-op."""
    import random

    rng = random.Random(7)
    a = [(i, rng.randrange(0, 5_000)) for i in range(1500)]
    b = [(10_000 + i, rng.randrange(20_000, 30_000)) for i in range(1500)]
    c = [(20_000 + i, rng.randrange(0, 5_000)) for i in range(1500)]
    mk = lambda rows: spark.createDataFrame(rows, ["id", "v"]).repartition(4)
    t = TxTable.create(
        spark, str(tmp_path / "rc"), mk(a),
        cluster_by=("v",), cluster_target_files=4,
    )
    t.append(mk(b))  # disjoint pocket: must survive untouched
    t.append(mk(c))  # same range as batch a: overlap pocket
    before = t._active_files()
    b_paths = {f["path"] for f in before if f["stats"]["v"]["min"] >= 20_000}
    overlap_paths = {f["path"] for f in before} - b_paths
    assert len(b_paths) >= 2 and len(overlap_paths) >= 4
    v = t.recluster()
    assert v is not None
    after = t._active_files()
    after_paths = {f["path"] for f in after}
    assert b_paths <= after_paths  # disjoint files NOT rewritten
    assert not (overlap_paths & after_paths)  # overlap pocket all replaced
    assert {(r.id, r.v) for r in t.snapshot().collect()} == set(a) | set(b) | set(c)
    # rewritten layout is disjoint: strict-overlap sweep finds nothing
    assert t.recluster() is None
    # and interval reads prune to the pocket
    pruned = t.snapshot(where={"v": (0, 500)})
    assert len(pruned.inputFiles()) < len(after)
    # history op recorded; time travel to the pre-recluster version works
    assert t.history()[-1]["op"] == "recluster"
    assert t.snapshot(version=v - 1).count() == 4500


def test_recluster_requires_spec_and_handles_missing_stats(spark, tmp_path):
    import pytest as _pytest

    df = spark.createDataFrame([(1, 10), (2, 20)], ["id", "v"])
    t0 = TxTable.create(spark, str(tmp_path / "nospec"), df)
    with _pytest.raises(ValueError):
        t0.recluster()
    # a file with no stats on the key has unknown range → always rewritten
    t = TxTable.create(
        spark, str(tmp_path / "ms"), df, cluster_by=("v",),
        cluster_target_files=2,
    )
    t.append(spark.createDataFrame([(3, 15), (4, 25)], ["id", "v"]))
    adds = t._active_files()
    # forge a stats-less add via a raw commit edit (simulates an old
    # writer): drop stats from one file's add action and re-commit
    victim = adds[0]
    stripped = {k: v for k, v in victim.items() if k != "stats"}
    t._publish(
        "overwrite_meta_test", [stripped], removes=[victim["path"]],
    )
    assert t.recluster() is not None
    assert t.snapshot().count() == 4
    assert t.recluster() is None


def test_recluster_folds_pending_dvs(spark, tmp_path):
    """A deletion vector on a doomed file must fold into the rewrite —
    masked rows stay gone after reclustering."""
    rows1 = [(i, i % 100) for i in range(500)]
    rows2 = [(1000 + i, i % 100) for i in range(500)]  # same v range: overlap
    t = TxTable.create(
        spark, str(tmp_path / "dv"),
        spark.createDataFrame(rows1, ["id", "v"]).repartition(2),
        cluster_by=("v",), cluster_target_files=2,
    )
    t.append(spark.createDataFrame(rows2, ["id", "v"]).repartition(2))
    t.delete_where_dv("v = 7")
    n = t.snapshot().count()
    assert n == 990
    assert t.recluster() is not None
    assert t.snapshot().count() == n
    assert t.snapshot().filter("v = 7").count() == 0
    # post-rewrite the DVs are gone from the live state
    assert t._active_dvs() == []


def test_column_defaults_lifecycle(spark, tmp_path):
    """Column DEFAULTs (Delta allowColumnDefaults parity): filled only
    when a write omits the column, ALTER-able via set_column_default,
    folded through checkpoints so log pruning keeps the declaration."""
    base = spark.range(0, 20).withColumn("val", F.col("id") * 1.0)
    t = TxTable.create(
        spark, str(tmp_path / "d"), base, defaults={"tag": "'seed'"}
    )
    assert t.column_defaults() == {"tag": "'seed'"}
    assert t.snapshot().filter("tag = 'seed'").count() == 20
    t.append(spark.range(20, 30).withColumn("val", F.lit(0.0)))
    t.append(
        spark.range(30, 35)
        .withColumn("val", F.lit(0.0))
        .withColumn("tag", F.lit("late"))
    )
    got = {r.tag: r.n for r in
           t.snapshot().groupBy("tag").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == {"seed": 30, "late": 5}
    # ALTER: change the default; only later omitting writes see it
    t.set_column_default("tag", "'v2'")
    t.append(spark.range(35, 40).withColumn("val", F.lit(0.0)))
    assert t.snapshot().filter("tag = 'v2'").count() == 5
    assert t.snapshot().filter("tag = 'seed'").count() == 30
    # drop: later omitting writes get NULL
    t.set_column_default("tag", None)
    t.append(spark.range(40, 45).withColumn("val", F.lit(0.0)))
    assert t.snapshot().filter("tag IS NULL").count() == 5
    # survives checkpoint + a fresh reader
    t.checkpoint()
    t2 = TxTable(spark, str(tmp_path / "d"))
    assert t2.column_defaults() == {}
    # generated/defaulted conflict refused
    with pytest.raises(ValueError):
        TxTable.create(
            spark, str(tmp_path / "x"), base,
            generated={"g": "id + 1"}, defaults={"g": "0"},
        )


def test_column_defaults_fill_on_merge_and_cdc(spark, tmp_path):
    """Merge rows that OMIT a defaulted column get the default, exactly
    like append (Delta merge_upsert parity): the defaults must land on the
    updates side BEFORE the union with surviving rows — after
    unionByName(allowMissingColumns) the column exists NULL-filled and the
    commit-time fill would skip it."""
    base = spark.range(0, 10).withColumn("val", F.col("id") * 1.0)
    t = TxTable.create(
        spark, str(tmp_path / "d"), base, defaults={"tag": "'seed'"}
    )
    # merge_upsert: 5 updated keys + 2 inserts, no tag column supplied
    ups = spark.range(5, 17).withColumn("val", F.lit(9.0))
    t.merge_upsert(ups, keys=["id"])
    got = {r.tag: r.n for r in
           t.snapshot().groupBy("tag").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == {"seed": 17}, got
    # apply_cdc upserts omit the column too
    cdc = (
        spark.range(15, 20)
        .withColumn("val", F.lit(1.0))
        .withColumn("__del", F.lit(False))
    )
    t.apply_changes(cdc, keys=["id"], delete_col="__del")
    assert t.snapshot().filter("tag IS NULL").count() == 0
    assert t.snapshot().filter("tag = 'seed'").count() == 20


def test_optimize_lease_partitions_the_work(spark, tmp_path):
    """Multi-writer OPTIMIZE leases: a partition claimed by another live
    holder is skipped, the remainder is compacted, and the second
    optimizer finishes its own claim — two optimizers PARTITION the
    compaction instead of one abandoning wholesale. Leases release with
    the optimize commit; expired claims stop blocking without cleanup."""
    import time as _time

    rows = [(i, seg, i) for seg in ("A", "B") for i in range(4)]
    t = TxTable.create(
        spark,
        str(tmp_path / "t"),
        _mkdf(spark, rows[:1]),
        partition_by=("seg",),
    )
    for r in rows[1:]:
        t.append(_mkdf(spark, [r]))
    before = {(r.id, r.seg, r.val) for r in t.snapshot().collect()}
    files_a = [a for a in t._active_files() if a["partition"]["seg"] == "A"]
    files_b = [a for a in t._active_files() if a["partition"]["seg"] == "B"]
    assert len(files_a) >= 4 and len(files_b) >= 4

    # optimizer B (concurrent, mid-run): holds a live claim on seg=B
    t._publish(
        "optimize_lease", [], [],
        lease={
            "holder": "B",
            "partitions": [json.dumps([["seg", "B"]])],
            "ttl_ms": 60_000,
        },
    )
    # optimizer A: skips B's claim, compacts seg=A only
    vA = t.optimize(lease_ttl_ms=60_000, holder="A")
    assert vA is not None
    a_after = [a for a in t._active_files() if a["partition"]["seg"] == "A"]
    b_after = [a for a in t._active_files() if a["partition"]["seg"] == "B"]
    assert len(a_after) == 1 and len(b_after) >= 4  # B untouched by A
    # A's lease released by its own optimize commit; B's still live
    assert {l["holder"] for l in t._active_leases()} == {"B"}
    # optimizer B completes: compacts exactly its claim
    vB = t.optimize(lease_ttl_ms=60_000, holder="B")
    assert vB is not None and vB > vA
    assert len([a for a in t._active_files()
                if a["partition"]["seg"] == "B"]) == 1
    assert t._active_leases() == []  # all released
    assert {(r.id, r.seg, r.val) for r in t.snapshot().collect()} == before

    # expiry: a crashed holder's stale claim stops blocking via TTL alone
    for i in range(4, 8):
        t.append(_mkdf(spark, [(i, "A", i)]))
    t._publish(
        "optimize_lease", [], [],
        lease={
            "holder": "crashed",
            "partitions": [json.dumps([["seg", "A"]])],
            "ttl_ms": 1,
        },
    )
    _time.sleep(0.05)
    assert t.optimize(lease_ttl_ms=60_000, holder="A2") is not None
    assert len([a for a in t._active_files()
                if a["partition"]["seg"] == "A"]) == 1


def test_racing_optimizers_stress_no_lost_commits(spark, tmp_path):
    """Two optimizers racing over 6 small-file partitions: the claim
    protocol splits the work (earlier claim version wins overlaps), both
    make progress, zero commits are lost, and the final snapshot equals
    the initial rows exactly — the iceberg racing-suite pattern."""
    import threading

    segs = [f"s{i}" for i in range(6)]
    rows = [(i * 10 + j, seg, j) for i, seg in enumerate(segs) for j in range(3)]
    t0 = TxTable.create(
        spark,
        str(tmp_path / "r"),
        _mkdf(spark, rows[:1]),
        partition_by=("seg",),
    )
    for r in rows[1:]:
        t0.append(_mkdf(spark, [r]))
    before = {(r.id, r.seg, r.val) for r in t0.snapshot().collect()}
    results: dict[str, int | None] = {}

    def run(name: str) -> None:
        t = TxTable(spark, str(tmp_path / "r"))
        results[name] = t.optimize(lease_ttl_ms=60_000, holder=name)

    th = [threading.Thread(target=run, args=(n,)) for n in ("opt1", "opt2")]
    for x in th:
        x.start()
    for x in th:
        x.join()
    t = TxTable(spark, str(tmp_path / "r"))
    # no partition was left half-done or double-compacted wrongly: every
    # partition collapsed to one file and rows are intact
    got = {(r.id, r.seg, r.val) for r in t.snapshot().collect()}
    assert got == before
    by_seg: dict[str, int] = {}
    for a in t._active_files():
        by_seg[a["partition"]["seg"]] = by_seg.get(a["partition"]["seg"], 0) + 1
    assert all(v == 1 for v in by_seg.values()), by_seg
    # both optimizers either compacted something or cleanly ceded ALL
    # their partitions to the other's earlier claim — never an abandon
    # that left work undone
    assert any(v is not None for v in results.values()), results
    assert t._active_leases() == []


def test_txlog_stats_ndv_and_staleness(spark, tmp_path):
    """txlog column stats: exact NDV in exact mode, sketch round-trip
    through the commit JSON and a checkpoint, STALENESS on data change
    (a consumer must not broadcast on outgrown numbers), and the
    duck-typed ndv_semi_reduce_join consumes a TxTable identically to an
    IcebergTable."""
    from projectdatalake_spark.sources.iceberg_interop import (
        ndv_semi_reduce_join,
    )

    dim = (
        spark.range(0, 5000)
        .select(
            (F.col("id") % 40).alias("k"),
            F.concat(F.lit("v"), F.col("id")).alias("attr"),
        )
    )
    t = TxTable.create(spark, str(tmp_path / "t"), dim)
    t.write_stats(["k"], k=1024)
    assert t.ndv("k") == 40
    sk = t.read_stats_sketch("k")
    assert int(round(sk.estimate())) == 40
    # folds through a checkpoint + fresh reader
    t.checkpoint()
    t2 = TxTable(spark, str(tmp_path / "t"))
    assert t2.ndv("k") == 40
    # consumer: broadcast semi-reduction fires off the stats, results
    # equal the plain join
    fact = spark.range(0, 3000).select((F.col("id") % 200).alias("k"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        informed = ndv_semi_reduce_join(fact, t, "k")
        plan = informed._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert informed.count() == fact.join(t.snapshot(), "k").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # staleness: a data commit after the stats invalidates ndv(), a
    # metadata-only commit does not
    t.append(dim.limit(10).withColumn("k", F.lit(99).cast("long")))
    assert t.ndv("k") is None
    t.write_stats(["k"], k=1024)
    assert t.ndv("k") == 41
    # a dv-carrying commit (delete_where_dv: adds=[] removes=[]) changes
    # data too — the mask alters every downstream read, so it must
    # invalidate just like an add/remove commit
    assert t.delete_where_dv("k = 99") is not None
    assert t.ndv("k") is None
    t.write_stats(["k"], k=1024)
    assert t.ndv("k") == 40
    # pruned history between the stats version and the tip: commits we
    # can no longer read could have changed data → unverifiable →
    # conservative None (mirrors DeltaTable.ndv's pruned-log fallback)
    t.append(dim.limit(5))          # data commit AFTER the stats
    t.write_stats(["attr"], k=1024)  # unrelated later commit
    t.checkpoint()
    assert t.ndv("k") is None       # visible data commit → stale
    t.prune_log(retain_versions=0)  # the invalidating commit vanishes
    t3 = TxTable(spark, str(tmp_path / "t"))
    assert t3.ndv("k") is None      # pruned gap must NOT read as fresh


def test_txlog_row_tracking_lifecycle(spark, tmp_path):
    """txlog row tracking — the third format's twin (Delta baseRowId /
    Iceberg v3 first_row_id): metadata-only enable backfills per-file
    bases and the high-water mark; appends allocate above the mark in
    the commit that advances it; ids = base + row position survive
    delete_where_dv masks and the checkpoint state fold; any other
    file-moving commit refuses centrally in _publish."""
    import pytest

    df = (
        spark.range(0, 100)
        .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        .coalesce(1).sortWithinPartitions("k")
    )
    t = TxTable.create(spark, str(tmp_path / "t"), df)
    v0 = t.latest_version()
    t.enable_row_tracking()
    rt = t._state()["row_tracking"]
    assert rt["enabled"] and rt["hwm"] == 99
    # metadata-only: the enable commit carries no adds/removes (it must
    # not read as a data change to CDF or the NDV staleness guard)
    enable_commit = t.history()[-1]
    assert enable_commit["adds"] == [] and enable_commit["removes"] == []
    t.enable_row_tracking()  # idempotent
    assert t.latest_version() == v0 + 1
    t.append(
        spark.range(100, 150)
        .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        .coalesce(1).sortWithinPartitions("k")
    )
    assert t._state()["row_tracking"]["hwm"] == 149
    ids = {r.k: r.row_id for r in t.snapshot_with_row_ids().collect()}
    assert ids == {k: k for k in range(150)}
    t.delete_where_dv("k % 10 = 3")
    after = {r.k: r.row_id for r in t.snapshot_with_row_ids().collect()}
    assert after == {k: k for k in range(150) if k % 10 != 3}
    # folds through a checkpoint + fresh reader
    t.checkpoint()
    t2 = TxTable(spark, str(tmp_path / "t"))
    assert {r.k: r.row_id for r in t2.snapshot_with_row_ids().collect()} == after
    # id-reassigning rewrites refuse centrally (optimize is the one
    # EXCEPTION — it materializes ids in-column, tested separately)
    with pytest.raises(ValueError, match="row-tracked"):
        t.overwrite(df)
    with pytest.raises(ValueError, match="row-tracked"):
        t.merge_upsert(df.limit(1), ["k"])


def test_row_tracking_enablement_race(spark, tmp_path, monkeypatch):
    """Enablement is decided PER publish attempt, not once before the
    retry loop: when a concurrent enable_row_tracking wins the version
    race against an append, the retried append must allocate baseRowIds
    (a stale once-read decision would commit its files baseless —
    enable_row_tracking is a no-op when already enabled, so
    snapshot_with_row_ids would fail for those files FOREVER). The same
    per-attempt read must flip the rewrite guard: an overwrite that
    loses the race to enablement refuses on retry."""
    def batch(lo, hi):
        return (
            spark.range(lo, hi)
            .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
            .coalesce(1).sortWithinPartitions("k")
        )

    def race_enable(t):
        """Patch t so its NEXT commit attempt loses the version race to
        a concurrent enable_row_tracking from a second handle."""
        orig = _atomic.write_text
        fired = {"done": False}

        def hijack(spark_, p, text, exclusive):
            if exclusive and not fired["done"] and p.startswith(f"{t.root}/_txlog/"):
                fired["done"] = True
                TxTable(spark, t.root).enable_row_tracking()
            return orig(spark_, p, text, exclusive)

        monkeypatch.setattr(_atomic, "write_text", hijack)
        return fired

    root1 = str(tmp_path / "t1")
    t = TxTable.create(spark, root1, batch(0, 100))
    fired = race_enable(t)
    t.append(batch(100, 150))
    assert fired["done"]  # the race actually happened
    monkeypatch.undo()  # unshadow the seam
    st = t._state()
    assert st["row_tracking"]["enabled"] and st["row_tracking"]["hwm"] == 149
    ids = {r.k: r.row_id for r in t.snapshot_with_row_ids().collect()}
    assert ids == {k: k for k in range(150)}
    # rewrite guard: an overwrite losing the same race refuses on retry
    root2 = str(tmp_path / "t2")
    t2 = TxTable.create(spark, root2, batch(0, 100))
    race_enable(t2)
    with pytest.raises(ValueError, match="row-tracked"):
        t2.overwrite(batch(0, 50))


def test_row_id_watermark_scan_prunes_files(spark, tmp_path):
    """The row-id CONSUMER: a downstream job passing min_row_id must
    (a) read exactly the rows above its watermark, and (b) open ONLY the
    files whose id range crosses it — append-only ids are monotone per
    file, so old batches skip unopened (file-level skipping from
    O(metadata), no change feed). Proven on the file grain via
    _metadata.file_path."""
    def batch(lo, hi):
        return (
            spark.range(lo, hi)
            .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
            .coalesce(1).sortWithinPartitions("k")
        )

    t = TxTable.create(spark, str(tmp_path / "t"), batch(0, 100))
    t.enable_row_tracking()
    t.append(batch(100, 200))
    t.append(batch(200, 300))
    inc = t.snapshot_with_row_ids(min_row_id=150)
    got = {r.k: r.row_id for r in inc.collect()}
    assert got == {k: k for k in range(150, 300)}
    # file grain: the pruned plan's relation holds only the two files
    # whose id range crosses the watermark — batch 1 (ids 0-99) is not
    # in the scan at all
    assert len(t.snapshot_with_row_ids().inputFiles()) == 3
    assert len(inc.inputFiles()) == 2
    # watermark above everything: zero files, zero rows
    assert t.snapshot_with_row_ids(min_row_id=1000).count() == 0


def test_txlog_optimize_materializes_row_ids(spark, tmp_path):
    """OPTIMIZE under row tracking: the rewrite carries each row's id
    as a physical `_row_id` column (compaction interleaves source
    files, so base+position can no longer express the ids — the column
    is the only carrier). Contract: the (key → row_id) map is IDENTICAL
    before and after compaction, DV masks fold in, normal snapshot()
    never sees the extra column, later appends still allocate above the
    untouched high-water mark, mixed materialized+base reads work, and
    the materialized set folds through checkpoints. The min_row_id
    consumer keeps pruning via the rewritten files' _row_id stats."""
    def batch(lo, hi):
        return (
            spark.range(lo, hi)
            .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
            .coalesce(1).sortWithinPartitions("k")
        )

    t = TxTable.create(spark, str(tmp_path / "t"), batch(0, 60))
    t.enable_row_tracking()
    t.append(batch(60, 120))
    t.append(batch(120, 180))
    t.delete_where_dv("k % 7 = 1")
    before = {r.k: r.row_id for r in t.snapshot_with_row_ids().collect()}
    assert t.optimize(min_files=2) is not None
    rt = t._state()["row_tracking"]
    assert rt["materialized"] and rt["hwm"] == 179
    after = {r.k: r.row_id for r in t.snapshot_with_row_ids().collect()}
    assert after == before  # ids survived the file move exactly
    # normal reads never see the physical column
    assert "_row_id" not in t.snapshot().columns
    # later appends allocate above the untouched mark (mixed read)
    t.append(batch(180, 200))
    mixed = {r.k: r.row_id for r in t.snapshot_with_row_ids().collect()}
    assert mixed == {**before, **{k: k for k in range(180, 200)}}
    # checkpoint fold carries the materialized set
    t.checkpoint()
    t2 = TxTable(spark, str(tmp_path / "t"))
    assert set(t2._state()["row_tracking"]["materialized"]) == set(
        rt["materialized"]
    )
    assert {
        r.k: r.row_id for r in t2.snapshot_with_row_ids().collect()
    } == mixed
    # watermark pruning via the rewritten file's _row_id stats: asking
    # for ids >= 180 must not open the compacted (0-179) file
    inc = t2.snapshot_with_row_ids(min_row_id=180)
    assert {r.k for r in inc.collect()} == set(range(180, 200))
    data_files = [
        f for f in inc.inputFiles()
        if "/_dv/" not in f and "/_txlog/" not in f
    ]
    assert len(data_files) == 1, data_files  # only the batch-4 file opened


def test_widen_decimal_precision_and_scale(spark, tmp_path):
    """Round-10: decimal(p,s) widens to decimal(p+k1, s+k2) with
    k1 ≥ k2 ≥ 0 (integer headroom never shrinks). Old narrow pages
    promote under the declared wide read schema, a narrow-typed batch
    stays a legal write after widening, and the illegal shapes refuse."""
    from decimal import Decimal

    df = spark.createDataFrame(
        [(1, Decimal("123.45"))], "id int, price decimal(12,2)"
    )
    t = TxTable.create(spark, str(tmp_path / "wd"), df)
    t.widen_column("price", "decimal(20,4)")  # k1=8 ≥ k2=2
    t.append(
        spark.createDataFrame(
            [(2, Decimal("99999999999999.1234"))],
            "id int, price decimal(20,4)",
        )
    )
    # narrow batches remain legal writes (store narrow, read wide)
    t.append(
        spark.createDataFrame(
            [(3, Decimal("7.89"))], "id int, price decimal(12,2)"
        )
    )
    snap = t.snapshot()
    assert dict(snap.dtypes)["price"] == "decimal(20,4)"
    got = {r.id: str(r.price) for r in snap.collect()}
    assert got == {
        1: "123.4500", 2: "99999999999999.1234", 3: "7.8900"
    }
    # refusals: scale shrink, k1 < k2, precision past 38, cross-family
    with pytest.raises(ValueError, match="not a supported widening"):
        t.widen_column("price", "decimal(25,3)")  # scale shrink
    with pytest.raises(ValueError, match="not a supported widening"):
        t.widen_column("price", "decimal(21,6)")  # k1=1 < k2=2
    with pytest.raises(ValueError, match="not a supported widening"):
        t.widen_column("price", "decimal(40,4)")  # p > 38
    with pytest.raises(ValueError, match="not a supported widening"):
        t.widen_column("id", "decimal(12,2)")  # cross-family


def test_optimize_stats_policy_degradation_trigger(spark, tmp_path):
    """Round-11 (verdict #6): stats-driven OPTIMIZE — partition
    selection by small-file degradation (median live file size ≤
    small_bytes with ≥ min_files files, read from the log's add sizes,
    no fs listing) instead of raw count. Gates: triggers on the
    degraded partition only (a same-count partition of BIG files is
    healthy and untouched), no-ops when nothing is degraded, and
    composes with the multi-writer lease protocol."""
    t = TxTable.create(
        spark, str(tmp_path / "t"),
        _mkdf(spark, [(0, "A", 0)]), partition_by=("seg",),
    )
    for i in range(1, 4):           # A: 4 one-row files (tiny)
        t.append(_mkdf(spark, [(i, "A", i)]))
    for i in range(2):              # B: 2 tiny files (below min_files)
        t.append(_mkdf(spark, [(100 + i, "B", i)]))
    big = [(1000 * j + i, "C", i) for j in range(4) for i in range(5000)]
    for j in range(4):              # C: 4 big files (healthy median)
        t.append(_mkdf(spark, big[j * 5000:(j + 1) * 5000]).coalesce(1))
    before = {(r.id, r.seg, r.val) for r in t.snapshot().collect()}
    sizes_a = sorted(
        a["size"] for a in t._active_files() if a["partition"]["seg"] == "A"
    )
    sizes_c = sorted(
        a["size"] for a in t._active_files() if a["partition"]["seg"] == "C"
    )
    cut = (sizes_a[len(sizes_a) // 2] + sizes_c[len(sizes_c) // 2]) // 2
    policy = {"small_bytes": cut, "min_files": 4}

    # healthy: a 1-byte threshold never degrades → no-op, zero commits
    v0 = t.latest_version()
    assert t.optimize(stats_policy={"small_bytes": 1, "min_files": 4}) is None
    assert t.latest_version() == v0

    # lease-compatible: A claimed by another live holder → selection
    # excludes it and nothing else is degraded → clean abandon
    t._publish(
        "optimize_lease", [], [],
        lease={
            "holder": "other",
            "partitions": [json.dumps([["seg", "A"]])],
            "ttl_ms": 60_000,
        },
    )
    assert (
        t.optimize(stats_policy=policy, lease_ttl_ms=60_000, holder="me")
        is None
    )
    t._publish("release_lease", [], [], release_lease="other")

    # degraded: A compacts (4 tiny files, median below the cut);
    # B (too few files) and C (big median) untouched
    v = t.optimize(stats_policy=policy, lease_ttl_ms=60_000, holder="me")
    assert v is not None
    per_seg = {}
    for a in t._active_files():
        per_seg.setdefault(a["partition"]["seg"], []).append(a)
    assert len(per_seg["A"]) == 1
    assert len(per_seg["B"]) == 2
    assert len(per_seg["C"]) == 4
    assert {(r.id, r.seg, r.val) for r in t.snapshot().collect()} == before
    assert t._active_leases() == []
    # converged: the same policy now finds nothing degraded
    assert t.optimize(stats_policy=policy) is None
