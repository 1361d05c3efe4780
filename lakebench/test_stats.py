"""Unit tests for the benchmark's pure helpers.

    python3 -m pytest lakebench/test_stats.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lakebench import stats  # noqa: E402
from lakebench.tracing import summarize_event_log, union_length  # noqa: E402


# --- the tail-percentile rule ---------------------------------------------

@pytest.mark.parametrize(
    "n, expected",
    [
        (10, None),  # p50 leaves only 5 beyond
        (19, None),
        (20, 50),  # rank 10, 10 beyond
        (39, 50),
        (40, 75),  # rank 30, 10 beyond
        (50, 80),
        (99, 80),
        (100, 90),
        (200, 95),
        (1000, 99),
        (10000, 99.9),
    ],
)
def test_tail_percentile_leaves_ten_beyond(n, expected):
    assert stats.tail_percentile(n) == expected
    if expected is not None:
        rank = -(-n * expected // 100)
        assert n - rank >= stats.TAIL_MIN_BEYOND


def test_tail_reports_value_at_that_percentile():
    values = [float(v) for v in range(1, 41)]  # 40 samples -> p75
    assert stats.tail(values) == (30.0, 75)


def test_tail_with_too_few_samples_is_the_max():
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, None)


def test_percentile_is_nearest_rank():
    assert stats.percentile([5.0, 1.0, 3.0, 2.0, 4.0], 50) == 3.0
    assert stats.percentile([1.0, 2.0], 50) == 1.0
    assert stats.percentile([1.0, 2.0], 100) == 2.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_spread_matches_statistics_quantiles():
    s = stats.spread([10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0])
    assert s["median"] == 14.5
    assert s["q1"] == pytest.approx(11.75)
    assert s["q3"] == pytest.approx(17.25)
    assert s["rel_iqr"] == pytest.approx(5.5 / 14.5)


# --- CPU summed over the process tree --------------------------------------

def _stat_line(pid, comm, ppid, utime, stime, cutime, cstime):
    fields = ["S", ppid, 0, 0, 0, 0, 0, 0, 0, 0, 0, utime, stime, cutime, cstime]
    fields += [20, 0, 1, 0, 12345]
    return f"{pid} ({comm}) " + " ".join(str(f) for f in fields)


def test_parse_stat_handles_spaces_and_parens_in_name():
    line = _stat_line(42, "py (worker) 1", 7, 100, 20, 3, 4)
    assert stats.parse_stat(line) == (42, 7, 100, 20, 3, 4)


def test_tree_cpu_sums_descendants_and_reaped_children():
    procs = [
        (1, 0, 1000, 1000, 0, 0),  # init: not in the tree
        (10, 1, 100, 10, 0, 0),  # driver (root)
        (11, 10, 500, 50, 0, 0),  # JVM
        (12, 11, 5, 1, 40, 4),  # python daemon, with reaped workers
        (13, 12, 30, 3, 0, 0),  # live worker
        (20, 1, 999, 999, 0, 0),  # unrelated process
    ]
    assert stats.tree_cpu_ticks(procs, 10) == 110 + 550 + 50 + 33
    assert stats.tree_cpu_ticks(procs, 12) == 50 + 33
    assert stats.tree_cpu_ticks(procs, 99) == 0


def test_jit_ticks_counts_compiler_threads_only():
    threads = [
        ("C2 CompilerThre", 300, 20),
        ("C1 CompilerThre", 40, 2),
        ("Executor task l", 900, 90),
        ("GC Thread#0", 50, 5),
        ("main", 10, 1),
    ]
    assert stats.jit_ticks(threads) == 320 + 42
    assert stats.jit_ticks([]) == 0


def test_thread_name_of_a_task_stat_line():
    line = _stat_line(43, "C2 CompilerThre", 7, 100, 20, 0, 0)
    assert stats.thread_name(line) == "C2 CompilerThre"
    assert stats.parse_stat(line)[2:4] == (100, 20)


def test_jit_cpu_of_a_non_jvm_process_is_zero():
    assert stats.jit_cpu_seconds(os.getpid()) == 0.0
    assert stats.jit_cpu_seconds(None) == 0.0


def test_tree_cpu_of_this_process_is_positive():
    sum(i * i for i in range(200_000))
    assert stats.tree_cpu_seconds() > 0


# --- write_amp / space_amp byte accounting ----------------------------------

def test_bytes_written_counts_new_and_rewritten_files_only():
    before = {"a": (100, 1), "b": (200, 1), "c": (50, 1)}
    after = {
        "a": (100, 1),  # untouched
        "b": (210, 2),  # rewritten in place
        "d": (300, 3),  # new
        # "c" deleted: counts nothing
    }
    assert stats.bytes_written(before, after) == 210 + 300
    assert stats.live_bytes(after) == 100 + 210 + 300


def test_bytes_written_same_size_new_mtime_counts():
    assert stats.bytes_written({"a": (10, 1)}, {"a": (10, 2)}) == 10


def test_amplification_ratio_and_guard():
    assert stats.amplification(300, 100) == 3.0
    with pytest.raises(ValueError):
        stats.amplification(1, 0)


def test_file_state_walks_a_tree(tmp_path):
    (tmp_path / "x").mkdir()
    (tmp_path / "x" / "f1").write_bytes(b"12345")
    (tmp_path / "f2").write_bytes(b"ab")
    state = stats.file_state(str(tmp_path))
    assert stats.live_bytes(state) == 7
    before = dict(state)
    (tmp_path / "f3").write_bytes(b"xyz")
    assert stats.bytes_written(before, stats.file_state(str(tmp_path))) == 3


# --- job coverage and event-log attribution -------------------------------

def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert union_length([(0, 10), (2, 3)]) == pytest.approx(10.0)


def test_event_log_attributes_jobs_by_group_and_window(tmp_path):
    import json

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "op-a"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        # no group: attributed by submission time inside op-b's window
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2100,
         "Stage IDs": [1], "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2300},
        # an unmeasured group: ignored
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 2200,
         "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "lakebench-off"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Info": {},
         "Task Metrics": {"Executor Run Time": 400, "Executor CPU Time": 3e8}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Info": {},
         "Task Metrics": {"Executor Run Time": 100, "Executor CPU Time": 1e8,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 2**20}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Info": {},
         "Task Metrics": {"Executor Run Time": 9999}},
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events))
    out = summarize_event_log(str(path), {"op-a": (0.9, 1.6), "op-b": (2.0, 2.5)})
    t = out["totals"]
    assert t["spark.jobs"] == 2
    assert t["spark.tasks"] == 2
    assert t["spark.executor_run_s"] == pytest.approx(0.5)
    assert t["spark.executor_cpu_s"] == pytest.approx(0.4)
    assert t["spark.shuffle_write_mb"] == pytest.approx(1.0)
    assert out["covered"] == {"op-a": pytest.approx(0.5), "op-b": pytest.approx(0.2)}
