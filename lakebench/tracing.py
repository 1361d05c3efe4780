"""The traced run: per-layer numbers measured from outside the engine.

Nothing in the engine is edited. The tracer
- wraps public functions where callers look them up at call time (module
  globals and class attributes), timing the outermost call per layer;
- counts py4j round trips by wrapping the gateway client's
  ``send_command``;
- tags each op's Spark jobs with ``setJobGroup`` and, after the session
  stops, reads Spark's event log for job, task, shuffle, spill and
  Python-worker numbers.

Only calls made while an op is being measured are recorded; warm-up
passes and the off-the-clock checks are not.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import time
from collections import Counter, defaultdict

# the table formats lake_ingest writes (txlog is held out; see LakeIngest)
FORMATS = ("delta", "iceberg")

# Every per-layer metric the traced run reports, with its unit.
LAYER_METRICS: dict[str, str] = {
    "session.prepare_calls": "count",
    "session.prepare_s": "s",
    "readers.calls": "count",
    "readers.s": "s",
    "queries.build_s": "s",
    "driver.py4j_calls": "count",
    "driver.gap_s": "s",
    "catalyst.plan_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.job_s": "s",
    "spark.job_share": "ratio",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "python.total_s": "s",
    "python.boot_s": "s",
    "python.sent_mb": "MB",
    "python.rows": "count",
    "star_schema.song_s": "s",
    "star_schema.log_s": "s",
    "writers.partitioned_s": "s",
    "writers.files": "count",
    **{f"{f}.commit_s": "s" for f in FORMATS},
    **{f"{f}.maintain_s": "s" for f in FORMATS},
    **{f"{f}.snapshot_s": "s" for f in FORMATS},
    **{f"{f}.files_written": "count" for f in FORMATS},
    **{f"{f}.bytes_written": "MB" for f in FORMATS},
    "footer_stats.s": "s",
    "atomic.retry_sleeps": "count",
    "lake.write_p50_s": "s",
    "lake.write_tail_s": "s",
    "lake.write_amp": "ratio",
    "lake.space_amp": "ratio",
    "trace.pass_s": "s",
    "trace.read_p50_s": "s",
}

_PYTHON_NODE_MARKERS = ("Python", "Pandas", "Arrow")
_PYTHON_METRICS = {
    "time to run Python workers": "python.total_s",
    "time to start Python workers": "python.boot_s",
    "data sent to Python workers": "python.sent_mb",
}


class NullTracer:
    """Tracing off: every hook is a no-op."""

    def begin_op(self, label: str) -> None:
        pass

    def end_op(self) -> None:
        pass

    def time(self, layer: str):
        return _NULL_CTX

    def plan(self, df) -> None:
        pass


class _NullCtx:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


_NULL_CTX = _NullCtx()


class _Timed:
    def __init__(self, tracer: "Tracer", layer: str):
        self.tracer, self.layer = tracer, layer

    def __enter__(self):
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        if self.tracer.recording:
            self.tracer.secs[self.layer] += time.perf_counter() - self.t0
        return False


class Tracer:
    def __init__(self, spark, event_dir: str):
        self.spark = spark
        self.event_dir = event_dir
        self.recording = False
        self.secs: Counter = Counter()
        self.calls: Counter = Counter()
        self._depth: Counter = Counter()
        self._install()

    # -- hooks the runner calls around each op ---------------------------

    def begin_op(self, label: str) -> None:
        """Start recording for one measured op; ``label`` tags its jobs."""
        self.spark.sparkContext.setJobGroup(label, label)
        self.recording = True

    def end_op(self) -> None:
        self.recording = False
        self.spark.sparkContext.setJobGroup("lakebench-off", "not measured")

    def time(self, layer: str) -> _Timed:
        return _Timed(self, layer)

    def plan(self, df) -> None:
        """Force physical planning, so Catalyst time is separate from
        execution (the later collect reuses the planned query)."""
        with self.time("catalyst.plan_s"):
            df._jdf.queryExecution().executedPlan()

    # -- wrapping ---------------------------------------------------------

    def _wrap(self, layer: str, fn, count: str | None = None):
        @functools.wraps(fn)
        def inner(*args, **kwargs):
            if self._depth[layer] or not self.recording:
                return fn(*args, **kwargs)
            self._depth[layer] += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self._depth[layer] -= 1
                self.secs[layer] += time.perf_counter() - t0
                if count:
                    self.calls[count] += 1

        return inner

    def _install(self) -> None:
        import __spark_entry__  # noqa: F401 - load every module holding a reference
        from projectdatalake_spark import session
        from projectdatalake_spark.pipelines import star_schema
        from projectdatalake_spark.sources import (
            delta_interop, footer_stats, iceberg_interop, readers, writers,
        )

        patch_everywhere(session.prepare, self._wrap("session.prepare_s", session.prepare, "session.prepare_calls"))
        for name in ("load_table", "read_parquet", "read_json"):
            fn = getattr(readers, name)
            patch_everywhere(fn, self._wrap("readers.s", fn, "readers.calls"))
        for name, layer in (
            ("process_song_data", "star_schema.song_s"),
            ("process_log_data", "star_schema.log_s"),
        ):
            fn = getattr(star_schema, name)
            patch_everywhere(fn, self._wrap(layer, fn))
        fn = writers.write_partitioned
        patch_everywhere(fn, self._wrap("writers.partitioned_s", fn))
        fn = footer_stats.footer_file_stats
        patch_everywhere(fn, self._wrap("footer_stats.s", fn))
        for fmt, cls in (
            ("delta", delta_interop.DeltaTable),
            ("iceberg", iceberg_interop.IcebergTable),
        ):
            cls.snapshot = self._wrap(f"{fmt}.snapshot_s", cls.snapshot)

        client = self.spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counting_send(*args, **kwargs):
            if self.recording:
                self.calls["driver.py4j_calls"] += 1
            return send(*args, **kwargs)

        client.send_command = counting_send

    # -- event log ----------------------------------------------------------

    def event_log_summary(self, op_windows: dict[str, tuple[float, float]]) -> dict:
        """Per-label Spark totals from the event log, read after the
        session has stopped. ``op_windows`` maps each measured op's label
        to its (start, end) wall-clock seconds, for job coverage."""
        files = sorted(glob.glob(os.path.join(self.event_dir, "*")))
        if not files:
            raise RuntimeError(f"no Spark event log under {self.event_dir}")
        return summarize_event_log(files[-1], op_windows)


def patch_everywhere(orig, wrapper, prefixes=("projectdatalake_spark", "__spark_entry__")) -> int:
    """Replace every module-global reference to ``orig`` in the engine's
    loaded modules with ``wrapper``; returns how many were replaced."""
    n = 0
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(prefixes):
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, wrapper)
                n += 1
    return n


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _python_accumulators(plan: dict, out: dict[int, str]) -> None:
    is_python = any(m in plan.get("nodeName", "") for m in _PYTHON_NODE_MARKERS)
    for metric in plan.get("metrics", []):
        name = metric.get("name")
        if name in _PYTHON_METRICS:
            out[metric["accumulatorId"]] = _PYTHON_METRICS[name]
        elif is_python and name == "number of output rows":
            out[metric["accumulatorId"]] = "python.rows"
    for child in plan.get("children", []):
        _python_accumulators(child, out)


def summarize_event_log(path: str, op_windows: dict[str, tuple[float, float]]) -> dict:
    """Spark totals over the jobs of the measured ops.

    A job belongs to an op by its job group; a job with no group falls
    to the op whose wall-clock window holds its submission time."""
    job_label: dict[int, str] = {}
    job_span: dict[int, list[float]] = {}
    stage_job: dict[int, int] = {}
    py_acc: dict[int, str] = {}
    task_rows = []
    windows = sorted((s, e, label) for label, (s, e) in op_windows.items())

    def label_at(t: float) -> str | None:
        for s, e, label in windows:
            if s <= t <= e:
                return label
        return None

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                t = ev["Submission Time"] / 1000.0
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                label = group if group in op_windows else (None if group else label_at(t))
                if label:
                    job_label[jid] = label
                    job_span[jid] = [t, t]
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in job_span:
                    job_span[ev["Job ID"]][1] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                task_rows.append(ev)
            elif kind.endswith(("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")):
                _python_accumulators(ev.get("sparkPlanInfo", {}), py_acc)

    totals: Counter = Counter()
    spans_by_label: dict[str, list[tuple[float, float]]] = defaultdict(list)
    for jid, label in job_label.items():
        s, e = job_span[jid]
        ws, we = op_windows[label]
        spans_by_label[label].append((max(s, ws), min(e, we)))
        totals["spark.jobs"] += 1
        totals["spark.job_s"] += e - s
    for ev in task_rows:
        if ev.get("Stage ID") not in stage_job:
            continue
        totals["spark.tasks"] += 1
        m = ev.get("Task Metrics") or {}
        totals["spark.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
        totals["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        sw = m.get("Shuffle Write Metrics") or {}
        totals["spark.shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
        sr = m.get("Shuffle Read Metrics") or {}
        totals["spark.shuffle_read_mb"] += (
            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        ) / 2**20
        totals["spark.spill_mb"] += (
            m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        ) / 2**20
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            key = py_acc.get(acc.get("ID"))
            if key is None or acc.get("Update") is None:
                continue
            upd = float(acc["Update"])
            if key in ("python.total_s", "python.boot_s"):
                upd /= 1e3  # "timing" SQL metrics are milliseconds
            elif key == "python.sent_mb":
                upd /= 2**20
            totals[key] += upd
    covered = {label: union_length(spans) for label, spans in spans_by_label.items()}
    return {"totals": dict(totals), "covered": covered}
