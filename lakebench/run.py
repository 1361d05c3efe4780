"""Benchmark entry point: one workload, one seed, one process.

    python3 lakebench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of this repository. Generates the inputs
from the seed, starts a ``local[nproc]`` session, runs a fixed number of
warm-up passes, then repeats whole passes until ``--seconds`` have been
measured. Every op's output is checked off the clock.

stdout carries two JSON lines: a detail record, then the result line
(``correct``, ``attempted``, ``failed``, ``metrics``). ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
turns on the layer tracer and the Spark event log and reports the
per-layer metrics instead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEMORY = "2g"

# Wall-clock pass and read times are in the detail record and the traced
# run, not here: on a host shared with other VMs they move with the
# host's load by more than any bound allows (see README.md).
END_TO_END = {
    "setup_s": "s",
    "pass_cpu_s": "s",
    "peak_mem_mb": "MB",
    "ok_frac": "ratio",
}


def process_age_s() -> float:
    """Seconds since this process started (kernel clock, 10 ms grain)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_environment(work: str) -> None:
    """Everything Spark, its Python workers and temp files touch lives
    under ``work``; the workers import the engine from the checkout."""
    for sub in ("tmp", "spark-local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, the short-lived spark-submit launcher included; a fixed
    # set of JIT compiler threads keeps their CPU time readable per thread
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        " -XX:-UseDynamicNumberOfCompilerThreads"
    )
    os.chdir(work)


def spark_confs(work: str, trace: bool) -> dict[str, str]:
    confs = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        confs["spark.eventLog.enabled"] = "true"
        confs["spark.eventLog.dir"] = "file://" + os.path.join(work, "eventlog")
        confs["spark.eventLog.rolling.enabled"] = "false"
        confs["spark.eventLog.compress"] = "false"
    return confs


def memory_mb(spark) -> dict[str, float]:
    """Driver Python RSS, Python worker RSS and JVM heap in use, each
    after a full GC, in MB."""
    import gc

    from lakebench import stats

    def status_kb(pid: int, key: str) -> int:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key):
                    return int(line.split()[1])
        return 0

    gc.collect()
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    heaps = []
    for _ in range(3):  # the first full GC can leave well over the live set
        time.sleep(0.3)
        jvm.java.lang.System.gc()
        heaps.append(rt.totalMemory() - rt.freeMemory())
    me = os.getpid()
    procs = stats.read_proc_stats()
    kids: dict[int, list[int]] = {}
    for pid, ppid, *_ in procs:
        kids.setdefault(ppid, []).append(pid)
    workers_kb, n_workers, stack = 0, 0, list(kids.get(me, ()))
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().startswith("python"):
                    workers_kb += status_kb(pid, "VmRSS:")
                    n_workers += 1
        except FileNotFoundError:
            continue
    return {
        "driver": status_kb(me, "VmRSS:") / 1024,
        "workers": workers_kb / 1024,
        "worker_count": n_workers,
        "jvm_heap": min(heaps) / 2**20,
    }


def atomic_sleeps() -> int:
    from projectdatalake_spark.sources import atomic

    return atomic.RETRY_STATS["sleeps"]


def jvm_pid() -> int | None:
    """The driver JVM: the gateway's process, which spark-submit execs."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def stop_spark(spark) -> None:
    """Stop the session and the JVM it started, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - the JVM ignored its closed stdin
            proc.kill()
            proc.wait(timeout=30)


class Runner:
    def __init__(self, workload, tracer, jvm: int | None):
        self.workload = workload
        self.tracer = tracer
        self.jvm = jvm
        self.attempted = 0
        self.failed: list[str] = []
        self.records: list[dict] = []  # measured ops
        self.passes: list[dict] = []  # measured passes
        self.warm: list[dict] = []  # warm-up passes

    def run_pass(self, pass_no: int, measured: bool) -> dict:
        from lakebench import stats

        wall = cpu = jit = 0.0
        ops = []
        for i, op in enumerate(self.workload.ops(pass_no)):
            label = f"p{pass_no}:{i}:{op.name}"
            self.attempted += 1
            if measured:
                self.tracer.begin_op(label)
            c0 = stats.tree_cpu_seconds()
            j0 = stats.jit_cpu_seconds(self.jvm)
            w0 = time.time()
            t0 = time.perf_counter()
            try:
                out = op.run(self.tracer)
                err = None
            except Exception as exc:  # noqa: BLE001 - an op failure is a result
                out, err = None, exc
            t1 = time.perf_counter()
            w1 = time.time()
            j1 = stats.jit_cpu_seconds(self.jvm)
            c1 = stats.tree_cpu_seconds()
            if measured:
                self.tracer.end_op()
            ok = err is None
            if ok:
                try:
                    ok = bool(op.check(out))
                except Exception:  # noqa: BLE001
                    traceback.print_exc(file=sys.stderr)
                    ok = False
            else:
                print(f"op {label} failed: {err!r}", file=sys.stderr)
            rec = {
                "label": label, "name": op.name, "kind": op.kind, "layer": op.layer,
                "fmt": op.fmt, "wall": t1 - t0, "cpu": (c1 - c0) - (j1 - j0),
                "jit": j1 - j0, "start": w0, "end": w1, "ok": ok,
            }
            ops.append(rec)
            wall += rec["wall"]
            cpu += rec["cpu"]
            jit += rec["jit"]
        extra = self.workload.end_pass(pass_no)
        for fmt, good in extra.get("tables_ok", {}).items():
            if not good:  # a bad read-back fails every write op of that table
                for rec in ops:
                    if rec["fmt"] == fmt:
                        rec["ok"] = False
        for rec in ops:
            if not rec["ok"]:
                self.failed.append(rec["label"])
        result = {"wall": wall, "cpu": cpu, "jit": jit, "ops": len(ops), **extra}
        if measured:
            self.records.extend(ops)
        return result


def summarize(runner: Runner, setup_s: float, mem: dict[str, float]) -> tuple[dict, dict]:
    from lakebench import stats

    reads = [r["wall"] for r in runner.records if r["kind"] == "read"]
    writes = [r["wall"] for r in runner.records if r["kind"] == "write"]
    read_tail, read_p = stats.tail(reads)
    metrics = {
        "setup_s": setup_s,
        "pass_cpu_s": statistics.median(p["cpu"] for p in runner.passes),
        "peak_mem_mb": mem["driver"] + mem["workers"] + mem["jvm_heap"],
        "ok_frac": (runner.attempted - len(runner.failed)) / runner.attempted,
    }
    detail = {
        "passes": len(runner.passes),
        "pass_s": statistics.median(p["wall"] for p in runner.passes),
        "pass_s_all": [p["wall"] for p in runner.passes],
        "pass_cpu_s_all": [p["cpu"] for p in runner.passes],
        "pass_jit_cpu_s_all": [p["jit"] for p in runner.passes],
        "warmup_pass_s": [p["wall"] for p in runner.warm],
        "warmup_pass_cpu_s": [p["cpu"] for p in runner.warm],
        "warmup_pass_jit_cpu_s": [p["jit"] for p in runner.warm],
        "reads": len(reads),
        "read_p50_s": statistics.median(reads),
        "read_tail_s": read_tail,
        "read_tail_percentile": read_p,
        "op_median_s": {
            name: statistics.median(r["wall"] for r in runner.records if r["name"] == name)
            for name in dict.fromkeys(r["name"] for r in runner.records)
        },
        "memory_mb": mem,
        "failed_ops": runner.failed[:50],
    }
    if writes:
        write_tail, write_p = stats.tail(writes)
        detail.update(
            writes=len(writes),
            write_p50_s=statistics.median(writes),
            write_tail_s=write_tail,
            write_tail_percentile=write_p,
            write_amp=statistics.median(p["write_amp"] for p in runner.passes),
            space_amp=statistics.median(p["space_amp"] for p in runner.passes),
        )
    return metrics, detail


def layer_metrics(runner: Runner, tracer, detail: dict) -> dict:
    """Per-layer numbers per measured pass."""
    from lakebench.tracing import FORMATS, LAYER_METRICS

    n = len(runner.passes)
    windows = {r["label"]: (r["start"], r["end"]) for r in runner.records}
    spark_sum = tracer.event_log_summary(windows)
    wall = sum(r["wall"] for r in runner.records)
    covered = sum(spark_sum["covered"].values())
    out = {k: 0.0 for k in LAYER_METRICS}
    out.update({k: v / n for k, v in tracer.secs.items() if k in out})
    out.update({k: v / n for k, v in tracer.calls.items() if k in out})
    out.update({k: v / n for k, v in spark_sum["totals"].items() if k in out})
    out["driver.gap_s"] = (wall - covered) / n
    out["spark.job_share"] = covered / wall if wall else 0.0
    for fmt in FORMATS:
        for part in ("commit", "maintain"):
            out[f"{fmt}.{part}_s"] = sum(
                r["wall"] for r in runner.records if r["layer"] == f"{fmt}.{part}"
            ) / n
        if runner.passes and "files_written" in runner.passes[0]:
            out[f"{fmt}.files_written"] = sum(p["files_written"][fmt] for p in runner.passes) / n
            out[f"{fmt}.bytes_written"] = (
                sum(p["bytes_written"][fmt] for p in runner.passes) / n / 2**20
            )
    if "writers_files" in (runner.passes[0] if runner.passes else {}):
        out["writers.files"] = sum(p["writers_files"] for p in runner.passes) / n
    for key in ("write_p50_s", "write_tail_s", "write_amp", "space_amp"):
        if key in detail:
            out[f"lake.{key}"] = detail[key]
    out["trace.pass_s"] = detail["pass_s"]
    out["trace.read_p50_s"] = detail["read_p50_s"]
    return {k: {"value": v, "unit": LAYER_METRICS[k]} for k, v in out.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "projectdatalake_spark")):
        print(f"engine package projectdatalake_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from lakebench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".lakebench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return run(args, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str) -> int:
    from lakebench import tracing
    from lakebench.workloads import WORKLOADS

    prepare_environment(work)
    workload = WORKLOADS[args.workload](work, args.seed)
    inputs = workload.generate()

    from projectdatalake_spark.session import get_spark

    spark = get_spark("lakebench", extra_confs=spark_confs(work, bool(args.trace)))
    try:
        tracer = (
            tracing.Tracer(spark, os.path.join(work, "eventlog"))
            if args.trace else tracing.NullTracer()
        )
        workload.setup(spark)
        runner = Runner(workload, tracer, jvm_pid())
        warmup = workload.warmup_passes
        for p in range(warmup):
            runner.warm.append(runner.run_pass(p, measured=False))
        setup_s = process_age_s()
        retries0 = atomic_sleeps()
        t0 = time.perf_counter()
        p = warmup
        while not runner.passes or time.perf_counter() - t0 < args.seconds:
            runner.passes.append(runner.run_pass(p, measured=True))
            p += 1
        retries = atomic_sleeps() - retries0
        workload.close()  # the checks' DuckDB connection is not the program's
        mem = memory_mb(spark)
    finally:
        stop_spark(spark)
    metrics, detail = summarize(runner, setup_s, mem)
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": os.environ["SPARK_GRAFT_CPUS"],
        "warmup_passes": warmup, "inputs": inputs, **detail,
    }
    if args.trace:
        report = layer_metrics(runner, tracer, detail)
        report["atomic.retry_sleeps"]["value"] = retries / len(runner.passes)
    else:
        report = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
    detail["end_to_end"] = metrics
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": not runner.failed,
        "attempted": runner.attempted,
        "failed": len(runner.failed),
        "metrics": report,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
