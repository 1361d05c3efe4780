"""Steadiness tool: is each metric repeatable enough to hold its bound?

    # N fresh processes of one workload, one seed each; per-metric median,
    # quartiles and IQR/median, checked against BENCHMARK.json's bounds
    python3 lakebench/steady.py runs --workload query_mix --runs 10

    # the per-pass wall/CPU warm-up curve of one long run, warm-up passes
    # included, used to choose each workload's fixed warm-up pass count
    python3 lakebench/steady.py curve --workload query_mix --seconds 90

Run from the root of a checkout. A metric whose spread exceeds its bound
cannot hold it: drop the metric and write down why; never widen a bound
past the measured spread.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from lakebench import stats  # noqa: E402

DETAIL_TIMES = ("pass_s", "read_p50_s")


def run_once(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"run failed: {' '.join(cmd)} (exit {proc.returncode})")
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


def load_bounds() -> dict[str, float]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m.get("bound") for m in spec["end_to_end"]}


def cmd_runs(args) -> int:
    bounds = load_bounds()
    seeds = [args.first_seed + i for i in range(args.runs)]
    values: dict[str, list[float]] = {}
    correct = True
    for seed in seeds:
        detail, result = run_once(args.workload, seed, args.seconds, args.trace)
        correct &= result["correct"]
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        for name in DETAIL_TIMES:  # wall times: reported, not bounded
            values.setdefault(f"detail.{name}", []).append(detail[name])
        print(json.dumps({"seed": seed, "correct": result["correct"],
                          "pass_s_all": [round(v, 3) for v in detail["pass_s_all"]],
                          **{k: round(v["value"], 4) for k, v in result["metrics"].items()}}),
              flush=True)
    print(f"\n{args.workload}: {len(seeds)} runs, seeds {seeds[0]}..{seeds[-1]}, all correct: {correct}")
    print(f"{'metric':24s} {'median':>10s} {'q1':>10s} {'q3':>10s} {'iqr/med':>8s} {'bound':>6s}  verdict")
    worst_ok = True
    for name, vals in values.items():
        s = stats.spread(vals)
        bound = bounds.get(name)
        if bound is None:
            verdict = "-"
        elif s["rel_iqr"] <= bound / 3:
            verdict = "steady (< bound/3)"
        elif s["rel_iqr"] <= bound:
            verdict = "within bound"
        else:
            verdict = "TOO NOISY"
            worst_ok = False
        print(f"{name:24s} {s['median']:10.4f} {s['q1']:10.4f} {s['q3']:10.4f} "
              f"{s['rel_iqr']:8.4f} {bound if bound is not None else '-':>6}  {verdict}")
    return 0 if worst_ok and correct else 1


def cmd_curve(args) -> int:
    detail, result = run_once(args.workload, args.seed, args.seconds, 0)
    warm = detail["warmup_passes"]
    print(f"{args.workload}: warm-up curve, seed {args.seed}, the first {warm} passes are warm-up")
    print(f"{'pass':>4s} {'wall_s':>8s} {'cpu_s':>8s} {'jit_cpu_s':>9s}")
    walls = detail["warmup_pass_s"] + detail["pass_s_all"]
    cpus = detail["warmup_pass_cpu_s"] + detail["pass_cpu_s_all"]
    jits = detail["warmup_pass_jit_cpu_s"] + detail["pass_jit_cpu_s_all"]
    for i, (w, c, j) in enumerate(zip(walls, cpus, jits)):
        print(f"{i:4d} {w:8.3f} {c:8.3f} {j:9.3f}")
    return 0 if result["correct"] else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Repeatability of the benchmark's metrics.")
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("runs", help="N runs of one workload, one seed each")
    r.add_argument("--workload", required=True)
    r.add_argument("--runs", type=int, default=10)
    r.add_argument("--first-seed", type=int, default=1)
    r.add_argument("--seconds", type=float, default=None)
    r.add_argument("--trace", type=int, default=0)
    c = sub.add_parser("curve", help="per-pass warm-up curve of one long run")
    c.add_argument("--workload", required=True)
    c.add_argument("--seed", type=int, default=1)
    c.add_argument("--seconds", type=float, default=90)
    args = ap.parse_args(argv)
    if args.cmd == "runs":
        if args.seconds is None:
            with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
                args.seconds = json.load(fh)["run_seconds"]
        return cmd_runs(args)
    return cmd_curve(args)


if __name__ == "__main__":
    sys.exit(main())
