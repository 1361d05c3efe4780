"""Pure helpers: percentiles, the tail rule, process-tree CPU and the
write/space amplification byte accounting. No Spark, no I/O beyond
``/proc`` readers kept apart from the arithmetic they feed."""

from __future__ import annotations

import os
import statistics

# Percentiles the tail metric may report, lowest first.
TAIL_LADDER = (50, 75, 80, 90, 95, 99, 99.9)
TAIL_MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest value with at least ``p``% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, -(-len(ordered) * p // 100))
    return ordered[int(rank) - 1]


def tail_percentile(n: int) -> float | None:
    """The highest ladder percentile with at least ``TAIL_MIN_BEYOND``
    samples beyond it, or None when ``n`` is too small for any."""
    best = None
    for p in TAIL_LADDER:
        if n - -(-n * p // 100) >= TAIL_MIN_BEYOND:
            best = p
    return best


def tail(values: list[float]) -> tuple[float, float | None]:
    """(value, percentile) by the tail rule; falls back to the maximum
    when there are too few samples, and says so with percentile None."""
    p = tail_percentile(len(values))
    if p is None:
        return max(values), None
    return percentile(values, p), p


def spread(values: list[float]) -> dict[str, float]:
    """Median, quartiles and their distance as a share of the median
    (``statistics.quantiles(values, n=4)``, exclusive method)."""
    if len(values) < 2:
        v = values[0]
        return {"median": v, "q1": v, "q3": v, "rel_iqr": 0.0}
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "rel_iqr": (q3 - q1) / med if med else float("inf"),
    }


# --- CPU over a process tree --------------------------------------------

def parse_stat(text: str) -> tuple[int, int, int, int, int, int]:
    """(pid, ppid, utime, stime, cutime, cstime) from a /proc/<pid>/stat
    line. The command name may hold spaces and parentheses, so fields are
    counted from the last ``)``."""
    pid = int(text[: text.index(" ")])
    rest = text[text.rindex(")") + 2 :].split()
    # rest[0] is the state; ppid is field 4, utime..cstime are 14..17
    return pid, int(rest[1]), int(rest[11]), int(rest[12]), int(rest[13]), int(rest[14])


def tree_cpu_ticks(stats: list[tuple[int, int, int, int, int, int]], root: int) -> int:
    """CPU ticks of ``root`` and every live descendant, each counted with
    its reaped children's ticks (cutime/cstime), so workers that already
    exited and were waited for still count."""
    children: dict[int, list[int]] = {}
    by_pid = {}
    for s in stats:
        by_pid[s[0]] = s
        children.setdefault(s[1], []).append(s[0])
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        s = by_pid.get(pid)
        if s is None:
            continue
        total += s[2] + s[3] + s[4] + s[5]
        stack.extend(children.get(pid, ()))
    return total


def read_proc_stats() -> list[tuple[int, int, int, int, int, int]]:
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                out.append(parse_stat(fh.read()))
        except (FileNotFoundError, ProcessLookupError, ValueError, IndexError):
            continue  # exited between listdir and open
    return out


CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_seconds(root: int | None = None) -> float:
    return tree_cpu_ticks(read_proc_stats(), root or os.getpid()) / CLK_TCK


# HotSpot's JIT compiler threads, as /proc shows their 15-character names
# ("C2 CompilerThread0" becomes "C2 CompilerThre").
JIT_THREAD_PREFIXES = ("C1 CompilerThre", "C2 CompilerThre")


def thread_name(text: str) -> str:
    """The command name of a /proc/<pid>/task/<tid>/stat line."""
    return text[text.index("(") + 1 : text.rindex(")")]


def jit_ticks(threads: list[tuple[str, int, int]]) -> int:
    """CPU ticks of the JIT compiler threads among ``(name, utime,
    stime)`` of one JVM's threads."""
    return sum(u + s for name, u, s in threads if name.startswith(JIT_THREAD_PREFIXES))


def read_threads(pid: int) -> list[tuple[str, int, int]]:
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except FileNotFoundError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                text = fh.read()
        except (FileNotFoundError, ProcessLookupError):
            continue  # the thread ended between listdir and open
        _, _, utime, stime, _, _ = parse_stat(text)
        out.append((thread_name(text), utime, stime))
    return out


def jit_cpu_seconds(jvm_pid: int | None) -> float:
    """CPU seconds the JVM's JIT compiler threads have used so far. The
    JVM must keep a fixed set of compiler threads
    (``-XX:-UseDynamicNumberOfCompilerThreads``): the time of a thread
    that ends is no longer visible per thread."""
    if jvm_pid is None:
        return 0.0
    return jit_ticks(read_threads(jvm_pid)) / CLK_TCK


# --- byte accounting -------------------------------------------------------

FileState = dict[str, tuple[int, int]]  # path -> (size, mtime_ns)


def file_state(root: str) -> FileState:
    state: FileState = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            state[p] = (st.st_size, st.st_mtime_ns)
    return state


def bytes_written(before: FileState, after: FileState) -> int:
    """Bytes of files that are new or rewritten between two states: a
    file counts in full when it did not exist before or its size or
    mtime changed. Deleted files count nothing."""
    return sum(
        size
        for path, (size, mtime) in after.items()
        if before.get(path) != (size, mtime)
    )


def live_bytes(state: FileState) -> int:
    return sum(size for size, _ in state.values())


def amplification(storage_bytes: int, user_bytes: int) -> float:
    if user_bytes <= 0:
        raise ValueError("amplification needs a positive user byte count")
    return storage_bytes / user_bytes
