"""Host and process probes, read from /proc.

Host probes go into every run record so that a slow draw explains
itself: how well the cores run in parallel, the CPU steal share and the
load average over the run (the page-backing rate of fresh memory is
``bench.first_touch_mb_s``).
Process probes measure the benchmark's own process tree (this Python
process, the Spark JVM it launches and the JVM's Python workers)."""

from __future__ import annotations

import contextlib
import io
import os
import subprocess
import sys

CLK_TCK = os.sysconf("SC_CLK_TCK")


def mem_available_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    return 0


SPIN = """
import time
t0 = time.perf_counter()
x = 0
for i in range({n}):
    x += i * i
print(time.perf_counter() - t0)
"""


def cpu_parallel_eff(n_iter: int = 1_500_000) -> float:
    """Time of a CPU-bound loop alone (best of two, in this process) ÷
    the slowest of the same loop run at once in one interpreter per
    core: 1.0 when the cores are really there, lower under steal or
    co-tenant load. Each copy times itself, so start-up does not count."""
    code = SPIN.format(n=n_iter)
    single = float("inf")
    for _ in range(2):
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            exec(code, {})
        single = min(single, float(out.getvalue()))
    procs = [subprocess.Popen([sys.executable, "-c", code], stdout=subprocess.PIPE, text=True)
             for _ in range(os.cpu_count() or 1)]
    return single / max(float(p.communicate()[0]) for p in procs)


def cpu_times() -> dict[str, int]:
    """Aggregate /proc/stat CPU counters (clock ticks)."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    return dict(zip(names, vals))


def steal_share(before: dict[str, int], after: dict[str, int]) -> float:
    total = sum(after.values()) - sum(before.values())
    return (after["steal"] - before["steal"]) / total if total > 0 else 0.0


def loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = root or os.getpid()
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _kind(pid: int) -> str:
    if pid == os.getpid():
        return "bench_python"
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            argv = fh.read().split(b"\0")
    except OSError:
        return "other"
    if os.path.basename(argv[0]) == b"java":
        return "jvm"
    if any(b"pyspark" in a for a in argv):
        return "python_workers"
    return "other"


def tree_cpu_s(pids: list[int] | None = None) -> dict[str, float]:
    """User + system CPU seconds of the process tree by kind of process
    (this process, the JVM, the Python workers), including children a
    process has already reaped (pyspark's daemon reaps its workers)."""
    out: dict[str, float] = {}
    for pid in pids or process_tree():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        kind = _kind(pid)
        out[kind] = out.get(kind, 0.0) + ticks / CLK_TCK
    return out


JVM_THREADS = (
    ("jit", ("C1 CompilerThre", "C2 CompilerThre")),
    ("gc", ("G1 ", "GC Thread", "VM Thread")),
    ("tasks", ("Executor task l",)),
)


def jvm_thread_cpu_s(pids: list[int] | None = None) -> dict[str, float]:
    """CPU seconds of the JVM's live threads by role (JIT compiler, GC,
    Spark task threads, other) — a cold JVM spends much of an operation
    compiling, and this shows how much."""
    out: dict[str, float] = {}
    for pid in pids or process_tree():
        if _kind(pid) != "jvm":
            continue
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                    name = fh.read().strip()
                with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            role = next((r for r, prefixes in JVM_THREADS
                         if name.startswith(prefixes)), "other")
            out[role] = out.get(role, 0.0) + (int(f[11]) + int(f[12])) / CLK_TCK
    return out


def reset_peak_rss(pids: list[int] | None = None) -> None:
    """Restart each process's peak-RSS counter (VmHWM) from its current
    RSS, so the next read covers only what follows."""
    for pid in pids or process_tree():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


def tree_peak_rss_mb(pids: list[int] | None = None) -> float:
    """Sum over the tree of each process's peak RSS (VmHWM)."""
    kb = 0
    for pid in pids or process_tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024
