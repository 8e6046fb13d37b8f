"""Summary statistics and process-tree CPU and memory figures for the
benchmark."""

from __future__ import annotations

import os
import statistics


def median(values) -> float:
    values = list(values)
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def quartile_spread(values) -> float:
    """(Q3 - Q1) / median, quartiles as ``statistics.quantiles(n=4)`` gives
    them — the run-to-run spread a metric's bound is compared against."""
    values = list(values)
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    mid = median(values)
    if mid == 0:
        return 0.0 if q3 == q1 else float("inf")
    return (q3 - q1) / abs(mid)


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_steal_s() -> float:
    """Seconds of CPU time the hypervisor has taken from this machine's
    CPUs since boot (the ``steal`` column of /proc/stat; 0 where absent).
    A run that loses much of it ran on a busy host."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


def _parent_map() -> dict[int, int]:
    parents = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may contain spaces/parens: the ppid is the 2nd field after ')'.
        parents[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return parents


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` (not including it)."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _parent_map().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


# HotSpot names its JIT compiler threads "C1 CompilerThread<n>" and
# "C2 CompilerThread<n>" (15 characters survive in /proc).
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _cpu_ticks(stat: str) -> tuple[str, list[int]]:
    """(comm, [utime, stime, cutime, cstime]) of one /proc stat line."""
    comm = stat[stat.index("(") + 1:stat.rindex(")")]
    fields = stat.rsplit(")", 1)[1].split()
    return comm, [int(x) for x in fields[11:15]]


def tree_cpu_s(root: int, skip_threads: tuple[str, ...] = JIT_THREADS) -> float:
    """CPU seconds (user + system, with those of reaped children) used so
    far by every process below ``root`` (in local mode: the driver JVM, its
    executor threads and the Python workers it forked), less the CPU of
    live threads whose name starts with one of ``skip_threads``.

    The kernel does not charge a thread for time the hypervisor took from
    its CPU, so this follows the load of the host less than wall time. The JIT compiler threads are left out by default: their work is
    compiling the program, not running it, and it fades over a run."""
    ticks = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                ticks += sum(_cpu_ticks(f.read())[1])
            tids = os.listdir(f"/proc/{pid}/task") if skip_threads else ()
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    comm, (utime, stime, *_) = _cpu_ticks(f.read())
            except OSError:
                continue
            if comm.startswith(skip_threads):
                ticks -= utime + stime
    return ticks / _TICK


def _hwm_bytes(pid: int) -> int:
    """The kernel's resident-set high-water mark of ``pid`` (VmHWM)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_peak_rss_bytes(root: int) -> int:
    """Per-process resident-set high-water marks summed over ``root`` and
    all its descendants."""
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            total += _hwm_bytes(pid)
        except (OSError, ValueError):
            continue
    return total


class PeakRss:
    """High-water RSS of the process tree over a region (the driver JVM and
    the Python workers are children of this process in local mode).

    On entry each process's high-water mark is reset to its current RSS
    (``/proc/<pid>/clear_refs``); ``peak_bytes`` is their sum on exit. No
    sampling thread runs during the region: one polling /proc every 50 ms
    slowed the jobs it watched by about a tenth."""

    def __init__(self, root: int | None = None):
        self.root = os.getpid() if root is None else root
        self.peak_bytes = 0

    def __enter__(self) -> "PeakRss":
        for pid in [self.root, *descendants(self.root)]:
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                continue
        return self

    def __exit__(self, *exc) -> None:
        self.peak_bytes = tree_peak_rss_bytes(self.root)
