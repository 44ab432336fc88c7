"""Clocks for one timed region, read from /proc: wall seconds, CPU
seconds of this process and every process it started (the Spark JVM
and its Python workers), and the share of the host's CPU time the
hypervisor stole meanwhile.

Steal is time a virtual CPU wanted to run but the hypervisor ran
another guest. It is never charged to a process, so on a host that
lends its cores to other guests a region's wall time grows with steal
while its CPU time does not. The workloads report wall medians over
the regions whose steal share stayed at or below ``STEAL_MAX``.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")
STEAL_MAX = 0.02


def _stat(pid: int) -> tuple[int, float] | None:
    """(parent pid, user+system seconds of the process and its reaped
    children) for ``pid``, or None if it has exited."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # fields[0] is state; ppid, utime, stime, cutime, cstime follow
    ppid = int(fields[1])
    ticks = sum(int(x) for x in fields[11:15])
    return ppid, ticks / _TICK


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU seconds of ``root`` (default: this process) and
    all of its live descendants, including their reaped children."""
    root = os.getpid() if root is None else root
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    total, frontier = 0.0, [root]
    while frontier:
        pid = frontier.pop()
        if pid in stats:
            total += stats[pid][1]
            frontier.extend(p for p, (ppid, _) in stats.items() if ppid == pid)
    return total


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def steal_share(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    return (t1[0] - t0[0]) / max(1, t1[1] - t0[1])


class Meter:
    """``with Meter() as m: ...`` leaves ``m.wall``, ``m.cpu`` and
    ``m.steal`` (0..1) for the block."""

    def __enter__(self):
        self.c0 = tree_cpu_s()
        self.k0 = cpu_ticks()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self.t0
        self.steal = steal_share(self.k0, cpu_ticks())
        self.cpu = tree_cpu_s() - self.c0
        return False

    def __repr__(self) -> str:
        return f"({self.wall:.3f} s, {self.cpu:.2f} cpu-s, {100 * self.steal:.1f}% steal)"


def clean(meters: list[Meter]) -> list[Meter]:
    """The regions measured on a quiet host (steal ≤ ``STEAL_MAX``),
    or all of them if none was."""
    return [m for m in meters if m.steal <= STEAL_MAX] or meters
