"""Host counters from /proc: CPU of this process tree, steal, memory.

The tree is this process, the JVM it launched and the Python workers
the JVM forks. A process's ``cutime``/``cstime`` hold the CPU of the
children it has reaped, so summing all four fields over the live tree
counts every finished worker once.
"""

from __future__ import annotations

import os

TICK = os.sysconf("SC_CLK_TCK")


def _tree_pids() -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while the table was read
        children.setdefault(ppid, []).append(int(entry))
    pids, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo += children.get(pid, [])
    return pids


def tree_cpu_s() -> float:
    """User plus system CPU seconds of the live tree and its reaped children."""
    ticks = 0
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime are fields 14-17 of stat(5).
        ticks += sum(int(v) for v in fields[11:15])
    return ticks / TICK


def tree_peak_rss_mb() -> float:
    """Sum of each live process's peak resident set (VmHWM)."""
    total_kb = 0
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/status") as fh:
                total_kb += next(
                    (int(line.split()[1]) for line in fh if line.startswith("VmHWM:")), 0
                )
        except OSError:
            continue
    return total_kb / 1024


def steal_s() -> float:
    """Cumulative hypervisor steal over all CPUs, in seconds."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / TICK
