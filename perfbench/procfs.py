"""Readers of /proc: CPU time of the benchmark's process tree, peak RSS,
CPU steal, and memory size."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of ``root`` (default: this process) and
    every live descendant, plus what their reaped children used — here the
    Python driver, the Spark JVM and the Python workers it forks. CPU time
    barely grows while the hypervisor runs another tenant, which wall
    time on a shared host does."""
    root = os.getpid() if root is None else root
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        pid = int(name)
        kids.setdefault(int(fields[1]), []).append(pid)
        ticks[pid] = sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(kids.get(pid, ()))
    return total / _TICK


def vm_hwm_kb(pid: int | str = "self") -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat: time the hypervisor gave
    this VM's CPUs to someone else, a noise source of shared hosts."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    return fields[7], sum(fields)


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("no MemTotal in /proc/meminfo")
