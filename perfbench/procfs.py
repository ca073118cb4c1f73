"""Readers over ``/proc`` for the process tree of one benchmark run.

The tree is the Python driver, the JVM it launched and the Python worker
daemon the JVM forks (which forks one worker per task).  CPU is
``utime + stime + cutime + cstime`` per live process, so a worker that
exited and was reaped by its parent still counts through the parent.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name, or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None
    # the command name may hold spaces and parentheses; it ends at the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def children_map() -> dict[int, list[int]]:
    """Parent pid -> child pids, for every process visible in ``/proc``."""
    out: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is None:
            continue
        out.setdefault(int(fields[1]), []).append(int(name))
    return out


def descendants(root: int, kids: dict[int, list[int]] | None = None) -> list[int]:
    """``root`` and every process below it, children before grandchildren."""
    kids = children_map() if kids is None else kids
    out = [root]
    i = 0
    while i < len(out):
        out.extend(kids.get(out[i], ()))
        i += 1
    return out


def cpu_seconds(pid: int) -> float:
    """User plus system CPU of ``pid`` and its reaped children, in seconds."""
    fields = _stat_fields(pid)
    if fields is None:
        return 0.0
    # after the name: utime, stime, cutime, cstime are fields 11..14
    return sum(int(v) for v in fields[11:15]) / _TICK


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


def process_age_s(pid: int) -> float:
    """Seconds since ``pid`` started."""
    start_ticks = int(_stat_fields(pid)[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / _TICK


def command(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return ""


def vm_hwm_kb(pid: int) -> int:
    """Peak resident set size (``VmHWM``) of ``pid`` in KiB, 0 if gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def tree_cpu_split(root: int) -> dict[str, float]:
    """CPU seconds of the tree under ``root``, split into the driver itself,
    the JVM (a ``java`` child of the driver) and everything under the JVM
    (the Python worker daemon and its workers)."""
    kids = children_map()
    out = {"driver": cpu_seconds(root), "jvm": 0.0, "pyworker": 0.0, "other": 0.0}
    for child in kids.get(root, ()):
        sub = descendants(child, kids)
        if "java" in command(child).split(" ", 1)[0]:
            out["jvm"] += cpu_seconds(child)
            out["pyworker"] += sum(cpu_seconds(p) for p in sub[1:])
        else:
            out["other"] += sum(cpu_seconds(p) for p in sub)
    return out


def tree_hwm_mb(root: int) -> float:
    """Sum of ``VmHWM`` over the tree under ``root``, in MiB."""
    return sum(vm_hwm_kb(p) for p in descendants(root)) / 1024.0


def host_cpu_ticks() -> dict[str, int]:
    """Host-wide CPU ticks from the first line of ``/proc/stat``."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    return {n: int(v) for n, v in zip(names, parts[1:9])}


def steal_share(before: dict[str, int], after: dict[str, int]) -> float:
    """Share of host CPU time stolen by the hypervisor between two readings."""
    total = sum(after.values()) - sum(before.values())
    return (after["steal"] - before["steal"]) / total if total > 0 else 0.0


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
