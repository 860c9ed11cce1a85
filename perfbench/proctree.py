"""CPU time and peak RSS of this process's tree, read from ``/proc``.

The tree is the benchmark process, the Spark JVM it launched, and
the Python workers the JVM forks. CPU counts utime + stime of every live
process plus cutime + cstime (children already reaped), so a worker that
exits between two readings keeps its time in its parent's total.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listing and reading
        return None
    # the command name is parenthesised and may contain spaces
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int | None = None) -> list[int]:
    """PIDs below ``root`` (default: this process), not including it."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def tree_cpu_s() -> float:
    """utime + stime + cutime + cstime over this process and its tree."""
    ticks = 0
    for pid in [os.getpid()] + descendants():
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of /proc/<pid>/stat; st starts at field 3
            ticks += sum(int(x) for x in st[11:15])
    return ticks / _TICK


def tree_peak_rss_mb() -> dict[str, float]:
    """Sum of VmHWM over the processes below this one, by process name
    (``java`` is the Spark JVM, ``python*`` the Spark Python workers)."""
    mb: dict[str, float] = {}
    for pid in descendants():
        name, hwm = None, None
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("Name:"):
                        name = line.split()[1]
                    elif line.startswith("VmHWM:"):
                        hwm = int(line.split()[1]) / 1024.0
                        break
        except OSError:
            continue
        if name is not None and hwm is not None:
            mb[name] = mb.get(name, 0.0) + hwm
    return mb


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests (steal), all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK
