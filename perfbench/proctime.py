"""CPU time of this process and every process it started, from /proc.

The JVM is a child of the Python driver, and Spark's Python workers are
children of the JVM, so the tree below ``os.getpid()`` is the whole
program.  User plus system time excludes the time the hypervisor stole
from the VM, which is why CPU time varies far less between runs than wall
time on a shared machine.
"""

from __future__ import annotations

import os


def _table() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, user + system ticks including reaped children)."""
    stats: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        # fields after the command name: state ppid ... utime stime cutime cstime
        fields = raw[raw.rindex(")") + 2:].split()
        stats[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return stats


def _tree(stats: dict[int, tuple[int, int]], root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _ticks) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system seconds of ``root`` (default: this process) and all
    its descendants, reaped children included."""
    stats = _table()
    ticks = sum(stats[p][1] for p in _tree(stats, root or os.getpid()) if p in stats)
    return ticks / os.sysconf("SC_CLK_TCK")


def descendants() -> list[int]:
    """Live processes below this one."""
    me = os.getpid()
    return [p for p in _tree(_table(), me) if p != me]
