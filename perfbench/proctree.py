"""CPU time of a process tree, read from /proc.

The engine is three kinds of process: the Python driver, the JVM it
launches, and the Python workers the JVM forks for pandas UDFs. Their CPU
time is summed per kind, so a trace can tell JVM work from time spent on
the Python side of the UDF boundary.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, str, float] | None:
    """(ppid, comm, cpu seconds incl. reaped children) of `pid`, or None if
    it has exited."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is field 3 (state): ppid is field 4, utime..cstime 14..17
    ticks = sum(int(x) for x in fields[11:15])
    return int(fields[1]), comm, ticks / _TICK


def _table() -> dict[int, tuple[int, str, float]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


def descendants(root: int, table: dict | None = None) -> set[int]:
    table = _table() if table is None else table
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = set(), [root]
    while todo:
        pid = todo.pop()
        for c in children.get(pid, []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


class ProcTree:
    """The process tree under one driver process (default: this one)."""

    def __init__(self, root: int | None = None):
        self.root = os.getpid() if root is None else root

    def jvm_pid(self, table: dict | None = None) -> int | None:
        table = _table() if table is None else table
        for pid in sorted(descendants(self.root, table)):
            if table[pid][1] == "java":
                return pid
        return None

    def cpu(self) -> dict[str, float]:
        """CPU seconds so far, split into driver / jvm / workers (everything
        below the JVM: the pyspark daemon and its UDF workers)."""
        table = _table()
        jvm = self.jvm_pid(table)
        below_jvm = descendants(jvm, table) if jvm else set()
        out = {"driver": table[self.root][2], "jvm": 0.0, "workers": 0.0}
        for pid in descendants(self.root, table):
            kind = "jvm" if pid == jvm else "workers" if pid in below_jvm else "driver"
            out[kind] += table[pid][2]
        return out
