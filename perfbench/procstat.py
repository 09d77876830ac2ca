"""Process-tree CPU time and peak resident memory from ``/proc``.

The tree is this process plus every live descendant (the Spark JVM,
the PySpark daemon and its Python workers).  CPU time of descendants
that already exited is included through the ``cutime``/``cstime`` of
the live parent that reaped them.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process exited between listing and reading
        return None
    # comm may contain spaces or parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all of its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of the process tree, reaped children included."""
    ticks = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            # fields after ')': state=0, ppid=1, ... utime=11 stime=12 cutime=13 cstime=14
            ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / _TICK


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return "?"


class PeakRss:
    """Peak ``VmHWM`` over explicit samples of the process tree, split by
    command: ``driver`` (this process), ``java`` (the Spark JVM) and the
    Python workers.  ``session_mb`` is the driver plus the JVM, the two
    processes that live for the whole session; how many Python workers
    exist at a sample depends on task scheduling."""

    SESSION = ("driver", "java")

    def __init__(self) -> None:
        self.parts: dict = {}

    def sample(self) -> None:
        for pid in tree_pids():
            name = "driver" if pid == os.getpid() else _comm(pid)
            self.parts[name] = max(self.parts.get(name, 0.0), _status_kb(pid, "VmHWM") / 1024.0)

    @property
    def session_mb(self) -> float:
        return sum(self.parts.get(k, 0.0) for k in self.SESSION)
