"""This run's process tree, read from /proc: for its peak memory, its CPU
time and stopping it."""

from __future__ import annotations

import os

TICKS = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def state(pid: int) -> str | None:
    """The state letter of a process, or None once it is gone."""
    fields = _stat(pid)
    return fields[0] if fields else None


def tree(root_pids: list[int]) -> list[int]:
    """The given processes and all their descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit() and (fields := _stat(int(entry))) is not None:
            children.setdefault(int(fields[1]), []).append(int(entry))
    todo, seen = list(root_pids), []
    while todo:
        pid = todo.pop()
        if pid not in seen:
            seen.append(pid)
            todo.extend(children.get(pid, []))
    return seen


def cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    gateway JVM and its Python workers), reaped children included, so the
    difference of two readings is what the tree used in between."""
    ticks = 0
    for pid in tree([os.getpid()]):
        if (fields := _stat(pid)) is not None:  # utime, stime, cutime, cstime
            ticks += sum(int(f) for f in fields[11:15])
    return ticks / TICKS
