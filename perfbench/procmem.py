"""Peak resident memory of a process tree, read from ``/proc``.

``VmHWM`` is the kernel's own high-water mark of a process's resident
set, so reading it once at the end of a run gives the peak without a
sampling thread.  Shared pages count in every process that maps them, so
the sum over a tree is an upper bound on the tree's true peak.
"""

from __future__ import annotations

import os


def vm_hwm_kb(status_text: str) -> int:
    """The ``VmHWM`` field of a ``/proc/<pid>/status`` text, in kB."""
    for line in status_text.splitlines():
        if line.startswith("VmHWM:"):
            value, unit = line.split()[1:3]
            if unit != "kB":
                raise ValueError(f"unexpected VmHWM unit {unit!r}")
            return int(value)
    raise ValueError("no VmHWM line in status text")


def _read(path: str) -> str | None:
    try:
        with open(path, encoding="ascii", errors="replace") as fh:
            return fh.read()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None  # the process ended between listing and reading


def parent_pid(stat_text: str) -> int:
    """The ppid field of a ``/proc/<pid>/stat`` text; the command name in
    parentheses may itself hold spaces and parentheses."""
    return int(stat_text[stat_text.rindex(")") + 2 :].split()[1])


def descendants(root: int, proc: str = "/proc") -> list[int]:
    """All live descendants of ``root``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        stat = _read(os.path.join(proc, name, "stat"))
        if stat is not None:
            children.setdefault(parent_pid(stat), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def peak_rss_mb(pids: list[int], proc: str = "/proc") -> float:
    """Sum of ``VmHWM`` over ``pids``, in MiB.  Ended processes count 0,
    and so do zombies, whose status has no memory fields left."""
    total_kb = 0
    for pid in pids:
        status = _read(os.path.join(proc, str(pid), "status"))
        if status is not None and "\nVmHWM:" in status:
            total_kb += vm_hwm_kb(status)
    return total_kb / 1024.0
