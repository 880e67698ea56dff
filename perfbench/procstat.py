"""Process CPU and memory readings from ``/proc`` (Linux).

CPU is ``utime + stime`` in clock ticks, so readings have the kernel's
tick resolution (usually 10 ms). A reaped child's CPU moves into its
parent's ``cutime``/``cstime``; :func:`tree_cpu_s` sums both over the live
processes it is given, so a Python worker that exited and was reaped by the
PySpark daemon is still counted once.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int | str) -> list[str]:
    """Fields of ``/proc/<pid>/stat`` after the command name, so index 0 is
    the state (field 3 in proc(5)) and the name may hold spaces."""
    with open(f"/proc/{pid}/stat") as fh:
        raw = fh.read()
    return raw[raw.rindex(")") + 2 :].split()


def cpu_s(pid: int | str = "self", children: bool = False) -> float:
    """User plus system CPU seconds of one process; with ``children``, also
    the CPU of the children it has reaped."""
    f = _stat_fields(pid)
    ticks = int(f[11]) + int(f[12])
    if children:
        ticks += int(f[13]) + int(f[14])
    return ticks / _TICK


def start_epoch(pid: int | str = "self") -> float:
    """Wall-clock time the process started, from its boot-relative start
    tick and the boot time in ``/proc/stat``."""
    with open("/proc/stat") as fh:
        btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
    return btime + int(_stat_fields(pid)[19]) / _TICK


def comm(pid: int) -> str:
    with open(f"/proc/{pid}/comm") as fh:
        return fh.read().strip()


def descendants(root: int) -> list[int]:
    """Live descendants of ``root`` (not ``root`` itself)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            ppid = int(_stat_fields(entry)[1])
        except (OSError, ValueError, IndexError):
            continue  # exited while listing
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


def tree_cpu_s(pids: list[int]) -> float:
    """CPU of the given live processes including what each has reaped;
    processes that exit while being read count 0."""
    total = 0.0
    for pid in pids:
        try:
            total += cpu_s(pid, children=True)
        except (OSError, ValueError, IndexError):
            pass
    return total


def hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (``VmHWM``) in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")
