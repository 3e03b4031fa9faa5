"""Process metrics read from ``/proc``: peak resident memory and CPU
time of the driver JVM, its Python workers and the driver Python."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of ``pid`` in MiB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None  # exited between the listing and the read
    # the command name (field 2) may hold spaces; fields resume after ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) of ``root`` and every live
    descendant, plus the children each has already reaped."""
    ppid_of: dict[int, int] = {}
    fields: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                fields[int(name)] = st
                ppid_of[int(name)] = int(st[1])
    members, frontier = {root}, [root]
    while frontier:
        parent = frontier.pop()
        for pid, pp in ppid_of.items():
            if pp == parent and pid not in members:
                members.add(pid)
                frontier.append(pid)
    ticks = 0
    for pid in members:
        st = fields.get(pid)
        if st is not None:
            # fields 14-17 of stat: utime stime cutime cstime
            ticks += sum(int(x) for x in st[11:15])
    return ticks / _TICK


def self_cpu_s() -> float:
    t = os.times()
    return t.user + t.system
