"""Readers for ``/proc``: CPU and memory of a process tree, and the host's
steal time and load average (Linux only)."""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces and parentheses: split after the last ")"
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant of it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds of the tree under ``root``. Each live
    process counts its own time and that of the children it has reaped, so a
    Python worker that exited during the run still counts once."""
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime stime cutime cstime: fields 14-17 of stat, 1-based
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_peak_rss_bytes(root: int) -> dict[str, int]:
    """Peak resident set (``VmHWM``) of the live tree under ``root``, summed
    per command name (``java``, ``python3``, ...)."""
    out: dict[str, int] = {}
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            name = fields["Name"].strip()
            out[name] = out.get(name, 0) + int(fields["VmHWM"].split()[0]) * 1024
    return out


def count_children_named(root: int, needle: str) -> int:
    """Processes in the tree whose command line contains ``needle``."""
    n = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if needle.encode() in f.read():
                    n += 1
        except OSError:
            pass
    return n


def host_steal_s() -> float:
    """Steal time of all CPUs, in seconds since boot."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def process_start_epoch(pid: int) -> float:
    """Wall-clock time at which ``pid`` started (10 ms resolution)."""
    start_ticks = int(_stat_fields(pid)[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / _TICK)
