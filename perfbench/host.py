"""Readings of the benchmark's own process trees and of host weather, from
``/proc`` (Linux)."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, int] | None:
    """(parent pid, user+system CPU ticks of the process and its reaped
    children)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                children.setdefault(st[0], []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_ticks(root: int) -> dict[int, int]:
    return {pid: st[1] for pid in tree(root) if (st := _stat(pid))}


def cpu_seconds_between(before: dict[int, int], after: dict[int, int]) -> float:
    """CPU used between two ``cpu_ticks`` readings; a process that appeared in
    between counts whole."""
    return sum(t - before.get(pid, 0) for pid, t in after.items()) / _TICK


def peak_rss_by_command(root: int) -> dict[str, float]:
    """Peak resident set (VmHWM, MB) of the tree's processes, summed per
    command name."""
    out: dict[str, float] = {}
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            name = fields["Name"].strip()
            out[name] = out.get(name, 0.0) + int(fields["VmHWM"].split()[0]) / 1024.0
    return out


def weather() -> dict:
    """Host-wide CPU steal (seconds, summed over CPUs) and 1-minute load."""
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    steal = int(cpu[8]) / _TICK if len(cpu) > 8 else 0.0
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    return {"steal_s": steal, "load1": load1}


def weather_delta(before: dict, after: dict) -> dict:
    return {"steal_s": round(after["steal_s"] - before["steal_s"], 2),
            "load1": after["load1"]}
