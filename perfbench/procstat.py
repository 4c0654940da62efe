"""Process-tree and host readings from /proc (Linux only)."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int) -> list[int]:
    """``root`` and all of its live descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat_fields(int(entry))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU-seconds of the live tree, reaped children included.

    ``cutime``/``cstime`` carry the CPU of children a process has waited
    for, so short-lived Python workers reaped by their daemon still count.
    """
    total = 0
    for pid in tree(root):
        fields = _stat_fields(pid)
        if fields is not None:
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_peak_rss_mb(root: int) -> dict[str, float]:
    """Peak resident set (VmHWM) of each live process in the tree, in MB."""
    out: dict[str, float] = {}
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            out[f"{pid}:{fields['Name'].strip()}"] = int(fields["VmHWM"].split()[0]) / 1024.0
    return out


def host_cpu_ticks() -> list[int]:
    """Aggregate ``cpu`` line of /proc/stat: user nice system idle iowait irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def host_shares(before: list[int], after: list[int]) -> dict[str, float]:
    """Steal and idle shares of all host CPU time between two readings."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta) or 1
    return {
        "steal_share": round(delta[7] / total, 4),
        "idle_share": round((delta[3] + delta[4]) / total, 4),
    }
