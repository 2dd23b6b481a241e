"""CPU time, peak memory and host state read from ``/proc`` (no psutil).

The benchmark process tree is the driver Python process, the JVM it
launches and the Python worker daemon and workers the JVM forks.
"""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int):
    """(ppid, cpu seconds incl. reaped children) of one process, or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[0] is state (stat field 3): utime..cstime are stat fields 14-17
    ticks = sum(int(x) for x in fields[11:15])
    return int(fields[1]), ticks / CLK_TCK


def tree(root: int | None = None) -> dict:
    """pid -> cpu seconds for ``root`` (default: this process) and every
    descendant."""
    root = root or os.getpid()
    info = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                info[int(name)] = st
    kids: dict = {}
    for pid, (ppid, _) in info.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in info:
            out[pid] = info[pid][1]
            todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    return sum(tree(root).values())


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def rss_parts_mb(root: int | None = None) -> dict:
    """VmHWM (MB) of the driver, the JVM and the largest Python worker."""
    root = root or os.getpid()
    parts = {"driver": 0.0, "jvm": 0.0, "worker": 0.0}
    for pid in tree(root):
        hwm = _status_kb(pid, "VmHWM") / 1024.0
        if pid == root:
            parts["driver"] = hwm
        elif _comm(pid) == "java":
            parts["jvm"] += hwm
        else:
            parts["worker"] = max(parts["worker"], hwm)
    return parts


def peak_rss_mb(root: int | None = None) -> float:
    """Peak resident memory of the tree: VmHWM of the driver and the JVM
    plus that of the largest Python worker."""
    return sum(rss_parts_mb(root).values())


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_times() -> list:
    """Aggregate ``cpu`` line of /proc/stat (jiffies per state)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list, after: list) -> float:
    """Share of all CPU time stolen by the hypervisor between two samples."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])
    return d[7] / total if total > 0 else 0.0
