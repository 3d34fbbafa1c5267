"""Host and process readings from /proc (psutil is not available)."""

from __future__ import annotations

import os


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                ppid = int(_stat_fields(int(entry))[1])
            except (OSError, IndexError, ValueError):
                continue
            tree.setdefault(ppid, []).append(int(entry))
    return tree


def descendants(pid: int | None = None) -> list[int]:
    tree = _children()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for child in tree.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def child_pid(comm: str) -> int | None:
    """The first descendant of this process whose command name is ``comm``."""
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == comm:
                    return pid
        except OSError:
            continue
    return None


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_kb() -> int:
    """Sum of peak resident sizes of this process and its descendants
    (the JVM and any Python workers it started)."""
    return sum(_hwm_kb(p) for p in [os.getpid()] + descendants())


def host_state() -> dict:
    """Load average and cumulative CPU steal, to explain a noisy run."""
    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    ticks = [int(x) for x in cpu[1:]]
    return {"loadavg": load, "steal_ticks": ticks[7], "total_ticks": sum(ticks)}


def steal_share(start: dict, end: dict) -> float:
    """Share of CPU time the hypervisor took between two host states."""
    return (end["steal_ticks"] - start["steal_ticks"]) / max(
        1, end["total_ticks"] - start["total_ticks"])


def tree_cpu_ms() -> float:
    """User plus system CPU time of this process and its descendants."""
    total = 0
    for pid in [os.getpid()] + descendants():
        try:
            fields = _stat_fields(pid)
        except (OSError, IndexError):
            continue
        total += int(fields[11]) + int(fields[12])
    return total * 1000.0 / os.sysconf("SC_CLK_TCK")
