"""Process-tree readings from /proc: parent links, start times, CPU time
and resident memory. Used from outside the measured process (memory,
stragglers) and from inside it (CPU time of one operation)."""

from __future__ import annotations

import os

PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")


def stat(pid: int) -> tuple[int, int, int] | None:
    """(parent pid, start time, CPU ticks used by the process and its
    reaped children) of a live process, None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            rest = f.read().rsplit(")", 1)[1].split()
        return int(rest[1]), int(rest[19]), sum(int(x) for x in rest[11:15])
    except (OSError, IndexError, ValueError):
        return None


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE
    except (OSError, IndexError, ValueError):
        return 0


def tree(root: int) -> dict[int, tuple[int, int, int]]:
    """stat() of `root` and every live descendant, by pid."""
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = stat(int(d))
            if st:
                stats[int(d)] = st
    out, frontier = {}, [root]
    while frontier:
        out.update((p, stats[p]) for p in frontier if p in stats)
        frontier = [p for p, st in stats.items() if st[0] in frontier]
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by `root` and its live descendants."""
    return sum(st[2] for st in tree(root).values()) / TICK
