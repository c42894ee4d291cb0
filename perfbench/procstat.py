"""Process-tree and host counters read from /proc."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # comm may hold spaces; the fields after it are space-separated
    return s[s.rindex(")") + 2 :].split()


def children(pid: int) -> list[int]:
    """Direct children (every thread's children file, joined)."""
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for t in tids:
        try:
            with open(f"/proc/{pid}/task/{t}/children") as f:
                out.extend(int(x) for x in f.read().split())
        except OSError:
            pass
    return out


def tree(pid: int, exclude: frozenset[int] = frozenset()) -> list[int]:
    """``pid`` and all its descendants, skipping the subtrees of ``exclude``."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        if p in exclude:
            continue
        out.append(p)
        todo.extend(children(p))
    return out


def cpu_s(pids) -> float:
    """CPU seconds of the given processes, reaped children included
    (utime + stime + cutime + cstime)."""
    total = 0
    for p in pids:
        f = _stat_fields(p)
        if f is not None:
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def host_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies of the whole host from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    # guest time is already counted in user/nice
    return sum(vals[:8]), steal


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    dt = after[0] - before[0]
    return (after[1] - before[1]) / dt if dt > 0 else 0.0
