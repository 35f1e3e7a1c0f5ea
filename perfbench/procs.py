"""CPU time and peak memory of this process and every process below it
(the Spark JVM, the Python worker daemon and its workers), read from /proc.

CPU includes each process's reaped children (``cutime``/``cstime``), so a
worker that exits inside a measured interval is still counted: its time
moves into its parent's child counters when the parent waits for it.
"""

from __future__ import annotations

import os

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            # the command name may hold spaces; fields resume after ')'
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    st = _stat_fields(pid)
    return st is not None and st[0] != "Z"


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat_fields(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of the tree, reaped children included."""
    ticks = 0
    for pid in tree_pids(root):
        st = _stat_fields(pid)
        if st is not None:
            # utime, stime, cutime, cstime (fields 14-17 of proc(5))
            ticks += sum(int(x) for x in st[11:15])
    return ticks / _CLK_TCK


def tree_peak_rss_mb(root: int | None = None) -> dict[str, float]:
    """``VmHWM`` (peak resident set) in MB of each live process of the tree,
    keyed by ``<pid>:<command name>``."""
    out = {}
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
            out[f"{pid}:{fields['Name'].strip()}"] = int(fields["VmHWM"].split()[0]) / 1024.0
        except (OSError, KeyError, ValueError):
            pass
    return out
