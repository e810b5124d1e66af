"""CPU time and peak memory of a process tree, read from /proc.

The benchmark's process starts the Spark JVM, which starts the pyspark
daemon and its workers; work can move between all of them, so both
figures are taken over the whole tree rooted at this process.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def tree(root: int | None = None) -> list[int]:
    """Every live pid in the tree rooted at ``root`` (default: self)."""
    todo, seen = [root or os.getpid()], []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def _cpu_ticks(pid: int) -> int:
    """utime + stime + cutime + cstime: the process plus its reaped
    children, so a worker that exited mid-phase still counts."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in fields[11:15])


def cpu_seconds(root: int | None = None) -> float:
    return sum(_cpu_ticks(p) for p in tree(root)) / _TICK


def peak_rss_by_process(root: int | None = None) -> dict[str, float]:
    """VmHWM (peak resident set, MB) of each live process in the tree,
    keyed by 'pid name'."""
    out = {}
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            out[f"{pid} {fields['Name'].strip()}"] = \
                int(fields["VmHWM"].split()[0]) / 1024.0
    return out


def peak_rss_mb(root: int | None = None) -> float:
    """Sum of VmHWM over the tree."""
    return sum(peak_rss_by_process(root).values())
