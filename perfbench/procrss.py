"""Summed RSS of the Python processes below this one, read from /proc.

The benchmark process starts the JVM, the JVM starts the PySpark daemon and
the daemon forks the Python workers. The JVM itself is left out: its heap
follows ``spark.driver.memory``, not the engine's work. The workers run with
the engine's malloc settings (no trimming below 1 GiB), so their RSS holds
its high-water mark and a sample after each op sees the peak; sampling from
the benchmark's own thread keeps the scan out of every timed op.
"""

from __future__ import annotations

import os

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, command name) for every visible process."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                stat = f.read()
        except OSError:  # the process ended between listdir and open
            continue
        # comm sits in parentheses and may hold spaces; fields follow ')'
        lp, rp = stat.index(b"("), stat.rindex(b")")
        ppid = int(stat[rp + 2:].split()[1])
        out[int(entry)] = (ppid, stat[lp + 1:rp].decode(errors="replace"))
    return out


def python_descendants_rss(root: int) -> int:
    """Summed resident bytes of the ``python*`` processes descending from
    ``root`` (``root`` itself excluded)."""
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        if not table[pid][1].startswith("python"):
            continue
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total
