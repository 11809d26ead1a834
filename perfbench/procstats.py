"""Process-tree CPU time and resident memory, read from /proc.

The tree is this process plus every descendant: the Spark driver JVM
that pyspark launches, the Python worker daemon it forks and the
workers. Executor CPU counters miss the Python workers, so CPU is read
here instead. A child that exits and is reaped moves its CPU time into
its parent's `cutime`/`cstime`, so the tree total stays continuous as
workers come and go.

Resident memory counts only processes seen in two consecutive samples.
While the JVM spawns a helper (posix_spawn shares the JVM's address
space until the exec), the child reports the JVM's whole RSS; such a
child lives far shorter than the sampling interval. Reading PSS instead
(`smaps_rollup`) would walk the JVM's page tables under its mmap lock on
every sample, about 20 ms each, and slow the measured work.
"""

from __future__ import annotations

import os
import threading
from collections import defaultdict

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / float(1 << 20)


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode("ascii", "replace")
    except OSError:
        return None
    # fields after "(comm)": index 0 is field 3 (state) of proc(5)
    return raw[raw.rindex(")") + 2:].split()


def _tree(root: int) -> dict[int, list[str]]:
    """{pid: stat fields} for `root` and all its descendants."""
    children: dict[int, list[int]] = defaultdict(list)
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                stats[int(name)] = fields
                children[int(fields[1])].append(int(name))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """utime + stime + reaped children's time, summed over the tree."""
    total = 0
    for f in _tree(os.getpid() if root is None else root).values():
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _CLK


def tree_rss_pages(root: int | None = None) -> dict[int, int]:
    """{pid: resident pages} over the tree."""
    tree = _tree(os.getpid() if root is None else root)
    return {pid: int(f[21]) for pid, f in tree.items()}


def steady_rss_mb(prev: dict[int, int], cur: dict[int, int]) -> float:
    """Resident memory of the processes present in both samples."""
    return sum(pages for pid, pages in cur.items() if pid in prev) * _PAGE_MB


class PeakRss:
    """Samples the tree's resident memory on a background thread while
    active; `peak_mb` is the highest `steady_rss_mb` seen."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        prev = tree_rss_pages()
        while not self._stop.wait(self.interval_s):
            cur = tree_rss_pages()
            self.peak_mb = max(self.peak_mb, steady_rss_mb(prev, cur))
            prev = cur

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        if not self.peak_mb:  # active for less than one interval
            pages = tree_rss_pages()
            self.peak_mb = steady_rss_mb(pages, pages)
