"""Process-tree sampling from ``/proc``: memory and CPU time of this
process and every descendant (the JVM and Python workers).

Memory is the proportional set size (PSS): pages shared between processes
(the forked Python workers share most of theirs) count once across the
tree instead of once per process, as the plain resident set size would."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")
# One sample of a busy tree costs about 30 ms of CPU (most of it reading the
# JVM's smaps_rollup), so the tree is sampled twice a second.
SAMPLE_INTERVAL_S = 0.5
SAMPLE_WINDOW = 3


def _stat(pid: int) -> tuple[int, float, int] | None:
    """(ppid, cpu seconds, rss bytes) of one process, None if it is gone.
    The CPU time includes that of the children it has reaped, so a worker
    that exits during a span still counts, through its parent."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[0] is field 3 (state): ppid=4, utime=14, stime=15, cutime=16,
    # cstime=17, rss=24
    return (int(fields[1]), sum(int(f) for f in fields[11:15]) / _TICK,
            int(fields[21]) * _PAGE)


def _tree(root: int) -> dict[int, tuple[int, float, int]]:
    """Stats of ``root`` and every live descendant."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            tree[pid] = stats[pid]
        todo.extend(children.get(pid, ()))
    return tree


def _pss(pid: int, rss: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return rss


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root`` and its live descendants, plus those of the
    descendants they reaped."""
    return sum(t[1] for t in _tree(root).values())


def tree_memory(root: int) -> int:
    """PSS bytes of ``root`` and its live descendants."""
    return sum(_pss(pid, t[2]) for pid, t in _tree(root).items())


def descendants(root: int) -> list[int]:
    return [pid for pid in _tree(root) if pid != root]


class TreeSampler:
    """Background sampler of the process tree's peak memory: the highest
    median of ``SAMPLE_WINDOW`` consecutive samples, so the peak is one the
    tree held for about a second, not a single reading taken while
    processes start or exit. ``cpu_s()`` reads the tree's CPU time now."""

    def __init__(self):
        self.root = os.getpid()
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="tree-sampler", daemon=True)

    def _run(self) -> None:
        recent: list[int] = []
        while not self._stop.is_set():
            recent = (recent + [tree_memory(self.root)])[-SAMPLE_WINDOW:]
            self.peak_bytes = max(self.peak_bytes, sorted(recent)[len(recent) // 2])
            self._stop.wait(SAMPLE_INTERVAL_S)

    def cpu_s(self) -> float:
        return tree_cpu_s(self.root)

    def __enter__(self) -> "TreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
