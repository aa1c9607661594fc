"""Process-tree CPU and memory from ``/proc`` (no psutil).

The tree is the benchmark process plus every descendant: the Spark
driver JVM and the Python daemon and workers it forks.  CPU seconds sum
``utime + stime + cutime + cstime`` over live members; a reaped
worker's time moves into its parent's ``cutime``, so the sum neither
drops nor double-counts when workers come and go.  Peak RSS is the
highest sampled sum of member RSS.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces or parens: split after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> dict[int, int]:
    """``root`` and all its live descendants, as pid -> parent pid."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(name)
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = {root: 0}, [root]
    while todo:
        pid = todo.pop()
        for kid in children.get(pid, ()):
            out[kid] = pid
            todo.append(kid)
    return out


def tree_cpu_s(root: int) -> float:
    total = 0
    for pid in tree_pids(root):
        f = _stat_fields(str(pid))
        if f is not None:
            # fields 14-17 of stat (1-based), after pid and comm
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of the tree.  A child with its parent's exact virtual
    size shares the parent's address space (a vfork'ed child before
    exec, as the JVM makes to spawn commands) and is counted once.
    Virtual size, unlike RSS, does not move between the two reads."""
    parents = tree_pids(root)
    statm: dict[int, str] = {}
    for pid in parents:
        try:
            with open(f"/proc/{pid}/statm") as f:
                statm[pid] = f.read()
        except OSError:
            pass
    size = {pid: line.split() for pid, line in statm.items()}
    return sum(
        int(f[1]) * _PAGE
        for pid, f in size.items()
        if parents[pid] not in size or size[parents[pid]][0] != f[0]
    )


def cpu_stat() -> list[int]:
    """System-wide jiffies from the first line of ``/proc/stat``."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_fraction(a: list[int], b: list[int]) -> float:
    """Share of elapsed CPU time the hypervisor stole between samples."""
    d = [y - x for x, y in zip(a, b)]
    tot = sum(d)
    return d[7] / tot if tot and len(d) > 7 else 0.0


class TreeSampler:
    """Background sampler of the process tree's RSS; ``peak_rss`` is the
    highest sum seen since ``start``."""

    def __init__(self, root: int | None = None, interval: float = 0.1):
        self.root = root or os.getpid()
        self.interval = interval
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_rss = max(self.peak_rss, tree_rss_bytes(self.root))
            self._stop.wait(self.interval)

    def start(self) -> "TreeSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def reset_peak(self) -> None:
        self.peak_rss = tree_rss_bytes(self.root)

    def cpu_s(self) -> float:
        return tree_cpu_s(self.root)

    def wait_children_gone(self, timeout: float) -> bool:
        end = time.monotonic() + timeout
        while len(tree_pids(self.root)) > 1:
            if time.monotonic() > end:
                return False
            time.sleep(0.1)
        return True
