"""Peak memory of a process tree, sampled from /proc.

The validation engine spans three kinds of process: the Python driver, the
JVM it launches, and the Python workers that a daemon forks. `getrusage`
only sees children that have exited, so it never counts the live JVM; this
sampler walks /proc on a background thread instead and sums the proportional
set size (PSS) over every descendant of the root pid. PSS rather than RSS:
forked workers share their parent's pages copy-on-write, and a sum of RSS
counts each shared page once per process, so it jumps whenever a worker is
forked without any new memory being used.
"""

from __future__ import annotations

import os
import threading


def _ppid(pid: str) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:  # the process exited between listdir and open
        return None
    # comm (field 2) may contain spaces; the fields after it are space-split
    return int(stat.rsplit(")", 1)[1].split()[1])


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # the process exited
        pass
    return 0


def process_tree(root: int) -> list[int]:
    """`root` and the pids of all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            parent = _ppid(name)
            if parent is not None:
                children.setdefault(parent, []).append(int(name))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def tree_pss_bytes(root: int) -> int:
    """Summed PSS bytes of `root` and all of its descendants."""
    return sum(_pss_bytes(pid) for pid in process_tree(root))


class PeakPss:
    """Context manager: samples the tree every `interval` seconds while open;
    `peak_mb` holds the largest sum seen."""

    def __init__(self, root: int | None = None, interval: float = 0.1):
        self.root = os.getpid() if root is None else root
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_pss_bytes(self.root))
            if self._stop.wait(self.interval):
                return

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20

    def __enter__(self) -> PeakPss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        # one last sample so a peak inside the final interval is not lost
        self.peak_bytes = max(self.peak_bytes, tree_pss_bytes(self.root))
