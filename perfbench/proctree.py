"""Resident memory of a process tree, read from ``/proc`` (no psutil here).

Spark's JVM is a child of the benchmark's Python process and the
Python workers are children of the JVM, so the tree rooted at the
benchmark process covers every process a run holds memory in."""

from __future__ import annotations

import os
import threading


def _ppid(stat: str) -> int:
    # The command name (field 2) is parenthesised and may hold spaces or
    # ')', so fields are counted from the last ')'.
    return int(stat[stat.rindex(")") + 2 :].split()[1])


def children(proc: str = "/proc") -> dict[int, list[int]]:
    """Parent pid -> child pids for every process visible in ``proc``."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir(proc):
        if not entry.isdigit():
            continue
        try:
            with open(os.path.join(proc, entry, "stat")) as f:
                parent = _ppid(f.read())
        except (OSError, ValueError, IndexError):
            continue  # the process exited while we read
        kids.setdefault(parent, []).append(int(entry))
    return kids


def tree_pids(root: int, proc: str = "/proc") -> list[int]:
    """``root`` and all of its descendants."""
    kids = children(proc)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def rss_bytes(pid: int, proc: str = "/proc") -> int:
    """VmRSS of one process; 0 when it has exited or holds no memory."""
    try:
        with open(os.path.join(proc, str(pid), "status")) as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_rss_bytes(root: int, proc: str = "/proc") -> int:
    return sum(rss_bytes(pid, proc) for pid in tree_pids(root, proc))


class PeakRss:
    """Samples the tree's summed RSS on a background thread.  ``take()``
    returns the largest sum since the previous ``take()``.  Use as a
    context manager."""

    def __init__(self, root: int | None = None, interval_s: float = 0.1):
        self.root = os.getpid() if root is None else root
        self.interval_s = interval_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> int:
        value = tree_rss_bytes(self.root)
        with self._lock:
            self._peak = max(self._peak, value)
        return value

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def take(self) -> int:
        self._sample()  # an interval shorter than the sampling period
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
