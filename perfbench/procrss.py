"""Resident memory and CPU time of a process tree, read from ``/proc``.

The benchmark's process tree is the Python driver, the Spark JVM it
launches and the JVM's Python workers. ``TreeRssSampler`` sums their
RSS every ``interval`` seconds on a daemon thread and keeps the peak;
``tree_cpu_s`` sums their CPU time, including that of children already
reaped by a process in the tree. The sampler's own CPU time is counted
in the root's, so ``TreeRssSampler.cpu_s`` gives it for subtraction.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int | str) -> list[str]:
    """``/proc/<pid>/stat`` from the state field on. The command name
    may hold spaces and parentheses, so split after its closing ')'."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(name)[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds of ``root`` and its descendants,
    with their reaped children (utime, stime, cutime, cstime)."""
    total = 0
    for pid in [root, *tree_pids(root)]:
        try:
            total += sum(int(v) for v in _stat_fields(pid)[11:15])
        except (OSError, IndexError, ValueError):
            continue
    return total / _TICK


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root`` and all its descendants."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


def tree_pids(root: int) -> list[int]:
    """``root``'s descendants (not ``root`` itself)."""
    kids = _children()
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


class TreeRssSampler:
    """Samples ``tree_rss_bytes(root)`` until ``stop()``; ``peak`` holds
    the highest sum seen."""

    def __init__(self, root: int, interval: float = 0.2) -> None:
        self.root = root
        self.interval = interval
        self.peak = 0
        self._tid: int | None = None
        self._stop = threading.Event()
        self._started = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        self._tid = threading.get_native_id()
        self._started.set()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            if self._stop.wait(self.interval):
                return

    def start(self) -> TreeRssSampler:
        self._thread.start()
        self._started.wait()
        return self

    def cpu_s(self) -> float:
        """User plus system CPU seconds of the sampling thread so far."""
        try:
            with open(f"/proc/self/task/{self._tid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            return 0.0  # the thread has ended
        return (int(fields[11]) + int(fields[12])) / _TICK

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
