"""CPU and RSS of this process and all its descendants, read from /proc.

The benchmark's process tree is this Python process, the JVM it launches,
the PySpark worker daemon the JVM forks and the daemon's workers. Each
live process contributes its own user+sys time plus that of the children
it has already reaped, so short-lived Python workers are counted once
their daemon waits for them.
"""

from __future__ import annotations

import os
import threading

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read_stats() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, cpu ticks incl. reaped children, rss pages)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                raw = fh.read()
        except OSError:  # the process exited while we listed /proc
            continue
        # fields after the ")" that closes the command name: state is [0],
        # ppid [1], utime/stime/cutime/cstime [11:15], rss [21]
        rest = raw[raw.rindex(b")") + 2 :].split()
        ticks = sum(int(x) for x in rest[11:15])
        out[int(name)] = (int(rest[1]), ticks, int(rest[21]))
    return out


def _tree(stats: dict[int, tuple[int, int, int]], root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    todo, seen = [root], []
    while todo:
        pid = todo.pop()
        if pid in stats:
            seen.append(pid)
            todo.extend(children.get(pid, ()))
    return seen


def _tree_stats() -> list[tuple[int, int, int]]:
    stats = _read_stats()
    return [stats[p] for p in _tree(stats, os.getpid())]


def tree_cpu_s() -> float:
    return sum(ticks for _, ticks, _ in _tree_stats()) / _CLK


def tree_rss_mb() -> float:
    return sum(rss for _, _, rss in _tree_stats()) * _PAGE / 2**20


def tree_pids() -> list[int]:
    """Descendants of this process."""
    me = os.getpid()
    return [p for p in _tree(_read_stats(), me) if p != me]


class PeakRss:
    """Samples the tree's summed RSS on a background thread while the
    ``with`` block runs; ``peak_mb`` is the largest sample."""

    INTERVAL_S = 0.25

    def __init__(self) -> None:
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            if self._stop.wait(self.INTERVAL_S):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
