"""CPU time and resident memory of a process tree, read from ``/proc``.

The tree is the benchmark's own Python process, the Spark JVM it starts
and the JVM's Python workers.  CPU time counts ``utime + stime`` of every
live process plus ``cutime + cstime``, which holds the time of children
that have exited and been reaped, so short-lived workers are not lost.
"""

from __future__ import annotations

import os
import threading

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may contain spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def _tree(root: int) -> list[list[str]]:
    """``stat`` fields of ``root`` and every descendant."""
    by_parent: dict[int, list[int]] = {}
    fields: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            fields[int(name)] = f
            by_parent.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in fields:
            out.append(fields[pid])
            todo.extend(by_parent.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of the tree rooted at ``root``."""
    ticks = 0
    for f in _tree(root or os.getpid()):
        ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / _CLK


def tree_rss_bytes(root: int | None = None) -> int:
    return sum(int(f[21]) for f in _tree(root or os.getpid())) * _PAGE


class PeakRss:
    """Samples the tree's summed RSS on a background thread while the
    ``with`` block runs; ``peak`` is the highest sample seen."""

    def __init__(self, interval_s: float = 0.1, root: int | None = None):
        self.interval_s = interval_s
        self.root = root or os.getpid()
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(self.root))
