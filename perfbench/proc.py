"""CPU time and resident memory of this process's tree, read from /proc.

The tree is the benchmark process, the Spark JVM it launches and the
JVM's Python workers. CPU time counts each live process's user+system
time plus the time of children it has reaped, so a worker that exits
between two readings is still counted once.
"""

from __future__ import annotations

import os
import threading
import time

_TICKS = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process ended while we walked /proc
        return None
    # the command name is in parentheses and may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime (stat fields 14-17)
            total += sum(int(v) for v in fields[11:15])
    return total / _TICKS


def tree_rss_mb(root: int | None = None) -> float:
    pages = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                pages += int(fh.read().split()[1])
        except OSError:
            pass
    return pages * _PAGE / 1e6


class RssSampler:
    """Background thread keeping the peak tree RSS while it runs."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def wait_for_children(timeout_s: float = 30.0) -> list[int]:
    """Wait until this process has no descendants; return any left."""
    deadline = time.monotonic() + timeout_s
    while True:
        # reap exited direct children first, so they do not count as zombies
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        left = [p for p in tree_pids() if p != os.getpid()]
        if not left or time.monotonic() > deadline:
            return left
        time.sleep(0.1)
