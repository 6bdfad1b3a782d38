"""CPU time and resident memory of a process tree, read from /proc.

The tree is the benchmark process and every descendant: the Spark JVM
it launches and the Python workers the JVM forks. CPU time counts each
live process's own time plus the time of children it has already
reaped, so workers that exit mid-run are not lost.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, cpu seconds incl. reaped children) of one process."""
    try:
        with open("/proc/%d/stat" % pid) as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    fields = raw[raw.rindex(")") + 2:].split()
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return ppid, (utime + stime + cutime + cstime) / _TICK


def _rss(pid: int) -> int:
    try:
        with open("/proc/%d/statm" % pid) as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def tree(root: int) -> dict[int, float]:
    """{pid: cpu seconds} for `root` and all its descendants."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            s = _stat(int(name))
            if s is not None:
                stats[int(name)] = s
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats and pid not in out:
            out[pid] = stats[pid][1]
            todo.extend(kids.get(pid, []))
    return out


def cpu_seconds(root: int) -> float:
    return sum(tree(root).values())


def descendants(root: int) -> list[int]:
    return [p for p in tree(root) if p != root]


class PeakRss:
    """Samples the summed RSS of the tree every `interval` seconds on a
    background thread while `armed`; `peak` holds the largest sum."""

    def __init__(self, root: int, interval: float = 0.1):
        self.root, self.interval = root, interval
        self.armed = False
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self.armed:
                self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        self.peak = max(self.peak, sum(_rss(p) for p in tree(self.root)))

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait until none of `pids` is alive; returns the ones still alive."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists("/proc/%d" % p) and not _zombie(p)]
    return alive


def _zombie(pid: int) -> bool:
    try:
        with open("/proc/%d/stat" % pid) as f:
            raw = f.read()
    except OSError:
        return True
    return raw[raw.rindex(")") + 2] == "Z"
