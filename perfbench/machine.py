"""Machine capture from /proc: busy CPU and steal, process-tree RSS.

Busy CPU is read machine-wide from /proc/stat, because most of the work
runs in the JVM and in the Python workers it forks, not in the driver.
``obtained_cores`` and ``steal_frac`` let a swing in wall time be put down
to the machine (fewer delivered cores, hypervisor steal) instead of guessed.
"""

from __future__ import annotations

import os
import threading
import time

_HZ = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_RSS_INTERVAL_S = 0.2
_RELIST_EVERY = 5  # samples; re-listing the tree is the costly part


class CpuSample:
    """One /proc/stat reading: busy, steal and total jiffies, and the time."""

    def __init__(self) -> None:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        user, nice, system, idle, iowait, irq, softirq = vals[:7]
        self.steal = vals[7] if len(vals) > 7 else 0
        self.busy = user + nice + system + irq + softirq
        self.total = self.busy + self.steal + idle + iowait
        self.t = time.perf_counter()

    def busy_s(self, later: "CpuSample") -> float:
        """CPU-seconds the machine was busy between this sample and ``later``."""
        return (later.busy - self.busy) / _HZ

    def obtained_cores(self, later: "CpuSample") -> float:
        return self.busy_s(later) / max(later.t - self.t, 1e-9)

    def steal_frac(self, later: "CpuSample") -> float:
        return (later.steal - self.steal) / max(later.total - self.total, 1)


def _children() -> dict:
    """ppid -> [pid] over every process visible in /proc."""
    kids: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list:
    """Every live process below ``pid`` (the JVM, the Python worker daemon
    and its workers, for the driver)."""
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def rss_bytes(pids) -> int:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:  # the process ended
            continue
    return total


def tree_rss_bytes(pid: int) -> int:
    return rss_bytes([pid] + descendants(pid))


class PeakRss:
    """Samples the RSS of this process's tree on a thread until stopped;
    ``peak`` is the largest sum seen. Use as a context manager."""

    def __init__(self) -> None:
        self.pid = os.getpid()
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        n = 0
        while True:
            if n % _RELIST_EVERY == 0:
                pids = [self.pid] + descendants(self.pid)
            n += 1
            self.peak = max(self.peak, rss_bytes(pids))
            if self._stop.wait(_RSS_INTERVAL_S):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(self.pid))


def wait_gone(pids, timeout: float) -> list:
    """Wait until every pid has exited; returns the ones still alive."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
    return alive


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return True
    return stat[stat.rindex(")") + 2] == "Z"
