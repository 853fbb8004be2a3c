"""Peak resident memory and CPU time of a process tree, read from /proc."""

from __future__ import annotations

import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _cpu_ticks(pid: int) -> int:
    """utime + stime of ``pid`` and of the children it has reaped."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return 0
    return sum(int(x) for x in stat[stat.rindex(b")") + 2 :].split()[11:15])


def tree_cpu_s(pid: int) -> float:
    """CPU seconds used so far by ``pid`` and every descendant, live or
    reaped. Time the hypervisor stole from the guest is not in it."""
    return sum(_cpu_ticks(p) for p in [pid, *descendants(pid)]) / _TICK


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", "rb") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


class RssMonitor:
    """Samples the summed RSS of ``pid`` and all its descendants (the Spark
    JVM and its Python workers) every ``interval`` seconds in a thread."""

    def __init__(self, pid: int, interval: float = 0.5):
        self.pid = pid
        self.interval = interval
        self._peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> int:
        return sum(_rss_bytes(p) for p in [self.pid, *descendants(self.pid)])

    def _run(self) -> None:
        while not self._stop.is_set():
            self._peak = max(self._peak, self._sample())
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread.start()

    def reset_peak(self) -> None:
        self._peak = self._sample()

    def peak_mb(self) -> float:
        return max(self._peak, self._sample()) / 2**20

    def wait_for_children(self, timeout: float) -> bool:
        """Wait until every descendant process has exited."""
        deadline = time.monotonic() + timeout
        while descendants(self.pid):
            if time.monotonic() > deadline:
                return False
            time.sleep(0.1)
        return True

    def kill_children(self) -> None:
        for p in descendants(self.pid):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
        self.wait_for_children(timeout=10)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
