"""Process-tree accounting from ``/proc``: resident memory, bytes read, and
an orderly stop of every process the benchmark started.

The benchmark process starts one JVM (PySpark's gateway); the JVM starts
the Python worker daemon and its workers.  All of them are descendants of
the benchmark process, so walking ``/proc/<pid>/task/*/children`` from our
own pid finds the whole tree.
"""

from __future__ import annotations

import glob
import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICKS = os.sysconf("SC_CLK_TCK")


def descendants(root: int) -> list[int]:
    """Every live descendant pid of ``root`` (not ``root`` itself)."""
    out: list[int] = []
    stack = [root]
    while stack:
        pid = stack.pop()
        for path in glob.glob(f"/proc/{pid}/task/*/children"):
            try:
                with open(path) as f:
                    kids = [int(x) for x in f.read().split()]
            except OSError:
                continue
            out.extend(kids)
            stack.extend(kids)
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def rchar(pid: int) -> int:
    """Bytes the process read through read-type syscalls (``/proc/<pid>/io``
    ``rchar``: files, page cache and sockets alike)."""
    try:
        with open(f"/proc/{pid}/io") as f:
            for line in f:
                if line.startswith("rchar:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def cpu_seconds(pid: int) -> float:
    """User plus system CPU time of one process, in seconds."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        # own user + system time, plus that of reaped children
        return sum(int(x) for x in fields[11:15]) / _TICKS
    except (OSError, IndexError, ValueError):
        return 0.0


def tree_cpu_seconds(root: int) -> float:
    """CPU time of ``root`` and every live descendant."""
    return cpu_seconds(root) + sum(cpu_seconds(p) for p in descendants(root))


def host_steal() -> tuple[int, int]:
    """(steal ticks, all ticks) of the machine so far, from ``/proc/stat``:
    the time the hypervisor ran something else while a CPU had work."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def tree_rchar(root: int) -> int:
    """Bytes read by the descendants of ``root`` (the JVM and Python
    workers), excluding ``root`` itself."""
    return sum(rchar(p) for p in descendants(root))


class PeakRss:
    """Samples the resident memory of the whole process tree on a daemon
    thread and keeps the peak.  ``stop()`` joins the thread."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        total = rss_bytes(self.root) + sum(
            rss_bytes(p) for p in descendants(self.root)
        )
        self.peak = max(self.peak, total)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def start(self) -> "PeakRss":
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def _alive(pid: int) -> bool:
    """True while ``pid`` exists and has not exited (zombies have)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until every pid has exited; return those still alive."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _alive(p)]
        if alive:
            time.sleep(0.05)
    return alive


def kill_and_wait(pids: list[int], timeout_s: float = 10.0) -> None:
    """SIGKILL whatever is left of ``pids`` and wait for it to go."""
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    wait_gone(pids, timeout_s)
