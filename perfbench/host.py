"""Host sizing and process-tree accounting.

CPUs come from the affinity mask (what this process may really run on, not
what ``nproc`` of the machine says); memory from ``/proc/meminfo``. The
Spark driver heap is derived from available RAM and handed to the program
through its own ``CURATOR_SPARK_DRIVER_MEM`` setting.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def cpus() -> list[int]:
    return sorted(os.sched_getaffinity(0))


def meminfo_mb() -> dict[str, int]:
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            if k in ("MemTotal", "MemAvailable"):
                out[k] = int(v.split()[0]) // 1024
    return out


def driver_mem_mb(available_mb: int) -> int:
    """A quarter of available RAM in 512 MiB steps, clamped to [1 GiB,
    16 GiB]: the driver JVM shares the box with one Python worker per core,
    and the steps keep small swings in free memory from resizing the heap."""
    return max(1024, min(16 * 1024, available_mb // 4 // 512 * 512))


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid or os.getpid(), []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def pin_tree(cpus: list[int]) -> None:
    """Set the CPU affinity of every thread of every descendant process
    (the driver JVM and its Python workers). Threads and processes they
    start later inherit it."""
    for pid in descendants():
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                os.sched_setaffinity(int(tid), cpus)
            except OSError:
                pass


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_seconds(pids: list[int]) -> float:
    """User plus system CPU time of ``pids`` and of their reaped children.
    Time the host steals from this VM is not in it."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def rss_by_pid(pids: list[int]) -> dict[int, int]:
    out = {}
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                out[p] = int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return out


class RssSampler:
    """Samples the summed RSS of this process's descendants (the driver
    JVM and its Python workers) every ``interval`` seconds; ``begin``/``end``
    bracket one timed operation and return its peak."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self._peak = 0
        self.peak_by_pid: dict[int, int] = {}  # per-process RSS at the peak
        self._active = False
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            if not self._active:  # unlocked peek: skip the /proc scan between operations
                continue
            by_pid = rss_by_pid(descendants())
            total = sum(by_pid.values())
            with self._lock:
                if self._active and total > self._peak:
                    self._peak = total
                    self.peak_by_pid = by_pid

    def begin(self) -> None:
        by_pid = rss_by_pid(descendants())
        with self._lock:
            self._peak = sum(by_pid.values())
            self.peak_by_pid = by_pid
            self._active = True

    def end(self) -> float:
        with self._lock:
            self._active = False
            return self._peak / 2**20

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def reap(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until every process in ``pids`` (a snapshot taken before the
    tree was told to stop, so reparented grandchildren stay tracked) has
    exited; SIGKILL whatever outlives ``timeout``, then wait for it too."""
    deadline = time.monotonic() + timeout
    while True:
        live = [p for p in pids if _alive(p)]
        if not live:
            return
        if time.monotonic() > deadline:
            for p in live:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.1)
