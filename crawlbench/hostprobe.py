"""Host-side probes: process-tree memory, host speed controls, and
stopping the Spark JVM with every process it started.

`psutil` is not available, so the process tree and its resident memory
come from /proc.
"""

from __future__ import annotations

import os
import signal
import statistics
import threading
import time

import numpy as np

_PAGE = os.sysconf("SC_PAGE_SIZE")


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
        # the command name may hold spaces: fields start after ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def _alive(pid: int) -> bool:
    """True while the process exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


_TICK = os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def tree_rss_mb(pid: int) -> float:
    return sum(_rss_bytes(p) for p in [pid, *descendants(pid)]) / 1e6


class PeakRss:
    """Samples the summed RSS of this process and its descendants (the
    driver JVM and the Python workers) on a background thread."""

    def __init__(self, interval_s: float = 0.2):
        self.peak_mb = 0.0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pid))
            self._stop.wait(self._interval)


def cpu_control_s(reps: int = 3) -> float:
    """Median time of a fixed pure-Python loop (interpreter speed)."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc = (acc + i * i) % 1_000_003
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def mem_scan_s(reps: int = 3) -> float:
    """Median time of summing a 64 MB array (memory bandwidth)."""
    a = np.ones(8 * 1024 * 1024, dtype=np.float64)
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        float(a.sum())
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session and wait until every process this one started
    has ended. `spark.stop()` alone ends the Python workers but leaves
    the gateway JVM running for a later session; it would exit only
    after this process, unwaited. Closing its stdin ends it; whatever
    outlives the timeout is killed."""
    from pyspark import SparkContext
    pids = descendants(os.getpid())
    spark.stop()
    proc = SparkContext._gateway.proc
    SparkContext._gateway.shutdown()
    proc.stdin.close()
    deadline = time.monotonic() + timeout_s
    for p in pids:
        while _alive(p) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(p):
            os.kill(p, signal.SIGKILL)
