"""Process-tree memory sampling and shutdown, read from ``/proc``.

``psutil`` is not available, so both the peak-RSS figure and the
"every process started has ended" teardown walk ``/proc/<pid>/stat``
themselves. The tree is this process plus every descendant: the JVM
that PySpark launches and the Python worker daemon and workers the JVM
forks.
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while listing
        # comm (field 2) may hold spaces; ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, stack = [], [pid]
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def _peak_rss_kb(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        return None
    return None


class TreePeakRss:
    """Sum over the process tree of each process's peak RSS (VmHWM).

    The kernel keeps VmHWM per process, so no sample can miss a peak;
    the background thread only has to see each process once before it
    exits. The sum is an upper bound on the tree's simultaneous peak:
    per-process peaks need not coincide, and pages shared between
    forked Python workers count once per worker.
    """

    def __init__(self, interval_s: float = 0.5):
        self._interval = interval_s
        self._peaks: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        for pid in [me, *descendants(me)]:
            kb = _peak_rss_kb(pid)
            if kb is not None and kb > self._peaks.get(pid, 0):
                self._peaks[pid] = kb

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self._sample()

    def start(self) -> "TreePeakRss":
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB (10^6 bytes)."""
        self._stop.set()
        self._thread.join()
        self._sample()
        return sum(self._peaks.values()) * 1024 / 1e6


def cpu_times() -> list[int]:
    """Host-wide CPU time per state from ``/proc/stat``, in clock ticks:
    user, nice, system, idle, iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` readings; wall times inflate with it."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            state = fh.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state != "Z"


def wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait until every pid has exited; SIGKILL what outlives the
    timeout and wait again, so nothing is left running on return."""
    deadline = time.monotonic() + timeout_s
    live = [p for p in pids if _alive(p)]
    while live and time.monotonic() < deadline:
        time.sleep(0.1)
        live = [p for p in live if _alive(p)]
    for p in live:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    while any(_alive(p) for p in live) and time.monotonic() < deadline:
        time.sleep(0.1)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, then wait for every
    process the JVM forked (Python worker daemon and workers)."""
    from pyspark import SparkContext

    tree = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        # The JVM exits when the pipe to its stdin closes.
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    wait_gone(tree, timeout_s=30)
