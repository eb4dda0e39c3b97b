"""Host-side probes: process age, load average, noise controls, worker RSS.

The two control samples are copied from the frozen ``bench.py`` (same
work, same sizes). They are recorded next to the metrics so that a noisy
host shows in the record; they never scale a metric.
"""

from __future__ import annotations

import hashlib
import os
import threading
import time


def cpu_control_sample() -> float:
    """sha256 over 160 MB: fixed single-thread CPU work (as in bench.py)."""
    buf = b"\xab" * (1 << 20)
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(160):
        h.update(buf)
    h.digest()
    return time.perf_counter() - t0


def membw_control_sample() -> float:
    """8 sums over a 128 MB float64 array: memory bandwidth (as in bench.py)."""
    import numpy as np
    arr = np.ones(128 * 1024 * 1024 // 8)
    t0 = time.perf_counter()
    for _ in range(8):
        arr.sum()
    return time.perf_counter() - t0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def seconds_since_process_start() -> float:
    """Wall time since this process was created (kernel start time)."""
    with open("/proc/self/stat") as f:
        # field 22 (starttime) follows the parenthesised command name
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return (time.clock_gettime(time.CLOCK_BOOTTIME)
            - start_ticks / os.sysconf("SC_CLK_TCK"))


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{entry}/children") as f:
                out.extend(int(p) for p in f.read().split())
        except OSError:
            pass
    return out


def _descendants(pid: int) -> list[int]:
    found, todo = [], [pid]
    while todo:
        try:
            kids = _children(todo.pop())
        except OSError:
            continue
        found.extend(kids)
        todo.extend(kids)
    return found


def _is_python_worker(pid: int) -> bool:
    # the daemon and the workers it forks run ``python -m pyspark.daemon``;
    # the JVM's own command line names pyspark too (its jars), and so does a
    # child it spawns for a shell command until that child execs
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


def _peak_rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class WorkerRssSampler:
    """Polls the peak RSS (VmHWM) of every PySpark Python process under the
    Spark JVM while the timed passes run."""

    def __init__(self, jvm_pid: int, interval_s: float = 0.5):
        self.jvm_pid = jvm_pid
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        for pid in _descendants(self.jvm_pid):
            if _is_python_worker(pid):
                self.peak_kb = max(self.peak_kb, _peak_rss_kb(pid))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "WorkerRssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()
