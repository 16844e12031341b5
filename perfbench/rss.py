"""Peak resident memory of PySpark Python workers, sampled from /proc.

A background thread walks /proc every `interval` seconds, keeps the
processes that descend from this process and run `pyspark.daemon` or
`pyspark.worker` (workers forked by the daemon keep its command line), and
tracks the highest VmRSS any single one of them reached. Linux only; no
dependency beyond the standard library.
"""

from __future__ import annotations

import os
import threading

_MARKERS = (b"pyspark.daemon", b"pyspark.worker")


def _ppid(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return None
    # the command name sits in parentheses and may contain spaces
    return int(stat[stat.rindex(b")") + 2 :].split()[1])


def _rss_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", "rb") as f:
            for line in f:
                if line.startswith(b"VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except OSError:
        return False
    return any(m in cmd for m in _MARKERS)


def worker_pids(root: int) -> list[int]:
    """PySpark worker processes in the process tree below `root`."""
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            pp = _ppid(int(name))
            if pp is not None:
                parent[int(name)] = pp
    out = []
    for pid in parent:
        p = parent.get(pid)
        while p is not None and p != root and p > 1:
            p = parent.get(p)
        if p == root and _is_worker(pid):
            out.append(pid)
    return out


class WorkerRssSampler:
    """Background sampler. It samples only between `resume()` and `pause()`,
    so it takes no CPU from the parts of a run it does not measure;
    `take_peak()` returns the highest single-worker RSS (MB) seen since the
    previous call and starts a new window."""

    def __init__(self, root: int | None = None, interval: float = 0.1):
        self._root = root if root is not None else os.getpid()
        self._interval = interval
        self._lock = threading.Lock()
        self._peak_kib = 0
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def start(self) -> WorkerRssSampler:
        self._thread.start()
        return self

    def sample(self) -> None:
        peak = max((_rss_kib(p) for p in worker_pids(self._root)), default=0)
        with self._lock:
            self._peak_kib = max(self._peak_kib, peak)

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            if self._active.is_set():
                self.sample()

    def resume(self) -> None:
        self._active.set()

    def pause(self) -> None:
        self._active.clear()

    def take_peak(self) -> float:
        self.sample()
        with self._lock:
            peak, self._peak_kib = self._peak_kib, 0
        return peak / 1024.0

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
