"""CPU and RSS of this process and all its descendants, read from /proc.

The tree is the benchmark's Python driver, the Spark JVM it launches and
the Python workers the JVM forks. CPU counts each live process's own
time plus the time of its reaped children, so work done by a worker that
exits mid-pass moves into its parent's count instead of vanishing.
"""

from __future__ import annotations

import glob
import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
RSS_INTERVAL_S = 0.1


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # comm may hold spaces; the fields after its closing paren are fixed
    return s[s.rindex(")") + 2 :].split()


def tree_pids() -> list[int]:
    """This process and its descendants, walked through each thread's
    ``children`` file, so the cost follows the tree, not the host."""
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        for children in glob.glob(f"/proc/{pid}/task/*/children"):
            try:
                with open(children) as f:
                    todo.extend(int(c) for c in f.read().split())
            except OSError:
                continue
    return out


def tree_cpu_s() -> float:
    """utime + stime + cutime + cstime over the tree, in seconds."""
    total = 0
    for pid in tree_pids():
        f = _stat_fields(pid)
        if f is not None:
            # fields 14-17 of stat(5), counted from the state field (3)
            total += sum(int(v) for v in f[11:15])
    return total / _TICK


def tree_rss_mb() -> float:
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            continue
    return total * _PAGE / 2**20


class RssSampler:
    """Background thread recording the tree's peak RSS between
    ``take_peak()`` calls. Sampling reads /proc only: no Spark calls.
    ``cpu_s`` is the thread's own CPU time, which the tree's CPU count
    includes and the caller subtracts."""

    def __init__(self):
        self.cpu_s = 0.0
        self._peak = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        while not self._stop.wait(RSS_INTERVAL_S):
            t0 = time.thread_time()
            rss = tree_rss_mb()
            with self._lock:
                self._peak = max(self._peak, rss)
                self.cpu_s += time.thread_time() - t0

    def take_peak(self) -> float:
        """Peak since the last call (including the current RSS)."""
        rss = tree_rss_mb()
        with self._lock:
            peak, self._peak = max(self._peak, rss), 0.0
        return peak


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    host's CPUs since boot (the steal column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def host_state() -> dict:
    """Load average, mean CPU MHz and cumulative steal, recorded beside
    each run's numbers so a noisy neighbour is visible after the fact."""
    out: dict = {"loadavg_1m": os.getloadavg()[0]}
    try:
        with open("/proc/cpuinfo") as f:
            mhz = [float(l.split(":")[1]) for l in f if l.startswith("cpu MHz")]
        if mhz:
            out["cpu_mhz"] = round(sum(mhz) / len(mhz), 1)
    except OSError:
        pass
    out["steal_s"] = steal_s()
    return out
