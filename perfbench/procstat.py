"""Process-tree CPU, peak RSS and contention telemetry read from /proc.

The benchmark's process tree is this driver, the Spark JVM it launches and
the JVM's Python workers. ``TreeSampler`` samples the tree's resident set
in a background thread so the peak over a timed region is known, and
``Region`` brackets a timed region with the counters needed for CPU used
and for the contention figures:

- ``steal_cores``: time the hypervisor ran another guest on this machine's
  vCPUs, in average cores over the region;
- ``foreign_cores``: CPU busy time on this machine not spent by the
  benchmark's tree, in average cores over the region.

A run with either above about one core was measured under neighbour load.
The arithmetic follows ``bench.py:_proc_stat`` and ``_own_tree_cpu``.
"""

from __future__ import annotations

import os
import threading
import time

_HZ = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def system_cpu() -> dict:
    """Machine-wide busy and steal seconds since boot."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return {"busy": (v[0] + v[1] + v[2] + v[5] + v[6]) / _HZ,
            "steal": v[7] / _HZ}


def _table() -> dict:
    """pid -> (ppid, cpu seconds incl. reaped children, rss bytes)."""
    info = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                rest = f.read().rsplit(") ", 1)[1].split()
        except (OSError, IndexError):
            continue
        cpu = sum(int(x) for x in rest[11:15]) / _HZ
        info[int(d)] = (int(rest[1]), cpu, int(rest[21]) * _PAGE)
    return info


def _tree(info: dict, root: int) -> list[int]:
    out = []
    for pid in info:
        p, hops = pid, 0
        while p > 1 and p != root and hops < 64:
            p = info.get(p, (0, 0.0, 0))[0]
            hops += 1
        if p == root:
            out.append(pid)
    return out


def tree_cpu(root: int | None = None) -> float:
    """CPU seconds used so far by ``root`` and its descendants, counting
    children they have already reaped."""
    info = _table()
    return sum(info[p][1] for p in _tree(info, root or os.getpid()))


def tree_rss(root: int | None = None) -> int:
    info = _table()
    return sum(info[p][2] for p in _tree(info, root or os.getpid()))


class TreeSampler:
    """Background sampler of the tree's total RSS; ``peak`` is the highest
    sum seen since the last ``reset``."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def reset(self):
        with self._lock:
            self.peak = 0

    def sample(self):
        rss = tree_rss()
        with self._lock:
            self.peak = max(self.peak, rss)

    def _loop(self):
        while not self._stop.wait(self.interval_s):
            self.sample()


class Region:
    """Counters around a timed region: wall, tree CPU, steal and foreign
    cores. Use as a context manager; read the fields after exit."""

    def __enter__(self):
        self._sys0 = system_cpu()
        self._cpu0 = tree_cpu()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall_s = time.perf_counter() - self._t0
        sys1, cpu1 = system_cpu(), tree_cpu()
        self.cpu_s = cpu1 - self._cpu0
        busy = sys1["busy"] - self._sys0["busy"]
        span = max(self.wall_s, 1e-9)
        self.steal_cores = (sys1["steal"] - self._sys0["steal"]) / span
        self.foreign_cores = max(busy - self.cpu_s, 0.0) / span


def reap_children(timeout_s: float = 30.0) -> None:
    """Wait until every descendant of this process has exited; terminate
    any that outlive ``timeout_s``."""
    import signal

    deadline = time.monotonic() + timeout_s
    me = os.getpid()
    while True:
        kids = [p for p in _tree(_table(), me) if p != me]
        if not kids:
            return
        if time.monotonic() > deadline:
            import sys

            print(f"perfbench: killing lingering processes {kids}",
                  file=sys.stderr)
            for p in kids:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + 5
        try:  # collect direct children so they do not linger as zombies
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        time.sleep(0.1)

