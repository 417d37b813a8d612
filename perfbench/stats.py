"""Small measurement helpers: the percentile rule and a /proc RSS sampler."""

from __future__ import annotations

import contextlib
import math
import os
import threading
import time

#: a reported tail percentile must have at least this many samples beyond it
MIN_BEYOND = 10


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no samples")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_q(n: int, wanted: float) -> float:
    """The highest percentile up to ``wanted`` that keeps at least
    MIN_BEYOND samples beyond it at sample count ``n``; 0.5 when even the
    median has fewer than that."""
    if n <= 0:
        raise ValueError("no samples")
    best = 1.0 - MIN_BEYOND / n
    return max(0.5, min(wanted, best))


def beyond(n: int, q: float) -> int:
    """Number of samples strictly above the ``q`` quantile position."""
    return n - 1 - math.floor(q * (n - 1))


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system, including reaped children) used so far
    by ``pid`` and every live descendant. Unlike wall time it does not
    grow when the host steals the CPUs from this machine."""
    ticks = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields 14-17 of stat: utime stime cutime cstime
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_rss_bytes(pid: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the RSS of this process and all its descendants (the driver
    JVM and its Python workers) every ``period`` seconds; ``peak`` is the
    largest sum seen."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.period)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
        return self.peak


class Stopwatch:
    """Phase timer: ``with sw.phase("name"):`` adds the phase's wall
    seconds to ``wall`` and its process-tree CPU seconds to ``cpu``."""

    def __init__(self):
        self.wall: dict[str, float] = {}
        self.cpu: dict[str, float] = {}

    @contextlib.contextmanager
    def phase(self, name: str):
        t0, c0 = time.perf_counter(), tree_cpu_s(os.getpid())
        try:
            yield
        finally:
            self.wall[name] = self.wall.get(name, 0.0) + time.perf_counter() - t0
            self.cpu[name] = self.cpu.get(name, 0.0) + tree_cpu_s(os.getpid()) - c0
