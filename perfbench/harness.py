"""Spark-free helpers of the benchmark: spans and self time, the tail
percentile rule, the fetch-log digest, the environment record, process
RSS and CPU sampling and directory sizes.

Everything here is plain Python so ``perfbench/tests`` can check it
without starting a JVM.
"""

from __future__ import annotations

import hashlib
import math
import os
import threading
from dataclasses import dataclass, field

# --------------------------------------------------------------- spans


@dataclass
class Span:
    """One timed call at a layer boundary."""

    name: str
    start: float
    end: float | None = None
    parent: int | None = None      # index of the enclosing span
    round_id: int | None = None
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part of its interval that its
    direct children cover (children clipped to the parent interval)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is None or sp.end is None:
            continue
        p = spans[sp.parent]
        s, e = max(sp.start, p.start), min(sp.end, p.end or sp.end)
        if e > s:
            kids.setdefault(sp.parent, []).append((s, e))
    return [max(0.0, sp.duration - _covered(kids.get(i, [])))
            for i, sp in enumerate(spans)]


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    out: dict[str, float] = {}
    for sp, t in zip(spans, self_times(spans)):
        out[sp.name] = out.get(sp.name, 0.0) + t
    return out


def count_by_name(spans: list[Span], key: str) -> dict[str, int]:
    out: dict[str, int] = {}
    for sp in spans:
        if key in sp.counts:
            out[sp.name] = out.get(sp.name, 0) + sp.counts[key]
    return out


# ---------------------------------------------------------- percentiles

PERCENTILE_LADDER = (99.99, 99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def tail_percentile(samples: list[float]) -> tuple[float, float] | None:
    """The highest percentile of the ladder with at least ``MIN_BEYOND``
    samples above its nearest-rank position, as (p, value); None when
    there are too few samples for even the median."""
    n = len(samples)
    vals = sorted(samples)
    for p in PERCENTILE_LADDER:
        k = max(1, math.ceil(p / 100.0 * n))
        if n - k >= MIN_BEYOND:
            return p, vals[k - 1]
    return None


def median(samples: list[float]) -> float:
    vals = sorted(samples)
    n = len(vals)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return vals[mid] if n % 2 else (vals[mid - 1] + vals[mid]) / 2.0


# --------------------------------------------------------------- digest

_DIGEST_MOD = 1 << 64


def row_hash(row: tuple) -> int:
    raw = "\x1f".join("" if v is None else str(v) for v in row).encode()
    return int.from_bytes(hashlib.blake2b(raw, digest_size=8).digest(), "big")


def digest(rows) -> str:
    """Order-independent digest of a multiset of rows: row count plus the
    sum of per-row 64-bit hashes modulo 2^64."""
    n, acc = 0, 0
    for row in rows:
        n += 1
        acc = (acc + row_hash(tuple(row))) % _DIGEST_MOD
    return f"{n}:{acc:016x}"


# ---------------------------------------------------- environment record


def _cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    vals = [int(x) for x in parts[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals), steal


class EnvRecord:
    """nproc, master, 1-minute load average before start, and the share of
    CPU time stolen by the hypervisor while the run lasted."""

    def __init__(self, master: str):
        self.master = master
        self.nproc = len(os.sched_getaffinity(0))
        with open("/proc/loadavg") as f:
            self.loadavg_1m = float(f.read().split()[0])
        self._t0 = _cpu_ticks()

    def finish(self) -> dict:
        total1, steal1 = _cpu_ticks()
        d_total = total1 - self._t0[0]
        d_steal = steal1 - self._t0[1]
        return {
            "nproc": self.nproc,
            "master": self.master,
            "loadavg_1m_before": self.loadavg_1m,
            "steal_share": (d_steal / d_total) if d_total > 0 else 0.0,
        }


# ------------------------------------------------------------------ RSS


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


def cpu_seconds(pids: list[int]) -> float:
    """User + system CPU time of ``pids`` and of the children each has
    reaped (PySpark's worker daemon reaps its forked workers)."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime..cstime
    return total / os.sysconf("SC_CLK_TCK")


class TreeSampler:
    """Watches a process tree (the Spark JVM and the Python workers it
    forks) between ``start`` and ``stop``: ``peak_rss`` is the largest
    summed RSS seen, sampled from a daemon thread, and ``cpu_s`` the CPU
    time the tree used."""

    def __init__(self, root_pid: int, interval: float = 0.2):
        self.root_pid = root_pid
        self.interval = interval
        self.peak_rss = 0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        self.peak_rss = max(self.peak_rss,
                            rss_bytes(process_tree(self.root_pid)))

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def start(self) -> "TreeSampler":
        self.cpu_s = -cpu_seconds(process_tree(self.root_pid))
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self._sample()
        self.cpu_s += cpu_seconds(process_tree(self.root_pid))


# ------------------------------------------------------------ file sizes


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(root, name))
            except OSError:
                continue
    return total

