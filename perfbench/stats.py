"""Latency summaries, failure accounting and process-tree memory."""

from __future__ import annotations

import math
import os
import statistics
from dataclasses import dataclass, field

#: percentiles tried for the tail, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
#: samples that must lie beyond a percentile before it is reported
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]


def tail_percentile(n: int, min_beyond: int = MIN_BEYOND) -> float:
    """Highest ladder percentile with at least `min_beyond` of `n` samples
    beyond it; the median when even that has fewer (small samples)."""
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= min_beyond - 1e-9:
            return p
    return 50.0


@dataclass
class OpRecord:
    kind: str
    latency_s: float
    ok: bool
    items: int
    note: str = ""


@dataclass
class OpLog:
    """Every timed operation of a run. A failed operation keeps its
    latency for throughput but ranks beyond every success in the
    latency percentiles: a failure misses any latency limit."""

    ops: list[OpRecord] = field(default_factory=list)

    def record(self, kind: str, latency_s: float, ok: bool, items: int = 0, note: str = "") -> None:
        self.ops.append(OpRecord(kind, latency_s, ok, items, note))

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(1 for o in self.ops if not o.ok)

    @property
    def fail_frac(self) -> float:
        return self.failed / self.attempted if self.ops else 0.0

    def latencies(self, kind: str | None = None) -> list[float]:
        return [
            o.latency_s if o.ok else math.inf
            for o in self.ops
            if kind is None or o.kind == kind
        ]

    def summary(self, kind: str | None = None) -> dict:
        """Median and tail latency of one operation kind (or all)."""
        lat = self.latencies(kind)
        if not lat:
            return {"n": 0}
        p = tail_percentile(len(lat))
        return {
            "n": len(lat),
            "p50_s": percentile(lat, 50.0),
            "tail_pct": p,
            "tail_s": percentile(lat, p),
        }

    def busy_s(self, kind: str | None = None) -> float:
        return sum(o.latency_s for o in self.ops if kind is None or o.kind == kind)

    def items(self, kind: str | None = None) -> int:
        return sum(o.items for o in self.ops if o.ok and (kind is None or o.kind == kind))


def quartile_spread(values: list[float]) -> float:
    """(Q3 − Q1) / median, quartiles as statistics.quantiles(n=4) gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else math.inf


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot. Steal is time a
    virtual machine was ready to run but its host ran something else."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # process ended while listing
            continue
        # the command name may hold spaces; fields after ')' are fixed
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of each live process's peak resident set (VmHWM) over the
    process tree rooted at `root` — the driver, its JVM and the Python
    workers."""
    total_kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
