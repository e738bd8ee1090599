"""In-memory spans and counts recorded around calls into engine modules.

A span is (name, start, end, parent, op id). Spans are kept in memory
and written out once when the run ends. A layer's self time is its
span's duration minus the part of that interval its child spans cover.
The engine is lazy, so a span that stands for a layer must contain the
action that forces that layer's output. Where the operation itself does
not force a layer apart from the others, a traced operation runs an
extra action for it: such a span is a probe, and its time is taken out
of the operation's latency when the tracing overhead is computed.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    probe: bool = False


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: dict[tuple[int | None, str], float] = defaultdict(float)
        self._stack: list[Span] = []
        self.op: int | None = None

    @contextmanager
    def span(self, name: str, probe: bool = False):
        """Time the block as span `name`; `probe` marks work the operation
        would not do untraced."""
        if not self.enabled:
            yield
            return
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), name, time.perf_counter(), 0.0, parent, self.op, probe)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, value: float, op: int | None = None) -> None:
        """Add `value` to the count `name` of the current traced operation,
        or of operation `op` whether or not it is traced."""
        if op is not None:
            self.counts[(op, name)] += value
        elif self.enabled:
            self.counts[(self.op, name)] += value

    def last(self, name: str) -> float:
        """Duration of the most recent span named `name`."""
        for s in reversed(self.spans):
            if s.name == name:
                return s.end - s.start
        raise KeyError(name)

    def probe_s(self, op: int) -> float:
        """Time operation `op` spent in probes."""
        return sum(s.end - s.start for s in self.spans if s.op == op and s.probe)

    def self_times(self) -> dict[int, float]:
        """sid → duration minus the union of its children's intervals."""
        kids: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s)
        out = {}
        for s in self.spans:
            covered, cur_start, cur_end = 0.0, None, None
            for c in sorted(kids[s.sid], key=lambda c: c.start):
                lo, hi = max(c.start, s.start), min(c.end, s.end)
                if hi <= lo:
                    continue
                if cur_end is None or lo > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = lo, hi
                else:
                    cur_end = max(cur_end, hi)
            if cur_end is not None:
                covered += cur_end - cur_start
            out[s.sid] = (s.end - s.start) - covered
        return out

    def per_op(self) -> dict[str, dict[int, float]]:
        """name → {op id → summed self time (s)} plus counts, per op."""
        selfs = self.self_times()
        out: dict[str, dict[int, float]] = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            if s.op is not None:
                out[s.name][s.op] += selfs[s.sid]
        for (op, name), v in self.counts.items():
            if op is not None:
                out[name][op] += v
        return out

    def median_per_op(self, name: str) -> float:
        """Median over the ops that recorded `name`; 0.0 when none did
        (the workload never called that layer)."""
        vals = list(self.per_op().get(name, {}).values())
        return statistics.median(vals) if vals else 0.0

    def setup_median(self, name: str) -> float:
        """Median duration of the spans named `name` recorded outside ops."""
        vals = [s.end - s.start for s in self.spans if s.name == name and s.op is None]
        return statistics.median(vals) if vals else 0.0

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "op": s.op, "id": s.sid,
                    "probe": s.probe, "self_s": selfs[s.sid],
                }) + "\n")
            for (op, name), v in sorted(self.counts.items(), key=lambda kv: (kv[0][0] or -1, kv[0][1])):
                f.write(json.dumps({"count": name, "op": op, "value": v}) + "\n")
