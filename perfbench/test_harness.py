"""Tests of the benchmark harness itself (no Spark needed).

    python3 -m pytest perfbench/test_harness.py -q
"""

from __future__ import annotations

import math
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from spans import Span, Tracer  # noqa: E402
from stats import OpLog, percentile, quartile_spread, tail_percentile  # noqa: E402


def test_percentile_nearest_rank():
    vals = [float(v) for v in range(1, 101)]  # 1..100
    assert percentile(vals, 50) == 50.0
    assert percentile(vals, 90) == 90.0
    assert percentile(vals, 99) == 99.0
    assert percentile(vals, 99.9) == 100.0
    assert percentile([3.0, 1.0, 2.0], 50) == 2.0
    with pytest.raises(ValueError):
        percentile([], 50)


@pytest.mark.parametrize(
    "n, want",
    [(5, 50.0), (19, 50.0), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
     (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    p = tail_percentile(n)
    assert p == want
    if p > 50.0:
        assert n * (100 - p) / 100 >= 10 - 1e-9


def test_failure_accounting():
    log = OpLog()
    for lat in (1.0, 2.0, 3.0):
        log.record("search", lat, ok=True, items=16)
    log.record("search", 0.5, ok=False, items=0, note="wrong ids")
    log.record("write", 4.0, ok=True, items=500)
    assert (log.attempted, log.failed) == (5, 1)
    assert log.fail_frac == pytest.approx(0.2)
    # the failure ranks beyond every success, however fast it returned
    lat = log.latencies("search")
    assert sorted(lat)[-1] == math.inf
    s = log.summary("search")
    assert s["n"] == 4 and s["p50_s"] == 2.0 and s["tail_pct"] == 50.0
    # throughput counts only delivered items, over all busy time
    assert log.items("search") == 48
    assert log.busy_s() == pytest.approx(10.5)
    assert log.busy_s("write") == 4.0
    assert log.summary("missing") == {"n": 0}


def test_all_failed_median_is_infinite():
    log = OpLog()
    log.record("curate", 1.0, ok=False)
    assert log.summary("curate")["p50_s"] == math.inf
    assert OpLog().fail_frac == 0.0


def test_quartile_spread():
    assert quartile_spread([10.0] * 10) == 0.0
    vals = [float(v) for v in range(1, 11)]
    # statistics.quantiles(n=4) exclusive method: 2.75, 5.5, 8.25
    assert quartile_spread(vals) == pytest.approx((8.25 - 2.75) / 5.5)


def test_self_time_subtracts_covered_child_time():
    t = Tracer(True)
    t.spans = [
        Span(0, "op", 0.0, 10.0, None, 1),
        Span(1, "a", 1.0, 4.0, 0, 1),
        Span(2, "b", 3.0, 6.0, 0, 1),   # overlaps a: union 1..6
        Span(3, "c", 8.0, 12.0, 0, 1),  # clipped at the parent's end
        Span(4, "a", 2.0, 3.0, 1, 1),   # grandchild counts against a only
    ]
    st = t.self_times()
    assert st[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st[1] == pytest.approx(2.0)
    assert st[3] == pytest.approx(4.0)
    per_op = t.per_op()
    assert per_op["a"][1] == pytest.approx(3.0)  # both "a" spans of op 1


def test_tracer_disabled_records_nothing_and_counts_per_op():
    t = Tracer(False)
    with t.span("x"):
        t.count("n", 3)
    assert t.spans == [] and not t.counts
    t.enabled = True
    for op, v in ((1, 2.0), (1, 3.0), (2, 7.0), (3, 1.0)):
        t.op = op
        t.count("n", v)
    assert t.median_per_op("n") == 5.0
    assert t.median_per_op("never") == 0.0


def test_probe_time_is_per_op():
    t = Tracer(True)
    t.op = 1
    with t.span("layer"):
        pass
    with t.span("extra", probe=True):
        pass
    t.op = 2
    with t.span("extra", probe=True):
        pass
    probe = t.spans[1]
    assert probe.probe and not t.spans[0].probe
    assert t.probe_s(1) == pytest.approx(probe.end - probe.start)
    assert t.probe_s(3) == 0.0


def test_mixture_is_seeded():
    a = gen.mixture(np.random.default_rng(5), 8, 100, 3)
    b = gen.mixture(np.random.default_rng(5), 8, 100, 3)
    assert [m.shape for m in a] == [(100, 8), (3, 8)]
    assert all(m.dtype == np.float32 and np.array_equal(m, n) for m, n in zip(a, b))


def test_exact_topk_breaks_ties_by_id():
    corpus = np.array([[1.0, 0.0], [0.0, 1.0], [1.0, 0.0], [0.8, 0.6]], dtype=np.float32)
    ids, scores = gen.exact_topk(gen._unit64(corpus), np.array([[1.0, 0.0]]), k=3)
    assert ids.tolist() == [[0, 2, 3]]
    assert scores[0] == pytest.approx([1.0, 1.0, 0.8])


def test_generator_is_seeded(tmp_path):
    a = gen.make_docs(np.random.default_rng(7), str(tmp_path / "a.parquet"), 200)
    b = gen.make_docs(np.random.default_rng(7), str(tmp_path / "b.parquet"), 200)
    assert a.texts == b.texts and a.planted == b.planted
    assert a.distinct_texts == len(set(a.texts)) < 200  # exact copies planted
    assert all(j >= a.threshold for j in a.planted.values())

