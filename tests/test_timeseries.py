"""Resample + LOCF gap fill (operators/timeseries.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aeuc_vector_db_spark.operators.timeseries import _step_us, resample_locf


def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )


def test_locf_hand_computed(spark):
    """User 1: obs in buckets 0 and 3 → grid 0..3 with buckets 1-2
    carrying bucket 0's value forward."""
    rows = [
        (1, 1, "2024-01-01 00:10:00", 5.0),
        (2, 1, "2024-01-01 03:20:00", 9.0),  # bucket 3 (1-hour step)
    ]
    df = _ev(spark, [(a, b, __import__("datetime").datetime.fromisoformat(c), d)
                     for a, b, c, d in rows])
    got = sorted(
        (r["bucket_start_us"], r["value_locf"], r["is_observed"])
        for r in resample_locf(df, step="1 hour").collect()
    )
    h = 3_600_000_000
    starts = [g[0] for g in got]
    assert len(got) == 4
    assert [g[1] for g in got] == [5.0, 5.0, 5.0, 9.0]
    assert [g[2] for g in got] == [True, False, False, True]
    assert starts[1] - starts[0] == h and starts[3] - starts[2] == h


def test_last_observation_per_bucket_is_deterministic(spark):
    """Two obs in one bucket: the later (ts, event_id) wins — including
    exact-ts ties broken by event_id."""
    import datetime as dt

    t = dt.datetime(2024, 1, 1, 0, 30)
    df = _ev(spark, [(1, 7, t, 1.0), (2, 7, t, 2.0), (0, 7, t, 3.0)])
    rows = resample_locf(df, step="1 hour").collect()
    assert len(rows) == 1 and rows[0]["value_locf"] == 2.0  # event_id 2 wins


def test_keys_do_not_cross_fill(spark):
    import datetime as dt

    df = _ev(
        spark,
        [
            (1, 1, dt.datetime(2024, 1, 1, 0, 0), 1.0),
            (2, 1, dt.datetime(2024, 1, 1, 2, 0), 2.0),
            (3, 2, dt.datetime(2024, 1, 1, 1, 0), 99.0),
        ],
    )
    got = {(r["user_id"], r["bucket_start_us"] // 3_600_000_000 % 24, r["value_locf"])
           for r in resample_locf(df, step="1 hour").collect()}
    assert got == {(1, 0, 1.0), (1, 1, 1.0), (1, 2, 2.0), (2, 1, 99.0)}


def test_partitioning_invariance(spark):
    import datetime as dt

    rows = [
        (i, i % 5, dt.datetime(2024, 1, 1 + (i % 9), (i * 3) % 24, 0), float(i))
        for i in range(200)
    ]
    outs = []
    for n_parts in (1, 16):
        df = _ev(spark, rows).repartition(n_parts)
        outs.append(sorted(map(tuple, resample_locf(df, step="6 hours").collect())))
    assert outs[0] == outs[1]


def test_step_parsing():
    assert _step_us("15 minutes") == 15 * 60_000_000
    assert _step_us("1 day") == 86_400_000_000
    for bad in ("monthly", "2 months", "0 hours", "-1 hour"):
        with pytest.raises(ValueError):
            _step_us(bad)


# ---------------------------------------------------------------------------
# grouped_ols (round 9): closed-form per-group OLS over exact decimal
# sufficient statistics.
# ---------------------------------------------------------------------------


def _xy(spark, rows):
    df = spark.createDataFrame(rows, "g string, x long, y double")
    return df.select(
        "g",
        F.col("x").cast("decimal(10,0)").alias("x"),
        F.col("y").cast("decimal(10,2)").alias("y"),
    )


def test_ols_exact_line(spark):
    """Points exactly on y = 2x + 3 recover slope 2, intercept 3."""
    from aeuc_vector_db_spark.operators.timeseries import grouped_ols

    rows = [("a", x, 2.0 * x + 3.0) for x in range(10)]
    [r] = grouped_ols(_xy(spark, rows), ("g",), "x", "y").collect()
    assert r["n"] == 10
    assert abs(r["slope"] - 2.0) < 1e-12
    assert abs(r["intercept"] - 3.0) < 1e-12


def test_ols_hand_computed_and_degenerate_groups_dropped(spark):
    """Known 3-point fit; n=1 and zero-variance groups are dropped
    (slope undefined), never emitted as NaN/Inf rows."""
    from aeuc_vector_db_spark.operators.timeseries import grouped_ols

    rows = [
        ("fit", 0, 1.0), ("fit", 1, 2.0), ("fit", 2, 4.0),
        ("single", 5, 7.0),                    # n = 1 → dropped
        ("flatx", 3, 1.0), ("flatx", 3, 9.0),  # zero x-variance → dropped
    ]
    got = {r["g"]: r for r in
           grouped_ols(_xy(spark, rows), ("g",), "x", "y").collect()}
    assert set(got) == {"fit"}
    # n=3, Sx=3, Sy=7, Sxy=10, Sxx=5 → slope = (30-21)/(15-9) = 1.5
    assert abs(got["fit"]["slope"] - 1.5) < 1e-12
    # intercept = (7 - 1.5*3)/3 = 2.5/3
    assert abs(got["fit"]["intercept"] - 2.5 / 3.0) < 1e-12


def test_ols_order_independent(spark):
    """Decimal sufficient statistics make the result identical under
    any partitioning/arrival order (the determinism contract)."""
    from aeuc_vector_db_spark.operators.timeseries import grouped_ols

    rows = [("a", x, (x * 37 % 11) + 0.25) for x in range(200)]
    a = grouped_ols(_xy(spark, rows), ("g",), "x", "y").collect()[0]
    b = grouped_ols(
        _xy(spark, rows[::-1]).repartition(7), ("g",), "x", "y"
    ).collect()[0]
    assert (a["n"], a["slope"], a["intercept"]) == (b["n"], b["slope"], b["intercept"])


def test_cusum_alarms_hand_computed_and_plan(spark):
    """cusum_alarms (round 11): hand-computed recurrence with restart
    semantics — k=10, h=25, sequence v = [15, 20, 5, 40, 12, 9]:
      s: 5, 15, 10, 40→alarm(reset), 2, 1  ⇒ 1 alarm at the 4th event;
    second user drifts below k throughout ⇒ no alarm (filtered-out
    shape verified via the full output). Plan (optimization round 16):
    one exchange on the group key feeding a JVM collect_list aggregate
    + sorted-array fold — ZERO Python eval nodes (the r11-r15
    applyInPandas kernel paid one Python invocation per group)."""
    from aeuc_vector_db_spark.operators.timeseries import cusum_alarms

    rows = [
        (1, i, i, v) for i, v in enumerate([15, 20, 5, 40, 12, 9])
    ] + [(2, i, 10 + i, 3) for i in range(4)]
    df = spark.createDataFrame(rows, "user_id long, t long, eid long, v long")
    out = cusum_alarms(
        df, "user_id", ("t", "eid"), "v", "eid", k=10, h=25
    )
    got = {r["user_id"]: (r["n_events"], r["n_alarms"], r["first_alarm_id"])
           for r in out.collect()}
    assert got == {1: (6, 1, 3), 2: (4, 0, None)}
    plan = out._jdf.queryExecution().executedPlan().toString()
    # round 16: the recurrence folds JVM-side over the group's sorted
    # event array — the Python boundary is gone from the plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "ObjectHashAggregate" in plan, plan
    # every shuffle keys on the group column only (AQE repeats the plan
    # text in Final/Initial sections, so count keys, not Exchange nodes)
    import re

    keys = re.findall(r"hashpartitioning\(([a-zA-Z_0-9#]+)", plan)
    assert keys and all(k.startswith("user_id") for k in keys), keys


def test_cusum_alarms_non_integral_group_key(spark):
    """round-12 ADVICE: the output schema derives the key field's type
    from the input, so a STRING group key works (the r11 kernel
    hardcoded `long` and failed at runtime on anything non-integral)."""
    from aeuc_vector_db_spark.operators.timeseries import cusum_alarms

    rows = [
        ("a", i, i, v) for i, v in enumerate([15, 20, 5, 40, 12, 9])
    ] + [("b", i, 10 + i, 3) for i in range(4)]
    df = spark.createDataFrame(rows, "src string, t long, eid long, v long")
    out = cusum_alarms(df, "src", ("t", "eid"), "v", "eid", k=10, h=25)
    assert out.schema["src"].dataType.simpleString() == "string"
    got = {r["src"]: (r["n_events"], r["n_alarms"], r["first_alarm_id"])
           for r in out.collect()}
    assert got == {"a": (6, 1, 3), "b": (4, 0, None)}


def test_cusum_alarms_null_value_fails_loudly(spark):
    """A NULL value must not reset the CUSUM state silently (`s + NULL`
    is NULL and greatest() would turn it into 0): the query fails with
    an error naming the column."""
    from aeuc_vector_db_spark.operators.timeseries import cusum_alarms

    rows = [(1, 0, 0, 30), (1, 1, 1, None), (1, 2, 2, 30)]
    df = spark.createDataFrame(rows, "user_id long, t long, eid long, v long")
    out = cusum_alarms(df, "user_id", ("t", "eid"), "v", "eid", k=10, h=25)
    with pytest.raises(Exception, match="cusum_alarms: NULL v"):
        out.collect()
