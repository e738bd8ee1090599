"""Time-series resampling: regularize an irregular event stream onto a
fixed grid with last-observation-carried-forward (LOCF) gap fill — the
downsample/align primitive every metrics/feature pipeline needs before
windowed models. (Charter extension: the reference has no time-series
surface; this is the `time_bucket + gapfill + locf` feature set of
timescale-style engines, re-expressed as Spark windows.)

Scale shape: bucketing is a map-side integer division; the per-key
last-value reduction and the LOCF fill shuffle ONCE on the key (all
three window functions share the same (key, bucket) sort); the grid is
generated per key with `sequence` + explode — bounded by span/step per
key, map-side, no cross-key blowup. Everything is integer/verbatim-
value arithmetic (no float math at all), so DuckDB mirrors it exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def resample_locf(
    events: DataFrame,
    step: str = "6 hours",
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    order_cols: "tuple[str, ...]" = ("ts", "event_id"),
) -> DataFrame:
    """(key, bucket_start_us, value_locf, is_observed) on a fixed grid.

    Per (key, bucket): the LAST observation wins, with a total
    (ts, event_id) order so ties are deterministic under any
    partitioning. The grid spans each key's [min bucket, max bucket];
    unobserved buckets carry the previous value forward (LOCF). A key's
    leading buckets before its first observation cannot be filled and
    do not occur (the grid starts at the first observed bucket).
    """
    step_us = _step_us(step)
    # integer `div`, never double division: micros ≈ 1.7e15 are exactly
    # representable in double but the quotient's rounding could still
    # cross a bucket boundary; `div` is exact on both engines
    b = F.expr(f"unix_micros({ts_col}) div {step_us}")
    # deterministic last-per-bucket: rank by (ts, id) descending
    w_last = Window.partitionBy(key_col, "bucket").orderBy(
        *[F.col(c).desc() for c in order_cols]
    )
    obs = (
        events.select(
            key_col, b.alias("bucket"), *dict.fromkeys([*order_cols, value_col])
        )
        .withColumn("__rn__", F.row_number().over(w_last))
        .filter(F.col("__rn__") == 1)
        .select(key_col, "bucket", F.col(value_col).alias("__obs__"))
    )
    grid = (
        obs.groupBy(key_col)
        .agg(F.min("bucket").alias("__lo__"), F.max("bucket").alias("__hi__"))
        .select(
            key_col,
            F.explode(F.sequence(F.col("__lo__"), F.col("__hi__"))).alias("bucket"),
        )
    )
    w_fill = (
        Window.partitionBy(key_col)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.join(obs, [key_col, "bucket"], "left")
        .select(
            key_col,
            (F.col("bucket") * F.lit(step_us)).alias("bucket_start_us"),
            F.last("__obs__", ignorenulls=True).over(w_fill).alias("value_locf"),
            F.col("__obs__").isNotNull().alias("is_observed"),
        )
    )


def _step_us(step: str) -> int:
    """Parse '<n> <unit>' to microseconds (the units the grid needs;
    calendar units like months are ambiguous on a fixed grid and
    rejected)."""
    parts = step.strip().split()
    if len(parts) != 2:
        raise ValueError(f"step must be '<n> <unit>', got {step!r}")
    n = int(parts[0])
    unit = parts[1].rstrip("s").lower()
    scale = {
        "second": 1_000_000,
        "minute": 60_000_000,
        "hour": 3_600_000_000,
        "day": 86_400_000_000,
    }.get(unit)
    if scale is None or n <= 0:
        raise ValueError(f"unsupported step {step!r}")
    return n * scale


def grouped_ols(
    df: DataFrame,
    key_cols: "tuple[str, ...]",
    x_col: str,
    y_col: str,
    *,
    min_n: int = 2,
) -> DataFrame:
    """Per-group simple linear regression (closed-form OLS): the
    trend-monitoring primitive (is this user's metric drifting up?)
    computed as ONE pass of sufficient statistics — never an iterative
    solver, never a per-group collect. (Charter extension: reference
    has no analytics surface; this is the `regr_slope`/`regr_intercept`
    feature of ANSI engines re-expressed as exact partial aggregates.)

    Determinism contract (FIXTURES.md): callers pass x and y already
    cast to DECIMAL, so the five sufficient statistics
    (n, Σx, Σy, Σxy, Σx²) are EXACT integer arithmetic —
    order-independent under any partitioning and bit-identical to any
    other engine's decimal sums. Only the final slope/intercept division
    happens in double, as one fixed-shape scalar expression per group.

    Scale shape: map-side partial aggregation of five sums, one shuffle
    on the group keys carrying five numbers per group — the classic
    "algebraic aggregate" decomposition; groups ≫ executors parallelize
    trivially and a hot group costs no more than a cold one.

    Returns (key_cols..., n BIGINT, slope DOUBLE, intercept DOUBLE),
    groups with n < min_n or zero x-variance dropped (slope undefined).
    """
    x, y = F.col(x_col), F.col(y_col)
    s = df.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxyd, sxxd = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    den = nd * sxxd - sxd * sxd
    slope = (nd * sxyd - sxd * syd) / den
    # zero-x-variance drop decided on the EXACT decimal statistics, not
    # the double casts: a constant-x group has n·Σx² ≡ (Σx)² in decimal,
    # but the two double roundings can disagree by one ulp, leaving a
    # tiny nonzero double `den` that would emit an astronomical garbage
    # slope instead of dropping the group (the docstring contract).
    # BOTH guards are kept (round-11 ADVICE): a group whose den_exact is
    # nonzero but whose double `den` rounds to exactly 0.0 (catastrophic
    # cancellation at |Σx²| ≳ 2⁵³) would otherwise divide by zero, where
    # Spark (non-ANSI double) yields NULL but DuckDB yields ±Inf — the
    # oracle SQL mirrors the same two-condition filter.
    den_exact = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return (
        s.filter((F.col("n") >= min_n) & (den_exact != 0) & (den != 0.0))
        .select(
            *key_cols,
            F.col("n").cast("long").alias("n"),
            slope.alias("slope"),
            ((syd - slope * sxd) / nd).alias("intercept"),
        )
    )


def cusum_alarms(
    df: DataFrame,
    key_col: str,
    order_cols: "tuple[str, ...]",
    value_col: str,
    id_col: str,
    k: int,
    h: int,
) -> DataFrame:
    """Per-group one-sided upper CUSUM change-point detection with
    restart-after-alarm (Page 1954 — the classic sequential
    drift/anomaly monitor a data pipeline runs over metric streams):

        s_0 = 0;  s_i = max(0, s_{i-1} + (v_i − k));
        alarm at i when s_i ≥ h, then s resets to 0.

    `v_i` must be an INTEGER column (e.g. cents) and k, h integer
    thresholds, so the whole recurrence is exact integer arithmetic —
    deterministic under any partitioning and bit-identical to the
    DuckDB oracle that unrolls the same recurrence as a recursive CTE.

    This is a genuine sequential recurrence (running max with reset),
    not window-expressible — but it IS a left fold, so since
    optimization round 16 it runs as a pure-JVM `aggregate` HOF over
    each group's `sort_array(collect_list(...))` instead of an
    applyInPandas kernel (guide §4.1 — prefer built-ins/HOFs; the
    kernel paid one Python invocation + pandas frame construction PER
    GROUP, which at many-small-groups cardinality was ~98% of the
    query's full-recompute cost, and the whole JVM↔Python boundary
    disappears with it). Scale shape is unchanged: one shuffle on the
    group key; groups aggregate independently and in parallel; the
    fold is inherently sequential WITHIN a group (state is O(1), time
    O(group size)); a hot group costs its length — and its collected
    event array, the same whole-group-in-memory bound the pandas
    kernel had. Exactness: the fold is the SAME integer recurrence
    step-for-step (longs end to end, struct sort on the caller's total
    order = the kernel's stable mergesort on it), so results are
    bit-identical — pinned by tests/test_timeseries.py and the
    recursive-CTE DuckDB oracle of `events_cusum_alarms`.

    A NULL `value_col` fails the query with an error
    naming the column, rather than resetting the state.

    Returns (key_col, n_events LONG, n_alarms LONG, first_alarm_id
    LONG?) — one row per group, `first_alarm_id` = `id_col` of the
    first alarming event (NULL when no alarm fired).
    """
    from aeuc_vector_db_spark.functions.vector import let_col

    kl = F.lit(int(k)).cast("long")
    hl = F.lit(int(h)).cast("long")

    # a NULL value would make `s + v` NULL and greatest() then 0: a
    # silent state reset mid-stream. It fails the query instead.
    v = F.col(value_col).cast("long")
    ev = F.struct(
        *[F.col(c) for c in order_cols],
        F.when(
            v.isNull(),
            F.raise_error(F.lit(f"cusum_alarms: NULL {value_col} in an event")),
        ).otherwise(v).alias("__v__"),
        F.col(id_col).cast("long").alias("__id__"),
    )

    def step(acc: Column, e: Column) -> Column:
        # t = max(0, s + v − k); alarm iff t ≥ h (then s resets to 0).
        # `t` is let-bound so the greatest() runs once per event.
        def with_t(t: Column) -> Column:
            alarm = t >= hl
            return F.struct(
                F.when(alarm, F.lit(0).cast("long")).otherwise(t).alias("s"),
                (acc["a"] + F.when(alarm, 1).otherwise(0).cast("long")).alias("a"),
                F.coalesce(acc["f"], F.when(alarm, e["__id__"])).alias("f"),
            )

        return let_col(
            F.greatest(F.lit(0).cast("long"), acc["s"] + e["__v__"] - kl),
            with_t,
        )

    zero = F.struct(
        F.lit(0).cast("long").alias("s"),
        F.lit(0).cast("long").alias("a"),
        F.lit(None).cast("long").alias("f"),
    )

    # the key column keeps ITS OWN type in the output (round-12 ADVICE:
    # hardcoding `long` here made any string/decimal group key fail at
    # runtime despite the generic operator signature)
    # the fold result struct is aliased in ONE projection and its two
    # fields extracted in the next (the doc_token_stats shape): the
    # fold is non-cheap and multi-referenced, so CollapseProject's
    # cheapness check keeps it evaluated once
    return (
        df.groupBy(key_col)
        .agg(F.sort_array(F.collect_list(ev)).alias("__evs__"))
        .select(
            F.col(key_col),
            F.size("__evs__").cast("long").alias("n_events"),
            F.aggregate(F.col("__evs__"), zero, step).alias("__fin__"),
        )
        .select(
            key_col,
            "n_events",
            F.col("__fin__.a").alias("n_alarms"),
            F.col("__fin__.f").alias("first_alarm_id"),
        )
    )
