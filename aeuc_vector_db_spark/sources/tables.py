"""Fixture/table loaders and Parquet read/write helpers.

The driver fixtures (TESTDATA.md) are one Parquet file per table under
/root/testdata/sf{0.001,0.01,0.1}/. Parquet is the engine's canonical
storage: columnar, predicate-pushdown and column-pruning friendly, and
partitionable (partitionBy('outer_context_id') replaces the reference's
inverted indices — SURVEY.md §1.3).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Timestamp fixture columns. Their parquet physical type has varied
# across driver testdata regenerations — TIMESTAMP(NANOS) in early
# rounds, TIMESTAMP(MICROS, adjustedToUTC=false) later — so load_table
# normalizes BOTH representations to TimestampType: nanos arrive as
# longs under nanosAsLong (integer division below), micros arrive as
# TIMESTAMP_NTZ under Spark 4's inference (cast below).
_NANOS_TS_COLS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for col in _NANOS_TS_COLS.get(name, ()):
        field = df.schema[col]
        if isinstance(field.dataType, T.LongType):
            # Integer division: epoch-nanos (~1.7e18) exceed double's 2^53
            # exact range, so `/ 1000` + cast can land 1 µs low. `div` stays
            # in exact 64-bit integer arithmetic (values are µs-granular).
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
        elif isinstance(field.dataType, T.TimestampNTZType):
            # Fixtures written as parquet TIMESTAMP(MICROS, adjustedToUTC=
            # false) arrive as TIMESTAMP_NTZ under Spark 4's NTZ inference.
            # The engine computes in TimestampType everywhere (unix_micros,
            # windows); with the session pinned to UTC the NTZ→TZ cast maps
            # wall-clock to the identical instant, so downstream epoch-µs
            # outputs match the DuckDB oracle (which reads the same file as
            # naive µs) bit-for-bit.
            df = df.withColumn(col, F.col(col).cast(T.TimestampType()))
    return df


def load_all(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {t: load_table(spark, t, sf_dir) for t in TABLES}


def ensure_min_parallelism(df: DataFrame, target: int | None = None) -> DataFrame:
    """Round-robin repartition a scan that is under-parallel for heavy
    map-side work (optimization round 15, guide §2.5 "input skew" /
    §6 small-files: the single-file fixture tables scan as ONE task, so
    a compute-heavy kernel — shingle hashing, window explode+hash,
    Arrow batch kernels — serializes on 1 of the cores).

    `target` defaults to max(2, defaultParallelism // 2): enough lanes
    to spread a multi-second kernel, few enough that the per-task cost
    (Python-runner handshake ~10-30 ms/task on this substrate, JVM task
    scheduling ~10 ms) does not dominate the near-floor queries. The
    formula scales with the session's core count (SPARK_GRAFT_CPUS on
    the bench substrate), never a local[32] constant. Round 16 moved
    the divisor //4 → //2 on a 3-way interleaved sweep (P//4 vs P//2
    vs P, noop-sink, min-of-3, BOTH core counts): at 32 cores P//2 won
    on every multi-second kernel (substring_dedup 2.62→2.48,
    ivf_radius 0.96→0.89, cross_source 0.93→0.69) with full P always
    worse (scheduling+handshake overhead); at 8 cores more spread was
    uniformly better (substring_dedup 3.94→2.95, minhash 2.43→2.03),
    so //2 improves ABSOLUTE times at both ends. (That makes the
    32c/8c hot-time ratio look flatter — the 8-core end gains more —
    which is the honest direction: both absolute numbers drop.)

    At cluster scale a 100 TB scan already yields thousands of
    partitions, so the guard makes this a NO-OP — we never add a
    shuffle to an already-parallel scan (same contract as
    operators/search.py _ensure_parallel). The explicit numbered
    repartition is deliberately exempt from AQE partition coalescing,
    and round-robin repartition sorts its input first
    (spark.sql.execution.sortBeforeRepartition, default on) so task
    retries reproduce the same row placement. Row-set semantics are
    unchanged — only physical placement moves.

    Parallelism probe (round 16, ADVICE r15): `df.rdd.getNumPartitions()`
    forces full physical planning outside AQE — measurable driver
    latency per query build. So the file count (`df.inputFiles()`, pure
    listing metadata) decides first, but only in one direction: a scan
    of fewer files than `target` is spread without the probe. (One file
    can split into several tasks, so such a scan may already have had
    enough; an occasionally redundant round-robin of the projected
    input is noise at the heavy-kernel call sites this helper serves —
    shingle/winnow/HOF-pair kernels costing seconds per partition.) A
    count at or above `target` proves nothing, because Spark packs
    small files into one split (8 tiny files can scan as 1 task), so
    the partition probe confirms before the scan is called parallel;
    a plan with no file metadata (in-memory relation, shuffle-rooted
    frame) goes to the probe as well. The documented BOUNDARY of this
    helper: do not apply it to scan-bound paths where the shuffle
    itself would dominate (VERDICT r15 — prefer lowering
    spark.sql.files.maxPartitionBytes there)."""
    if target is None:
        target = max(2, df.sparkSession.sparkContext.defaultParallelism // 2)
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if 0 < n_files < target or df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a table partitioned for downstream pruning (e.g. by
    outer_context_id or centroid id — the scale path for filtered search)."""
    w = df.write.mode(mode)
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(path)
