"""Focused tests for the round-15 optimization changes.

- doc_token_diversity's sorted-run scan must reproduce the retired
  O(n·types) counting form bit-for-bit on edge-case corpora (the sf
  sweeps prove it on fixture data; this pins empty/null/degenerate
  token arrays).
- ensure_min_parallelism must spread an under-parallel scan (also one
  of many small files packed into one split), leave an
  already-parallel frame alone, and never change the row multiset.
"""

from __future__ import annotations

import collections
import os
import struct

from pyspark.sql import functions as F

from aeuc_vector_db_spark.operators import text as TX
from aeuc_vector_db_spark.sources.tables import ensure_min_parallelism


def _old_diversity(docs):
    """The pre-r15 O(n·types) form, kept verbatim as the reference."""

    def stats(toks):
        counts = F.transform(
            F.array_distinct(toks),
            lambda u: F.size(F.filter(toks, lambda x: x == u)),
        )

        def fields(cnts):
            n = F.size(toks)
            nl = n.cast("long")
            sumc2 = F.aggregate(
                cnts,
                F.lit(0).cast("long"),
                lambda acc, c: acc + c.cast("long") * (c.cast("long") - 1),
            )
            denom = (nl * (nl - 1)).cast("double")
            return F.struct(
                nl.alias("n_tokens"),
                F.size(cnts).cast("long").alias("n_types"),
                F.when(n >= 2, F.lit(1.0) - sumc2.cast("double") / denom)
                .alias("gini_simpson"),
                F.when(
                    n >= 1,
                    F.array_max(cnts).cast("double") / n.cast("double"),
                ).alias("top_share"),
            )

        return TX.let_col(counts, fields)

    return docs.select(
        "doc_id", TX.let_col(TX.tokens_col("text"), stats).alias("s")
    ).select("doc_id", "s.*")


def _bits(x):
    return None if x is None else struct.pack("<d", x)


def test_token_diversity_sorted_run_matches_quadratic_form(spark, tmp_path):
    docs = spark.createDataFrame(
        [
            (1, ""),  # zero tokens
            (2, "a"),  # one token
            (3, "a a a a"),  # one type, many tokens
            (4, "x y x y z"),  # mixed counts
            (5, None),  # null text
            (6, "The, the; THE! on-for"),  # case folding + punct splits
            (7, "b a c a b a"),  # unsorted input, repeated runs
        ],
        "doc_id long, text string",
    )
    sf_dir = str(tmp_path)
    docs.write.mode("overwrite").parquet(os.path.join(sf_dir, "documents.parquet"))

    from aeuc_vector_db_spark.queries.textops import _doc_token_diversity

    new = {r["doc_id"]: r for r in _doc_token_diversity(spark, sf_dir).collect()}
    old = {r["doc_id"]: r for r in _old_diversity(
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    ).collect()}
    assert set(new) == set(old)
    for k in old:
        a, b = old[k], new[k]
        assert (
            a["n_tokens"], a["n_types"],
            _bits(a["gini_simpson"]), _bits(a["top_share"]),
        ) == (
            b["n_tokens"], b["n_types"],
            _bits(b["gini_simpson"]), _bits(b["top_share"]),
        ), (k, a, b)


def test_ensure_min_parallelism_spreads_and_preserves_rows(spark):
    df = spark.range(1000).coalesce(1).toDF("x")
    assert df.rdd.getNumPartitions() == 1
    out = ensure_min_parallelism(df, target=4)
    assert out.rdd.getNumPartitions() == 4
    assert collections.Counter(r["x"] for r in out.collect()) == collections.Counter(
        range(1000)
    )


def test_ensure_min_parallelism_noop_when_already_parallel(spark):
    df = spark.range(1000).repartition(8).toDF("x")
    out = ensure_min_parallelism(df, target=4)
    assert out is df  # no extra exchange inserted


def test_ensure_min_parallelism_spreads_packed_small_files(spark, tmp_path):
    """8 tiny parquet files that Spark packs into ONE split are a
    1-task scan: the file count alone must not call it parallel."""
    path = str(tmp_path / "tiny")
    spark.range(80).repartition(8).write.parquet(path)
    # pack every file into one split: no per-file open cost, one lane
    packing = {"spark.sql.files.openCostInBytes": "0", "spark.sql.files.minPartitionNum": "1"}
    saved = {k: spark.conf.get(k, None) for k in packing}
    for k, v in packing.items():
        spark.conf.set(k, v)
    try:
        df = spark.read.parquet(path)
        assert len(df.inputFiles()) == 8 and df.rdd.getNumPartitions() == 1
        out = ensure_min_parallelism(df, target=4)
        assert out.rdd.getNumPartitions() == 4
        assert sorted(r["id"] for r in out.collect()) == list(range(80))
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_io_state_reports_all_three_noise_axes():
    # loadavg + iowait + total + steal ticks; ticks monotone across reads
    from bench import _io_state

    a = _io_state()
    b = _io_state()
    assert len(a) == 4
    assert isinstance(a[0], float)
    assert all(isinstance(x, int) for x in a[1:])
    assert b[2] >= a[2] and b[1] >= a[1] and b[3] >= a[3]


def test_ensure_min_parallelism_default_scales_with_cores(spark):
    # default target derives from the session's core count, never a
    # local[32] constant (the bench substrate re-runs at lower CPUs);
    # divisor //2 since round 16 (measured best at both core counts)
    expect = max(2, spark.sparkContext.defaultParallelism // 2)
    df = spark.range(100).coalesce(1).toDF("x")
    out = ensure_min_parallelism(df)
    assert out.rdd.getNumPartitions() == expect
