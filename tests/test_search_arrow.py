"""The Arrow mapInPandas batch k-NN must agree rank-for-rank with the
oracle-pinned SQL-expression path on every metric."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aeuc_vector_db_spark.operators.search import knn_search_batch, knn_search_batch_arrow
from aeuc_vector_db_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, "embeddings", SF_DIR)


@pytest.fixture(scope="module")
def queries(emb):
    return emb.filter(F.col("vec_id") % 100 == 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )


@pytest.mark.parametrize("metric", ["cosine", "dot", "euclidean", "phi_weighted"])
def test_arrow_path_matches_sql_path(emb, queries, metric):
    sql_res = knn_search_batch(emb, queries, top_k=10, metric=metric).collect()
    arrow_res = knn_search_batch_arrow(emb, queries, top_k=10, metric=metric).collect()
    sql_ranks = [(r["query_id"], r["rank"], r["vec_id"]) for r in sql_res]
    arrow_ranks = [(r["query_id"], r["rank"], r["vec_id"]) for r in arrow_res]
    assert sql_ranks == arrow_ranks
    # scores agree to float64 noise (np.dot pairwise vs sequential fold)
    for a, b in zip(sql_res, arrow_res):
        assert a["score"] == pytest.approx(b["score"], rel=1e-9, abs=1e-12)


def test_arrow_path_multi_partition_consistency(emb, queries):
    one = knn_search_batch_arrow(emb.coalesce(1), queries, top_k=5).collect()
    many = knn_search_batch_arrow(emb.repartition(16), queries, top_k=5).collect()
    assert [(r["query_id"], r["rank"], r["vec_id"]) for r in one] == [
        (r["query_id"], r["rank"], r["vec_id"]) for r in many
    ]


def test_arrow_path_empty_queries_raises(emb, spark):
    empty = spark.createDataFrame([], "query_id long, query_embedding array<float>")
    with pytest.raises(ValueError, match="empty query set"):
        knn_search_batch_arrow(emb, empty)


def test_arrow_path_tied_scores_break_by_id(spark):
    """Identical vectors (all scores tied) must yield ids ascending —
    the per-batch candidate cut may not drop a lower id in favor of a
    higher one that appeared earlier in the batch."""
    rows = [(i, [1.0, 2.0, 3.0]) for i in (50, 7, 99, 1, 23, 64, 8, 31)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = spark.createDataFrame([(0, [1.0, 2.0, 3.0])], "query_id long, query_embedding array<double>")
    res = knn_search_batch_arrow(corpus, q, top_k=4).collect()
    assert [r["vec_id"] for r in res] == [1, 7, 8, 23]
    sql = knn_search_batch(corpus, q, top_k=4).collect()
    assert [r["vec_id"] for r in sql] == [r["vec_id"] for r in res]


def test_arrow_path_dirty_queries_raise(emb, spark):
    """A NULL or wrong-dimension query vector fails with a ValueError
    naming the query id, not a TypeError inside the kernel."""
    schema = "query_id long, query_embedding array<float>"
    for rows, match in (
        ([(1, [0.1] * 8), (5, None), (6, [0.1] * 8)], "query 5: NULL"),
        ([(1, [0.1] * 8), (5, [0.1] * 8), (6, [0.1] * 3)], "query 6: vector has dimension 3, expected 8"),
    ):
        with pytest.raises(ValueError, match=match):
            knn_search_batch_arrow(emb, spark.createDataFrame(rows, schema))


def test_kernel_stage_no_wider_than_cluster(emb, queries, spark, tmp_path, job_group):
    """A pruned scan of many small files (one per cell per write, as an
    IVF layout after appends) runs at most defaultParallelism kernel
    tasks: the small input is narrow-coalesced, with the same ranks."""
    path = str(tmp_path / "cells")
    for part in range(3):
        (emb.filter(F.col("vec_id") % 3 == part)
         .withColumn("cell", (F.col("vec_id") % 8).cast("int"))
         .repartition(2).write.mode("append").partitionBy("cell").parquet(path))
    pruned = spark.read.parquet(path).filter(F.col("cell").isin([0, 1, 2, 3, 4, 5]))
    width = spark.sparkContext.defaultParallelism
    assert pruned.rdd.getNumPartitions() > width  # the scan alone is wider
    rows = []
    _jobs, stages = job_group(
        "kernel-narrow",
        lambda: rows.extend(knn_search_batch_arrow(pruned, queries, top_k=5).collect()),
    )
    assert max(s.numTasks for s in stages) <= width
    want = knn_search_batch(pruned, queries, top_k=5).collect()
    assert [(r["query_id"], r["rank"], r["vec_id"]) for r in rows] == [
        (r["query_id"], r["rank"], r["vec_id"]) for r in want
    ]


def test_single_file_scan_with_min_partitions_still_spreads(emb, queries, job_group):
    """The other direction is kept: a one-file scan given min_partitions
    is spread over that many kernel tasks."""
    assert emb.rdd.getNumPartitions() == 1
    _jobs, stages = job_group(
        "kernel-spread",
        lambda: knn_search_batch_arrow(emb, queries, top_k=5, min_partitions=6).collect(),
    )
    assert max(s.numTasks for s in stages) == 6
