"""k-NN search operator tests (A1/A2 semantics, vector_field.py:291-345),
cross-checked against an independent NumPy recomputation on fixture data.
"""

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from aeuc_vector_db_spark.functions.similarity import similarity_col
from aeuc_vector_db_spark.functions.vector import as_double, lit_vector
from aeuc_vector_db_spark.operators.search import (
    knn_search,
    knn_search_batch,
    search_pglyphs,
    two_level_search,
)


@pytest.fixture(scope="module")
def corpus_np(embeddings):
    rows = embeddings.select("vec_id", "embedding", "label").collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    labels = np.array([r["label"] for r in rows])
    return ids, mat, labels


def _np_topk_cosine(ids, mat, q, k):
    scores = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q) + 1e-12)
    order = np.lexsort((ids, -scores))[:k]
    return list(ids[order]), list(scores[order])


def _normalised_optimized_plan(df):
    """The optimised logical plan with expression ids and lambda
    variable names' counters dropped."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"lambda (\w+?)_\d+", r"lambda \1", re.sub(r"#\d+", "#", plan))


class TestKnnSearch:
    @pytest.mark.parametrize("metric", ["cosine", "euclidean", "dot", "phi_weighted"])
    def test_plan_and_rows_match_a_literal_built_score(self, spark, embeddings, corpus_np, metric):
        """`knn_search` reuses one score expression over a projected query
        column; the optimiser inlines the query, so the plan and the rows
        are those of a score built around the query literal."""
        _, mat, _ = corpus_np
        q = list(map(float, mat[11]))
        got = knn_search(embeddings, q, top_k=7, metric=metric)
        score = similarity_col(as_double("embedding"), lit_vector(q), metric)
        want = (
            embeddings.select(F.col("vec_id"), score.alias("score"))
            .orderBy(F.col("score").desc(), F.col("vec_id").asc())
            .limit(7)
        )
        assert _normalised_optimized_plan(got) == _normalised_optimized_plan(want)
        assert got.collect() == want.collect()

    def test_topk_cosine_matches_numpy(self, spark, embeddings, corpus_np):
        ids, mat, _ = corpus_np
        q = list(map(float, mat[7]))
        got = knn_search(embeddings, q, top_k=10, metric="cosine").collect()
        exp_ids, exp_scores = _np_topk_cosine(ids, mat, np.array(q), 10)
        assert [r["vec_id"] for r in got] == exp_ids
        for r, s in zip(got, exp_scores):
            assert r["score"] == pytest.approx(s, rel=1e-9)

    def test_result_size_and_order(self, spark, embeddings, corpus_np):
        _, mat, _ = corpus_np
        got = knn_search(embeddings, list(map(float, mat[0])), top_k=5).collect()
        assert len(got) == 5
        scores = [r["score"] for r in got]
        assert scores == sorted(scores, reverse=True)

    @pytest.mark.parametrize("metric", ["euclidean", "dot", "phi_weighted"])
    def test_other_metrics_run(self, spark, embeddings, corpus_np, metric):
        _, mat, _ = corpus_np
        got = knn_search(embeddings, list(map(float, mat[3])), top_k=5, metric=metric).collect()
        assert len(got) == 5
        assert got[0]["score"] >= got[-1]["score"]

    def test_context_filter(self, spark, embeddings, corpus_np):
        # label plays outer_context_id (FIXTURES.md); filter must restrict candidates
        ids, mat, labels = corpus_np
        ctx = int(labels[0])
        df = embeddings.withColumn("outer_context_id", F.col("label"))
        got = knn_search(df, list(map(float, mat[0])), top_k=1000,
                         outer_context_filter=ctx).collect()
        allowed = set(ids[labels == ctx])
        assert {r["vec_id"] for r in got} <= allowed
        assert len(got) == len(allowed) if len(allowed) <= 1000 else 1000

    def test_batch_matches_single(self, spark, embeddings, corpus_np):
        ids, mat, _ = corpus_np
        qids = [0, 7, 42]
        queries = spark.createDataFrame(
            [(int(i), list(map(float, mat[i]))) for i in qids],
            "query_id long, query_embedding array<double>",
        )
        batch = knn_search_batch(embeddings, queries, top_k=5).collect()
        for qi in qids:
            single = knn_search(embeddings, list(map(float, mat[qi])), top_k=5).collect()
            mine = [r for r in batch if r["query_id"] == qi]
            assert [r["vec_id"] for r in mine] == [r["vec_id"] for r in single]

    def test_phi_pandas_impl_matches_sql(self, spark, embeddings, corpus_np):
        _, mat, _ = corpus_np
        q = list(map(float, mat[11]))
        sql_res = knn_search(embeddings, q, top_k=8, metric="phi_weighted").collect()
        pd_res = knn_search(embeddings, q, top_k=8, metric="phi_weighted",
                            impl="pandas").collect()
        assert [r["vec_id"] for r in sql_res] == [r["vec_id"] for r in pd_res]
        for a, b in zip(sql_res, pd_res):
            assert a["score"] == pytest.approx(b["score"], rel=1e-9)


class TestTwoLevel:
    def test_pglyph_and_two_level(self, spark, embeddings, corpus_np):
        from aeuc_vector_db_spark.operators.clustering import form_pglyphs, membership

        _, mat, _ = corpus_np
        pg = form_pglyphs(embeddings, ["label"], id_col="vec_id").withColumnRenamed(
            "centroid", "centroid"
        )
        mem = membership(embeddings, ["label"], id_col="vec_id")
        q = list(map(float, mat[5]))
        coarse = search_pglyphs(pg, q, top_k=3).collect()
        assert len(coarse) == 3
        fine = two_level_search(embeddings, pg, mem, q, top_k=5, nprobe=3).collect()
        assert len(fine) == 5
        # with enough probes the true top-1 must be found (it lives in some cluster)
        full = knn_search(embeddings, q, top_k=1).collect()
        all_probe = two_level_search(embeddings, pg, mem, q, top_k=1,
                                     nprobe=pg.count()).collect()
        assert full[0]["vec_id"] == all_probe[0]["vec_id"]
