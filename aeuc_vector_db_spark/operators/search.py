"""k-NN search operators (reference parity: A1/A2, vector_field.py:291-345).

Reference behavior to preserve:
- score ALL candidates after optional equality pre-filters on glyph_id /
  outer_context_id (vector_field.py:316-322), sort by score descending,
  take k (vector_field.py:324-326).
- The reference relies on Python's stable sort for ties; a distributed
  engine must declare a total order instead: (score DESC, id ASC).

Spark plan shape:
- single query → filter (pushed to Parquet / pruned partitions) → score
  Column expr (whole-stage codegen) → ORDER BY + LIMIT, which Spark
  executes as TakeOrderedAndProject: a per-partition top-k heap plus a
  driver merge — no global sort, no full shuffle. This is the plan that
  survives a 100 TB corpus: the only data movement is k rows per partition.
- query batch → broadcast the (small) query set, crossJoin against the
  corpus (scored in one pass), then row_number() over a window partitioned
  by query id. The corpus is scanned once for ALL queries — this is how
  Spark beats the reference's per-query rescans.
"""

from __future__ import annotations

from collections import Counter
from typing import Callable, NamedTuple, Sequence

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from aeuc_vector_db_spark.functions.similarity import (
    _phi_scores_sequential,
    phi_weighted_pair_pandas,
    phi_weighted_pandas,
    similarity_col,
)
from aeuc_vector_db_spark.functions.vector import as_double, built_once, lit_vector


def _ensure_parallel(df: DataFrame, min_partitions: int | None) -> DataFrame:
    """Repartition ONLY if the scan is under-parallel (e.g. a single small
    parquet file → 1 task, serializing O(N·d·Q) scoring on 1 of 32 cores).

    At cluster scale the file source already yields many partitions and
    this is a no-op — we never add a shuffle to an already-parallel scan.
    """
    if min_partitions and df.rdd.getNumPartitions() < min_partitions:
        return df.repartition(min_partitions)
    return df


def knn_search(
    corpus: DataFrame,
    query: Sequence[float],
    top_k: int = 10,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    glyph_id_filter: int | None = None,
    glyph_col: str | None = None,
    outer_context_filter: int | None = None,
    ctx_col: str | None = None,
    impl: str = "sql",
) -> DataFrame:
    """Single-query exact k-NN (vector_field.py:291-326).

    Returns (id_col, score) ordered by score DESC, id ASC, limited to k.
    """
    df = corpus
    if glyph_id_filter is not None:
        df = df.filter(F.col(glyph_col or "glyph_id") == F.lit(glyph_id_filter))
    if outer_context_filter is not None:
        df = df.filter(F.col(ctx_col or "outer_context_id") == F.lit(outer_context_filter))

    if impl == "pandas" and metric == "phi_weighted":
        score: Column = phi_weighted_pandas(query)(as_double(vec_col)).alias("score")
    else:
        df = df.select(F.col(id_col), F.col(vec_col), lit_vector(query).alias("__q__"))
        score = built_once(_query_score, vec_col, metric)

    return (
        df.select(F.col(id_col), score)
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(top_k)
    )


def _query_score(vec_col: str, metric: str) -> Column:
    """`score`: `metric` of `vec_col` against the query column `__q__`.

    Built once per (vec_col, metric) (`built_once`): the similarity
    builders make a Python→JVM call per expression node, and building
    them per search made a facade search's plan build 0.076 s instead
    of 0.041 s on a 4-vCPU host. The query itself is a literal
    projected as `__q__` below the score, which `CollapseProject`
    inlines, so the optimised plan is the one a literal built into the
    score gives."""
    return similarity_col(as_double(vec_col), F.col("__q__"), metric).alias("score")


def knn_search_batch(
    corpus: DataFrame,
    queries: DataFrame,
    top_k: int = 10,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_embedding",
    min_partitions: int | None = None,
) -> DataFrame:
    """Batched exact k-NN: one corpus scan scores every query.

    The query set is broadcast (it is small by construction); the corpus
    never shuffles — the only movement is k rows per (query, partition)
    into the window's top-k. Returns (query_id, id_col, score, rank).

    φ-weighted scoring goes through an Arrow-batched pandas UDF: the SQL
    higher-order-function expression is CodegenFallback (interpreted per
    row) and measured ~200× slower than the reference at sf0.1; the NumPy
    path is bit-identical (sequential folds) and vectorized.
    """
    corpus = _ensure_parallel(corpus, min_partitions)
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("__qid__"),
            as_double(query_vec_col).alias("__qvec__"),
        )
    )
    if metric == "phi_weighted":
        score_col = phi_weighted_pair_pandas()(as_double(vec_col), F.col("__qvec__"))
    else:
        score_col = similarity_col(as_double(vec_col), F.col("__qvec__"), metric)
    scored = corpus.crossJoin(q).select(
        F.col("__qid__").alias(query_id_col),
        F.col(id_col),
        score_col.alias("score"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("score").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.lit(top_k))
        .orderBy(query_id_col, "rank")
    )


class QueryBatch(NamedTuple):
    """A query set collected to the driver (`collect_queries`)."""

    ids: list
    mat: np.ndarray  # (Q, d) float64
    id_type: str  # Spark SQL type of the ids, for result schemas


def collect_queries(
    queries: DataFrame,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_embedding",
    dim: int | None = None,
) -> QueryBatch:
    """Collect a query DataFrame in one job and check every vector.

    A NULL vector, or one whose length is not `dim` (default: the most
    common length in the batch), raises a ValueError naming the query —
    the kernels score a dense (Q, d) matrix and cannot skip a query the
    way they skip a dirty corpus row."""
    rows = queries.select(query_id_col, query_vec_col).collect()
    if not rows:
        raise ValueError("empty query set")
    for qid, v in rows:
        if v is None:
            raise ValueError(f"query {qid!r}: NULL query vector")
    if dim is None:
        dim = Counter(len(v) for _, v in rows).most_common(1)[0][0]
    for qid, v in rows:
        if len(v) != dim:
            raise ValueError(f"query {qid!r}: vector has dimension {len(v)}, expected {dim}")
    return QueryBatch(
        [qid for qid, _ in rows],
        np.asarray([v for _, v in rows], dtype=np.float64),
        queries.schema[query_id_col].dataType.simpleString(),
    )


def score_block(mat: np.ndarray, q_mat: np.ndarray, metric: str) -> np.ndarray:
    """(B, d) block × (Q, d) queries → (B, Q) score matrix.

    Shared by the Arrow fine scan (a corpus batch per call) and the IVF
    coarse probe on the driver (the centroid matrix), so both rank
    under the same arithmetic."""
    if metric == "cosine":
        dots = mat @ q_mat.T
        denom = (
            np.linalg.norm(mat, axis=1)[:, None] * np.linalg.norm(q_mat, axis=1)[None, :]
            + 1e-12
        )
        return dots / denom
    if metric == "dot":
        return mat @ q_mat.T
    if metric == "euclidean":
        # direct differences per query — the ‖a‖²−2ab+‖b‖² expansion
        # cancels catastrophically for near-identical vectors
        out = np.empty((mat.shape[0], q_mat.shape[0]))
        for j in range(q_mat.shape[0]):
            diff = mat - q_mat[j]
            out[:, j] = 1.0 / (1.0 + np.sqrt((diff * diff).sum(axis=1)))
        return out
    if metric == "phi_weighted":
        out = np.empty((mat.shape[0], q_mat.shape[0]))
        for j in range(q_mat.shape[0]):
            out[:, j] = _phi_scores_sequential(mat, np.broadcast_to(q_mat[j], mat.shape))
        return out
    raise ValueError(f"Unknown metric {metric!r}")


def _fit_to_cluster(df: DataFrame, width: int) -> DataFrame:
    """`_ensure_parallel` in the other direction: narrow-coalesce a small
    input to `width` kernel tasks.

    A scan of many small files (an IVF layout after appends holds one
    file per cell per write) runs one task per file, each paying a
    Python-worker handshake to score a few hundred rows. When the input
    is under one spark.sql.files.maxPartitionBytes split per core, a
    coalesce (no shuffle) packs it onto `width` tasks; a scan with at
    most `width` partitions keeps them (coalesce never widens), and a
    large scan is left alone. The size is the optimizer's estimate —
    for a file scan, the bytes of the whole relation before partition
    pruning, so the rule errs towards leaving a scan as it is."""
    spark = df.sparkSession
    split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    if df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes() < split * width:
        return df.coalesce(width)
    return df


def knn_search_batch_arrow(
    corpus: DataFrame,
    queries: DataFrame | QueryBatch,
    top_k: int = 10,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_embedding",
    min_partitions: int | None = None,
    cell_col: str | None = None,
    query_cells: dict | None = None,
) -> DataFrame:
    """Arrow-vectorized batch k-NN — the 100 TB hot path.

    cell_col + query_cells (qid → iterable of allowed cell ids) turn
    this into the IVF fine scan: rows whose cell is outside a query's
    probed set are masked out of that query's ranking (ann.py
    ivf_search_batch_arrow composes this with partition pruning — the
    interpreted-HOF fine scan measured 10× slower than this kernel's
    full scan at N=1M, so pruning must not fall back to it).

    `queries` is a DataFrame, collected here to a (Q, d) matrix (small
    by construction), or a QueryBatch a caller already collected. The
    scan is `arrow_topk` with `score_block` as its scorer.

    Compare knn_search_batch (SQL expression path): same results
    rank-for-rank, but the crossJoin ships (embedding, query) pairs and
    the higher-order functions evaluate interpreted — measured ~8 s vs
    ~0.5 s for 2M pair-scores at N=100k. The SQL path remains the
    oracle-pinned form (sequential fold bit-parity); this one uses
    np.dot (pairwise summation — scores differ in low-order bits but
    ranks agree, see tests/test_search_arrow.py).

    Returns (query_id, id, score, rank) like knn_search_batch.
    """
    qb = (
        queries
        if isinstance(queries, QueryBatch)
        else collect_queries(queries, query_id_col, query_vec_col)
    )
    return arrow_topk(
        corpus,
        qb,
        lambda vecs: score_block(np.asarray(vecs, dtype=np.float64), qb.mat, metric),
        width=qb.mat.shape[1],
        top_k=top_k,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        min_partitions=min_partitions,
        cell_col=cell_col,
        query_cells=query_cells,
    )


def arrow_topk(
    corpus: DataFrame,
    qb: QueryBatch,
    scorer: Callable[[list], np.ndarray],
    width: int,
    top_k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    min_partitions: int | None = None,
    cell_col: str | None = None,
    query_cells: dict | None = None,
) -> DataFrame:
    """The Arrow top-k scan behind every batch search: the exact
    k-NN (`score_block`) and the PQ ADC scan (a lookup-table gather).

    The corpus is scanned ONCE as Arrow batches via mapInPandas. Each
    batch's `vec_col` values of length `width` go to `scorer` as a
    list, which returns their (B, Q) score matrix against `qb`; a NULL
    or other-length value drops its row, not the job. Each partition
    keeps its top-k per query, so only k·Q rows leave it. One
    SinglePartition exchange brings them to a single merge task that
    ranks each query's candidates by (score DESC, id ASC) and emits
    them in (query_id, rank) order: no Window, no orderBy. The kernel
    stage is as wide as the cluster: an under-parallel scan is spread
    to `min_partitions`, and a small scan of many files is narrowed to
    defaultParallelism. With `cell_col` + `query_cells`, a query ranks
    only the rows of its own cells.

    Returns (query_id, id, score, rank)."""
    from typing import Iterator

    import pandas as pd

    q_ids = qb.ids
    # id column types follow the inputs — string iglyph ids work the same
    # as long vec_ids (the id never enters the arithmetic, only the sort)
    id_type = corpus.schema[id_col].dataType.simpleString()
    out_schema = f"{query_id_col} {qb.id_type}, {id_col} {id_type}, score double"

    allowed_cells = (
        {qid: np.asarray(sorted(cs)) for qid, cs in query_cells.items()}
        if query_cells is not None
        else None
    )

    def partition_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # accumulate the per-partition top-k per query across Arrow batches
        best: dict = {}
        for pdf in batches:
            # NULL / wrong-width vectors are dropped per row, not crashed
            # on: np.asarray over a ragged batch raises and aborts the
            # whole job after retries, while the SQL twin null-propagates
            # (null scores sort last and fall out of the top-k)
            vec_list = pdf[vec_col].tolist()
            ok = [
                i for i, v in enumerate(vec_list)
                if v is not None and len(v) == width
            ]
            if not ok:
                continue
            if len(ok) < len(vec_list):
                pdf = pdf.iloc[ok]
                vec_list = [vec_list[i] for i in ok]
            ids_py = pdf[id_col].tolist()
            # np.asarray over the python list: string ids become '<U' dtype
            # (lexsort-able), where pandas .to_numpy() would yield object
            ids = np.asarray(ids_py)
            scores = scorer(vec_list)  # (B, Q)
            cells_arr = (
                pdf[cell_col].to_numpy() if allowed_cells is not None else None
            )
            for j, qid in enumerate(q_ids):
                col = scores[:, j]
                if cells_arr is not None:
                    # IVF mask: this query ranks only rows in its probed cells
                    vi = np.flatnonzero(
                        np.isin(cells_arr, allowed_cells.get(qid, ()))
                    )
                    if vi.size == 0:
                        continue
                    sub_ids, sub_col = ids[vi], col[vi]
                else:
                    vi, sub_ids, sub_col = None, ids, col
                take = min(top_k, len(sub_col))
                # lexsort on (id asc secondary, score desc primary): a bare
                # argpartition on score would cut arbitrarily through TIED
                # scores at the k-th place (planted duplicate vectors, or
                # PQ rows sharing codes) and could drop the id the
                # (score DESC, id ASC) contract keeps — O(B log B) per
                # batch is noise next to the scoring
                order = np.lexsort((sub_ids, -sub_col))[:take]
                sel = vi[order] if vi is not None else order
                cand = best.setdefault(qid, [])
                cand.extend((float(col[i]), ids_py[i]) for i in sel)
                if len(cand) > 4 * top_k:  # keep the running set bounded
                    cand.sort(key=lambda t: (-t[0], t[1]))
                    del cand[top_k:]
        rows = []
        for qid, cand in best.items():
            cand.sort(key=lambda t: (-t[0], t[1]))
            rows.extend((qid, vid, s) for s, vid in cand[:top_k])
        yield pd.DataFrame(rows, columns=[query_id_col, id_col, "score"])

    def merge_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # the single merge task: every partition's candidates, ranked
        # per query by (score DESC, id ASC), in (query_id, rank) order
        parts = [pdf for pdf in batches if len(pdf)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True).sort_values(
            [query_id_col, "score", id_col], ascending=[True, False, True],
            kind="mergesort",
        )
        pdf["rank"] = pdf.groupby(query_id_col, sort=False).cumcount() + 1
        yield pdf[pdf["rank"] <= top_k]

    corpus = _ensure_parallel(corpus, min_partitions)
    corpus = _fit_to_cluster(
        corpus, max(corpus.sparkSession.sparkContext.defaultParallelism, min_partitions or 0)
    )
    proj = [id_col, vec_col] + ([cell_col] if allowed_cells is not None else [])
    partial = corpus.select(*proj).mapInPandas(partition_topk, out_schema)
    return partial.repartition(1).mapInPandas(merge_topk, f"{out_schema}, rank int")


def search_pglyphs(
    pglyphs: DataFrame,
    query: Sequence[float],
    top_k: int = 5,
    metric: str = "cosine",
    id_col: str = "pglyph_id",
    vec_col: str = "centroid",
) -> DataFrame:
    """Coarse prototype-level search (vector_field.py:328-345)."""
    return knn_search(pglyphs, query, top_k=top_k, metric=metric, id_col=id_col, vec_col=vec_col)


def two_level_search(
    corpus: DataFrame,
    pglyphs: DataFrame,
    membership: DataFrame,
    query: Sequence[float],
    top_k: int = 10,
    nprobe: int = 2,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style coarse→fine search: A2 then A1 within the winning clusters.

    The centroid scan is tiny; the fine scan touches only the members of
    the nprobe best clusters (a broadcast semi-join — at scale this is the
    partition-pruned path when the corpus is written partitioned by
    cluster id).
    """
    best = search_pglyphs(pglyphs, query, top_k=nprobe, metric=metric)
    member_ids = membership.join(
        F.broadcast(best.select("pglyph_id")), "pglyph_id", "inner"
    ).select(F.col("iglyph_id").alias(id_col))
    pruned = corpus.join(F.broadcast(member_ids), id_col, "left_semi")
    return knn_search(pruned, query, top_k=top_k, metric=metric, id_col=id_col, vec_col=vec_col)
