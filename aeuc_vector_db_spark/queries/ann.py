"""Declared ANN queries (E1/E2).

`ivf_pruned_search` uses a deterministic coarse quantizer (per-label
centroids — the engine's PGlyph analog) so the whole two-level plan is
SQL-expressible and DuckDB-oracled. `ann_ivf_recall` swaps in a trained
quantizer (sample-fit Lloyd's, fixed seed) — not SQL-expressible, so it's
a rows-only check; its semantics are pinned by tests/test_ann.py instead
(recall = 1.0 at nprobe = k, partition pruning visible in the plan). The
`ann_*_recall` family runs each index's train → encode → search steps
here and scores the result with the one `ann.recall_eval`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aeuc_vector_db_spark.operators import ann as A
from aeuc_vector_db_spark.operators import clustering as C
from aeuc_vector_db_spark.queries.core import (
    QUERY_FILTER,
    _dk_cosine,
    _dk_double,
    _dk_euclid_sim,
    _dk_least_phi,
    _queries_df,
)
from aeuc_vector_db_spark.sources.tables import load_table


def _ivf_pruned_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level search with label-centroid cells, nprobe=3, top-10."""
    res = A.ivf_search_batch(
        *_label_cells_setup(spark, sf_dir), top_k=10, nprobe=3
    )
    return res.select(
        "query_id", "vec_id", F.round("score", 9).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


def _label_cells_setup(spark: SparkSession, sf_dir: str):
    """(corpus_with_cells, centroids, queries) with deterministic
    label-derived cells — shared by the HOF and Arrow IVF queries so
    their setups cannot drift apart."""
    emb = load_table(spark, "embeddings", sf_dir)
    cents = C.centroids(emb, ["label"]).select(
        F.col("label").cast("int").alias("centroid_id"), "centroid"
    )
    corpus = emb.withColumn("centroid_id", F.col("label").cast("int"))
    return corpus, cents, _queries_df(spark, sf_dir)


def _dk_phi_sim(a: str, b: str) -> str:
    """φ-weighted cosine as ONE DuckDB expression: per-dim weight
    1/(distance-to-nearest-φⁿ + 1e-8) over the pair's magnitude profile,
    normalized to sum 1, then cosine of the re-weighted vectors —
    byte-for-byte the same op chain as the staged `_PHI_ORACLE` CTEs
    (the sub-expressions are duplicated inline, which recomputes but
    cannot change a bit)."""
    am = f"list_transform(list_zip({a}, {b}), p -> (abs(p[1]) + abs(p[2])) / 2.0 + 1e-12)"
    w = f"list_transform({am}, m -> 1.0 / ({_dk_least_phi('m')} + 1e-8))"
    ws = f"(list_reduce({w}, (s, x) -> s + x) + 1e-12)"
    wa = f"list_transform(list_zip({a}, {w}), p -> p[1] * (p[2] / {ws}))"
    wb = f"list_transform(list_zip({b}, {w}), p -> p[1] * (p[2] / {ws}))"
    return _dk_cosine(wa, wb)


def _ivf_oracle(rank_only: bool, sim=_dk_cosine) -> str:
    """One template for every IVF oracle — the coarse/fine CTE chain
    (centroid AVG, similarity fold, epsilons, tie-breaks) must never
    drift between the HOF-path, Arrow-path, and metric-parity declared
    queries; only the similarity expression and the final projection
    differ (the Arrow path is rank-only because np.dot score bits
    differ from the SQL fold)."""
    proj = (
        "query_id, vec_id, CAST(rank AS BIGINT) AS rank"
        if rank_only
        else "query_id, vec_id, ROUND(s, 9) AS score, CAST(rank AS BIGINT) AS rank"
    )
    rank_cols = "query_id, vec_id" if rank_only else "query_id, vec_id, s"
    return f"""
WITH pts AS (
  SELECT label,
         unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS val,
         unnest(range(len(embedding))) AS pos
  FROM embeddings
), cent AS (
  SELECT label, pos, AVG(val) AS c FROM pts GROUP BY label, pos
), cvec AS (
  SELECT label AS centroid_id, list(c ORDER BY pos) AS centroid FROM cent GROUP BY label
), q AS (
  SELECT vec_id AS query_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings WHERE {QUERY_FILTER}
), coarse AS (
  SELECT query_id, centroid_id, qv,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY {sim('centroid', 'qv')} DESC,
                    centroid_id ASC
         ) AS r
  FROM cvec CROSS JOIN q
), cells AS (
  SELECT query_id, centroid_id, qv FROM coarse WHERE r <= 3
), fine AS (
  SELECT cells.query_id, e.vec_id,
         {sim("list_transform(e.embedding, x -> CAST(x AS DOUBLE))", 'qv')} AS s
  FROM embeddings e JOIN cells ON e.label = cells.centroid_id
), ranked AS (
  SELECT {rank_cols},
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id ASC) AS rank
  FROM fine
)
SELECT {proj}
FROM ranked WHERE rank <= 10
"""


_IVF_ORACLE = _ivf_oracle(rank_only=False)


def _emb_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity re-rank (Carbonell & Goldstein 1998) of each
    query's cosine top-20, λ=0.7, k=8. The oracle replays the greedy
    selection as a RECURSIVE CTE — a true cross-engine sequential-
    algorithm equivalence check (the leakproof-split CC oracle's
    pattern applied to retrieval): every selection step's argmax, its
    tie-break, and the score arithmetic must agree bit-for-bit or the
    hash diverges."""
    from aeuc_vector_db_spark.operators.rerank import mmr_rerank
    from aeuc_vector_db_spark.operators.search import knn_search_batch

    emb = load_table(spark, "embeddings", sf_dir)
    res = knn_search_batch(emb, _queries_df(spark, sf_dir), top_k=20)
    cand = res.join(emb.select("vec_id", "embedding"), "vec_id").select(
        "query_id", "vec_id", F.col("score").alias("rel"), "embedding"
    )
    out = mmr_rerank(cand, lam=0.7, top_k=8)
    return out.select(
        "query_id", "vec_id", F.round("score", 9).alias("score"), "rank"
    )


def _mmr_oracle() -> str:
    lam = "CAST(0.7 AS DOUBLE)"
    one_minus = f"(CAST(1 AS DOUBLE) - {lam})"
    cos = _dk_cosine
    return f"""
WITH RECURSIVE q AS (
  SELECT vec_id AS query_id, {_dk_double('embedding')} AS qv
  FROM embeddings WHERE {QUERY_FILTER}
), c AS (
  SELECT vec_id, {_dk_double('embedding')} AS cv FROM embeddings
), scored AS (
  SELECT q.query_id, c.vec_id, {cos('cv', 'qv')} AS rel, c.cv
  FROM c CROSS JOIN q
), topr AS (
  SELECT query_id, vec_id, rel, cv,
         row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, vec_id ASC) AS rn
  FROM scored
), cand AS (
  SELECT query_id, vec_id, rel, cv FROM topr WHERE rn <= 20
), sel(query_id, step, vec_id, mmr, chosen) AS (
  SELECT query_id, 1, vec_id, rel, [vec_id] FROM topr WHERE rn = 1
  UNION ALL
  SELECT query_id, step + 1, vec_id, mmr, list_append(chosen, vec_id) FROM (
    SELECT u.*, row_number() OVER (
             PARTITION BY u.query_id ORDER BY u.mmr DESC, u.vec_id ASC) AS rn2
    FROM (
      SELECT s.query_id, s.step, s.chosen, c.vec_id,
             ({lam} * c.rel) - ({one_minus} * (
                SELECT MAX({cos('c.cv', 'c2.cv')}) FROM cand c2
                WHERE c2.query_id = c.query_id
                  AND list_contains(s.chosen, c2.vec_id)
             )) AS mmr
      FROM sel s JOIN cand c ON c.query_id = s.query_id
        AND NOT list_contains(s.chosen, c.vec_id)
      WHERE s.step < 8
    ) u
  ) WHERE rn2 = 1
)
SELECT query_id, vec_id, ROUND(mmr, 9) AS score, CAST(step AS BIGINT) AS rank
FROM sel
"""


def _ivf_incremental_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ivf_pruned_search`'s exact result served from an INCREMENTALLY
    BUILT on-disk layout: half the corpus written one-shot, the other
    half routed in via `ivf_append` (label-derived cells — the
    deterministic quantizer, so the whole pipeline stays
    SQL-expressible), then the partitioned dir read back and searched.
    Sharing the one-shot oracle pins that split partitioned writes
    reconstruct the identical corpus — any row lost, duplicated, or
    mis-routed by the append diverges the hash."""
    import tempfile

    emb = load_table(spark, "embeddings", sf_dir)
    cents = C.centroids(emb, ["label"]).select(
        F.col("label").cast("int").alias("centroid_id"), "centroid"
    )
    cells = emb.select("vec_id", F.col("label").cast("int").alias("centroid_id"))
    path = tempfile.mkdtemp(prefix="aeuc_ivf_inc_") + "/ivf"
    A.write_ivf_corpus(emb.filter(F.col("vec_id") % 2 == 0), cells, path)
    A.ivf_append(
        emb.filter(F.col("vec_id") % 2 == 1), cents, path, assignments=cells
    )
    disk = spark.read.parquet(path)
    res = A.ivf_search_batch(
        disk, cents, _queries_df(spark, sf_dir), top_k=10, nprobe=3
    )
    return res.select(
        "query_id", "vec_id", F.round("score", 9).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


def _ivf_arrow_pruned_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow IVF path (pruned scan + NumPy matmul + per-query cell
    mask) as a driver-checked query — rank-only output like
    knn_cosine_arrow_topk: np.dot score bits differ from the SQL fold,
    ranks don't (both deterministic; HOF-twin parity in test_ann.py)."""
    res = A.ivf_search_batch_arrow(
        *_label_cells_setup(spark, sf_dir), top_k=10, nprobe=3
    )
    return res.select(
        "query_id", "vec_id", F.col("rank").cast("long").alias("rank")
    )


_IVF_ARROW_ORACLE = _ivf_oracle(rank_only=True)


def _ivf_metric_query(metric: str):
    """Metric-parity IVF queries: the coarse probe AND the fine scan run
    under the named metric (reference dispatch semantics,
    similarity.py:82-110 — the two-level search inherits the metric,
    reference vector_field.py:328-345). Same deterministic label cells
    and tie-breaks as the cosine query; only the similarity changes."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        res = A.ivf_search_batch(
            *_label_cells_setup(spark, sf_dir), top_k=10, nprobe=3, metric=metric
        )
        return res.select(
            "query_id", "vec_id", F.round("score", 9).alias("score"),
            F.col("rank").cast("long").alias("rank"),
        )

    return fn


_IVF_EUCLID_ORACLE = _ivf_oracle(rank_only=False, sim=_dk_euclid_sim)
_IVF_PHI_ORACLE = _ivf_oracle(rank_only=False, sim=_dk_phi_sim)


#: below-floor canary rows carry query_id ≤ this offset (minus the
#: violating query's id) — distinct from the -1 floor sentinel and from
#: _ann_pq_refine_recall's dominance-violation offsets (-1000/-2000)
_RECALL_CANARY_OFFSET = -9000


def _recall_gated(spark: SparkSession, rec: DataFrame, floor: float) -> DataFrame:
    """Self-validating shape for the rows-only recall evals (VERDICT r8
    #4): the driver only sees row count + schema for no-oracle queries,
    so emit rows whose COUNT moves when the operator degrades — one row
    per query passing `recall >= floor` (floors hold at sf0.01 AND
    sf0.1 today; any regression below the floor drops rows) plus one
    always-present sentinel row carrying the floor (distinguishes
    "all queries failed the floor" from "query produced nothing").

    Round 12 (VERDICT r11 #6, the multimodal_codec_canary trick): a
    query falling UNDER the floor additionally emits an explicit
    `recall_below_floor` canary row — query_id = -9000 - query_id,
    recall = the failing value — so a degradation moves the
    driver-visible count in BOTH directions at once (kept row gone,
    canary row added) and the failing recall value itself lands in the
    output instead of silently vanishing. A healthy run emits zero
    canary rows (planted-degradation tests per recall family pin that
    the row fires: test_ann.py test_recall_canary_*)."""
    scored = rec.select("query_id", F.round("recall", 3).alias("recall"))
    kept = scored.filter(F.col("recall") >= F.lit(floor))
    below = scored.filter(F.col("recall") < F.lit(floor)).select(
        (F.lit(_RECALL_CANARY_OFFSET) - F.col("query_id")).alias("query_id"),
        "recall",
    )
    sentinel = spark.createDataFrame(
        [(-1, float(floor))], "query_id long, recall double"
    )
    return kept.unionByName(below).unionByName(sentinel).orderBy("query_id")


def _ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-quantizer IVF recall@10 vs exact search (rows-only check).

    The quantizer is the sample-fit Lloyd's (fit_centroids_sample_local —
    the FAISS IVF training recipe, deterministic NumPy) rather than the
    MLlib fit: same IVF semantics, ~20× cheaper cold (the MLlib fit alone
    cost 14.6 s at a 500-row sf, blowing the per-query verification
    budget). The search is ivf_search_batch_arrow and `recall_eval`
    scores it against the exact Arrow top-k: both score in the NumPy
    kernel, whose ranks agree with the SQL-fold twins (test-pinned)."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries = _queries_df(spark, sf_dir)
    cent_local = A.fit_centroids_sample_local(emb, k=8, seed=42, iters=10)
    corpus = emb.join(A.assign_centroids(emb, cent_local), "vec_id")
    approx = A.ivf_search_batch_arrow(corpus, cent_local, queries, top_k=10, nprobe=2)
    rec = A.recall_eval(approx, corpus, queries, top_k=10)
    return _recall_gated(spark, rec, floor=0.2)


def _ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC recall@10 vs exact euclidean search
    (rows-only check — codebook training is not SQL-expressible, the
    ann_ivf_recall situation). m=8 subspaces × 2⁴ centroids compress
    each 64-dim float vector to 8 code bytes (32× over float32); the
    deterministic pipeline (id-sorted sample, seeded Lloyd per
    subspace, first-minimum tie-breaks, score DESC / id ASC ranking)
    makes the per-query recall values stable across runs and
    partitionings: train (pq_train) → encode (pq_encode) → ADC search
    (pq_search_batch) → recall_eval. Exactness at the limit and null
    tolerance are pinned in test_ann.py."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries = _queries_df(spark, sf_dir)
    books = A.pq_train(emb, m=8, nbits=4, seed=42)
    approx = A.pq_search_batch(A.pq_encode(emb, books), books, queries, top_k=10)
    rec = A.recall_eval(approx, emb, queries, top_k=10, metric="euclidean")
    return _recall_gated(spark, rec, floor=0.1)


def _ann_pq_refine_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC+R recall@10: compressed-domain top-50 cut, exact euclidean
    re-rank of the 50 survivors (operators/ann.py pq_search_refined).
    Rows-only check (codebook training not SQL-expressible); the
    refinement ≥ plain-ADC recall dominance and the R→N exactness
    limit are pinned in test_ann.py. One trained codebook and one
    `pq_encode` frame serve both the refined and the plain ADC search,
    and both recalls are scored against one exact baseline
    (`recall_eval` over a list)."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries = _queries_df(spark, sf_dir)
    books = A.pq_train(emb, m=8, nbits=4, seed=42)
    codes = A.pq_encode(emb, books)
    refined = A.pq_search_refined(codes, books, queries, emb, top_k=10, refine_r=50)
    plain = A.pq_search_batch(codes, books, queries, top_k=10)
    rec, plain_rec = A.recall_eval(
        [refined, plain], emb, queries, top_k=10, metric="euclidean"
    )
    # refinement-dominance violations ride the output as EXTRA rows
    # (query_id negated, recall = refined - plain, strictly negative):
    # exact re-ranking of the ADC top-50 can only help, so any query
    # where refined < plain is a bug and grows the driver-visible count
    bad = (
        rec.select("query_id", F.col("recall").alias("r_ref"))
        .join(plain_rec.select("query_id", F.col("recall").alias("r_plain")), "query_id")
        .filter(F.col("r_ref") < F.col("r_plain"))
    )
    # emitted TWICE per violating query: a dominance-violating recall
    # usually ALSO falls below the floor (-1 row), so a single
    # violation row would cancel out of the driver-visible count
    viol = bad.select(
        (-F.col("query_id") - F.lit(1000)).alias("query_id"),
        F.round(F.col("r_ref") - F.col("r_plain"), 3).alias("recall"),
    ).unionByName(
        bad.select(
            (-F.col("query_id") - F.lit(2000)).alias("query_id"),
            F.round(F.col("r_ref") - F.col("r_plain"), 3).alias("recall"),
        )
    )
    return _recall_gated(spark, rec, floor=0.3).unionByName(viol)


def _ann_opq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ recall@10 vs exact euclidean search (rows-only check —
    rotation + codebook training is not SQL-expressible, the
    ann_pq_recall situation). A learned orthogonal rotation (Ge et
    al. CVPR'13 OPQ-NP, `operators/ann.py opq_train`) aligns the PQ
    subspace split with the data's principal directions before
    encoding; corpus and queries are rotated, encoded and searched
    with ADC. Distances are rotation-invariant, so the exact baseline
    scores the ORIGINAL vectors (test_rotation_preserves_exact_topk).
    On the near-isotropic fixture OPQ ≈ plain PQ by design (nothing to
    align); the rotation win is pinned on planted anisotropic data in
    test_opq_beats_plain_pq_on_cross_subspace_correlation. Fully
    deterministic: seeded sample fit, deterministic SVD, first-minimum
    tie-breaks."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries = _queries_df(spark, sf_dir)
    R, books = A.opq_train(emb, m=8, nbits=4, seed=42, iters=8)
    codes = A.pq_encode(A.rotate_vectors(emb, R), books)
    rot_queries = A.rotate_vectors(
        queries, R, id_col="query_id", vec_col="query_embedding"
    )
    approx = A.pq_search_batch(codes, books, rot_queries, top_k=10)
    rec = A.recall_eval(approx, emb, queries, top_k=10, metric="euclidean")
    return _recall_gated(spark, rec, floor=0.1)


def _ann_ivfadc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed IVFADC recall@10 vs exact euclidean (rows-only): IVF
    coarse probe bounds WHICH rows each query scores, PQ ADC bounds
    what each row COSTS — both approximation knobs stacked, the number
    a real deployment tunes. The IVF centroids and the PQ codebooks
    both train on the deterministic sample recipe, the corpus encodes
    to (id, codes, cell), and ivfadc_search_batch runs over it. Fully
    deterministic (seeded sample fits, first-minimum tie-breaks, score
    DESC / id ASC)."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries = _queries_df(spark, sf_dir)
    cent_local = A.fit_centroids_sample_local(emb, k=8, seed=42)
    books = A.pq_train(emb, m=8, nbits=4, seed=42)
    codes = A.pq_encode(emb, books).join(A.assign_centroids(emb, cent_local), "vec_id")
    approx = A.ivfadc_search_batch(codes, books, cent_local, queries, top_k=10, nprobe=4)
    rec = A.recall_eval(approx, emb, queries, top_k=10, metric="euclidean")
    return _recall_gated(spark, rec, floor=0.1)


def _two_level_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2→A1 two-level search (the reference's coarse-then-fine pattern,
    vector_field.py:328-345 + 291-326): PGlyph centroids from the label
    grouping, coarse top-nprobe by cosine, fine exact scan over the
    winning clusters' members via the membership relation. Single query
    vec_id=7, nprobe=2, top-10."""
    from aeuc_vector_db_spark.operators import clustering as C2
    from aeuc_vector_db_spark.operators.search import two_level_search

    emb = load_table(spark, "embeddings", sf_dir)
    pg = C2.form_pglyphs(emb, ["label"], id_col="vec_id").select("pglyph_id", "centroid")
    mem = C2.membership(emb, ["label"], id_col="vec_id")
    qvec = [float(x) for x in
            emb.filter(F.col("vec_id") == 7).select("embedding").collect()[0][0]]
    res = two_level_search(emb, pg, mem, qvec, top_k=10, nprobe=2)
    return res.select("vec_id", F.round("score", 9).alias("score"))


_TWO_LEVEL_ORACLE = f"""
WITH pts AS (
  SELECT label, vec_id,
         unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS val,
         unnest(range(len(embedding))) AS pos
  FROM embeddings
), cent AS (
  SELECT label, pos, AVG(val) AS c FROM pts GROUP BY label, pos
), cvec AS (
  SELECT label, list(c ORDER BY pos) AS centroid FROM cent GROUP BY label
), pid AS (
  SELECT label,
         sha256(string_agg(CAST(vec_id AS VARCHAR), ',' ORDER BY CAST(vec_id AS VARCHAR)))
           AS pglyph_id
  FROM embeddings GROUP BY label
), q AS (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings WHERE vec_id = 7
), coarse AS (
  SELECT cvec.label,
         row_number() OVER (
           ORDER BY list_reduce(list_transform(list_zip(centroid, qv), p -> p[1]*p[2]), (s,x)->s+x)
                    / (sqrt(list_reduce(list_transform(centroid, x -> x*x), (s,x)->s+x))
                       * sqrt(list_reduce(list_transform(qv, x -> x*x), (s,x)->s+x)) + 1e-12) DESC,
                    pglyph_id ASC
         ) AS r
  FROM cvec JOIN pid ON cvec.label = pid.label CROSS JOIN q
), fine AS (
  SELECT e.vec_id,
         list_reduce(list_transform(list_zip(list_transform(e.embedding, x -> CAST(x AS DOUBLE)), qv),
                                    p -> p[1]*p[2]), (s,x)->s+x)
         / (sqrt(list_reduce(list_transform(list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                                            x -> x*x), (s,x)->s+x))
            * sqrt(list_reduce(list_transform(qv, x -> x*x), (s,x)->s+x)) + 1e-12) AS s
  FROM embeddings e CROSS JOIN q
  WHERE e.label IN (SELECT label FROM coarse WHERE r <= 2)
)
SELECT vec_id, ROUND(s, 9) AS score
FROM fine ORDER BY s DESC, vec_id ASC LIMIT 10
"""


# ---------------------------------------------------------------------------
# Binary (sign-bit) quantization + Hamming search + exact re-rank
# (operators/binary.py, round 7). Everything is integer / sequential-
# fold arithmetic, so the WHOLE two-stage pipeline — packing, Hamming
# ranking, cosine re-score — is DuckDB-oracled bit-for-bit.
# ---------------------------------------------------------------------------

_BINARY_DIM = 64
_BINARY_R = 50


def _emb_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aeuc_vector_db_spark.operators.binary import binary_search_rerank
    from aeuc_vector_db_spark.sources.tables import ensure_min_parallelism

    # optimization round 16: spread the single-file corpus scan — the
    # sign-pack + per-pair Hamming stage (corpus × queries) otherwise
    # runs on one task (row placement only; results unchanged)
    emb = ensure_min_parallelism(load_table(spark, "embeddings", sf_dir))
    res = binary_search_rerank(
        emb, _queries_df(spark, sf_dir), dim=_BINARY_DIM, top_k=10, refine_r=_BINARY_R
    )
    return res.select(
        "query_id",
        "vec_id",
        F.col("hamming").cast("long").alias("hamming"),
        F.round("score", 9).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


def _dk_sign_word(vec: str, j: int, n: int) -> str:
    """Mirror of binary.sign_pack_cols word j (bits j*32 .. j*32+n-1)."""
    return (
        f"list_reduce(list_transform(range(1, {n + 1}),"
        f" i -> CASE WHEN {vec}[CAST({32 * j} + i AS INT)] > 0"
        f" THEN (CAST(1 AS BIGINT) << CAST(i - 1 AS INT)) ELSE CAST(0 AS BIGINT) END),"
        f" (a, b) -> a + b)"
    )


def _binary_hamming_oracle() -> str:
    import math

    n_words = math.ceil(_BINARY_DIM / 32)
    qpack = ", ".join(
        f"{_dk_sign_word('embedding', j, min(32, _BINARY_DIM - 32 * j))} AS qw{j}"
        for j in range(n_words)
    )
    cpack = ", ".join(
        f"{_dk_sign_word('embedding', j, min(32, _BINARY_DIM - 32 * j))} AS cw{j}"
        for j in range(n_words)
    )
    ham = " + ".join(f"bit_count(xor(qw{j}, cw{j}))" for j in range(n_words))
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, {_dk_double('embedding')} AS qv, {qpack}
  FROM embeddings WHERE {QUERY_FILTER}
), c AS (
  SELECT vec_id, {_dk_double('embedding')} AS cv, {cpack}
  FROM embeddings
), ham AS (
  SELECT q.query_id, c.vec_id, {ham} AS hamming
  FROM c CROSS JOIN q
), cand AS (
  SELECT query_id, vec_id, hamming,
         row_number() OVER (PARTITION BY query_id ORDER BY hamming ASC, vec_id ASC) AS hrank
  FROM ham
), rr AS (
  SELECT cand.query_id, cand.vec_id, cand.hamming, {_dk_cosine('c.cv', 'q.qv')} AS s
  FROM cand
  JOIN c ON c.vec_id = cand.vec_id
  JOIN q ON q.query_id = cand.query_id
  WHERE cand.hrank <= {_BINARY_R}
), ranked AS (
  SELECT query_id, vec_id, hamming, s,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id ASC) AS rank
  FROM rr
)
SELECT query_id, vec_id, CAST(hamming AS BIGINT) AS hamming,
       ROUND(s, 9) AS score, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 10
"""


_BINARY_HAMMING_ORACLE = _binary_hamming_oracle()


# ---------------------------------------------------------------------------
# Matryoshka (truncated-prefix) search, round 7: cosine top-k over the
# FIRST 16 of 64 dims — the MRL serving pattern (Kusupati et al. 2022):
# embeddings whose prefixes are themselves usable representations let a
# search tier read ¼ of the vector bytes. Entirely expressible with the
# existing brute-force operator over a sliced column, so the whole
# thing is DuckDB-oracled; the prefix slice happens in the scan
# projection (column pruning cuts the other 48 dims' IO at the source).
# ---------------------------------------------------------------------------

_MRL_DIM = 16


def _emb_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aeuc_vector_db_spark.operators.search import knn_search_batch

    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", F.slice("embedding", 1, _MRL_DIM).alias("embedding")
    )
    q = _queries_df(spark, sf_dir).select(
        "query_id",
        F.slice("query_embedding", 1, _MRL_DIM).alias("query_embedding"),
    )
    res = knn_search_batch(emb, q, top_k=10, metric="cosine")
    return res.select(
        "query_id",
        "vec_id",
        F.round("score", 9).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


_MATRYOSHKA_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id,
         {_dk_double(f'list_slice(embedding, 1, {_MRL_DIM})')} AS qv
  FROM embeddings WHERE {QUERY_FILTER}
), c AS (
  SELECT vec_id, {_dk_double(f'list_slice(embedding, 1, {_MRL_DIM})')} AS cv
  FROM embeddings
), scored AS (
  SELECT q.query_id, c.vec_id, {_dk_cosine('cv', 'qv')} AS s
  FROM c CROSS JOIN q
), ranked AS (
  SELECT query_id, vec_id, s,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, ROUND(s, 9) AS score, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 10
"""


def _ivf_radius_pruned_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-complete IVF radius search (round 9): the pruned plan must
    reproduce the brute-force radius row set EXACTLY — the oracle is
    the same SQL as `knn_cosine_range` (threshold locked together), so
    a hash match IS the completeness proof for the spherical
    triangle-inequality prune. Trained coarse quantizer (deterministic
    sample-fit Lloyd), threshold 0.2."""
    from aeuc_vector_db_spark.queries.core import _RANGE_THRESHOLD
    from aeuc_vector_db_spark.sources.tables import ensure_min_parallelism

    emb = load_table(spark, "embeddings", sf_dir)
    cent_local = A.fit_centroids_sample_local(emb, k=8, seed=42, iters=10)
    # optimization round 15: the fine scan's interpreted cosine fold ran
    # on the single-file scan's one task — spread the corpus before the
    # cell-assignment join (same rows, same fold, same bits)
    corpus = ensure_min_parallelism(emb).join(
        A.assign_centroids(emb, cent_local), "vec_id"
    )
    res = A.ivf_range_search(
        corpus, cent_local, _queries_df(spark, sf_dir),
        threshold=_RANGE_THRESHOLD,
        # opt out of the (round-12) default brute_floor fallback: this
        # query IS the prune-completeness proof — the oracle is the
        # brute-force radius SQL, so the hash match only certifies the
        # triangle-inequality prune if the pruned plan actually runs
        brute_floor=None,
    )
    return res.select("query_id", "vec_id", F.round("score", 9).alias("score"))


def _radius_oracle() -> str:
    from aeuc_vector_db_spark.queries.core import _KNN_RANGE_ORACLE

    return _KNN_RANGE_ORACLE


def _ann_pq_adc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ADC arithmetic of the PQ family, hash-matched (VERDICT r14
    #1): the exact NumPy kernels the rows-only recall evals serve with
    — `pq_encode` (per-subspace ‖c‖²−2x·c argmin) and `pq_search_batch`
    (per-query LUT + gather-sum + 1/(1+√d̃²) + tie-aware rank) — run
    VERBATIM under literal dyadic codebooks (`literal_codebooks`) over
    dyadic-quantized embeddings (`quantize_dyadic_col`). With every
    input dyadic, every intermediate (products, partial sums, LUT
    entries, ADC sums) is exact in IEEE double, so BLAS fold order
    cannot change a bit and a DuckDB CTE chain reproduces codes,
    distances, scores, and ranks bit-for-bit. Training (the Lloyd fit)
    stays rows-only in ann_pq_recall by necessity; this pins the whole
    serve path those evals share (pq_search_batch is also the scan
    inside pq_search_refined and ivfadc_search_batch)."""
    from aeuc_vector_db_spark.functions.vector import quantize_dyadic_col

    emb = load_table(spark, "embeddings", sf_dir)
    embq = emb.select(
        "vec_id", quantize_dyadic_col("embedding").alias("embedding")
    )
    cb = A.literal_codebooks(8, 16, 8)
    codes = A.pq_encode(embq, cb)
    qdf = embq.filter(F.expr(QUERY_FILTER)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )
    res = A.pq_search_batch(codes, cb, qdf, top_k=10)
    return res.select(
        "query_id",
        "vec_id",
        F.round("score", 9).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


def _pq_adc_apply_oracle() -> str:
    m, ksub, dsub = 8, 16, 8
    cb = A.literal_codebooks(m, ksub, dsub)
    cb_rows = ", ".join(
        f"({j}, {c}, [{', '.join(repr(x) for x in cb[j][c])}]::DOUBLE[])"
        for j in range(m)
        for c in range(ksub)
    )
    dot = (
        "list_reduce(list_transform(list_zip({a}, {b}), p -> p[1]*p[2]),"
        " (s, x) -> s + x)"
    )
    return f"""
WITH eq AS (
  SELECT vec_id,
         list_transform(embedding, x -> floor(CAST(x AS DOUBLE)*64 + 0.5)/64) AS v
  FROM embeddings
),
cb(j, c, cv) AS (VALUES {cb_rows}),
cbsq AS (SELECT j, c, cv, {dot.format(a='cv', b='cv')} AS c2 FROM cb),
sub AS (
  SELECT vec_id, j, v[j*{dsub}+1 : j*{dsub}+{dsub}] AS vs
  FROM eq CROSS JOIN range({m}) r(j)
),
enc AS (
  SELECT vec_id, j, c FROM (
    SELECT sub.vec_id, sub.j, cbsq.c,
           row_number() OVER (
             PARTITION BY sub.vec_id, sub.j
             ORDER BY cbsq.c2 - 2 * {dot.format(a='sub.vs', b='cbsq.cv')} ASC,
                      cbsq.c ASC
           ) AS rn
    FROM sub JOIN cbsq ON sub.j = cbsq.j
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, v FROM eq WHERE {QUERY_FILTER.replace('vec_id', 'eq.vec_id')}),
qsub AS (
  SELECT query_id, j, v[j*{dsub}+1 : j*{dsub}+{dsub}] AS qs
  FROM q CROSS JOIN range({m}) r(j)
),
lut AS (
  SELECT query_id, qsub.j, cbsq.c,
         cbsq.c2 - 2 * {dot.format(a='qsub.qs', b='cbsq.cv')}
           + {dot.format(a='qsub.qs', b='qsub.qs')} AS d2
  FROM qsub JOIN cbsq ON qsub.j = cbsq.j
),
adc AS (
  SELECT lut.query_id, enc.vec_id, SUM(lut.d2) AS d2
  FROM enc JOIN lut ON enc.j = lut.j AND enc.c = lut.c
  GROUP BY lut.query_id, enc.vec_id
),
ranked AS (
  SELECT query_id, vec_id,
         1.0 / (1.0 + sqrt(greatest(d2, 0.0))) AS s,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY 1.0 / (1.0 + sqrt(greatest(d2, 0.0))) DESC, vec_id ASC
         ) AS rank
  FROM adc
)
SELECT query_id, vec_id, ROUND(s, 9) AS score, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 10
"""


QUERIES = {
    "ivf_radius_pruned_search": (_ivf_radius_pruned_search, _radius_oracle()),
    "emb_binary_hamming_topk": (_emb_binary_hamming_topk, _BINARY_HAMMING_ORACLE),
    "emb_matryoshka_topk": (_emb_matryoshka_topk, _MATRYOSHKA_ORACLE),
    "ivf_pruned_search": (_ivf_pruned_search, _IVF_ORACLE),
    "ivf_incremental_search": (_ivf_incremental_search, _IVF_ORACLE),
    "emb_mmr_rerank": (_emb_mmr_rerank, _mmr_oracle()),
    "ivf_arrow_pruned_search": (_ivf_arrow_pruned_search, _IVF_ARROW_ORACLE),
    "ivf_euclidean_pruned_search": (_ivf_metric_query("euclidean"), _IVF_EUCLID_ORACLE),
    "ivf_phi_pruned_search": (_ivf_metric_query("phi_weighted"), _IVF_PHI_ORACLE),
    "ann_ivf_recall": (_ann_ivf_recall, None),
    "ann_pq_recall": (_ann_pq_recall, None),
    "ann_pq_refine_recall": (_ann_pq_refine_recall, None),
    "ann_opq_recall": (_ann_opq_recall, None),
    "ann_ivfadc_recall": (_ann_ivfadc_recall, None),
    "ann_pq_adc_apply": (_ann_pq_adc_apply, _pq_adc_apply_oracle()),
    "two_level_search": (_two_level_search, _TWO_LEVEL_ORACLE),
}
