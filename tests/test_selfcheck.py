"""Self-validating rows-only queries (VERDICT r8 #4).

The driver records only row count + schema for no-oracle queries, so
each of the 12 rows-only queries is structured to emit rows whose COUNT
moves when the operator degrades. These tests inject DELIBERATE bugs
(degraded recall, misrouted decode statuses, dropped/extra near-dup
pairs, broken BPE merges, a norm-inflating projection) and assert the
driver-visible row count actually flips — the property the restructure
exists to provide.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF01_DIR


# ---------------------------------------------------------------------------
# recall gate: rows drop below the floor, sentinel survives
# ---------------------------------------------------------------------------

def test_recall_gate_drops_rows_below_floor(spark):
    from aeuc_vector_db_spark.queries.ann import _recall_gated

    healthy = spark.createDataFrame(
        [(3, 0.6), (103, 0.5), (203, 0.7)], "query_id long, recall double"
    )
    assert _recall_gated(spark, healthy, floor=0.2).count() == 4  # 3 + sentinel
    # deliberate bug: one query's recall collapses below the floor —
    # since round 12 the kept row drops AND an explicit below-floor
    # canary row (query_id = -9000 - query_id) appears, so the count
    # moves in both directions and the failing value itself surfaces
    degraded = spark.createDataFrame(
        [(3, 0.6), (103, 0.05), (203, 0.7)], "query_id long, recall double"
    )
    rows = _recall_gated(spark, degraded, floor=0.2).collect()
    assert len(rows) == 4  # 2 kept + 1 canary + sentinel
    canary = [r for r in rows if r["query_id"] <= -9000]
    assert [(r["query_id"], r["recall"]) for r in canary] == [(-9103, 0.05)]
    # total collapse leaves canaries + the sentinel — still
    # distinguishable from a query that produced nothing at all
    dead = spark.createDataFrame([(3, 0.0)], "query_id long, recall double")
    drows = _recall_gated(spark, dead, floor=0.2).collect()
    assert {r["query_id"] for r in drows} == {-9003, -1}


def test_refine_dominance_violation_grows_count(spark, monkeypatch):
    """Deliberate bug: the refined search loses its results for two
    queries, so their refined recall falls to 0, below plain ADC — the
    query must emit extra violation rows."""
    from aeuc_vector_db_spark.operators import ann as A
    from aeuc_vector_db_spark.queries import ann as QA

    baseline = QA.QUERIES["ann_pq_refine_recall"][0](spark, SF01_DIR).count()

    real_refined = A.pq_search_refined

    def degraded(*args, **kw):
        return real_refined(*args, **kw).filter(~F.col("query_id").isin(3, 103))

    monkeypatch.setattr(A, "pq_search_refined", degraded)
    bugged = QA.QUERIES["ann_pq_refine_recall"][0](spark, SF01_DIR).collect()
    # two queries drop below the 0.3 floor (-2) AND violate dominance
    # (+2): the count must MOVE either way the arithmetic lands
    assert len(bugged) != baseline
    ids = {r["query_id"] for r in bugged}
    assert {-1003, -2003, -1103, -2103} <= ids, ids


# ---------------------------------------------------------------------------
# multimodal count expectations
# ---------------------------------------------------------------------------

def test_feature_stats_misroute_grows_count(spark, monkeypatch):
    """Deliberate bug: every PNG quarantines as 'error' — the per-group
    counts drift off the derived expectation and violation rows appear."""
    from aeuc_vector_db_spark.queries import multimodal_q as MQ
    from aeuc_vector_db_spark.sources import multimodal as MM

    baseline = MQ.QUERIES["multimodal_feature_stats"][0](spark, SF01_DIR)
    nb = baseline.count()
    assert baseline.filter(F.col("modality") == "__violation__").count() == 0

    real_decode = MM.decode_features

    def misrouting(blobs, **kw):
        out = real_decode(blobs, **kw)
        return out.withColumn(
            "decode_status",
            F.when(
                F.col("blob_id").endswith(".png"), F.lit("error")
            ).otherwise(F.col("decode_status")),
        )

    monkeypatch.setattr(MM, "decode_features", misrouting)
    bugged = MQ.QUERIES["multimodal_feature_stats"][0](spark, SF01_DIR)
    assert bugged.count() > nb
    assert bugged.filter(F.col("modality") == "__violation__").count() >= 2


def test_native_codec_divergence_grows_count(spark, monkeypatch):
    """Deliberate bug: the 'native' decoder returns shifted pixels — the
    builtin/native halves diverge and __diff__ rows appear."""
    from aeuc_vector_db_spark.queries import multimodal_q as MQ

    baseline = MQ.QUERIES["multimodal_native_codec_stats"][0](spark, SF01_DIR)
    nb = baseline.count()
    assert baseline.filter(F.col("path") == "__diff__").count() == 0

    def wrong_png(payload):
        w, h, c, pix = MQ._native_png(payload)
        return w, h, c, bytes((b + 32) % 256 for b in pix)

    monkeypatch.setattr(MQ, "_native_png", wrong_png)
    bugged = MQ.QUERIES["multimodal_native_codec_stats"][0](spark, SF01_DIR)
    assert bugged.count() > nb
    assert bugged.filter(F.col("path") == "__diff__").count() >= 2


def test_image_near_dup_dropped_pair_flips_count(spark, monkeypatch):
    """Deliberate bug: the banded Hamming join drops one planted pair.
    Violations are emitted TWICE per drifted pair precisely so the net
    count moves (-1 pair +2 violations)."""
    from aeuc_vector_db_spark.operators import imagehash as IH
    from aeuc_vector_db_spark.queries import multimodal_q as MQ

    baseline = MQ.QUERIES["multimodal_image_near_dup"][0](spark, SF01_DIR)
    nb = baseline.count()
    assert baseline.filter(F.col("kind") == "violation").count() == 0

    real_pairs = IH.image_near_dup

    def dropping(hashes, **kw):
        return real_pairs(hashes, **kw).filter(
            ~((F.col("a_id") == "planted_bmp") & (F.col("b_id") == "planted_png"))
        )

    monkeypatch.setattr(IH, "image_near_dup", dropping)
    bugged = MQ.QUERIES["multimodal_image_near_dup"][0](spark, SF01_DIR)
    assert bugged.count() == nb + 1  # -1 pair, +2 violation rows
    assert bugged.filter(F.col("kind") == "violation").count() == 2


def test_audio_near_dup_extra_pair_flips_count(spark, monkeypatch):
    """Deliberate bug: the fingerprint stops being gain-invariant in a
    way that pairs planted_far with planted_base — extra pair + 2
    violations."""
    from aeuc_vector_db_spark.operators import imagehash as IH
    from aeuc_vector_db_spark.queries import multimodal_q as MQ

    baseline = MQ.QUERIES["multimodal_audio_near_dup"][0](spark, SF01_DIR)
    nb = baseline.count()

    real_pairs = IH.hamming64_near_dup

    def extra(fp, **kw):
        out = real_pairs(fp, **kw)
        bogus = out.sparkSession.createDataFrame(
            [("planted_base", "planted_far", 2)],
            "a_id string, b_id string, distance long",
        )
        return out.unionByName(bogus.select(out.columns))

    monkeypatch.setattr(IH, "hamming64_near_dup", extra)
    bugged = MQ.QUERIES["multimodal_audio_near_dup"][0](spark, SF01_DIR)
    assert bugged.count() == nb + 3  # +1 pair, +2 violation rows
    assert bugged.filter(F.col("kind") == "violation").count() == 2


# ---------------------------------------------------------------------------
# BPE round-trip, semantic dedup contract, PCA norm bound
# ---------------------------------------------------------------------------

def test_bpe_broken_merge_emits_roundtrip_violations(spark, monkeypatch):
    """Deliberate bug: the encoder drops the first symbol of every
    multi-symbol word — reconstruction fails and violation rows appear."""
    from aeuc_vector_db_spark.operators import bpe as B
    from aeuc_vector_db_spark.queries import textops as QT

    baseline = QT.QUERIES["doc_bpe_tokenize"][0](spark, SF01_DIR)
    nb = baseline.count()
    assert baseline.filter(F.col("tok") == "__roundtrip_violation__").count() == 0

    real_encode = B.bpe_encode

    def lossy(docs, merges, **kw):
        out = real_encode(docs, merges, **kw)
        return out.withColumn("tokens", F.slice("tokens", 2, 1_000_000))

    monkeypatch.setattr(B, "bpe_encode", lossy)
    # queries/textops imported bpe_encode inside the function body from
    # the module, so the monkeypatched attribute is what it resolves
    bugged = QT.QUERIES["doc_bpe_tokenize"][0](spark, SF01_DIR)
    assert bugged.count() > nb
    assert bugged.filter(F.col("tok") == "__roundtrip_violation__").count() > 0


def test_semantic_dedup_uncollapsed_copy_flips_count(spark, monkeypatch):
    """Deliberate bug: the dedup threshold is pushed above 1.0 so no
    copy collapses — members vanish and 'missing' violations appear."""
    from aeuc_vector_db_spark.operators import dedup as D
    from aeuc_vector_db_spark.queries import textops as QT

    baseline = QT.QUERIES["emb_semantic_dedup_learned"][0](spark, SF01_DIR)
    nb = baseline.count()
    assert baseline.filter(F.col("keeper_id") == -1).count() == 0

    real_sd = D.semantic_dedup

    def never_dup(df, **kw):
        kw["threshold"] = 1.1  # cosine can never reach it
        return real_sd(df, **kw)

    monkeypatch.setattr(D, "semantic_dedup", never_dup)
    bugged = QT.QUERIES["emb_semantic_dedup_learned"][0](spark, SF01_DIR)
    assert bugged.count() != nb
    assert bugged.filter(F.col("keeper_id") == -1).count() > 0


def test_pca_norm_inflation_emits_violations(spark, monkeypatch):
    """Deliberate bug: the projection doubles every component — the
    orthonormal-projection norm bound breaks per vector."""
    from aeuc_vector_db_spark.operators import curation as CU
    from aeuc_vector_db_spark.queries import curation_q as QC

    baseline = QC.QUERIES["emb_pca_project"][0](spark, SF01_DIR)
    nb = baseline.count()
    assert baseline.filter(F.col("explained_var").isNull()).count() == 0

    real_pca = CU.pca_project

    def inflating(df, **kw):
        out, var = real_pca(df, **kw)
        return out.withColumn(
            "pca", F.transform("pca", lambda x: x * F.lit(3.0))
        ), var

    monkeypatch.setattr(CU, "pca_project", inflating)
    bugged = QC.QUERIES["emb_pca_project"][0](spark, SF01_DIR)
    assert bugged.count() > nb
    assert bugged.filter(F.col("explained_var").isNull()).count() > 0
