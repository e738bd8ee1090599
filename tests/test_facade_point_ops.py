"""Facade point operations at constant cost: the one-call query literal,
a corpus width that one-row adds do not grow, one Spark job per search,
a one-row add in one action with no pass over the id set, audit records
stamped when logged, NaN rejection on the point path, and a running
digest equal to its full recompute.

The tests share one small `VectorField` (module fixture) so the ten
one-row adds run once; the tests that mutate it further come last."""

from __future__ import annotations

import json
import math
import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from aeuc_vector_db_spark.functions.vector import lit_vector
from aeuc_vector_db_spark.operators import crud
from aeuc_vector_db_spark.vector_field import VectorField

DIM = 8
N_BASE, N_ADDS = 40, 10


def _bits(values) -> list[int]:
    return np.asarray(values, dtype=np.float64).view(np.uint64).tolist()


def test_lit_vector_is_bit_exact(spark):
    rng = np.random.default_rng(3)
    special = [-0.0, 5e-324, 2.2250738585072014e-308, 1.7976931348623157e308,
               1 / 3, math.nan, math.inf, -math.inf, -1.5, 1e16, float(np.float32(0.1))]
    cases = [special, [], rng.standard_normal(768).tolist(), rng.standard_normal(4096).tolist()]
    row = spark.range(1).select(
        *[lit_vector(c).alias(f"v{i}") for i, c in enumerate(cases)]
    ).collect()[0]
    for i, c in enumerate(cases):
        assert _bits(row[f"v{i}"]) == _bits(c), f"case {i} ({len(c)} dims)"


@pytest.fixture(scope="module")
def facade(spark):
    """VectorField bulk-loaded with N_BASE rows, then N_ADDS one-row adds.
    Returns (vf, max(partitions after the bulk load, defaultParallelism))."""
    rng = np.random.default_rng(11)
    rows = spark.createDataFrame(
        [(f"g{i}", i, i % 3, rng.standard_normal(DIM).astype(np.float32).tolist(),
          "", None, {}, "0.1.0") for i in range(N_BASE)],
        "iglyph_id string, glyph_id long, outer_context_id int, embedding array<float>,"
        " label string, proto_id string, meta map<string,string>, version string",
    ).withColumn("ts", F.current_timestamp())
    vf = VectorField(spark, dim=DIM)
    vf.add_iglyphs_batch(rows)
    bound = max(vf.iglyphs.rdd.getNumPartitions(), spark.sparkContext.defaultParallelism)
    for j in range(N_ADDS):
        vf.add_iglyph(j, j % 3, rng.standard_normal(DIM).tolist(), iglyph_id=f"a{j}")
    return vf, bound


def test_one_row_adds_keep_corpus_width(facade):
    vf, bound = facade
    assert vf.iglyphs.rdd.getNumPartitions() <= bound
    assert vf.iglyphs.count() == N_BASE + N_ADDS


def test_search_is_one_job_no_wider_than_corpus(facade, job_group):
    vf, bound = facade
    out = []
    jobs, stages = job_group("facade-one-search", lambda: out.append(vf.search([0.5] * DIM)))
    assert len(jobs) == 1
    assert stages and all(s.numTasks <= bound for s in stages)
    assert len(out[0]) == 10


def test_audit_ts_fixed_at_log_time(facade):
    vf, _ = facade
    first = vf.audit.orderBy("seq").collect()
    time.sleep(0.05)
    second = vf.audit.orderBy("seq").collect()
    assert [r["seq"] for r in first] == list(range(1, N_ADDS + 2))  # batch load + adds
    assert [r["ts"] for r in first] == [r["ts"] for r in second]
    ts = [r["ts"] for r in first]
    assert ts == sorted(ts) and ts[0] < ts[-1]


@pytest.mark.parametrize("bad", [math.nan, None])
def test_null_or_nan_slot_rejected_on_every_entry_point(facade, bad):
    vf, _ = facade
    vec = [0.1] * DIM
    vec[2] = bad
    seq_before, hash_before = vf._audit_seq, vf.current_hash
    calls = (
        lambda: vf.add_iglyph(1, 0, vec, iglyph_id="nan-row"),
        lambda: vf.update_iglyph_embedding("g0", vec),
        lambda: vf.search(vec),
        lambda: vf.search_pglyphs(vec),
    )
    for call in calls:
        with pytest.raises(ValueError, match=r"embedding\[2\]"):
            call()
    assert vf._audit_seq == seq_before and vf.current_hash == hash_before


# -- the tests below mutate the shared facade ----------------------------


def test_one_row_add_runs_at_most_two_jobs(facade, job_group):
    vf, _ = facade
    jobs, _ = job_group("facade-one-add", lambda: vf.add_iglyph(1, 1, [0.3] * DIM, iglyph_id="j0"))
    assert len(jobs) <= 2


def test_one_row_add_makes_no_digest_pass(facade, monkeypatch):
    vf, _ = facade
    calls = []
    digest = crud.dataset_digest
    monkeypatch.setattr(crud, "dataset_digest", lambda *a, **kw: calls.append(1) or digest(*a, **kw))
    vf.add_iglyph(1, 1, [0.35] * DIM, iglyph_id="j1")
    assert calls == []


def test_add_leaves_no_checkpoint_for_the_next_search(facade, job_group):
    vf, _ = facade
    vf.add_iglyph(2, 2, [0.2] * DIM, iglyph_id="j2")
    # the add itself materialised the localCheckpoint under the handle
    assert vf.iglyphs._jdf.queryExecution().analyzed().rdd().isCheckpointed()
    costs = []
    for group in ("facade-search-after-add", "facade-search-again"):
        jobs, stages = job_group(group, lambda: vf.search([0.2] * DIM, top_k=1))
        costs.append((len(jobs), sum(s.numTasks for s in stages)))
    assert costs[0] == costs[1]


def test_duplicate_add_changes_nothing(facade):
    vf, _ = facade
    before, hash_before, seq_before = vf.iglyphs, vf.current_hash, vf._audit_seq
    with pytest.raises(ValueError, match="duplicate iglyph_id"):
        vf.add_iglyph(0, 0, [0.1] * DIM, iglyph_id="g0")
    assert vf.iglyphs is before
    assert (vf.current_hash, vf._audit_seq) == (hash_before, seq_before)


def test_add_then_delete_restores_the_hash(facade):
    vf, _ = facade
    h0 = vf.current_hash
    vf.add_iglyph(3, 0, [0.4] * DIM, iglyph_id="x")
    assert vf.current_hash != h0
    vf.delete_iglyph("x")
    assert vf.current_hash == h0


def test_same_id_set_in_two_orders_gives_one_hash(facade):
    vf, _ = facade
    vf.add_iglyph(4, 0, [0.5] * DIM, iglyph_id="p")
    vf.add_iglyph(5, 0, [0.6] * DIM, iglyph_id="q")
    h_pq = vf.current_hash
    vf.delete_iglyph("p")
    vf.delete_iglyph("q")
    vf.add_iglyph(5, 0, [0.6] * DIM, iglyph_id="q")
    vf.add_iglyph(4, 0, [0.5] * DIM, iglyph_id="p")
    assert vf.current_hash == h_pq


def test_running_digest_equals_full_recompute(facade):
    vf, _ = facade
    line = json.loads(vf.export_jsonl().splitlines()[0])
    line["iglyph_id"] = "imported"
    assert vf.import_jsonl(json.dumps(line)) == 1
    vf.add_iglyph(6, 1, [0.7] * DIM, iglyph_id="m0")
    vf.add_iglyph(7, 2, [-0.7] * DIM, iglyph_id="m1")
    vf.update_iglyph_embedding("g3", [0.9] * DIM)
    vf.delete_iglyph("g5")
    vf.form_cluster(["g1", "g2", "m0"], anchor_glyph_id=9, outer_context_id=1)
    assert vf.auto_cluster_phi(outer_context_id=1, anchor_glyph_id=8)
    ids = vf.iglyphs.select(F.col("iglyph_id").alias("id")).unionAll(
        vf.pglyphs.select(F.col("pglyph_id").alias("id"))
    )
    assert vf.current_hash == crud.dataset_digest(ids, "id")
