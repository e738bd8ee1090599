"""Semantic port of the reference's VectorFieldDB test suite
(/root/reference/tests/test_vector_field.py:1-291, 31 tests) against the
Spark VectorField facade: same contracts — CRUD error semantics,
cluster formation + membership back-pointers, recompute, search ordering
and filters, φ-metric ranking, auto-cluster, JSONL round-trip /
dup-skip / overwrite, hash chaining, snapshot/stats/repr."""

from __future__ import annotations

import json
import tempfile

import pytest
from pyspark.sql import functions as F

from aeuc_vector_db_spark.vector_field import VERSION, VectorField

DIM = 8


@pytest.fixture
def db(spark):
    return VectorField(spark, dim=DIM)


def emb(val: float = 0.1):
    return [val] * DIM


# ---------------------------------------------------------------------------
# Construction
# ---------------------------------------------------------------------------

def test_construction(db):
    assert db.dim == DIM
    assert db.iglyphs.count() == 0
    assert db.pglyphs.count() == 0
    assert db.current_hash is not None


def test_invalid_dim(spark):
    with pytest.raises(ValueError):
        VectorField(spark, dim=0)


# ---------------------------------------------------------------------------
# IGlyph CRUD (reference test_vector_field.py:46-90)
# ---------------------------------------------------------------------------

def test_add_iglyph(db):
    _id = db.add_iglyph(glyph_id=1, outer_context_id=0, embedding=emb())
    row = db.get_iglyph(_id)
    assert row is not None and row["glyph_id"] == 1


def test_add_iglyph_wrong_dim(db):
    with pytest.raises(ValueError, match="dim"):
        db.add_iglyph(glyph_id=1, outer_context_id=0, embedding=[0.1] * (DIM + 1))


def test_add_iglyph_bad_ranges(db):
    with pytest.raises(ValueError, match="glyph_id"):
        db.add_iglyph(glyph_id=144_000, outer_context_id=0, embedding=emb())
    with pytest.raises(ValueError, match="outer_context_id"):
        db.add_iglyph(glyph_id=1, outer_context_id=10, embedding=emb())


def test_add_iglyph_duplicate_id(db):
    db.add_iglyph(1, 0, emb(), iglyph_id="fixed-id")
    with pytest.raises(ValueError):
        db.add_iglyph(1, 0, emb(), iglyph_id="fixed-id")


def test_get_iglyph(db):
    _id = db.add_iglyph(1, 0, emb())
    assert db.get_iglyph(_id)["iglyph_id"] == _id
    assert db.get_iglyph("nonexistent") is None


def test_update_iglyph(db):
    _id = db.add_iglyph(1, 0, emb(0.1))
    db.update_iglyph_embedding(_id, emb(0.9))
    assert db.get_iglyph(_id)["embedding"][0] == pytest.approx(0.9)


def test_update_iglyph_not_found(db):
    with pytest.raises(KeyError):
        db.update_iglyph_embedding("ghost", emb())


def test_delete_iglyph(db):
    _id = db.add_iglyph(2, 1, emb())
    db.delete_iglyph(_id)
    assert db.get_iglyph(_id) is None


def test_delete_iglyph_not_found(db):
    with pytest.raises(KeyError):
        db.delete_iglyph("ghost")


# ---------------------------------------------------------------------------
# PGlyph / clustering (reference :98-129)
# ---------------------------------------------------------------------------

def test_form_cluster(db):
    ids = [db.add_iglyph(1, 0, emb()) for _ in range(4)]
    pgid = db.form_cluster(ids, anchor_glyph_id=1, outer_context_id=0,
                           cluster_tag="test_cluster")
    assert db.get_pglyph(pgid)["member_count"] == 4
    # membership table replaces the reference's proto_id back-pointers
    linked = db.membership.filter(F.col("pglyph_id") == pgid).collect()
    assert {r["iglyph_id"] for r in linked} == set(ids)


def test_form_cluster_no_valid_members(db):
    with pytest.raises(ValueError, match="No valid IGlyphs"):
        db.form_cluster(["nonexistent"], 1, 0)


def test_recompute_pglyph(db):
    ids = [db.add_iglyph(1, 0, emb(float(i))) for i in range(3)]
    pgid = db.form_cluster(ids, 1, 0)
    db.update_iglyph_embedding(ids[0], emb(9.0))
    db.recompute_pglyph(pgid)
    assert db.get_pglyph(pgid)["centroid"][0] > 3.0


def test_recompute_pglyph_no_members(db):
    _id = db.add_iglyph(1, 0, emb())
    pgid = db.form_cluster([_id], 1, 0)
    db.delete_iglyph(_id)
    with pytest.raises(ValueError, match="no valid members"):
        db.recompute_pglyph(pgid)


def test_get_pglyph(db):
    ids = [db.add_iglyph(1, 0, emb()) for _ in range(2)]
    pgid = db.form_cluster(ids, 1, 0)
    assert db.get_pglyph(pgid)["pglyph_id"] == pgid
    assert db.get_pglyph("ghost") is None


# ---------------------------------------------------------------------------
# Search (reference :136-181)
# ---------------------------------------------------------------------------

def test_search_returns_top_k(db):
    for i in range(6):
        db.add_iglyph(1, 0, emb(0.1 + i * 0.1))
    results = db.search(query=emb(0.4), top_k=3)
    assert len(results) == 3
    assert all(isinstance(score, float) for _, score in results)


def test_search_sorted_descending(db):
    for i in range(5):
        db.add_iglyph(1, 0, emb(0.1 + i * 0.1))
    scores = [s for _, s in db.search(emb(0.4), top_k=5)]
    assert scores == sorted(scores, reverse=True)


def test_search_glyph_filter(db):
    a = db.add_iglyph(1, 0, emb(0.1))
    db.add_iglyph(2, 0, emb(0.2))
    results = db.search(emb(0.1), top_k=10, glyph_id_filter=1)
    assert [rid for rid, _ in results] == [a]


def test_search_context_filter(db):
    db.add_iglyph(1, 0, emb())
    b = db.add_iglyph(1, 3, emb())
    results = db.search(emb(), top_k=10, outer_context_filter=3)
    assert [rid for rid, _ in results] == [b]


def test_search_unknown_metric(db):
    db.add_iglyph(1, 0, emb())
    with pytest.raises(ValueError, match="metric"):
        db.search(emb(), metric="bogus")


def test_search_pglyphs(db):
    ids = [db.add_iglyph(1, 0, emb(0.1 + i * 0.1)) for i in range(4)]
    db.form_cluster(ids, 1, 0, "cluster_a")
    results = db.search_pglyphs(emb(0.2), top_k=1)
    assert len(results) == 1 and isinstance(results[0][1], float)


def test_search_phi_weighted_metric(db):
    phi_id = db.add_iglyph(1, 0, [1.618] * DIM)
    db.add_iglyph(1, 0, [0.001] * DIM)
    results = db.search([1.618] * DIM, top_k=2, metric="phi_weighted")
    assert len(results) == 2
    assert results[0][0] == phi_id  # φ-valued vector ranks first


# ---------------------------------------------------------------------------
# Auto-cluster φ (reference :189-200)
# ---------------------------------------------------------------------------

def test_auto_cluster_phi(db):
    for i in range(9):
        db.add_iglyph(1, 2, [float(i) * 0.15 + 0.05] * DIM)
    pgids = db.auto_cluster_phi(outer_context_id=2, anchor_glyph_id=1)
    assert len(pgids) >= 1
    assert all(db.get_pglyph(p) is not None for p in pgids)


def test_auto_cluster_phi_empty_context(db):
    assert db.auto_cluster_phi(outer_context_id=9, anchor_glyph_id=0) == []


# ---------------------------------------------------------------------------
# Import / export (reference :208-234)
# ---------------------------------------------------------------------------

def test_export_import_jsonl_round_trip(db, spark):
    for _ in range(3):
        db.add_iglyph(1, 0, emb())
    jsonl = db.export_jsonl()
    db2 = VectorField(spark, dim=DIM)
    assert db2.import_jsonl(jsonl) == 3
    assert db2.iglyphs.count() == 3


def test_import_jsonl_skip_duplicates(db):
    db.add_iglyph(1, 0, emb())
    jsonl = db.export_jsonl()
    assert db.import_jsonl(jsonl, overwrite=False) == 0


def test_import_jsonl_overwrite(db):
    _id = db.add_iglyph(1, 0, emb(0.1))
    data = json.loads(db.export_jsonl().splitlines()[0])
    data["embedding"] = emb(0.9)
    assert db.import_jsonl(json.dumps(data), overwrite=True) == 1
    assert db.get_iglyph(_id)["embedding"][0] == pytest.approx(0.9)


def test_import_jsonl_skips_wrong_dim(db):
    db.add_iglyph(1, 0, emb())
    data = json.loads(db.export_jsonl().splitlines()[0])
    data["iglyph_id"] = "wrong-dim-row"
    data["embedding"] = [0.1] * (DIM + 3)
    assert db.import_jsonl(json.dumps(data)) == 0  # silent skip


# ---------------------------------------------------------------------------
# Audit / integrity (reference :242-262)
# ---------------------------------------------------------------------------

def test_hash_changes_on_add(db):
    h0 = db.current_hash
    db.add_iglyph(1, 0, emb())
    assert db.current_hash != h0


def test_hash_changes_on_delete(db):
    _id = db.add_iglyph(1, 0, emb())
    h1 = db.current_hash
    db.delete_iglyph(_id)
    assert db.current_hash != h1


def test_change_history_populated(db):
    db.add_iglyph(1, 0, emb())
    entries = db.audit.collect()
    assert len(entries) >= 1
    last = entries[-1]
    assert last["action"] and last["hash_before"] and last["hash_after"] and last["ts"]


# ---------------------------------------------------------------------------
# Snapshot / stats / repr (reference :270-291)
# ---------------------------------------------------------------------------

def test_snapshot(db, spark):
    db.add_iglyph(1, 0, emb())
    with tempfile.TemporaryDirectory() as d:
        snap = db.snapshot(f"{d}/snap")
        assert snap["version"] == VERSION and snap["dim"] == DIM
        assert spark.read.parquet(f"{d}/snap/iglyphs").count() == 1
        assert spark.read.parquet(f"{d}/snap/audit").count() >= 1


def test_stats(db):
    db.add_iglyph(1, 0, emb())
    s = db.stats()
    assert s["iglyph_count"] == 1
    assert s["pglyph_count"] == 0
    assert s["dim"] == DIM
    assert len(s["current_hash"]) == 64


def test_repr(db):
    r = repr(db)
    assert "VectorField" in r and f"dim={DIM}" in r


def test_snapshot_load_round_trip(db, spark):
    a = db.add_iglyph(1, 0, emb(0.2))
    ids = [a, db.add_iglyph(2, 1, emb(0.5))]
    db.form_cluster(ids, 1, 0, "snap")
    import tempfile
    with tempfile.TemporaryDirectory() as d:
        db.snapshot(f"{d}/s")
        db2 = VectorField.load_snapshot(spark, f"{d}/s")
        assert db2.iglyphs.count() == 2
        assert db2.pglyphs.count() == 1
        assert db2.current_hash == db.current_hash
        assert db2.get_iglyph(a)["embedding"][0] == pytest.approx(0.2)


def test_snapshot_load_detects_tamper(db, spark):
    db.add_iglyph(1, 0, emb())
    import json, tempfile
    with tempfile.TemporaryDirectory() as d:
        db.snapshot(f"{d}/s")
        m = json.load(open(f"{d}/s/manifest.json"))
        m["current_hash"] = "0" * 64
        json.dump(m, open(f"{d}/s/manifest.json", "w"))
        with pytest.raises(ValueError, match="digest mismatch"):
            VectorField.load_snapshot(spark, f"{d}/s")


def test_snapshot_load_names_an_unknown_digest_scheme(db, spark):
    """A manifest without this version's digest scheme (e.g. written by
    an older version) is not reported as tampered: the error names the
    scheme instead."""
    db.add_iglyph(1, 0, emb())
    with tempfile.TemporaryDirectory() as d:
        db.snapshot(f"{d}/s")
        m = json.load(open(f"{d}/s/manifest.json"))
        assert m["digest"] == "lthash16-blake2b256"
        for scheme in (None, "sha2-sorted"):
            if scheme is None:
                m.pop("digest")
            else:
                m["digest"] = scheme
            json.dump(m, open(f"{d}/s/manifest.json", "w"))
            with pytest.raises(ValueError, match="digest scheme") as err:
                VectorField.load_snapshot(spark, f"{d}/s")
            assert repr(scheme) in str(err.value) and "mismatch" not in str(err.value)
