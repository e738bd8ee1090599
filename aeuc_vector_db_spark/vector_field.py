"""VectorField — the engine's facade over the reference's VectorFieldDB API.

Mirrors the public surface of vector_field.py:45-486 (add/get/update/
delete, form_cluster, recompute, search, search_pglyphs, auto_cluster_phi,
export/import JSONL, snapshot, stats) with batch-oriented semantics:

- state is three DataFrames (iglyphs, pglyphs, membership), all
  immutable; every mutation returns via set algebra and re-binds the
  handles. Every mutation but the bulk path `add_iglyphs_batch` (which
  keeps its partitioning) re-binds through `_rebind`: a narrow coalesce
  to at most max(the handle's partitions before, defaultParallelism),
  then a localCheckpoint that the mutation itself materialises. So
  one-row adds do not widen the corpus every later search scans, and no
  search pays for the copy a mutation made.
- the audit log is append-only Python records, each stamped with the
  local clock when it is logged; `audit` builds one DataFrame from them
  on read (after any audit frame loaded from a snapshot), so a read
  neither re-stamps them nor grows with a chain of unions.
- the dataset digest `current_hash` is an LtHash16 multiset hash of the
  iglyph and pglyph ids (`crud.lthash`), updated on the driver from each
  mutation's inserted and deleted ids, so its cost does not grow with
  the corpus (the reference re-hashes every id per mutation, the O(N²)
  hazard documented in BASELINE.md). `load_snapshot`, `import_jsonl`
  and the skip/overwrite bulk modes recompute it over every id
  (`crud.dataset_digest`); audit records chain it.
- error contracts preserved: ValueError on dup insert / empty cluster /
  unknown metric; KeyError on update/delete of a missing id.

For interactive single-row use this facade is convenience; the real
100 TB paths are the underlying operator functions, which never collect.
"""

from __future__ import annotations

import math
import uuid
from typing import Any, Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aeuc_vector_db_spark import schemas
from aeuc_vector_db_spark.functions.vector import lit_vector
from aeuc_vector_db_spark.operators import clustering as C
from aeuc_vector_db_spark.operators import crud, search
from aeuc_vector_db_spark.sources import jsonl as jsonl_src

VERSION = "0.1.0"


class VectorField:
    def __init__(self, spark: SparkSession, dim: int = 128) -> None:
        if dim < 1:
            raise ValueError(f"dim must be >= 1, got {dim}")
        self.spark = spark
        self.dim = dim
        self.iglyphs: DataFrame = spark.createDataFrame([], schemas.IGLYPH_SCHEMA)
        self.pglyphs: DataFrame = spark.createDataFrame([], schemas.PGLYPH_SCHEMA)
        self.membership: DataFrame = spark.createDataFrame([], schemas.MEMBERSHIP_SCHEMA)
        self._audit_rows: list[tuple] = []
        self._audit_loaded: DataFrame | None = None
        self._audit_seq = 0
        self._lanes = crud.lthash(())
        self.current_hash = crud.lthash_hex(self._lanes)

    # ------------------------------------------------------------------
    def _full_lanes(self) -> np.ndarray:
        """The digest lanes recomputed over every iglyph and pglyph id."""
        ids = self.iglyphs.select(F.col("iglyph_id").alias("id")).unionAll(
            self.pglyphs.select(F.col("pglyph_id").alias("id"))
        )
        return crud.dataset_digest(ids, "id", lanes=True)

    def _log(self, action: str, lanes: np.ndarray, **payload: Any) -> None:
        """Record a mutation that left the id set with digest `lanes`."""
        old = self.current_hash
        self._lanes = lanes
        self.current_hash = crud.lthash_hex(lanes)
        self._audit_seq += 1
        rec = crud.audit_record(
            action, old, self.current_hash,
            {k: str(v) for k, v in payload.items()}, seq=self._audit_seq,
        )
        if self._audit_rows and rec[1] < self._audit_rows[-1][1]:
            # a clock stepped back: keep ts non-decreasing in seq
            rec = (rec[0], self._audit_rows[-1][1], *rec[2:])
        self._audit_rows.append(rec)

    @property
    def audit(self) -> DataFrame:
        """A18 change history: the logged records as one DataFrame,
        after the audit frame of the snapshot this handle was loaded from."""
        logged = self.spark.createDataFrame(self._audit_rows, schemas.AUDIT_SCHEMA)
        if self._audit_loaded is None:
            return logged
        return self._audit_loaded.unionByName(logged, allowMissingColumns=True)

    def _rebind(self, result: DataFrame, before: DataFrame, eager: bool = True) -> DataFrame:
        """Re-bind a handle after a point mutation: narrow-coalesce
        `result` to at most max(`before`'s partitions, defaultParallelism),
        then checkpoint it. The coalesce never widens and adds no
        shuffle, so unioning a one-row frame (its own few partitions) onto
        the corpus leaves the width every later search scans unchanged.
        The checkpoint is eager (one job) unless the caller runs the
        action that materialises it (`eager=False`), so the copy is
        never left for the next search to make."""
        width = max(before.rdd.getNumPartitions(), self.spark.sparkContext.defaultParallelism)
        return result.coalesce(width).localCheckpoint(eager=eager)

    def _validate_vec(self, embedding: Sequence[float]) -> list[float]:
        """Length and slot check of `schemas.valid_embedding`, in Python:
        exactly `dim` values, none NULL or NaN."""
        vec = [math.nan if x is None else float(x) for x in embedding]
        if len(vec) != self.dim:
            raise ValueError(f"Embedding dim mismatch: expected {self.dim}, got {len(vec)}.")
        bad = next((i for i, x in enumerate(vec) if math.isnan(x)), None)
        if bad is not None:
            raise ValueError(f"embedding[{bad}] is NULL or NaN")
        return vec

    @staticmethod
    def _check_ranges(glyph_id: int, outer_context_id: int) -> None:
        if not (0 <= glyph_id <= schemas.GLYPH_ID_MAX):
            raise ValueError(f"glyph_id must be in [0, {schemas.GLYPH_ID_MAX}], got {glyph_id}")
        if not (0 <= outer_context_id <= schemas.OUTER_CONTEXT_MAX):
            raise ValueError(
                f"outer_context_id must be in [0, {schemas.OUTER_CONTEXT_MAX}],"
                f" got {outer_context_id}"
            )

    # ------------------------------------------------------------------
    # IGlyph CRUD (A13-A16)
    # ------------------------------------------------------------------

    def add_iglyph(
        self,
        glyph_id: int,
        outer_context_id: int,
        embedding: Sequence[float],
        label: str = "",
        meta: dict | None = None,
        iglyph_id: str | None = None,
    ) -> str:
        vec = self._validate_vec(embedding)
        self._check_ranges(glyph_id, outer_context_id)
        _id = iglyph_id or str(uuid.uuid4())
        # literals over a one-partition range, not a createDataFrame of
        # Python rows: those are a Python RDD whose partitions each need a
        # Python worker in the add's job
        meta_kv = [c for k, v in (meta or {}).items() for c in (F.lit(k), F.lit(str(v)))]
        row = self.spark.range(0, 1, 1, 1).select(
            F.lit(_id).alias("iglyph_id"),
            F.lit(glyph_id).cast("long").alias("glyph_id"),
            F.lit(outer_context_id).cast("int").alias("outer_context_id"),
            lit_vector(vec).cast("array<float>").alias("embedding"),
            F.lit(label).cast("string").alias("label"),
            F.lit(None).cast("string").alias("proto_id"),
            F.create_map(*meta_kv).cast("map<string,string>").alias("meta"),
            F.lit(VERSION).alias("version"),
            F.current_timestamp().alias("ts"),
        )
        merged = self._rebind(
            self.iglyphs.unionByName(row, allowMissingColumns=True), self.iglyphs, eager=False
        )
        # One action both materialises the checkpoint and checks the PK:
        # the corpus has unique ids, so the new one occurs once unless taken.
        if len(merged.filter(F.col("iglyph_id") == _id).select("iglyph_id").collect()) != 1:
            raise ValueError("duplicate iglyph_id in insert batch")
        self.iglyphs = merged
        self._log("ADD_IGLYPH", self._lanes + crud.lthash([_id]), iglyph_id=_id,
                  glyph_id=glyph_id, outer_context_id=outer_context_id, label=label)
        return _id

    def add_iglyphs_batch(self, rows: DataFrame, on_duplicate: str = "error") -> None:
        """Bulk path: validated insert of a whole DataFrame in one commit."""
        validated = schemas.assert_valid(rows, self.dim, vec_col="embedding")
        self.iglyphs = crud.insert_rows(self.iglyphs, validated, "iglyph_id", on_duplicate)
        if on_duplicate == "error":  # every batch id is new: add their lanes
            ids = [r[0] for r in validated.select("iglyph_id").collect()]
            self._log("ADD_IGLYPH_BATCH", self._lanes + crud.lthash(ids))
        else:
            self._log("ADD_IGLYPH_BATCH", self._full_lanes())

    def get_iglyph(self, iglyph_id: str):
        rows = self.iglyphs.filter(F.col("iglyph_id") == iglyph_id).limit(1).collect()
        return rows[0] if rows else None

    def update_iglyph_embedding(self, iglyph_id: str, embedding: Sequence[float]) -> None:
        vec = self._validate_vec(embedding)
        upd = self.spark.createDataFrame(
            [(iglyph_id, vec)], "iglyph_id string, embedding array<float>"
        )
        self.iglyphs = self._rebind(
            crud.update_embeddings(self.iglyphs, upd, "iglyph_id"), self.iglyphs
        )
        self._log("UPDATE_IGLYPH", self._lanes, iglyph_id=iglyph_id)

    def delete_iglyph(self, iglyph_id: str) -> None:
        ids = self.spark.createDataFrame([(iglyph_id,)], "iglyph_id string")
        remaining, new_membership, _stale = crud.delete_with_membership_cleanup(
            self.iglyphs, self.membership, ids
        )
        # strict KeyError contract (vector_field.py:198-199)
        if self.iglyphs.filter(F.col("iglyph_id") == iglyph_id).limit(1).count() == 0:
            raise KeyError(f"IGlyph {iglyph_id!r} not found.")
        self.iglyphs = self._rebind(remaining, self.iglyphs)
        self.membership = new_membership
        self._log("DELETE_IGLYPH", self._lanes - crud.lthash([iglyph_id]), iglyph_id=iglyph_id)

    # ------------------------------------------------------------------
    # PGlyph ops (A10, A19, A2)
    # ------------------------------------------------------------------

    def form_cluster(
        self,
        iglyph_ids: list[str],
        anchor_glyph_id: int,
        outer_context_id: int,
        cluster_tag: str = "",
    ) -> str:
        members = self.iglyphs.filter(F.col("iglyph_id").isin(iglyph_ids))
        if members.limit(1).count() == 0:
            raise ValueError("No valid IGlyphs found for the given ids.")
        grouped = members.withColumn("__g__", F.lit(1))
        pg = C.form_pglyphs(grouped, ["__g__"], id_col="iglyph_id").drop("__g__")
        pg = (
            pg.withColumn("glyph_id", F.lit(anchor_glyph_id).cast("long"))
            .withColumn("outer_context_id", F.lit(outer_context_id).cast("int"))
            .withColumn("cluster_tag", F.lit(cluster_tag))
            .withColumn("ts", F.current_timestamp())
            .select(
                "pglyph_id", "glyph_id", "outer_context_id", "centroid",
                "member_count", "cluster_tag", "inertia", "ts",
            )
        )
        mem = C.membership(grouped, ["__g__"], id_col="iglyph_id")
        pgid = pg.select("pglyph_id").collect()[0][0]
        self.pglyphs = self._rebind(self.pglyphs.unionByName(pg), self.pglyphs)
        self.membership = self._rebind(
            self.membership.unionByName(mem), self.membership, eager=False
        )
        self._log("FORM_CLUSTER", self._lanes + crud.lthash([pgid]), pglyph_id=pgid,
                  anchor_glyph_id=anchor_glyph_id, cluster_tag=cluster_tag)
        return pgid

    def get_pglyph(self, pglyph_id: str):
        rows = self.pglyphs.filter(F.col("pglyph_id") == pglyph_id).limit(1).collect()
        return rows[0] if rows else None

    def recompute_pglyph(self, pglyph_id: str) -> None:
        """A19: re-derive centroid+inertia from surviving members."""
        mem = self.membership.filter(F.col("pglyph_id") == pglyph_id)
        members = self.iglyphs.join(mem.select("iglyph_id"), "iglyph_id", "left_semi")
        if members.limit(1).count() == 0:
            raise ValueError("PGlyph has no valid members to recompute from.")
        grouped = members.withColumn("__g__", F.lit(1))
        cents = C.centroids(grouped, ["__g__"], "embedding")
        inert = C.inertia(grouped, cents, ["__g__"], "embedding")
        stats_row = (
            cents.join(inert, "__g__")
            .join(grouped.groupBy("__g__").agg(F.count(F.lit(1)).alias("n")), "__g__")
            .collect()[0]
        )
        updated = self.pglyphs.withColumn(
            "centroid",
            F.when(F.col("pglyph_id") == pglyph_id,
                   F.lit(stats_row["centroid"]).cast("array<double>")).otherwise(F.col("centroid")),
        ).withColumn(
            "inertia",
            F.when(F.col("pglyph_id") == pglyph_id, F.lit(stats_row["inertia"]))
            .otherwise(F.col("inertia")),
        ).withColumn(
            "member_count",
            F.when(F.col("pglyph_id") == pglyph_id, F.lit(stats_row["n"]).cast("long"))
            .otherwise(F.col("member_count")),
        )
        self.pglyphs = self._rebind(updated, self.pglyphs)
        self._log("RECOMPUTE_PGLYPH", self._lanes, pglyph_id=pglyph_id, members=stats_row["n"])

    # ------------------------------------------------------------------
    # Search (A1, A2) / auto-cluster (A12)
    # ------------------------------------------------------------------

    def search(
        self,
        query: Sequence[float],
        top_k: int = 10,
        metric: str = "cosine",
        glyph_id_filter: int | None = None,
        outer_context_filter: int | None = None,
    ) -> list[tuple[str, float]]:
        q = self._validate_vec(query)
        res = search.knn_search(
            self.iglyphs, q, top_k=top_k, metric=metric, id_col="iglyph_id",
            glyph_id_filter=glyph_id_filter, outer_context_filter=outer_context_filter,
        )
        return [(r["iglyph_id"], r["score"]) for r in res.collect()]

    def search_pglyphs(self, query: Sequence[float], top_k: int = 5,
                       metric: str = "cosine") -> list[tuple[str, float]]:
        q = self._validate_vec(query)
        res = search.search_pglyphs(self.pglyphs, q, top_k=top_k, metric=metric)
        return [(r["pglyph_id"], r["score"]) for r in res.collect()]

    def auto_cluster_phi(self, outer_context_id: int, anchor_glyph_id: int,
                         levels: int = 3) -> list[str]:
        scoped = self.iglyphs.filter(F.col("outer_context_id") == outer_context_id)
        if scoped.limit(1).count() == 0:
            return []
        banded = C.with_phi_band(scoped, levels=levels)
        pg = C.form_pglyphs(banded, ["band"], id_col="iglyph_id")
        pg_rows = (
            pg.withColumn("cluster_tag",
                          F.concat(F.lit("phi_band_"), F.col("band").cast("string")))
            .withColumn("glyph_id", F.lit(anchor_glyph_id).cast("long"))
            .withColumn("outer_context_id", F.lit(outer_context_id).cast("int"))
            .withColumn("ts", F.current_timestamp())
            .select("pglyph_id", "glyph_id", "outer_context_id", "centroid",
                    "member_count", "cluster_tag", "inertia", "ts")
        )
        mem = C.membership(banded, ["band"], id_col="iglyph_id")
        ids = [r["pglyph_id"] for r in pg_rows.select("pglyph_id").collect()]
        self.pglyphs = self._rebind(self.pglyphs.unionByName(pg_rows), self.pglyphs)
        self.membership = self._rebind(
            self.membership.unionByName(mem), self.membership, eager=False
        )
        self._log("AUTO_CLUSTER_PHI", self._lanes + crud.lthash(ids),
                  outer_context_id=outer_context_id, clusters=len(ids))
        return ids

    # ------------------------------------------------------------------
    # Import / export / snapshot / stats (A20-A23)
    # ------------------------------------------------------------------

    def export_jsonl(self, path: str | None = None) -> str:
        """A20. With `path`, writes ts-ordered JSONL distributed (the scale
        path) and returns the path; without, returns the corpus as one
        string (reference string contract — small collections only)."""
        if path is not None:
            jsonl_src.export_jsonl(self.iglyphs, path)
            return path
        return jsonl_src.export_jsonl_string(self.iglyphs)

    def import_jsonl(self, lines: str | list[str], overwrite: bool = False) -> int:
        if isinstance(lines, str):
            lines = [ln for ln in lines.strip().splitlines() if ln.strip()]
        merged, count = jsonl_src.import_jsonl(
            self.spark, lines, self.iglyphs, schemas.IGLYPH_SCHEMA, self.dim,
            overwrite=overwrite,
        )
        # the full recompute below is the action that materialises it
        self.iglyphs = self._rebind(merged, self.iglyphs, eager=False)
        self._log("IMPORT_JSONL", self._full_lanes(), count=count, overwrite=overwrite)
        return count

    def snapshot(self, path: str) -> dict:
        """A22: multi-table checkpoint + manifest."""
        import json

        self.iglyphs.write.mode("overwrite").parquet(f"{path}/iglyphs")
        self.pglyphs.write.mode("overwrite").parquet(f"{path}/pglyphs")
        self.membership.write.mode("overwrite").parquet(f"{path}/membership")
        self.audit.write.mode("overwrite").parquet(f"{path}/audit")
        manifest = {"version": VERSION, "dim": self.dim, "digest": crud.DIGEST_SCHEME,
                    "current_hash": self.current_hash, "path": path}
        # manifest written driver-side: tiny, and must be a single file
        with open(f"{path}/manifest.json", "w") as f:
            json.dump(manifest, f)
        return manifest

    @classmethod
    def load_snapshot(cls, spark: SparkSession, path: str) -> "VectorField":
        """Restore a VectorField from snapshot(); verifies the dataset
        digest against the manifest (tamper/corruption check)."""
        import json

        with open(f"{path}/manifest.json") as f:
            manifest = json.load(f)
        scheme = manifest.get("digest")
        if scheme != crud.DIGEST_SCHEME:
            raise ValueError(
                f"snapshot digest scheme {scheme!r} is not {crud.DIGEST_SCHEME!r}:"
                " its current_hash cannot be verified by this version"
            )
        db = cls(spark, dim=manifest["dim"])
        db.iglyphs = spark.read.parquet(f"{path}/iglyphs")
        db.pglyphs = spark.read.parquet(f"{path}/pglyphs")
        db.membership = spark.read.parquet(f"{path}/membership")
        db._audit_loaded = spark.read.parquet(f"{path}/audit")
        # Resume the audit sequence where the snapshot left off; otherwise
        # post-restore mutations would re-issue seq 1..N and make
        # verify_audit_chain's orderBy(seq) ambiguous.
        if "seq" in db._audit_loaded.columns:
            max_seq = db._audit_loaded.agg(F.max("seq")).collect()[0][0]
            db._audit_seq = int(max_seq) if max_seq is not None else 0
        db._lanes = db._full_lanes()
        db.current_hash = crud.lthash_hex(db._lanes)
        if db.current_hash != manifest["current_hash"]:
            raise ValueError(
                "snapshot digest mismatch: stored "
                f"{manifest['current_hash'][:12]}…, recomputed {db.current_hash[:12]}…"
            )
        return db

    def stats(self) -> dict:
        out = crud.stats(self.iglyphs, self.pglyphs, self.audit)
        out.update(version=VERSION, dim=self.dim, current_hash=self.current_hash)
        return out

    def __repr__(self) -> str:
        s = self.stats()
        return (
            f"VectorField(v{s['version']} dim={s['dim']} iglyphs={s['iglyph_count']}"
            f" pglyphs={s['pglyph_count']} hash={self.current_hash[:8]}...)"
        )
