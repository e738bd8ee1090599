"""Batch CRUD, digest, audit, and stats operators (A13-A19, A22-A23).

The reference mutates in-place dicts per row and recomputes a Blake2b
digest over ALL ids on EVERY mutation (vector_field.py:95-117) — measured
O(N²) ingest collapse (BASELINE.md). On Spark's immutable substrate each
mutation class becomes a set-algebra batch op, and the digest is a
multiset hash a caller updates from each commit's inserted and deleted
ids:

- insert  (A13, vector_field.py:133-175): union of validated new rows;
  duplicate-PK rejection = one aggregate over the batch's per-id counts
  joined to the corpus ids (ValueError analog).
- update  (A15, vector_field.py:181-194): join-replace; KeyError analog =
  anti-join count check.
- delete  (A16, vector_field.py:196-216): anti-join, with membership
  cleanup and stale-cluster flagging for recompute (A19).
- digest  (A17, vector_field.py:95-103): order-insensitive deterministic
  dataset hash. `dataset_digest` is LtHash16 (a lattice multiset hash,
  Lewi et al. 2019, after Bellare–Micciancio 1997): each id maps to 1024
  uint16 lanes and the set's lanes are their sum mod 2¹⁶, so a caller can
  add or subtract one id's lanes (`lthash`) instead of re-hashing the set
  on every mutation. Plus a commutative sum(xxhash64) variant that runs as
  one Spark aggregate at 100 TB.
- audit   (A18, vector_field.py:105-117): append-only records of
  {action, ts, hash_before, hash_after, payload, seq}, kept as Python
  tuples and read as one DataFrame.
- stats   (A23, vector_field.py:467-478): one aggregate pass.
"""

from __future__ import annotations

import hashlib
from datetime import datetime, timezone
from itertools import islice
from typing import Iterable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: what `dataset_digest` computes; snapshots record it in their manifest
DIGEST_SCHEME = "lthash16-blake2b256"
_LANES = 1024


def lthash(ids: Iterable[str]) -> np.ndarray:
    """LtHash16 lanes of a multiset of ids: the lane-wise sum mod 2¹⁶ of
    H(id) = shake_256(id).digest(2048) read as 1024 little-endian uint16.

    Returns uint16 lanes, so `+` and `-` on them wrap mod 2¹⁶: adding
    `lthash([x])` to a set's lanes inserts x, subtracting it removes x
    again exactly. About 12 µs per id on one core."""
    acc = np.zeros(_LANES, np.uint64)
    it = iter(ids)
    while chunk := list(islice(it, 4096)):
        buf = b"".join(hashlib.shake_256(i.encode()).digest(2 * _LANES) for i in chunk)
        acc += np.frombuffer(buf, "<u2").reshape(-1, _LANES).sum(axis=0, dtype=np.uint64)
    return (acc % (1 << 16)).astype(np.uint16)


def lthash_hex(lanes: np.ndarray) -> str:
    """The 64-hex digest of LtHash16 lanes: blake2b-256 of their bytes."""
    return hashlib.blake2b(lanes.astype("<u2").tobytes(), digest_size=32).hexdigest()


def dataset_digest(df: DataFrame, id_col: str = "iglyph_id", *, lanes: bool = False):
    """Deterministic order-insensitive digest of the id set (A17), scheme
    `DIGEST_SCHEME`: `lthash_hex(lthash(ids))` over the non-NULL ids.

    The contract is the reference's (vector_field.py:95-103, whose
    Blake2b-over-JSON bytes are an implementation detail): same id set ⇒
    same hash, any change ⇒ different hash (up to a 2⁻¹²⁸-scale
    collision). Being a multiset hash, it equals the running value a
    caller keeps by adding and subtracting `lthash` of each id it
    inserts and deletes; this function is the full recompute of that
    value. With `lanes=True` it returns the lanes instead of their hex,
    so such a caller can resume from them.

    Cost: one Spark job collecting the ids, then ~12 µs of hashing per
    id on the driver — 0.16–0.20 s at 2k ids and 2.7–2.8 s at 200k on a
    4-vCPU host, where the sorted sha2 it replaced took 0.21 s and
    0.22–0.28 s. It is for snapshot verification and bulk re-derivation,
    not for per-row mutations.
    """
    ids = df.where(F.col(id_col).isNotNull()).select(F.col(id_col).cast("string"))
    out = lthash(r[0] for r in ids.collect())
    return out if lanes else lthash_hex(out)


def dataset_digest_scalable(df: DataFrame, id_col: str = "iglyph_id") -> int:
    """Commutative digest: sum of pmod(xxhash64(id), 2³¹−1), reduced
    mod 2⁶³ driver-side.

    Order-insensitive by construction (addition commutes), needs no global
    sort/collect_list — a single partial+final aggregate even at 100 TB.
    pmod keeps terms non-negative (Spark's % preserves the dividend sign)
    and the decimal(38,0) sum cannot overflow long (needs > ~4×10²⁸ rows),
    so the arithmetic is identical with ANSI mode on or off.
    """
    row = df.agg(
        F.sum(
            F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(2**31 - 1)).cast(
                "decimal(38,0)"
            )
        ).alias("digest")
    ).collect()[0]
    return int(row["digest"]) % (2**63) if row["digest"] is not None else 0


def dataset_digest_blake2b(
    iglyphs: DataFrame,
    pglyphs: DataFrame | None = None,
    iglyph_id_col: str = "iglyph_id",
    pglyph_id_col: str = "pglyph_id",
) -> str:
    """Bit-compatible twin of the reference _compute_hash
    (vector_field.py:95-103): Blake2b-256 over the sort_keys JSON of the
    sorted iglyph + pglyph id sets.

    The id lists collect to the driver — this is the byte-parity tool
    for validating against a reference DB dump, not a scale path; the
    other digests are dataset_digest (LtHash16, incrementally updatable)
    and dataset_digest_scalable (commutative, single aggregate).
    """
    import json

    ig = sorted(r[0] for r in iglyphs.select(iglyph_id_col).collect())
    pg = (
        sorted(r[0] for r in pglyphs.select(pglyph_id_col).collect())
        if pglyphs is not None
        else []
    )
    payload = json.dumps({"iglyphs": ig, "pglyphs": pg}, sort_keys=True).encode()
    return hashlib.blake2b(payload, digest_size=32).hexdigest()


def commit_with_digest(
    df: DataFrame,
    path: str,
    id_col: str = "iglyph_id",
    mode: str = "overwrite",
) -> int:
    """Write a batch AND compute its scalable digest in the SAME job.

    `observe` attaches the commutative digest aggregate as an accumulator
    on the write action, so the commit costs exactly one pass over the
    data — no second digest job re-executing the ingest pipeline (the
    reference's per-mutation digest is the O(N²) hazard; a per-batch
    digest that re-runs the batch is the milder sibling, still 2× the
    work at 100 TB).

    Returns the same value as dataset_digest_scalable(df).
    """
    from pyspark.sql import Observation

    obs = Observation()
    observed = df.observe(
        obs,
        F.sum(
            F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(2**31 - 1)).cast(
                "decimal(38,0)"
            )
        ).alias("__digest__"),
    )
    observed.write.mode(mode).parquet(path)
    val = obs.get["__digest__"]
    return int(val) % (2**63) if val is not None else 0


def insert_rows(existing: DataFrame, new_rows: DataFrame, id_col: str = "iglyph_id",
                on_duplicate: str = "error") -> DataFrame:
    """A13: batch insert. on_duplicate: 'error' (reference ValueError,
    vector_field.py:159-160) | 'skip' (import semantics) | 'overwrite'."""
    if on_duplicate == "error":
        # One action for both PK checks: the batch's per-id counts,
        # left-joined to the corpus ids (the planner broadcasts the corpus
        # side when it is small, as for point adds).
        flags = (
            new_rows.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
            .join(existing.select(id_col, F.lit(1).alias("hit")), id_col, "left")
            .agg(F.max("hit").alias("dup"), F.max("n").alias("max_n"))
            .collect()[0]
        )
        if flags["dup"]:
            raise ValueError(f"duplicate {id_col} in insert batch")
        # the PK contract also rejects duplicates WITHIN the batch
        if (flags["max_n"] or 0) > 1:
            raise ValueError(f"duplicate {id_col} within insert batch")
        return existing.unionByName(new_rows, allowMissingColumns=True)
    if on_duplicate == "skip":
        # PK holds within the batch too: one row per id survives. Which
        # copy wins among in-batch duplicates is unspecified (they are
        # byte-identical in the import use case); the corpus never ends
        # up with two rows sharing an id either way.
        fresh = new_rows.dropDuplicates([id_col]).join(
            existing.select(id_col), id_col, "left_anti"
        )
        return existing.unionByName(fresh, allowMissingColumns=True)
    if on_duplicate == "overwrite":
        deduped = new_rows.dropDuplicates([id_col])
        kept = existing.join(deduped.select(id_col), id_col, "left_anti")
        return kept.unionByName(deduped, allowMissingColumns=True)
    raise ValueError(f"unknown on_duplicate mode {on_duplicate!r}")


def update_embeddings(existing: DataFrame, updates: DataFrame, id_col: str = "iglyph_id",
                      vec_col: str = "embedding", ts_col: str | None = "ts",
                      strict: bool = True) -> DataFrame:
    """A15: replace embeddings for matching ids; KeyError analog if an
    update id is missing (vector_field.py:187-188)."""
    if strict:
        missing = updates.join(existing.select(id_col), id_col, "left_anti").limit(1).count()
        if missing:
            raise KeyError(f"update contains unknown {id_col}")
    # a repeated update id would fan out the left join and duplicate
    # corpus rows — reject instead of silently multiplying data
    repeated = updates.groupBy(id_col).count().filter(F.col("count") > 1).limit(1).count()
    if repeated:
        raise ValueError(f"repeated {id_col} in update batch")
    upd = updates.select(
        F.col(id_col),
        F.col(vec_col).alias("__new_vec__"),
        *([F.current_timestamp().alias("__new_ts__")] if ts_col else []),
    )
    out = existing.join(upd, id_col, "left")
    out = out.withColumn(vec_col, F.coalesce(F.col("__new_vec__"), F.col(vec_col)))
    if ts_col:
        out = out.withColumn(
            ts_col, F.when(F.col("__new_vec__").isNotNull(), F.col("__new_ts__")).otherwise(F.col(ts_col))
        ).drop("__new_ts__")
    return out.drop("__new_vec__")


def delete_rows(existing: DataFrame, ids: DataFrame, id_col: str = "iglyph_id",
                strict: bool = True) -> DataFrame:
    """A16: anti-join delete; KeyError analog on unknown id."""
    if strict:
        missing = ids.join(existing.select(id_col), id_col, "left_anti").limit(1).count()
        if missing:
            raise KeyError(f"delete contains unknown {id_col}")
    return existing.join(ids.select(id_col), id_col, "left_anti")


def delete_with_membership_cleanup(
    iglyphs: DataFrame,
    membership: DataFrame,
    ids: DataFrame,
    id_col: str = "iglyph_id",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """A16+A19: delete rows, drop their membership edges, and return the
    set of stale pglyph_ids whose centroid/inertia must be recomputed."""
    remaining = iglyphs.join(ids.select(id_col), id_col, "left_anti")
    stale = membership.join(ids.select(id_col), id_col, "left_semi").select(
        "pglyph_id"
    ).distinct()
    new_membership = membership.join(ids.select(id_col), id_col, "left_anti")
    return remaining, new_membership, stale


def audit_record(
    action: str,
    hash_before: str,
    hash_after: str,
    payload: dict[str, str] | None = None,
    seq: int = 0,
) -> tuple:
    """A18: one hash-chained audit record (vector_field.py:105-117),
    computed once per batch commit instead of once per row, as a
    Python tuple in `schemas.AUDIT_SCHEMA` column order. `ts` is the
    local clock (UTC) when the record is made, fixed from then on.
    `seq` is the commit sequence number — the chain's total order
    (wall-clock ts alone can collide at µs resolution and would make
    chain verification order-ambiguous)."""
    return (action, datetime.now(timezone.utc), hash_before, hash_after, payload or {}, seq)


def verify_audit_chain(audit: DataFrame, ts_col: str = "ts") -> dict:
    """A18 integrity check: the audit log is a hash chain — each record's
    hash_before must equal the previous record's hash_after, ordered by
    the commit sequence (`seq` if present; ts with a hash tiebreak
    otherwise — bare ts can collide at µs resolution and report
    nondeterministic false breaks). Returns {'entries', 'breaks', 'ok'}.

    Implemented with a lag window over the (small) audit table; at scale
    the chain property is per-partition-checkable after a range partition
    on the sequence.
    """
    from pyspark.sql import Window

    if "seq" in audit.columns:
        w = Window.orderBy(F.col("seq").asc())
    else:
        w = Window.orderBy(F.col(ts_col).asc(), F.col("hash_before").asc())
    chained = audit.withColumn("__prev_after__", F.lag("hash_after").over(w))
    breaks = chained.filter(
        F.col("__prev_after__").isNotNull()
        & (F.col("hash_before") != F.col("__prev_after__"))
    ).count()
    entries = audit.count()
    return {"entries": entries, "breaks": breaks, "ok": breaks == 0}


def stats(
    iglyphs: DataFrame,
    pglyphs: DataFrame | None = None,
    audit: DataFrame | None = None,
    glyph_col: str = "glyph_id",
    ctx_col: str = "outer_context_id",
    approx: bool = False,
) -> dict:
    """A23 (vector_field.py:467-478): one aggregate pass over each table.

    approx=True swaps count_distinct for approx_count_distinct (HLL) —
    the 100 TB-friendly variant.
    """
    cd = F.approx_count_distinct if approx else F.count_distinct
    row = iglyphs.agg(
        F.count(F.lit(1)).alias("iglyph_count"),
        cd(F.col(glyph_col)).alias("glyph_addresses_used"),
        cd(F.col(ctx_col)).alias("outer_contexts_used"),
    ).collect()[0]
    out = dict(row.asDict())
    out["pglyph_count"] = pglyphs.count() if pglyphs is not None else 0
    out["change_history_entries"] = audit.count() if audit is not None else 0
    return out
