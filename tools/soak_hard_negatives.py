"""Hard-negative mining scale soak (VERDICT r12 #5).

`hard_negatives_within_buckets` had only sf-fixture evidence (1,500
output rows at sf0.01). Its 100 TB claim is the Σnᵢ² pair-volume bound:
pairs form only within cosine-LSH buckets, and each extra hyperplane
should roughly halve expected bucket size and quarter pair volume. This
soak, at ~500k clustered vectors (dim 64, N_LABELS = 500 directional
label clusters + noise — the regime that SKEWS sign-pattern buckets, unlike
uniform random):

  1. measures the real bucket-size distribution and Σnᵢ² for
     n_planes ∈ {4, 6, 8, 10, 12, 14, 16} (pure groupBy — no join
     executed), asserts the volume curve is strictly decreasing in
     planes and every point sits far below N²;
  2. checks `derive_n_planes`'s scale property: at the derived plane
     count the PER-ANCHOR candidate volume (Σnᵢ²/N) stays within a
     bounded skew factor of the target bucket size — the quantity
     that must stay flat as N grows for mining to remain linear-in-N
     at 100 TB (Σnᵢ² itself grows as N² at FIXED planes; the
     derivation grows planes with log N precisely to cancel that);
  3. EXECUTES the full mining (bucket self-join + per-anchor top-k
     window) at the smallest plane count whose measured Σnᵢ² fits the
     pair budget — at 500k if tractable, else on a 125k prefix (the
     hot-direction buckets put a distribution-dependent floor under
     Σnᵢ² that planes cannot cut; the production lever past that
     floor is a per-bucket cap, not more planes);
  4. re-runs the same mining under different input partitioning
     (7 vs 64 partitions) and asserts the output pair set is
     hash-identical — partitioning must never leak into results.

Prints JSON lines; results recorded in PLANS.md (round-13 soak entry).
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from pyspark.sql import functions as F  # noqa: E402

from aeuc_vector_db_spark.operators import curation as CU  # noqa: E402
from aeuc_vector_db_spark.session import get_spark  # noqa: E402

N = 500_000
MINE_FALLBACK_N = 125_000
DIM = 64
N_LABELS = 500
PAIR_BUDGET = 800_000_000
SKEW_HEADROOM = 64  # per-anchor volume allowance over the even-bucket target


def make_vectors(spark):
    """~500k clustered vectors, engine-side generation (no driver
    loops): label centers are integer-derived, per-element noise comes
    from xxhash64 — deterministic, partition-independent. Noise
    amplitude is comparable to the center magnitude: with pure-signal
    clusters every label lands wholesale in one bucket and Σnᵢ²
    plateaus near N²/|labels| no matter how many planes — adding
    planes only splits a cluster whose center-dot sits inside the
    noise margin of a hyperplane (first cut of this soak measured
    exactly that plateau at 50 tight clusters: 0.17·N² at 4 planes,
    0.14·N² at 6). Directional clustering at THAT purity is the
    operator's documented degenerate regime — same-pointing vectors
    are the point of the bucketing — and the production lever there is
    a per-bucket cap, not more planes."""
    base = spark.range(N).select(
        F.col("id").alias("vec_id"), (F.col("id") % N_LABELS).alias("label")
    )
    j = F.sequence(F.lit(0), F.lit(DIM - 1))
    center = lambda jj: (((F.col("label") * 31 + jj * 17) % 23) - 11).cast(
        "double"
    ) / 11.0
    noise = lambda jj: (
        (F.abs(F.xxhash64(F.col("vec_id") * DIM + jj)) % 1000).cast("double")
        / 1000.0
        - 0.5
    ) * 2.4
    return base.select(
        "vec_id",
        "label",
        F.transform(j, lambda jj: center(jj) + noise(jj)).alias("embedding"),
    )


def bucket_stats(emb, n_planes: int, n: int = N) -> dict:
    planes = CU.lsh_hyperplanes(n_planes, DIM)
    from aeuc_vector_db_spark.functions.vector import dot_col

    bucket = None
    for i, h in enumerate(planes):
        bit = F.when(
            dot_col(F.col("embedding"), F.array(*[F.lit(x) for x in h])) > 0,
            F.lit(1 << i),
        ).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    hist = (
        emb.select(bucket.alias("bkt"))
        .groupBy("bkt")
        .count()
        .agg(
            F.count("*").alias("n_buckets"),
            F.max("count").alias("max_bucket"),
            F.expr("percentile_approx(count, 0.5)").alias("med_bucket"),
            F.sum(F.col("count") * F.col("count")).alias("pair_volume"),
        )
        .collect()[0]
    )
    even_floor = n * n / (1 << n_planes)  # uniform-bucket Σn²
    return {
        "n": n,
        "n_planes": n_planes,
        "n_buckets": int(hist["n_buckets"]),
        "max_bucket": int(hist["max_bucket"]),
        "med_bucket": int(hist["med_bucket"]),
        "pair_volume": int(hist["pair_volume"]),
        "per_anchor": round(int(hist["pair_volume"]) / n, 1),
        "vs_even_floor": round(int(hist["pair_volume"]) / even_floor, 2),
        "vs_n_squared": round(int(hist["pair_volume"]) / (n * n), 6),
    }


def mine_hash(emb, n_planes: int, parts: int) -> tuple[int, str, float]:
    t0 = time.time()
    out = CU.hard_negatives_within_buckets(
        emb.repartition(parts), k=3, n_planes=n_planes, dim=DIM
    )
    rows = out.select(
        "a_id", "neg_id", "r", F.round("cos", 9).alias("cos")
    ).collect()
    dt = time.time() - t0
    h = hashlib.sha256()
    for r in sorted((r["a_id"], r["neg_id"], r["r"], repr(r["cos"])) for r in rows):
        h.update(repr(r).encode())
    return len(rows), h.hexdigest(), dt


def main() -> int:
    spark = get_spark()
    emb = make_vectors(spark).localCheckpoint()  # pin: one generation
    assert emb.count() == N

    curve = []
    for p in (4, 6, 8, 10, 12, 14, 16):
        s = bucket_stats(emb, p)
        curve.append(s)
        print(json.dumps({"bucket_stats": s}), flush=True)
    vols = [s["pair_volume"] for s in curve]
    assert all(a > b for a, b in zip(vols, vols[1:])), (
        f"pair volume must strictly decrease with planes: {vols}"
    )
    assert all(v < 0.2 * N * N for v in vols), "volume must sit far below N^2"

    # the 100 TB property: at the DERIVED plane count the per-anchor
    # candidate volume is target × (bounded skew), independent of N
    derived = CU.derive_n_planes(N)
    d_stat = next(s for s in curve if s["n_planes"] == derived)
    target = 2048
    print(
        json.dumps(
            {
                "derive_n_planes": {
                    "n": N,
                    "planes": derived,
                    "per_anchor": d_stat["per_anchor"],
                    "target": target,
                    "skew_factor": round(d_stat["per_anchor"] / target, 1),
                }
            }
        ),
        flush=True,
    )
    assert d_stat["per_anchor"] <= SKEW_HEADROOM * target, (
        f"per-anchor volume {d_stat['per_anchor']} blows the {SKEW_HEADROOM}× "
        f"skew headroom over target {target}"
    )

    # mining execution: 500k if a sweep point fits the budget, else the
    # 125k prefix (re-measured there)
    tractable = [s for s in curve if s["pair_volume"] <= PAIR_BUDGET]
    if tractable:
        mine_emb, mine_stat = emb, tractable[0]
    else:
        sub = emb.filter(F.col("vec_id") < MINE_FALLBACK_N).localCheckpoint()
        for p in (8, 10, 12, 14, 16):
            mine_stat = bucket_stats(sub, p, n=MINE_FALLBACK_N)
            print(json.dumps({"fallback_bucket_stats": mine_stat}), flush=True)
            if mine_stat["pair_volume"] <= PAIR_BUDGET:
                break
        assert mine_stat["pair_volume"] <= PAIR_BUDGET, "no tractable fallback"
        mine_emb = sub
    mine_p = mine_stat["n_planes"]

    n_rows, h1, dt1 = mine_hash(mine_emb, mine_p, 7)
    print(
        json.dumps(
            {
                "mining": {
                    "n": mine_stat["n"],
                    "n_planes": mine_p,
                    "rows": n_rows,
                    "wall_s": round(dt1, 1),
                    "pair_volume": mine_stat["pair_volume"],
                }
            }
        ),
        flush=True,
    )
    n2, h2, dt2 = mine_hash(mine_emb, mine_p, 64)
    print(
        json.dumps({"repartition_check": {"rows": n2, "wall_s": round(dt2, 1)}}),
        flush=True,
    )
    assert (n_rows, h1) == (n2, h2), "pair set must be partitioning-invariant"
    print(json.dumps({"soak": "PASS"}), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
