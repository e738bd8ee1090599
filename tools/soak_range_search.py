"""Adversarial-radius soak for ivf_range_search (VERDICT r10 #4).

The declared query + driver oracle prove exact-completeness at fixture
scale and a favorable radius; the unexercised regime is a LARGE corpus
with a radius admitting ~half of it — where the kept-cell "sliver"
stops being a sliver and the prune's bookkeeping must not make the
plan worse than brute force. This soak:

  1. builds a 10^6-vector dim-32 clustered corpus (64 planted groups +
     per-id jitter), trains the sample-fit coarse quantizer (k=64),
     assigns cells, and hoists `cell_radii` once (the repeated-batch
     shape);
  2. sweeps thresholds admitting ~1% / ~10% / ~50% of the corpus,
     recording per threshold: cell prune rate, pruned wall time (first
     + repeated batch on the hoisted radii), brute wall time, and a
     (count, xxhash-sum) completeness check pruned-vs-brute;
  3. validates the `brute_floor` fallback at the ~50% radius: the
     operator must take the brute path and return the identical
     (count, hash) result.

Prints one JSON line per threshold plus a summary; results go to
PLANS.md (round-11 soak entry).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from aeuc_vector_db_spark.operators import ann as A  # noqa: E402
from aeuc_vector_db_spark.session import get_spark  # noqa: E402

N = 1_000_000
DIM = 32
K = 64
NQ = 8


def main() -> int:
    spark = get_spark("soak-range-search")
    t0 = time.time()
    corpus = spark.range(N).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(DIM - 1)),
            lambda j: (
                (((F.col("id") % 64) * 17 + j * 5) % 23).cast("double") / 23.0
                + ((F.col("id") * 31 + j * 7) % 11).cast("double") / 110.0
            ),
        ).alias("embedding"),
    )
    cent_local = A.fit_centroids_sample_local(
        corpus, k=K, seed=42, iters=10
    )
    cwc = corpus.join(
        A.assign_centroids(corpus, cent_local), "vec_id"
    ).localCheckpoint(eager=True)
    radii = A.cell_radii(cwc, cent_local).localCheckpoint(eager=True)
    q_rows = (
        cwc.filter(F.col("vec_id") % (N // NQ) == 7)
        .select("vec_id", "embedding")
        .limit(NQ)
        .collect()
    )
    queries = spark.createDataFrame(
        [(int(r["vec_id"]), list(r["embedding"])) for r in q_rows],
        "query_id long, query_embedding array<double>",
    ).localCheckpoint(eager=True)
    print(f"# setup: {time.time() - t0:.1f}s", file=sys.stderr)

    # calibrate thresholds from the pooled score distribution of ALL
    # queries against a 1% corpus sample (the clustered corpus makes
    # per-query distributions multi-modal, so a single query's
    # quantiles mistarget the pooled admitted fraction badly)
    from aeuc_vector_db_spark.functions.vector import dot_col, l2_norm_col

    sample = (
        cwc.filter(F.col("vec_id") % 100 == 0)
        .crossJoin(
            F.broadcast(queries.select(F.col("query_embedding").alias("__q")))
        )
        .select(
            (
                dot_col("embedding", "__q")
                / (l2_norm_col("embedding") * l2_norm_col("__q") + F.lit(1e-12))
            ).alias("s")
        )
    )
    t1, t10, t50 = sample.approxQuantile("s", [0.99, 0.90, 0.50], 0.0005)
    targets = [("~1%", t1), ("~10%", t10), ("~50%", t50)]

    def agg_check(df):
        # hash-sum in DECIMAL: millions of ~2^63 hashes overflow a long
        # sum under ANSI mode; decimal(20,0) partials widen exactly
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.xxhash64(F.col("query_id"), F.col("vec_id"))
                .cast("decimal(20,0)")
            ).alias("h"),
        ).collect()[0]
        return int(r["n"]), int(r["h"] or 0)

    out = []
    for label, thr in targets:
        kept = A.probed_cells(cwc, cent_local, queries, thr, radii=radii)
        n_kept = kept.count()
        prune_rate = 1.0 - n_kept / float(NQ * K)

        # brute_floor=None pins the PRUNED plan (round 12 made the
        # fallback the default): these measurements exist to quantify
        # the prune itself across the admit spectrum
        t0 = time.time()
        n1, h1 = agg_check(
            A.ivf_range_search(cwc, cent_local, queries, thr, radii=radii,
                               brute_floor=None)
        )
        pruned_first = time.time() - t0
        t0 = time.time()
        n1b, _ = agg_check(
            A.ivf_range_search(cwc, cent_local, queries, thr, radii=radii,
                               brute_floor=None)
        )
        pruned_repeat = time.time() - t0

        qs = queries.select(
            "query_id", F.col("query_embedding").alias("__qv")
        ).withColumn("__qn", l2_norm_col("__qv"))
        brute = (
            cwc.crossJoin(F.broadcast(qs))
            .select(
                "query_id",
                "vec_id",
                (
                    dot_col("embedding", "__qv")
                    / (l2_norm_col("embedding") * F.col("__qn") + F.lit(1e-12))
                ).alias("score"),
            )
            .filter(F.col("score") >= F.lit(thr))
        )
        t0 = time.time()
        n2, h2 = agg_check(brute)
        brute_s = time.time() - t0

        last_brute = (n2, h2)
        rec = {
            "admit": label,
            "threshold": round(thr, 6),
            "admitted_frac": round(n2 / float(NQ * N), 4),
            "cell_prune_rate": round(prune_rate, 4),
            "rows": n2,
            "pruned_first_s": round(pruned_first, 2),
            "pruned_repeat_s": round(pruned_repeat, 2),
            "brute_s": round(brute_s, 2),
            "complete": (n1, h1) == (n2, h2) and n1 == n1b,
        }
        out.append(rec)
        print(json.dumps(rec))

    # brute_floor fallback at the widest radius: the DEFAULT call
    # (round 12: brute_floor defaults to 0.5) must take the brute path
    # (prune_rate < floor) and return the identical result
    thr = targets[-1][1]
    t0 = time.time()
    nf, hf = agg_check(
        A.ivf_range_search(cwc, cent_local, queries, thr, radii=radii)
    )
    fb = {
        "fallback_floor": "default-0.5",
        "threshold": round(thr, 6),
        "fallback_s": round(time.time() - t0, 2),
        "matches_brute": (nf, hf) == last_brute,
    }
    print(json.dumps(fb))
    ok = all(r["complete"] for r in out) and fb["matches_brute"]
    print(json.dumps({"soak_ok": ok, "n": N, "dim": DIM, "k": K, "nq": NQ}))
    spark.stop()
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
