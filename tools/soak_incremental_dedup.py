"""Incremental-dedup scale soak (round 11).

Claim under test (operators/dedup.py minhash_doc_index /
incremental_minhash_near_dup): against a materialized index, deduping
a new batch costs O(batch) text work — the corpus is never re-read or
re-shingled — while the non-incremental batch path re-pays the full
corpus every cycle. This soak builds a 200k-doc synthetic corpus
(30-word documents over a 64-word vocabulary, with planted near-dups
crossing the corpus/batch split), materializes the index over the
180k-doc corpus side, and times:

  - incremental: batch (20k docs) vs index ∪ batch;
  - full recompute: minhash_near_dup over all 200k docs, filtered to
    pairs touching the batch (identical output rows by construction —
    asserted via count + xxhash sum).

Prints JSON lines; result goes to PLANS.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from pyspark.sql import functions as F  # noqa: E402

from aeuc_vector_db_spark.operators import dedup as D  # noqa: E402
from aeuc_vector_db_spark.session import get_spark  # noqa: E402

N = 200_000
WORDS = [f"w{i:04d}" for i in range(4096)]


def main() -> int:
    spark = get_spark("soak-incremental-dedup")
    t0 = time.time()
    vocab = F.array(*[F.lit(w) for w in WORDS])
    # 30-word docs; the two ids sharing g = id div 2 share a 25-word
    # prefix (jaccard ~0.7 — a genuine near-dup pair per group, and
    # consecutive ids cross the %5 batch split in ~2/5 of groups). The
    # (g div 64)*i*i interaction term makes prefixes UNIQUE per group
    # (a purely additive f(g)+h(i) form collides every |vocab| groups,
    # which round-11's first soak attempt showed collapses the corpus
    # into boilerplate mega-buckets the band cap then removes).
    g = (F.col("id") / 2).cast("long")

    def word_at(i: int):
        jitter = F.col("id") if i >= 25 else F.lit(0)
        idx = (
            (g * 7 + i * 3 + (g / 64).cast("long") * (i * i) + jitter)
            % 4096 + 1
        ).cast("int")
        return F.element_at(vocab, idx)
    docs = spark.range(1, N + 1).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *[word_at(i) for i in range(30)]).alias("text"),
    ).localCheckpoint(eager=True)
    # materialized so the measurement is the OPERATORS, not the
    # synthetic text expression (a real corpus reads text from parquet;
    # re-deriving a 4096-literal array per row per lazy re-evaluation
    # dominated an earlier run of this soak on both paths equally)
    is_batch = F.col("doc_id") % 5 == 0
    corpus = docs.filter(~is_batch)
    batch = docs.filter(is_batch)
    n_corpus, n_batch = corpus.count(), batch.count()

    t0 = time.time()
    index = D.minhash_doc_index(corpus).localCheckpoint(eager=True)
    index_build_s = time.time() - t0

    def agg_check(df):
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.xxhash64(F.col("a_id"), F.col("b_id")).cast("decimal(20,0)")
            ).alias("h"),
        ).collect()[0]
        return int(r["n"]), int(r["h"] or 0)

    def timed(df):
        t0 = time.time()
        n, h = agg_check(df)
        return time.time() - t0, n, h

    # warm both plans once (codegen/worker bring-up), then measure
    inc_df = D.incremental_minhash_near_dup(
        batch, index, threshold=0.5, max_band_size=64
    )
    full_df = D.minhash_near_dup(docs, threshold=0.5, max_band_size=64).filter(
        (F.col("a_id") % 5 == 0) | (F.col("b_id") % 5 == 0)
    )
    agg_check(inc_df.limit(1000))
    inc_s, inc_n, inc_h = timed(inc_df)
    full_s, full_n, full_h = timed(full_df)
    out = {
        "n_corpus": n_corpus,
        "n_batch": n_batch,
        "index_build_s": round(index_build_s, 2),
        "incremental_s": round(inc_s, 2),
        "full_recompute_s": round(full_s, 2),
        "speedup": round(full_s / inc_s, 2) if inc_s > 0 else None,
        "pairs": inc_n,
        "match": (inc_n, inc_h) == (full_n, full_h),
    }
    print(json.dumps(out))
    spark.stop()
    return 0 if out["match"] and inc_n > 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
