"""Band-table append-debt soak (round 13, VERDICT r12 #3).

Claim under test (operators/dedup.py append_minhash_band_table /
compact_minhash_band_table): the bucketed incremental-dedup serve cost
stays FLAT across many appended epochs — append debt costs only the
corpus-side SMJ sort (multi-file buckets lose the single-file sort
elision, never the bucket layout), and one compaction restores the
sort-elided plan. The soak:

  1. builds a corpus (default 120k docs) + bucketed band table;
  2. runs EPOCHS (default 8) serve→append cycles with a fresh batch
     (default 10k docs) each epoch, timing every serve;
  3. asserts pair-set parity vs the flat incremental path on the
     first and last epoch (the slow reference runs twice, not 8×);
  4. compacts, serves one more epoch, and asserts the candidate-join
     plan lost the corpus-side Sort while parity still holds.

Exit 0 iff parity holds everywhere, the plan gates pass, and the last
pre-compact serve is within DRIFT_MAX (default 2.5×) of the first —
the flatness claim with headroom for box noise (each serve re-reads
the growing table, so a mild upward drift from table volume is
expected; corpus-proportional re-shuffling would blow straight past
the bound, which is the failure this soak exists to catch).

Prints JSON lines; results go to PLANS.md (round-13 section).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from pyspark.sql import functions as F  # noqa: E402

from aeuc_vector_db_spark.operators import dedup as D  # noqa: E402
from aeuc_vector_db_spark.session import get_spark  # noqa: E402

N_CORPUS = int(os.environ.get("SOAK_N", 120_000))
N_BATCH = int(os.environ.get("SOAK_BATCH", 10_000))
EPOCHS = int(os.environ.get("SOAK_EPOCHS", 8))
DRIFT_MAX = float(os.environ.get("SOAK_DRIFT_MAX", 2.5))
WORDS = [f"w{i:04d}" for i in range(4096)]
TABLE = "soak_band_epochs"


def _docs(spark, lo: int, hi: int):
    """30-word docs, planted near-dup groups of 2 (same generator
    family as soak_incremental_dedup.py)."""
    vocab = F.array(*[F.lit(w) for w in WORDS])
    g = (F.col("id") / 2).cast("long")

    def word_at(i: int):
        jitter = F.col("id") if i >= 25 else F.lit(0)
        idx = (
            (g * 7 + i * 3 + (g / 64).cast("long") * (i * i) + jitter)
            % 4096 + 1
        ).cast("int")
        return F.element_at(vocab, idx)

    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *[word_at(i) for i in range(30)]).alias("text"),
    )


def main() -> int:
    spark = get_spark("soak-band-table-epochs")

    def pairs_check(df):
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.xxhash64(F.col("a_id"), F.col("b_id")).cast("decimal(20,0)")
            ).alias("h"),
        ).collect()[0]
        return int(r["n"]), int(r["h"] or 0)

    root = tempfile.mkdtemp(prefix="soak_band_epochs_")
    corpus = _docs(spark, 1, N_CORPUS + 1).localCheckpoint(eager=True)
    t0 = time.time()
    D.minhash_doc_index(corpus).write.parquet(f"{root}/index0")
    index = spark.read.parquet(f"{root}/index0")
    index_build_s = time.time() - t0
    spark.sql(f"DROP TABLE IF EXISTS {TABLE}")
    t0 = time.time()
    D.write_minhash_band_table(index, TABLE, n_buckets=32)
    band_write_s = time.time() - t0

    serve_s, append_s, parity = [], [], {}
    lo = N_CORPUS + 1
    for ep in range(1, EPOCHS + 1):
        batch = _docs(spark, lo, lo + N_BATCH).localCheckpoint(eager=True)
        lo += N_BATCH
        bk = D.incremental_minhash_near_dup_bucketed(
            batch, index, TABLE, threshold=0.5, max_band_size=64
        )
        t0 = time.time()
        n, h = pairs_check(bk)
        serve_s.append(round(time.time() - t0, 2))
        if ep in (1, EPOCHS):
            fl = D.incremental_minhash_near_dup(
                batch, index, threshold=0.5, max_band_size=64
            )
            parity[f"epoch_{ep}"] = (n, h) == pairs_check(fl) and n > 0
        # fold the epoch in: band table append + index epoch file
        idx_b = D.minhash_doc_index(batch)
        t0 = time.time()
        D.append_minhash_band_table(idx_b, TABLE, n_buckets=32)
        append_s.append(round(time.time() - t0, 2))
        idx_b.write.parquet(f"{root}/index{ep}")
        index = spark.read.parquet(*[f"{root}/index{e}" for e in range(ep + 1)])

    # candidate-join Sort shape before/after compact (broadcast off so
    # the SMJ is the strategy under test)
    probe = D.minhash_band_rows_keyed(
        D.minhash_doc_index(_docs(spark, lo, lo + 256))
    )

    def join_sorts() -> tuple[int, int]:
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = probe.select(F.col("doc_id").alias("x"), "bkey").join(
                spark.table(TABLE).select(F.col("doc_id").alias("y"), "bkey"),
                "bkey",
            )
            plan = j._jdf.queryExecution().executedPlan().toString()
            return plan.count("Sort ["), plan.count("Exchange hashpartitioning")
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    sorts_pre, exch_pre = join_sorts()
    t0 = time.time()
    D.compact_minhash_band_table(index, TABLE, n_buckets=32)
    compact_s = time.time() - t0
    sorts_post, exch_post = join_sorts()

    # one more served epoch against the compacted table, parity-checked
    batch = _docs(spark, lo, lo + N_BATCH).localCheckpoint(eager=True)
    bk = D.incremental_minhash_near_dup_bucketed(
        batch, index, TABLE, threshold=0.5, max_band_size=64
    )
    t0 = time.time()
    n, h = pairs_check(bk)
    post_serve_s = round(time.time() - t0, 2)
    fl = D.incremental_minhash_near_dup(
        batch, index, threshold=0.5, max_band_size=64
    )
    parity["post_compact"] = (n, h) == pairs_check(fl) and n > 0

    drift = serve_s[-1] / serve_s[0] if serve_s[0] > 0 else float("inf")
    out = {
        "n_corpus": N_CORPUS,
        "n_batch": N_BATCH,
        "epochs": EPOCHS,
        "index_build_s": round(index_build_s, 2),
        "band_table_write_s": round(band_write_s, 2),
        "serve_s_per_epoch": serve_s,
        "append_s_per_epoch": append_s,
        "serve_drift_last_over_first": round(drift, 2),
        "compact_s": round(compact_s, 2),
        "post_compact_serve_s": post_serve_s,
        "join_sorts_pre_compact": sorts_pre,
        "join_sorts_post_compact": sorts_post,
        "parity": parity,
    }
    print(json.dumps(out))
    ok = (
        all(parity.values())
        and sorts_pre == 2
        and sorts_post == 1
        and exch_pre == 1
        and exch_post == 1
        and drift <= DRIFT_MAX
    )
    spark.sql(f"DROP TABLE IF EXISTS {TABLE}")
    shutil.rmtree(root, ignore_errors=True)
    spark.stop()
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
