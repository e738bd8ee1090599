"""RFM selection-path skew soak (VERDICT r10 #7 / round-11 ADVICE).

The tie-run concern: frequency buckets with width 1, so when a metric
is heavily tied the boundary COARSE bucket is one giant negv run —
the regime where round 10's whole-bucket sort would have been a
single-task straggler and round 11's two-level refinement must keep
every per-task unit bounded. This soak:

  1. writes a synthetic skewed orders table (~10x the sf0.1 customer
     count): 90% of customers place 1-3 orders (freq ties massed onto
     three values) and order dates collapse onto a handful of days
     (recency ties too), totalprice spread normally;
  2. runs the DECLARED rel_rfm_segments end-to-end on it and
     hash-compares against the canonical NTILE oracle in DuckDB on the
     SAME parquet — correctness AT skew scale, not just the fixture;
  3. measures the stage sizes the comment claims are bounded:
     boundary-bucket candidate rows, refinement-histogram rows per
     (metric, seg) (the one cum-window whose size skew governs), and
     the FINAL row_number sliver per (metric, seg) — asserted <= 65536
     by construction.

Prints JSON lines; results go to PLANS.md (round-11 soak entry).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import tempfile
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402
from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from aeuc_vector_db_spark.session import get_spark  # noqa: E402

N_CUST = 150_000  # ~10x sf0.1's 15k customers


def canon(df: pd.DataFrame) -> tuple[int, str]:
    cols = sorted(df.columns)
    df = df[cols].copy()
    for c in cols:
        df[c] = df[c].map(lambda v: repr(v) if isinstance(v, float) else str(v))
    rows = sorted(df.itertuples(index=False, name=None))
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return len(rows), h.hexdigest()


def main() -> int:
    spark = get_spark("soak-rfm-skew")
    root = tempfile.mkdtemp(prefix="soak_rfm_")
    try:
        # skewed synthetic orders: 90% of customers have freq 1-3
        # (custkey % 10 < 9 -> freq = 1 + custkey % 3); the rich tail
        # has freq 4-40. Dates collapse onto 8 distinct days (recency
        # ties), prices spread.
        t0 = time.time()
        cust = spark.range(1, N_CUST + 1).select(F.col("id").alias("ck"))
        freq = F.when(
            F.col("ck") % 10 < 9, 1 + F.col("ck") % 3
        ).otherwise(4 + F.col("ck") % 37)
        orders = (
            cust.select("ck", freq.alias("n"))
            .select("ck", F.explode(F.sequence(F.lit(1), F.col("n"))).alias("i"))
            .select(
                F.col("ck").alias("o_custkey"),
                F.to_timestamp(
                    F.concat(
                        F.lit("199"),
                        ((F.col("ck") + F.col("i")) % 5).cast("string"),
                        F.lit("-01-0"),
                        (1 + (F.col("ck") * 7 + F.col("i")) % 8).cast("string"),
                    )
                ).alias("o_orderdate"),
                (
                    F.round(
                        (F.col("ck") * 31 + F.col("i") * 977) % 100000
                        + F.lit(0.17),
                        2,
                    )
                ).cast("double").alias("o_totalprice"),
            )
        )
        orders.write.mode("overwrite").parquet(f"{root}/orders.parquet")
        n_orders = spark.read.parquet(f"{root}/orders.parquet").count()
        print(f"# synthetic orders: {n_orders} rows for {N_CUST} customers "
              f"({time.time() - t0:.1f}s)", file=sys.stderr)

        # --- declared query end-to-end + NTILE oracle hash ------------
        import aeuc_vector_db_spark.queries as Q

        t0 = time.time()
        sdf = Q.queries()["rel_rfm_segments"](spark, root).toPandas()
        q_s = time.time() - t0
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW orders AS SELECT * FROM "
            f"read_parquet('{root}/orders.parquet/*.parquet')"
        )
        oracle = Q.oracle_sql()["rel_rfm_segments"]
        odf = con.execute(oracle).fetchdf()
        sh, oh = canon(sdf), canon(odf)
        print(json.dumps({
            "n_customers": N_CUST, "n_orders": n_orders,
            "query_s": round(q_s, 2), "segments": len(sdf),
            "hash_match": sh == oh,
        }))

        # --- stage-size measurement (mirrors _rfm_segments' stages;
        # duplicated here deliberately — a one-shot measurement tool,
        # kept in sync by the hash check above exercising the real
        # query on the same data) ---------------------------------
        per_cust = (
            spark.read.parquet(f"{root}/orders.parquet")
            .groupBy("o_custkey")
            .agg(
                F.max(F.expr("unix_micros(o_orderdate)")).alias("recency_us"),
                F.count(F.lit(1)).alias("freq"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend"),
            )
            .select(
                "o_custkey", "recency_us", "freq",
                (F.col("spend") * 100).cast("long").alias("spend_c"),
            )
            .localCheckpoint(eager=False)
        )
        melted = None
        for mname, col, width in (
            ("r", "recency_us", 86_400_000_000),
            ("f", "freq", 1),
            ("m", "spend_c", 100_000),
        ):
            part = per_cust.select(
                F.lit(mname).alias("metric"),
                (-F.col(col)).alias("negv"),
                F.col("o_custkey").alias("ck"),
            ).withColumn("bkt", F.expr(f"negv div {width}L"))
            melted = part if melted is None else melted.unionByName(part)
        hist = melted.groupBy("metric", "bkt").agg(F.count(F.lit(1)).alias("cnt"))
        wg = Window.partitionBy("metric").orderBy("bkt")
        cum = hist.withColumn(
            "cum", F.sum("cnt").over(wg.rowsBetween(Window.unboundedPreceding, 0))
        ).withColumn("n", F.sum("cnt").over(Window.partitionBy("metric")))
        targets = (
            cum.withColumn("seg", F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))))
            .withColumn(
                "c", F.expr("seg * (n div 4) + least(cast(seg as bigint), n % 4)")
            )
            .filter(
                (F.col("cum") >= F.col("c"))
                & (F.col("cum") - F.col("cnt") < F.col("c"))
            )
            .select(
                "metric", "bkt", "seg",
                (F.col("c") - (F.col("cum") - F.col("cnt"))).alias("off"),
            )
        )
        CKW = 65536
        cand = melted.join(F.broadcast(targets), ["metric", "bkt"]).withColumn(
            "ckb", F.expr(f"ck div {CKW}L")
        )
        cand_sizes = {
            f"{r['metric']}{r['seg']}": int(r["n"])
            for r in cand.groupBy("metric", "seg")
            .agg(F.count(F.lit(1)).alias("n")).collect()
        }
        h2 = cand.groupBy("metric", "seg", "off", "negv", "ckb").agg(
            F.count(F.lit(1)).alias("cnt2")
        )
        h2_sizes = {
            f"{r['metric']}{r['seg']}": int(r["n"])
            for r in h2.groupBy("metric", "seg")
            .agg(F.count(F.lit(1)).alias("n")).collect()
        }
        w2 = Window.partitionBy("metric", "seg").orderBy("negv", "ckb")
        c2 = h2.withColumn(
            "cum2", F.sum("cnt2").over(w2.rowsBetween(Window.unboundedPreceding, 0))
        )
        t2 = c2.filter(
            (F.col("cum2") >= F.col("off"))
            & (F.col("cum2") - F.col("cnt2") < F.col("off"))
        ).select("metric", "seg", "negv", "ckb")
        sliver_sizes = {
            f"{r['metric']}{r['seg']}": int(r["n"])
            for r in cand.join(F.broadcast(t2), ["metric", "seg", "negv", "ckb"])
            .groupBy("metric", "seg")
            .agg(F.count(F.lit(1)).alias("n")).collect()
        }
        max_sliver = max(sliver_sizes.values())
        print(json.dumps({
            "boundary_bucket_rows": cand_sizes,
            "refinement_hist_rows": h2_sizes,
            "final_sliver_rows": sliver_sizes,
            "max_final_sliver": max_sliver,
            "sliver_bound_ok": max_sliver <= CKW,
        }))
        ok = sh == oh and max_sliver <= CKW
        print(json.dumps({"soak_ok": ok}))
        return 0 if ok else 1
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
