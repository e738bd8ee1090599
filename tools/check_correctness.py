"""Local stand-in for the driver's correctness gate.

Runs every declared query at sf0.01 in Spark AND its DuckDB oracle,
compares row count, column names, and an order-insensitive value hash
(columns sorted by name, rows sorted by all columns, values stringified).

Usage: python tools/check_correctness.py [query_name ...]
Set CHECK_SF_DIR to sweep a different scale (e.g. /root/testdata/sf0.1
— the 10× robustness pass; float-determinism rules must hold at every
scale, not just the driver's fixture).

Per-query wall seconds are persisted to SWEEP_TIMINGS.local.json, which
git ignores (override with CHECK_TIMINGS_OUT; full sweeps only — subset
runs skip the write), so slowest-query drift is diffable against the
tracked SWEEP_TIMINGS.json profile instead of living in scrollback (the
57.6 s doc_pipeline_e2e entry was once only visible in a sweep log).
Running the gate leaves the tree clean: timings are host-specific, and
the tracked profile changes only when someone copies a sweep over it.
"""

from __future__ import annotations

import atexit
import hashlib
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

import duckdb
import pandas as pd

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

SF_DIR = os.environ.get("CHECK_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _cpu_cal() -> dict:
    """Fixed-work CPU stamp — same probes as bench.py _cpu_calibration."""
    import time as _t

    t0 = _t.time()
    x = 0
    for i in range(10**7):
        x += i * i
    loop_s = _t.time() - t0
    try:
        import numpy as _np

        a = _np.random.default_rng(42).random((1024, 1024))
        t0 = _t.time()
        for _ in range(8):
            a = (a @ a) % 1.0 + 0.5
        matmul_s = (_t.time() - t0) / 8
    except Exception:
        matmul_s = -1.0
    return {"python_loop_1e7_s": round(loop_s, 3),
            "numpy_matmul_1024_s": round(matmul_s, 4)}


def canon(df: pd.DataFrame) -> tuple[int, list[str], str]:
    import decimal

    cols = sorted(df.columns)
    df = df[cols].copy()
    for c in cols:
        # stringify deterministically; floats via repr (shortest
        # round-trip). DECIMAL columns arrive asymmetrically: Spark's
        # toPandas keeps decimal.Decimal objects, duckdb's fetchdf
        # degrades DECIMAL to float64 — so a value whose cents digit is
        # zero stringifies as '…X.30' on one side and '…X.3' on the
        # other and a VALUE-EQUAL row hashes unequal (first hit:
        # rel_bloom_semijoin_revenue at sf0.001, sum 20712143.30; the
        # sf0.01/sf0.1 fixtures never produced a trailing-zero decimal
        # sum, which is why 14 rounds of sweeps missed it). Normalize
        # Decimal through float's repr — exact for every DECIMAL(18,2)
        # magnitude these fixtures can produce (< 2^53) — so both
        # engines' representations of the same value hash identically;
        # genuinely different values still differ.
        def _canon_value(v):
            if isinstance(v, decimal.Decimal):
                # Guard the degradation (ADVICE r15): float round-trips
                # integers exactly only below 2^53. If a future fixture
                # or query ever emits a wider decimal, fail LOUDLY here
                # instead of hashing two sub-ulp-distinct values equal.
                assert abs(v) < decimal.Decimal(2) ** 53, (
                    f"DECIMAL {v} exceeds float's exact range; "
                    "canon would degrade it lossily"
                )
                return repr(float(v))
            if isinstance(v, float):
                return repr(v)
            return str(v)

        df[c] = df[c].map(_canon_value)
    rows = sorted(df.itertuples(index=False, name=None))
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return len(rows), cols, h.hexdigest()


def main() -> int:
    import __spark_entry__ as E
    from aeuc_vector_db_spark.session import get_spark

    # a throwaway warehouse: tables the queries save must not land in
    # ./spark-warehouse, where a later run or the tests would find them
    warehouse = tempfile.mkdtemp(prefix="check-correctness-warehouse-")
    atexit.register(shutil.rmtree, warehouse, ignore_errors=True)
    spark = get_spark("correctness-check",
                      extra_conf={"spark.sql.warehouse.dir": warehouse})
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    # Warm the session before the timed loop — JVM JIT, first-shuffle
    # setup, and parquet footer listing otherwise land entirely on
    # whichever query runs FIRST (ann_ivf_recall, as DRIVER_PRIORITY
    # head, was charged 23 s in the sweep vs 4.4 s measured cold on a
    # warm box), making the persisted per-query timings incomparable.
    from pyspark.sql import functions as F

    spark.range(1_000_000).groupBy(F.col("id") % 7).count().collect()
    for t in TABLES:
        spark.read.parquet(f"{SF_DIR}/{t}.parquet").limit(1).collect()
    # spin up the Python worker pool too (workers are reused afterwards
    # — spark.python.worker.reuse): otherwise the first Arrow/pandas
    # query is charged ~5 s of interpreter fleet startup
    spark.range(64).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).count()

    qs = E.queries()
    oracles = E.oracle_sql()
    only = set(sys.argv[1:])
    failures = 0
    timings: dict[str, float] = {}

    def _loop_stamp() -> float:
        # the stable per-block stamp (loop, not matmul — see bench.py
        # _cal_norm for the r11 forensics on matmul's turbo lottery)
        t = time.time()
        x = 0
        for i in range(10**7):
            x += i * i
        return round(time.time() - t, 3)

    # the CPU loop stamp is blind to the OTHER host-noise axis found in
    # round-14 forensics: shared-DISK contention (observed loadavg 14.5
    # at 96.9% idle CPU — dozens of tasks in D-state I/O sleep). A
    # 32-thread Spark scan stalls on that while the 1-thread stamp
    # reads healthy — the r13 'clean stamps, slow tail' signature.
    # ONE shared parser (bench._io_state) so the iowait-tick index
    # cannot drift between the three stamp sites.
    from bench import _io_state

    # Per-BLOCK calibration stamps (round 14, VERDICT r13 #4): one
    # stamp every 10 completed queries, so tail drift in the persisted
    # sweep artifact is attributable to host vs code from the artifact
    # alone — the r13 sf0.1 sweep embedded a single run-level stamp and
    # its 2-30x tail swings (sql_entry_pricing 30.9 s vs its 1.3 s
    # bit-identical twin) were undecidable without a solo rerun. Each
    # block carries the loop stamp (CPU), loadavg, the iowait share of
    # ALL cpu ticks since the previous block (disk contention), and the
    # hypervisor steal share (round 15: warm-session trade_pagerank at
    # ~9 s read 30.4 s in a sweep whose CPU + iowait stamps were clean;
    # `st` in vmstat was the only visible axis).
    def _block_stamp(n: int, prev: "tuple[float, int, int, int] | None") -> dict:
        load1, iow, tot, steal = _io_state()
        d = {"n_done": n, "python_loop_1e7_s": _loop_stamp(),
             "loadavg_1m": load1}
        if prev is not None:
            dt = tot - prev[2]
            d["iowait_frac"] = round((iow - prev[1]) / dt, 4) if dt else 0.0
            d["steal_frac"] = round((steal - prev[3]) / dt, 4) if dt else 0.0
        return d

    _prev_io = _io_state()
    block_stamps: list[dict] = [_block_stamp(0, None)]
    n_done = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception:
            print(f"FAIL  {name}: spark query raised")
            traceback.print_exc()
            failures += 1
            continue
        finally:
            timings[name] = round(time.time() - t0, 3)
            # drop py4j refs promptly: iterative queries (pagerank,
            # pipeline_e2e) eagerly localCheckpoint loop-invariant
            # tables, and their storage blocks are only released when
            # the Python DataFrame objects are collected — over a
            # 160-query session the leak showed up as mid-sweep
            # slowdown bursts on unrelated queries
            import gc

            gc.collect()
            # gc.collect() alone is NOT enough: dropping the JVM
            # DataFrame reference queues the RDD for Spark's
            # ContextCleaner, which only unpersists after a JVM GC —
            # and its safety-net periodic GC defaults to 30 MINUTES,
            # longer than the whole sweep, so checkpoint/cache blocks
            # from 174 queries pile up in executor storage for the
            # session's whole life. Unpersist every still-tracked RDD
            # explicitly — queries are independent, so nothing live is
            # evicted. (Round-13 note: in-sweep vs solo timing swings
            # on this box turned out to be mostly shared-host noise —
            # the single-thread calibration stamp itself swung 0.57 →
            # 0.88 s within one session — so read per-query numbers
            # against the embedded cpu_calibration, not raw.)
            spark.catalog.clearCache()
            for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                rdd.unpersist(False)
            n_done += 1
            if n_done % 10 == 0:
                block_stamps.append(_block_stamp(n_done, _prev_io))
                _prev_io = _io_state()
        if name not in oracles:
            print(f"rows-only  {name}: {len(sdf)} rows  ({time.time()-t0:.1f}s)")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception:
            print(f"FAIL  {name}: oracle SQL raised")
            traceback.print_exc()
            failures += 1
            continue
        sn, sc, sh = canon(sdf)
        on, oc, oh = canon(odf)
        status = "ok" if (sn, sc, sh) == (on, oc, oh) else "FAIL"
        if status == "FAIL":
            failures += 1
            print(f"FAIL  {name}: rows {sn}/{on} cols {sc}/{oc} hash {'=' if sh==oh else '≠'}")
            if sc == oc and sn == on:
                # show first differing rows for debugging
                merged = sdf[sorted(sdf.columns)].round(9)
                omerged = odf[sorted(odf.columns)].round(9)
                key = sorted(sdf.columns)
                a = merged.sort_values(key).reset_index(drop=True)
                b = omerged.sort_values(key).reset_index(drop=True)
                neq = (a.astype(str) != b.astype(str)).any(axis=1)
                print(a[neq].head(3))
                print(b[neq].head(3))
        else:
            print(f"ok    {name}  ({sn} rows, {time.time()-t0:.1f}s)")
    print(f"\n{'ALL GREEN' if failures == 0 else f'{failures} FAILURES'}")
    if not only:  # full sweep: persist the timing profile (spark side only)
        out = os.environ.get(
            "CHECK_TIMINGS_OUT", os.path.join(REPO_ROOT, "SWEEP_TIMINGS.local.json")
        )
        with open(out, "w") as fh:
            json.dump(
                {
                    "sf_dir": SF_DIR,
                    "total_s": round(sum(timings.values()), 3),
                    "slowest": sorted(
                        timings, key=timings.get, reverse=True
                    )[:10],
                    "queries": timings,
                    # box-speed stamp (see bench.py _cpu_calibration):
                    # the round-9 host oscillated 2x at zero load, so
                    # per-query drift across sweeps must be read
                    # against this, not assumed to be code
                    "cpu_calibration": _cpu_cal(),
                    # per-10-query loop stamps (round 14, VERDICT r13
                    # #4): burst noise vs regression is decidable from
                    # the artifact — find the block a slow query sits
                    # in and read its bracketing stamps
                    "block_stamps": block_stamps,
                },
                fh,
                indent=1,
                sort_keys=True,
            )
        print(f"timings → {out}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
