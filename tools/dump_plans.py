"""Dump .explain("formatted") for declared queries to plans/<tag>/.

Usage: python tools/dump_plans.py <tag> <suffix> [query ...]
  tag     subdirectory under plans/ (e.g. r15)
  suffix  appended to the file name (e.g. before -> <query>_before.txt)
  query   optional subset; default = every declared query

Set PLAN_SF_DIR to choose the scale (default /root/testdata/sf0.1).
The formatted plan is the pre-execution plan (AdaptiveSparkPlan shows
isFinalPlan=false); that is the artifact the optimization round's
before/after claims are checked against.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

SF_DIR = os.environ.get("PLAN_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    tag, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]

    import aeuc_vector_db_spark.queries as Q
    from aeuc_vector_db_spark.session import get_spark

    registry = Q.queries()
    from aeuc_vector_db_spark.queries import (
        core as _Qcore,
        manifest_q as _Qmanifest,
        relational as _Qrel,
        textops as _Qtext,
    )

    for _mod in (_Qcore, _Qmanifest, _Qrel, _Qtext):
        for _n, (_fn, _sql) in getattr(_mod, "FOLDED", {}).items():
            registry.setdefault(_n, _fn)

    if not names:
        names = sorted(registry)

    outdir = os.path.join(os.path.dirname(os.path.dirname(__file__)),
                          "plans", tag)
    os.makedirs(outdir, exist_ok=True)

    spark = get_spark(f"dump-plans-{tag}")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    n_ok = 0
    for i, name in enumerate(names):
        fn = registry.get(name)
        if fn is None:
            print(f"# SKIP unknown query {name}", file=sys.stderr)
            continue
        t0 = time.time()
        try:
            df = fn(spark, SF_DIR)
            text = df._jdf.queryExecution().explainString(mode)
        except Exception:
            text = traceback.format_exc()
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(f"== {name} (sf_dir={SF_DIR}, mode=formatted) ==\n")
            fh.write(text)
        n_ok += 1
        print(f"# [{i + 1}/{len(names)}] {name}: {time.time() - t0:.2f}s",
              file=sys.stderr)
        # bound session aging the same way bench.py does
        if n_ok % 40 == 0:
            spark.stop()
            spark = get_spark(f"dump-plans-{tag}-{n_ok}")
            mode = (spark._jvm.org.apache.spark.sql.execution.ExplainMode
                    .fromString("formatted"))
    spark.stop()
    print(f"# wrote {n_ok} plans to {outdir}", file=sys.stderr)


if __name__ == "__main__":
    main()
