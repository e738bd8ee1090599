"""Split a query's hot time into compute vs result-collection.

For each query: build the DataFrame once, run one untimed warm
execution, then time (a) min-of-3 .collect() — the bench's timed
action — and (b) min-of-3 noop-sink writes (guide §1.4: computes every
column of every row, discards the result, so the driver's py4j row
serialization is excluded). The gap between the two IS the collect
overhead; the noop number is the query's actual compute.

Usage: python tools/profile_queries.py [query ...]   (default: HEADLINE)
Env: PROFILE_SF_DIR (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

SF_DIR = os.environ.get("PROFILE_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    import aeuc_vector_db_spark.queries as Q
    from aeuc_vector_db_spark.session import get_spark
    from bench import HEADLINE, _loop_stamp

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

    names = sys.argv[1:] or [n for n in HEADLINE if n in registry]

    spark = get_spark("profile-queries")
    # warm codegen/Arrow/python-worker paths like bench.py does
    for warm_q in ("knn_cosine_topk", "knn_phi_topk"):
        registry[warm_q](spark, "/root/testdata/sf0.001").collect()

    out = {}
    stamp0 = _loop_stamp()
    for i, name in enumerate(names):
        fn = registry.get(name)
        if fn is None:
            continue
        if i and i % 8 == 0:
            spark.stop()
            spark = get_spark(f"profile-queries-{i}")
            for warm_q in ("knn_cosine_topk", "knn_phi_topk"):
                registry[warm_q](spark, "/root/testdata/sf0.001").collect()
        spark.sparkContext.setJobDescription(name)
        df = fn(spark, SF_DIR)
        rows = df.collect()  # warm (cold execution, untimed here)
        hot_collect = min(
            _timeit(lambda: df.collect()) for _ in range(3)
        )
        hot_noop = min(
            _timeit(
                lambda: df.write.format("noop").mode("overwrite").save()
            )
            for _ in range(3)
        )
        out[name] = {
            "collect_s": round(hot_collect, 4),
            "noop_s": round(hot_noop, 4),
            "rows": len(rows),
        }
        print(
            f"# {name}: collect {hot_collect:.3f}s noop {hot_noop:.3f}s "
            f"({len(rows)} rows)",
            file=sys.stderr,
        )
    spark.stop()
    print(json.dumps({"stamp": [stamp0, _loop_stamp()], "sf_dir": SF_DIR,
                      "queries": out}))


def _timeit(fn) -> float:
    t0 = time.time()
    fn()
    return time.time() - t0


if __name__ == "__main__":
    main()
