"""Seeded end-to-end benchmark of the engine.

Run from the repository root:

    python3 perfbench/run.py --workload ivf-ingest --seed 1 --seconds 5 --trace 0

Workloads: ivf-ingest and facade-curation (see workloads.py and
README.md). The run generates its inputs from --seed
into .perfbench-tmp/ (untimed), starts the session and sets the
workload up (timed together as `setup_s`), warms the operations up,
then sends operations in a closed loop with one client — whole cycles
of the workload's operation mix, until --seconds have passed — and
checks every output against the generator's ground truth.

The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones
(every other operation of each kind traced, the rest untraced, so the
tracing overhead is measured within the run). The line before it holds
run details: environment, the run's wall time, sample counts, tail
percentiles and the workload's own named metrics.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import Counter

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

DRIVER_MEMORY = "2g"

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "items_per_s": "1/s",
    "result_recall": "fraction",
    "peak_rss_mb": "MB",
}

#: per-layer metric → unit: the median per-op value of the count of that
#: name or, for a name ending in `_s` that no count has, the median per-op
#: self time of the span named without the suffix
PER_LAYER = {
    "session.jobs_per_op": "count",
    "session.tasks_per_op": "count",
    "sources.scan_s": "s",
    "sources.files_scanned_per_search": "count",
    "sources.write_s": "s",
    "sources.files_per_append": "count",
    "sources.bytes_written_per_user_byte": "ratio",
    "schemas.validate_s": "s",
    "search.plan_build_s": "s",
    "search.kernel_s": "s",
    "search.pair_scores_per_s": "1/s",
    "search.knn_single_s": "s",
    "ann.probe_s": "s",
    "ann.cells_probed_per_query": "count",
    "ann.rows_examined_per_result": "ratio",
    "ann.assign_s": "s",
    "ann.index_build_s": "s",
    "dedup.shingle_s": "s",
    "dedup.candidates_s": "s",
    "dedup.verify_s": "s",
    "dedup.exact_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.verified_frac": "fraction",
    "text.features_s": "s",
    "vector_field.search_s": "s",
    "vector_field.add_s": "s",
    "crud.digest_s": "s",
    "trace.overhead_frac": "fraction",
}


def pin_environment(workdir: str) -> dict:
    """Size the session to this machine through the variables
    session.py and Spark read, and keep every scratch file in `workdir`."""
    local = os.path.join(workdir, "spark-local")
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": local,
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "TMPDIR": tmp,
        # every JVM started here (spark-submit's launcher and the driver)
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        # Python workers unpickle engine functions by module path
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    }
    os.environ.update(env)
    return env


def start_session(workdir: str):
    from aeuc_vector_db_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        },
    )


def stop_session(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both the
    JVM and the Python workers under it to end."""
    from pyspark import SparkContext

    from stats import process_tree

    gateway = SparkContext._gateway
    spawned = [p for p in process_tree() if p != os.getpid()]
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on end of input
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = []
        for pid in spawned:
            try:
                os.kill(pid, 0)
                alive.append(pid)
            except ProcessLookupError:
                pass
        if not alive:
            return
        time.sleep(0.1)
    raise RuntimeError(f"processes still running after shutdown: {alive}")


def job_counts(spark, group: str) -> tuple[int, int]:
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        for sid in info.stageIds if info else ():
            stage = tracker.getStageInfo(sid)
            tasks += stage.numTasks if stage else 0
    return len(jobs), tasks


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    import numpy as np

    from spans import Tracer
    from stats import OpLog, cpu_ticks, tree_peak_rss_mb
    from workloads import WORKLOADS

    workdir = os.path.join(ROOT, ".perfbench-tmp", f"{workload}-{seed}-{os.getpid()}")
    os.makedirs(workdir)
    spark = wl = None
    try:
        env = pin_environment(workdir)
        import pyspark

        import aeuc_vector_db_spark  # noqa: F401 — fail before any work

        phases = {}
        t0 = time.perf_counter()
        tracer = Tracer(False)
        wl = WORKLOADS[workload](tracer, workdir)
        wl.generate(np.random.default_rng(seed))
        phases["generate_s"] = time.perf_counter() - t0
        if trace:
            wl.install_tracing()

        t0 = time.perf_counter()
        spark = start_session(workdir)
        phases["session_s"] = time.perf_counter() - t0
        t1 = time.perf_counter()
        tracer.enabled = trace
        wl.setup(spark)
        tracer.enabled = False
        phases["workload_setup_s"] = time.perf_counter() - t1
        setup_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        wl.warmup()
        phases["warmup_s"] = time.perf_counter() - t0

        log, traced_ops = OpLog(), set()
        per_kind = Counter()
        peak = tree_peak_rss_mb()
        steal0, ticks0 = cpu_ticks()
        deadline = time.perf_counter() + seconds
        i = 0
        while True:
            kind = wl.kind_of(i)
            traced = trace and per_kind[kind] % 2 == 0
            per_kind[kind] += 1
            tracer.enabled, tracer.op = traced, (i if traced else None)
            group = f"perfbench-op{i}"
            if traced:
                traced_ops.add(i)
            if trace:
                spark.sparkContext.setJobGroup(group, kind)
            t0, latency = time.perf_counter(), None
            try:
                with tracer.span("op"):
                    kind, items, out = wl.op(i)
                latency = time.perf_counter() - t0
                tracer.enabled = False
                if trace:
                    spark.sparkContext.setJobGroup("perfbench-check", "check")
                ok, note = wl.check(i, kind, out)
            except Exception:  # a failed operation is counted, not fatal
                if latency is None:
                    latency = time.perf_counter() - t0
                ok, items, note = False, 0, traceback.format_exc()
            tracer.enabled = False
            if not ok:
                print(f"op {i} ({kind}) failed: {note}", file=sys.stderr)
            log.record(kind, latency, ok, items, note)
            if trace and not traced:
                # Spark work of the operation itself, without the probes
                # a traced operation adds
                jobs, tasks = job_counts(spark, group)
                tracer.count("session.jobs_per_op", jobs, op=i)
                tracer.count("session.tasks_per_op", tasks, op=i)
            peak = max(peak, tree_peak_rss_mb())
            i += 1
            # whole cycles only: latency within a cycle follows its writes
            # and passes, so a run cut mid-cycle would weight a faster
            # system's median toward the cycle's later operations
            if i % len(wl.CYCLE) == 0 and time.perf_counter() >= deadline:
                break
        elapsed = seconds + (time.perf_counter() - deadline)
        phases["loop_s"] = elapsed
        steal1, ticks1 = cpu_ticks()

        def finite(v: float) -> float:
            # more than the percentile's share of ops failed: report the run length
            return v if math.isfinite(v) else elapsed

        prim = log.summary(wl.primary)
        e2e = {
            "setup_s": setup_s,
            "op_p50_s": finite(prim["p50_s"]),
            "items_per_s": log.items(wl.primary) / log.busy_s(),
            "result_recall": wl.quality(),
            "peak_rss_mb": peak,
        }
        layers = {}
        if trace:
            recorded = tracer.per_op()
            for name in PER_LAYER:
                if name == "ann.index_build_s":
                    layers[name] = tracer.setup_median("ann.index_build")
                elif name in recorded or not name.endswith("_s"):
                    layers[name] = tracer.median_per_op(name)
                else:
                    layers[name] = tracer.median_per_op(name[:-2])
            # traced latency without the probes' extra actions: what the
            # spans and counts themselves cost
            on = [o.latency_s - tracer.probe_s(n) for n, o in enumerate(log.ops)
                  if n in traced_ops and o.ok and o.kind == wl.primary]
            off = [o.latency_s for n, o in enumerate(log.ops)
                   if n not in traced_ops and o.ok and o.kind == wl.primary]
            layers["trace.overhead_frac"] = (
                statistics.median(on) / statistics.median(off) - 1.0 if on and off else 0.0
            )
            out_dir = os.path.join(ROOT, ".perfbench-out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"trace-{workload}-seed{seed}.jsonl"))

        info = {
            "workload": workload,
            "seed": seed,
            "nproc": int(env["SPARK_GRAFT_CPUS"]),
            "loadavg": os.getloadavg(),
            # host contention during the loop: latencies of one seed swing
            # up to 3x with it
            "loop_cpu_steal_frac": (steal1 - steal0) / max(1, ticks1 - ticks0),
            "pyspark": pyspark.__version__,
            "driver_memory": DRIVER_MEMORY,
            "phases_s": phases,
            # process start to this line; the stop of the session follows
            "run_wall_s": time.perf_counter() - T_START,
            "op_fail_frac": log.fail_frac,
            "ops": {k: log.summary(k) for k in sorted({o.kind for o in log.ops})},
            "op_latencies_s": [(o.kind, round(o.latency_s, 4), o.ok) for o in log.ops],
            "named": wl.named_metrics(log),
        }
        print(json.dumps({"info": info}))
        metrics = layers if trace else e2e
        units = PER_LAYER if trace else END_TO_END
        return {
            "correct": log.failed == 0,
            "attempted": log.attempted,
            "failed": log.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:  # another run's directory is still there
            pass


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
