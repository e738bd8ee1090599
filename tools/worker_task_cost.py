"""Fixed cost of one Python-worker task in the engine's session.

Starts `get_spark`, then runs a 4-task no-op RDD map and a 4-task no-op
`mapInArrow` five times each. Each task reads its worker's CPU time
(user + system, `resource.getrusage`) and counts the objects the
worker's garbage collector tracks outside the frozen heap
(`len(gc.get_objects())`): the heap that the collect after each task
scans. The difference between two consecutive tasks of one worker
process is the worker CPU one task costs, set-up included. Prints one
JSON line with, for the last four runs of each kind (the first run
starts the workers and imports pyarrow), the median per-task worker
CPU, the median job wall time and the median tracked-object count at
task start, and whether tasks reach their workers over Unix domain
sockets:

    python tools/worker_task_cost.py

Like the other tools it tests its own checkout, whatever the working
directory.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from aeuc_vector_db_spark.session import get_spark  # noqa: E402

TASKS = 4
RUNS = 5


def _worker_state():
    """(pid, worker CPU seconds so far, unfrozen tracked objects)."""
    import gc
    import resource

    objects = len(gc.get_objects())
    ru = resource.getrusage(resource.RUSAGE_SELF)
    return os.getpid(), ru.ru_utime + ru.ru_stime, objects


def _rdd_run(spark):
    return spark.sparkContext.parallelize(range(TASKS), TASKS).map(
        lambda _: _worker_state()
    ).collect()


def _arrow_run(spark):
    def noop(batches):
        import pyarrow as pa

        pid, cpu, objects = _worker_state()
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"pid": [pid], "cpu": [cpu], "objects": [objects]})

    rows = spark.range(0, TASKS, 1, TASKS).mapInArrow(
        noop, "pid long, cpu double, objects long"
    ).collect()
    return [(r["pid"], r["cpu"], r["objects"]) for r in rows]


def measure(spark, run):
    """(median per-task worker CPU in ms, median job wall time in s,
    median unfrozen tracked objects at task start) over runs 2..RUNS of
    `run`."""
    last_cpu: dict[int, float] = {}
    task_ms, job_s, objects = [], [], []
    for i in range(RUNS):
        t0 = time.perf_counter()
        obs = run(spark)
        wall = time.perf_counter() - t0
        for pid, cpu, n in obs:
            if i > 0 and pid in last_cpu:
                task_ms.append((cpu - last_cpu[pid]) * 1000)
            last_cpu[pid] = cpu
            if i > 0:
                objects.append(n)
        if i > 0:
            job_s.append(wall)
    return (
        round(statistics.median(task_ms), 1) if task_ms else None,
        round(statistics.median(job_s), 3),
        int(statistics.median(objects)),
    )


def main() -> None:
    spark = get_spark(app_name="worker-task-cost", cpus=TASKS,
                      extra_conf={"spark.driver.memory": "2g",
                                  "spark.ui.showConsoleProgress": "false"})
    try:
        rdd_ms, rdd_s, rdd_objects = measure(spark, _rdd_run)
        arrow_ms, arrow_s, arrow_objects = measure(spark, _arrow_run)
        conf = spark.sparkContext.getConf()
        print(json.dumps({
            "rdd_task_cpu_ms": rdd_ms,
            "rdd_job_s": rdd_s,
            "rdd_tracked_objects": rdd_objects,
            "arrow_task_cpu_ms": arrow_ms,
            "arrow_job_s": arrow_s,
            "arrow_tracked_objects": arrow_objects,
            "tasks": TASKS,
            "python": sys.version.split()[0],
            "daemon": conf.get("spark.python.daemon.module", "pyspark.daemon"),
            "unix_domain_socket": conf.get(
                "spark.python.unix.domain.socket.enabled", "false"
            ).lower() == "true",
        }))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
