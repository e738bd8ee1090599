"""Fixed cost of one Python-worker task in the engine's session.

Starts `get_spark`, then runs a 4-task no-op RDD map and a 4-task no-op
`mapInArrow` five times each. Each task reads its worker's CPU time
(user + system, `resource.getrusage`). The difference between two
consecutive tasks of one worker process is the worker CPU one task
costs, set-up included. Prints one JSON line with the median per-task
worker CPU and the median job wall time of the last four runs of each
kind (the first run starts the workers and imports pyarrow):

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


def _worker_cpu():
    import resource

    ru = resource.getrusage(resource.RUSAGE_SELF)
    return os.getpid(), ru.ru_utime + ru.ru_stime


def _rdd_run(spark):
    return spark.sparkContext.parallelize(range(TASKS), TASKS).map(
        lambda _: _worker_cpu()
    ).collect()


def _arrow_run(spark):
    def noop(batches):
        import pyarrow as pa

        for _ in batches:
            pass
        pid, cpu = _worker_cpu()
        yield pa.RecordBatch.from_pydict({"pid": [pid], "cpu": [cpu]})

    rows = spark.range(0, TASKS, 1, TASKS).mapInArrow(noop, "pid long, cpu double").collect()
    return [(r["pid"], r["cpu"]) for r in rows]


def measure(spark, run):
    """(median per-task worker CPU in ms, median job wall time in s) over
    runs 2..RUNS of `run`."""
    last_cpu: dict[int, float] = {}
    task_ms, job_s = [], []
    for i in range(RUNS):
        t0 = time.perf_counter()
        obs = run(spark)
        wall = time.perf_counter() - t0
        for pid, cpu in obs:
            if i > 0 and pid in last_cpu:
                task_ms.append((cpu - last_cpu[pid]) * 1000)
            last_cpu[pid] = cpu
        if i > 0:
            job_s.append(wall)
    return (
        round(statistics.median(task_ms), 1) if task_ms else None,
        round(statistics.median(job_s), 3),
    )


def main() -> None:
    spark = get_spark(app_name="worker-task-cost", cpus=TASKS,
                      extra_conf={"spark.driver.memory": "2g",
                                  "spark.ui.showConsoleProgress": "false"})
    try:
        rdd_ms, rdd_s = measure(spark, _rdd_run)
        arrow_ms, arrow_s = measure(spark, _arrow_run)
        print(json.dumps({
            "rdd_task_cpu_ms": rdd_ms,
            "rdd_job_s": rdd_s,
            "arrow_task_cpu_ms": arrow_ms,
            "arrow_job_s": arrow_s,
            "tasks": TASKS,
            "python": sys.version.split()[0],
            "daemon": spark.conf.get("spark.python.daemon.module", "pyspark.daemon"),
        }))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
