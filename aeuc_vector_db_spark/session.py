"""SparkSession factory tuned for this engine.

Local mode is the test substrate; the config choices (AQE on, shuffle
partitions sized to cores, Arrow on, UTC timezone) are the same ones that
matter on a real cluster — only the numbers change.

Python workers start from `worker_daemon`, pyspark's daemon with a zip
import cache that re-reads an archive only when it changed. Each stock
worker task calls `importlib.invalidate_caches()`, which before Python
3.12 re-reads `pyspark.zip` and the py4j zip once per package directory
imported from them: 150–250 ms of worker CPU per task on a 4-vCPU host,
against 12–25 ms with the daemon. Every Python UDF and
`mapInArrow`/`mapInPandas` stage of the engine (the IVF kernel, the
MinHash shingle kernel) paid it. The daemon imports this package from
the workers' `PYTHONPATH`, so the package's parent directory goes on
`spark.executorEnv.PYTHONPATH`, which also lets engine UDFs unpickle in
a session started from any working directory. The daemon also freezes
a worker's long-lived heap after a task that imported modules, so the
collect pyspark runs after every task scans only what tasks allocated
(see `worker_daemon`).

Tasks talk to their Python workers over Unix domain sockets
(`spark.python.unix.domain.socket.enabled`), not TCP loopback, which
Spark opens without `TCP_NODELAY`. On a 4-vCPU host the freeze took a
no-op task from 14–44 ms of worker CPU to 1–2 ms, the socket took its
job's wall time a further 20–25 % down, and together they made an IVF
batch search (4 Python-worker stages) 22 % faster. The sockets live in
a private directory, made once per process with mode 0700 and removed
at interpreter exit:
- under Unix domain sockets the daemon skips the worker secret
  handshake, so the directory's mode is what keeps other users off the
  sockets, as the secret did over TCP;
- it is made under `/tmp`, not in `java.io.tmpdir` (Spark's default):
  the daemon appends `/.{uuid4}.sock`, and a deep temp directory
  overflows the 107-byte `AF_UNIX` path limit, which fails every Python
  task.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

# the directory holding this package: Python workers import it from there
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_socket_dir: str | None = None


def _private_socket_dir() -> str:
    """This process's directory for Python-worker sockets (mode 0700,
    removed at exit); see the module docstring."""
    global _socket_dir
    if _socket_dir is None:
        _socket_dir = tempfile.mkdtemp(prefix="aeuc-spark-sock-", dir="/tmp")
        atexit.register(shutil.rmtree, _socket_dir, ignore_errors=True)
    return _socket_dir


def get_spark(
    app_name: str = "aeuc-vector-db-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults follow the local[32] test substrate; on a real cluster the
    caller overrides master/memory via spark-submit and only the SQL conf
    below carries over. A caller's `spark.python.daemon.module` or
    `spark.python.unix.domain.socket.*` in `extra_conf` replaces the
    engine's value; a caller's `spark.executorEnv.PYTHONPATH` is kept,
    with the package's parent directory appended.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        # Broadcast threshold: dim tables / query batches / centroid sets
        # are all tiny relative to the corpus — make sure they broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Scan split size (optimization round 16, guide §6): the input
        # split is the scan-parallelism lever. The fixture tables are
        # ONE parquet file each (lineitem 10.8 MB at sf0.1), so the
        # 128 MB default scans them as one task and every scan-bound
        # aggregate serializes on 1 of the cores; 8 MB splits the big
        # fixtures across cores (measured interleaved at sf0.1: Q1-shape
        # pricing_summary 1.39→1.25, late_order_priority 1.27→1.03,
        # rfm_segments 1.61→0.99, binary_hamming 1.58→1.29, ivf_pruned
        # 1.23→1.00; finer than 8 MB adds nothing). Scale-dependent and
        # therefore env-parameterised: on a real cluster scanning TB
        # inputs, RAISE it (512 MB–1 GB per guide §9 — fewer, larger map
        # tasks feeding each shuffle); the local default only matters
        # for single-file fixture scans.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "8m"),
        )
        # Fixture parquet stores TIMESTAMP(NANOS); Spark has no nanos type.
        # Read them as epoch-nanos longs; sources.tables converts to
        # TimestampType (values are µs-granular, so the cast is lossless).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Bucketed+sorted table scans (the MinHash band table, the
        # bucketed-join evidence tables) report their sortBy order only
        # under this flag (off by default since Spark 3.0 because the
        # one-file-per-bucket check needs a file listing — which these
        # tables' writers guarantee via repartition(n_buckets, key)
        # before bucketBy). With it on, an SMJ against a compacted
        # band table elides the corpus-side Sort; multi-file buckets
        # (post-append) simply fall back to sorting, never mis-plan.
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        # see the module docstring
        .config("spark.python.daemon.module", "aeuc_vector_db_spark.worker_daemon")
    )
    conf = dict(extra_conf or {})
    conf.setdefault("spark.python.unix.domain.socket.enabled", "true")
    if "spark.python.unix.domain.socket.dir" not in conf:
        conf["spark.python.unix.domain.socket.dir"] = _private_socket_dir()
    paths = [p for p in conf.get("spark.executorEnv.PYTHONPATH", "").split(os.pathsep) if p]
    if _PACKAGE_PARENT not in paths:
        paths.append(_PACKAGE_PARENT)
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(paths)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
