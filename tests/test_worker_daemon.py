"""The engine's Python-worker daemon (`worker_daemon`) and how the
session reaches it: the zip import cache skips re-reads of unchanged
archives but still sees a zip that is shipped or rewritten; the
post-task collect scans only what tasks allocated yet still reclaims
their cycles; tasks talk to workers over Unix domain sockets in a
private directory that is gone when the session's process exits; and
engine UDFs run from any working directory."""

import os
import stat
import subprocess
import sys
import textwrap
import uuid
import zipfile

from conftest import REPO_ROOT

TASKS = 8


def _on_workers_that_ran(sc, first, then, rounds=4):
    """Run `first` on TASKS tasks, then `then` on TASKS tasks, up to
    `rounds` times; return what `then` gave in the worker processes
    (matched by pid) that had already run `first`. Each task gets one
    element of range(TASKS); `first` returns its pid, `then` (pid,
    value)."""
    ran_first, got = set(), []
    for _ in range(rounds):
        ran_first.update(sc.parallelize(range(TASKS), TASKS).map(first).collect())
        got += [v for pid, v in sc.parallelize(range(TASKS), TASKS).map(then).collect()
                if pid in ran_first]
        if got:
            break
    return got


def test_session_runs_the_engine_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "aeuc_vector_db_spark.worker_daemon"
    assert REPO_ROOT in conf.get("spark.executorEnv.PYTHONPATH").split(os.pathsep)


def test_workers_use_a_private_unix_socket_dir(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.unix.domain.socket.enabled") == "true"
    sock_dir = conf.get("spark.python.unix.domain.socket.dir")
    assert os.path.isdir(sock_dir)
    assert stat.S_IMODE(os.stat(sock_dir).st_mode) == 0o700
    # the Python workers' daemon listens there
    assert spark.sparkContext.parallelize(range(2), 2).map(lambda x: x * 2).collect() == [0, 2]
    assert any(name.endswith(".sock") for name in os.listdir(sock_dir))


def test_long_lived_heap_is_frozen_after_an_import_task(spark):
    """After a task that imported pandas, a later task in the same worker
    finds the worker's heap frozen: the collect after each task scans
    only the few objects outside the frozen generation."""

    def import_pandas(_):
        import pandas  # noqa: F401

        return os.getpid()

    def heap(_):
        import gc

        return os.getpid(), (gc.get_freeze_count(), len(gc.get_objects()))

    got = _on_workers_that_ran(spark.sparkContext, import_pandas, heap)
    assert got
    for frozen, unfrozen in got:
        assert frozen > 0 and unfrozen < frozen, got


def test_post_task_collect_still_reclaims_cycles(spark):
    """A reference cycle a task leaves behind, in a task that also
    imports a module (so a freeze follows the collect), is dead in the
    next task of that worker."""
    tag = uuid.uuid4().hex[:8]

    def leave_a_cycle(_):
        import types
        import weakref

        import pyspark

        class Node:
            pass

        node = Node()
        node.me = node
        setattr(pyspark, f"_wd_cycle_{tag}", weakref.ref(node))
        sys.modules[f"_wd_mod_{tag}_{os.getpid()}"] = types.ModuleType("wd")
        return os.getpid()

    def cycle_alive(_):
        import pyspark

        ref = getattr(pyspark, f"_wd_cycle_{tag}", None)
        return os.getpid(), ref is not None and ref() is not None

    got = _on_workers_that_ran(spark.sparkContext, leave_a_cycle, cycle_alive)
    assert got and not any(got), got


def test_shipped_zip_imports_and_a_rewrite_is_seen(spark, tmp_path):
    from pyspark import SparkFiles

    # nested, so that the workers get them by value: they cannot import
    # this test module
    def _write_zip(path, modules):
        """(Re)write `path` in place as a zip of {module name: VALUE}."""
        with open(path, "wb") as f, zipfile.ZipFile(f, "w") as z:
            for name, value in modules.items():
                z.writestr(f"{name}.py", f"VALUE = {value!r}\n")

    def _import_value(name):
        import importlib

        return importlib.import_module(name).VALUE

    sc = spark.sparkContext
    tag = uuid.uuid4().hex[:8]
    a, b, c = f"wd_a_{tag}", f"wd_b_{tag}", f"wd_c_{tag}"
    src = tmp_path / f"wd_{tag}.zip"
    _write_zip(src, {a: 1})
    sc.addPyFile(str(src))
    assert sc.parallelize(range(4), 4).map(lambda _: _import_value(a)).collect() == [1] * 4

    # the copy the workers import from, rewritten in place with one more
    # module (a new size); a later task must see the new module
    shipped = os.path.join(SparkFiles.getRootDirectory(), src.name)
    before = os.path.getsize(shipped)
    _write_zip(shipped, {a: 1, b: 2})
    assert os.path.getsize(shipped) != before
    got = sc.parallelize(range(4), 4).map(lambda _: (_import_value(a), _import_value(b)))
    assert got.collect() == [(1, 2)] * 4

    # in one worker process that has read the archive: rewrite, then the
    # next task's `invalidate_caches`, then an import of the new module
    def rewrite_then_import(_):
        import importlib

        _import_value(a)
        _write_zip(shipped, {a: 1, b: 2, c: 3})
        importlib.invalidate_caches()
        return _import_value(c)

    assert sc.parallelize([0], 1).map(rewrite_then_import).collect() == [3]


def test_unchanged_archives_are_not_reread(spark):
    """Two `importlib.invalidate_caches()` calls in one task read no zip
    directory: `zipimport._read_directory` is counted inside the task."""

    def count_reads(_):
        import importlib
        import zipimport

        stock = zipimport._read_directory
        reads = []

        def counted(path):
            reads.append(path)
            return stock(path)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock
        zips = [p for p, f in sys.path_importer_cache.items() if isinstance(f, zipimport.zipimporter)]
        return len(reads), len(zips)

    got = spark.sparkContext.parallelize(range(4), 4).map(count_reads).collect()
    # each worker holds zipimporters (pyspark.zip, the py4j zip), and
    # none of them re-read its archive
    assert all(reads == 0 and zips > 0 for reads, zips in got), got


def test_engine_udfs_run_outside_the_repo(tmp_path):
    """A session started outside the repo root with PYTHONPATH unset runs
    a plain RDD map and engine UDFs: `ann.assign_centroids` (a closure the
    workers get by value) and the shingle kernel of `dedup.shingle_sets`
    (which the workers import from the package)."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO_ROOT!r})
        from aeuc_vector_db_spark.operators import ann, dedup
        from aeuc_vector_db_spark.session import get_spark

        spark = get_spark(app_name="outside-repo", cpus=2, extra_conf={{
            "spark.driver.memory": "1g",
            "spark.ui.showConsoleProgress": "false",
        }})
        try:
            rdd = spark.sparkContext.parallelize(range(4), 2).map(lambda x: x + 1)
            assert rdd.collect() == [1, 2, 3, 4]
            corpus = spark.createDataFrame(
                [(1, [0.0, 0.1]), (2, [1.0, 0.9]), (3, [0.2, 0.0]), (4, [0.8, 1.1])],
                "vec_id long, embedding array<double>",
            )
            cells = ann.assign_centroids(corpus, [(0, [0.0, 0.0]), (1, [1.0, 1.0])])
            got = sorted((r["vec_id"], r["centroid_id"]) for r in cells.collect())
            assert got == [(1, 0), (2, 1), (3, 0), (4, 1)], got
            docs = spark.createDataFrame(
                [(1, "a b c d"), (2, "a b c e e")], "doc_id long, text string"
            )
            sets = dedup.shingle_sets(docs).collect()
            assert sorted((r["doc_id"], len(r["sh"])) for r in sets) == [(1, 2), (2, 3)]
        finally:
            spark.stop()
        print("OK")
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0 and out.stdout.strip().endswith("OK"), out.stderr[-3000:]


def test_session_process_leaves_no_socket_dir(tmp_path):
    """A process that ran a session, with an accumulator (whose server
    also listens in the socket directory) and without `spark.stop()`,
    leaves no socket directory behind once it exits."""
    script = textwrap.dedent(f"""
        import os
        import sys
        sys.path.insert(0, {REPO_ROOT!r})
        from aeuc_vector_db_spark.session import get_spark

        spark = get_spark(app_name="socket-dir", cpus=2, extra_conf={{
            "spark.driver.memory": "1g",
            "spark.ui.showConsoleProgress": "false",
        }})
        sc = spark.sparkContext
        acc = sc.accumulator(0)
        sc.parallelize(range(4), 2).foreach(lambda x: acc.add(x))
        assert acc.value == 6, acc.value
        sock_dir = sc.getConf().get("spark.python.unix.domain.socket.dir")
        assert any(n.endswith(".sock") for n in os.listdir(sock_dir)), os.listdir(sock_dir)
        print(sock_dir)
    """)
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    sock_dir = out.stdout.strip().splitlines()[-1]
    assert sock_dir.startswith("/") and not os.path.exists(sock_dir), sock_dir
