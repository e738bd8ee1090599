"""The engine's Python-worker daemon (`worker_daemon`): its zip import
cache skips re-reads of unchanged archives but still sees a zip that is
shipped or rewritten, and engine UDFs run from any working directory."""

import os
import subprocess
import sys
import textwrap
import uuid
import zipfile

from conftest import REPO_ROOT


def test_session_runs_the_engine_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "aeuc_vector_db_spark.worker_daemon"
    assert REPO_ROOT in conf.get("spark.executorEnv.PYTHONPATH").split(os.pathsep)


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
