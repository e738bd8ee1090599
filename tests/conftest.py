import os
import shutil
import sys
import tempfile

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF01_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from aeuc_vector_db_spark.session import get_spark

    # a per-session warehouse: tables a killed run left behind in the
    # default ./spark-warehouse would make the next run's saveAsTable fail
    warehouse = tempfile.mkdtemp(prefix="aeuc-tests-warehouse-")
    s = get_spark(app_name="aeuc-tests", cpus=8, shuffle_partitions=8,
                  extra_conf={"spark.driver.memory": "16g",
                              "spark.sql.warehouse.dir": warehouse})
    yield s
    shutil.rmtree(warehouse, ignore_errors=True)


@pytest.fixture(scope="session")
def job_group(spark):
    """`run(group, action)` runs `action` under its own Spark job group
    and returns (job ids, StageInfo of every stage those jobs ran), read
    from the status tracker once the listener bus has drained."""
    sc = spark.sparkContext

    def run(group, action):
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        jobs = list(tracker.getJobIdsForGroup(group))
        stages = [
            tracker.getStageInfo(sid)
            for j in jobs
            for sid in tracker.getJobInfo(j).stageIds
        ]
        return jobs, [s for s in stages if s is not None]

    return run


@pytest.fixture(scope="session")
def tables(spark):
    from aeuc_vector_db_spark.sources.tables import load_all

    return load_all(spark, SF_DIR)


@pytest.fixture(scope="session")
def embeddings(tables):
    return tables["embeddings"]


@pytest.fixture(scope="session")
def documents(tables):
    return tables["documents"]


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF01_DIR}/{t}.parquet'"
        )
    return con
