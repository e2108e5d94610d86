from __future__ import annotations

import os
import uuid

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from covid_19_data_engineering_spark.session import get_spark

    warehouse = str(tmp_path_factory.mktemp("warehouse"))
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    spark = get_spark(
        app_name="engine-tests",
        warehouse_dir=warehouse,
        extra_conf={"spark.sql.shuffle.partitions": "8"},
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for name in ("region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_ORACLE}/{name}.parquet')"
        )
    return con


def _jobs_launched(spark, fn):
    """Run ``fn()`` under a fresh job group on this thread; return
    (Spark jobs it launched, its result). The thread's local properties are
    restored afterwards."""
    sc = spark.sparkContext
    keys = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    before = {k: sc.getLocalProperty(k) for k in keys}
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for k, v in before.items():
            sc.setLocalProperty(k, v)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


@pytest.fixture()
def count_jobs():
    """``count_jobs(spark, fn) -> (jobs launched by fn(), its result)``."""
    return _jobs_launched
