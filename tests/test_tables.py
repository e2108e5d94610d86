"""Loader round-trip pinned to the CURRENT testdata, in a BARE SparkSession.

The testdata generator has shipped ``events.ts`` under two parquet physical
types across rounds (INT64 TIMESTAMP(NANOS), then plain timestamp[us]); a
loader hardwired to either vintage breaks every events consumer the moment
the data regenerates. These tests run in a bare ``SparkSession`` — no
``session.py`` factory, exactly the correctness driver's posture — so a
regeneration breaks pytest loudly in-round, not silently in the driver.
"""

from __future__ import annotations

import pytest

SF_DIRS = ("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")


@pytest.fixture(scope="module")
def bare_spark():
    """A SparkSession with no ``session.py`` factory involvement.

    ``getOrCreate()`` silently REUSES any live session (e.g. the
    session-scoped conftest one when this module runs mid-suite); stopping a
    reused session would kill the shared SparkContext for every test file
    that sorts after this one.  Only stop what this fixture actually created.
    """
    from pyspark.sql import SparkSession

    reused = SparkSession.getActiveSession() is not None
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("bare-loader-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    yield spark
    if not reused:
        spark.stop()


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_events_ts_loads_as_timestamp(bare_spark, sf_dir):
    from pyspark.sql.types import TimestampNTZType, TimestampType

    from covid_19_data_engineering_spark.sources.tables import load_table

    df = load_table(bare_spark, "events", sf_dir)
    ts_type = df.schema["ts"].dataType
    assert isinstance(ts_type, (TimestampType, TimestampNTZType)), ts_type


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_events_trivial_agg_matches_duckdb(bare_spark, sf_dir):
    """min/max/count over ts must agree with DuckDB reading the same file —
    catches both load failures and silent unit mix-ups (nanos read as micros
    would shift timestamps by 1000x)."""
    import duckdb

    import pyspark.sql.functions as F
    from covid_19_data_engineering_spark.sources.tables import load_table

    df = load_table(bare_spark, "events", sf_dir)
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("lo"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("hi"),
    ).collect()[0]
    want = duckdb.sql(
        "SELECT COUNT(*), strftime(MIN(CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S'),"
        "       strftime(MAX(CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') "
        f"FROM read_parquet('{sf_dir}/events.parquet')"
    ).fetchone()
    assert (row["n"], row["lo"], row["hi"]) == want


def test_all_tables_load_nonempty(bare_spark):
    from covid_19_data_engineering_spark.sources.tables import TABLES, load_table

    for name in TABLES:
        df = load_table(bare_spark, name, "/root/testdata/sf0.001")
        assert df.limit(1).count() == 1, name


def test_registry_head_is_covering_set():
    """The correctness driver scores the FIRST 50 registry entries in
    insertion order; pin that prefix to the curated covering set so module
    import order can never silently evict an operator family from the
    driver's sample."""
    from covid_19_data_engineering_spark.plans import registry

    names = list(registry.all_queries())
    assert len(registry.PRIORITY) == 50
    assert names[: len(registry.PRIORITY)] == list(registry.PRIORITY)
    oracles = registry.all_oracle_sql()
    missing = [n for n in registry.PRIORITY if n not in oracles]
    assert not missing, f"priority entries without oracle: {missing}"


# --- per-session schema memo -------------------------------------------------


def _region_rows(n):
    return [(k, f"R{k}", "c") for k in range(n)]


def _write_region_file(path, rows, extra=False):
    """A one-file region table; ``extra`` adds a column, so a reader that
    kept the old schema would miss it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*rows))
    data = {"r_regionkey": pa.array(cols[0], pa.int64()),
            "r_name": pa.array(cols[1]),
            "r_comment": pa.array(cols[2])}
    if extra:
        data["r_extra"] = pa.array([k * 10 for k in cols[0]], pa.int64())
    pq.write_table(pa.table(data), str(path))


def test_load_table_repeat_launches_no_job(bare_spark, tmp_path, count_jobs):
    from covid_19_data_engineering_spark.sources.tables import load_table

    _write_region_file(tmp_path / "region.parquet", _region_rows(3))
    first, df1 = count_jobs(bare_spark, lambda: load_table(bare_spark, "region", str(tmp_path)))
    again, df2 = count_jobs(bare_spark, lambda: load_table(bare_spark, "region", str(tmp_path)))
    assert first >= 1  # the footer-schema job
    assert again == 0
    assert df2.schema == df1.schema
    assert sorted(df2.collect()) == sorted(df1.collect())
    # each call is its own relation, as an uncached read is: one shared
    # DataFrame would make this self-join's columns ambiguous
    joined = df1.join(df2, df1["r_regionkey"] == df2["r_regionkey"] + 1)
    assert sorted((r[0], r[1]) for r in joined.select(
        df1["r_regionkey"], df2["r_regionkey"]).collect()) == [(1, 0), (2, 1)]


def test_load_table_concurrent_first_loads_fill_the_memo(bare_spark, count_jobs):
    """Threads racing on a session's first loads lose no memo entry."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from covid_19_data_engineering_spark.sources.tables import TABLES, load_table

    session = bare_spark.newSession()  # a session the memo has not seen
    sf_dir = SF_DIRS[0]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=16) as pool:
            futures = [pool.submit(load_table, session, name, sf_dir)
                       for name in TABLES for _ in range(4)]
            frames = [f.result(timeout=300) for f in futures]
    finally:
        sys.setswitchinterval(switch)
    assert [f.sparkSession for f in frames] == [session] * len(frames)
    jobs, again = count_jobs(session, lambda: [load_table(session, n, sf_dir) for n in TABLES])
    assert jobs == 0
    assert [f.schema for f in again] == [f.schema for f in frames[::4]]


def test_load_table_rereads_a_file_rewritten_in_place(bare_spark, tmp_path):
    from covid_19_data_engineering_spark.sources.tables import load_table

    path = tmp_path / "region.parquet"
    _write_region_file(path, _region_rows(3))
    assert load_table(bare_spark, "region", str(tmp_path)).count() == 3
    _write_region_file(path, _region_rows(5), extra=True)
    df = load_table(bare_spark, "region", str(tmp_path))
    assert sorted((r["r_name"], r["r_extra"]) for r in df.collect()) == [
        (f"R{k}", k * 10) for k in range(5)]


def test_load_table_rereads_an_overwritten_dataset_directory(bare_spark, tmp_path):
    from covid_19_data_engineering_spark.sources.tables import load_table

    path = str(tmp_path / "region.parquet")
    schema = "r_regionkey long, r_name string, r_comment string"
    bare_spark.createDataFrame(_region_rows(2), schema).write.parquet(path)
    assert load_table(bare_spark, "region", str(tmp_path)).count() == 2
    (bare_spark.createDataFrame([(7, "new", "n", 70)], schema + ", r_extra long")
     .write.mode("overwrite").parquet(path))
    df = load_table(bare_spark, "region", str(tmp_path))
    assert [tuple(r) for r in df.collect()] == [(7, "new", "n", 70)]


_FRESH_SESSION = r"""
import sys
from pyspark.sql import SparkSession
from covid_19_data_engineering_spark.sources.tables import load_table

def session():
    return (SparkSession.builder.master("local[1]").appName("memo-restart")
            .config("spark.ui.enabled", "false").getOrCreate())

def jobs(spark, fn):
    sc = spark.sparkContext
    sc.setJobGroup("probe", "probe")
    fn()
    n = len(sc.statusTracker().getJobIdsForGroup("probe"))
    sc.setLocalProperty("spark.jobGroup.id", None)
    return n

sf_dir = sys.argv[1]
old = session()
load_table(old, "region", sf_dir).count()
old.stop()
new = session()
assert new is not old
loaded = []
assert jobs(new, lambda: loaded.append(load_table(new, "region", sf_dir))) >= 1, \
    "the fresh session's first load was served from the stopped session's memo"
df = loaded[0]
assert df.sparkSession is new
assert df.count() == 5
new.stop()
print("FRESH-SESSION-OK")
"""


def test_load_table_fresh_session_after_stop(tmp_path):
    """A session started after ``stop()`` resolves every table itself and
    gets frames bound to it, never state of the stopped one (own process:
    stopping the shared test session would end every later test)."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=root + os.pathsep + os.environ.get("PYTHONPATH", ""))
    done = subprocess.run(
        [sys.executable, "-c", _FRESH_SESSION, SF_DIRS[0]],
        capture_output=True, text=True, timeout=300, env=env, cwd=str(tmp_path),
    )
    assert "FRESH-SESSION-OK" in done.stdout, done.stderr[-3000:]
