"""End-to-end pipeline tests (SURVEY.md §5.3): golden-run the daily and
quarterly drivers on fixture CSVs in a temp warehouse and assert the full
lifecycle — typed schema, swap semantics, history growth, quarantine, and the
all-rows-land regression against the reference's quarterly last-row bug
(vertica_upload.py:108-139)."""

from __future__ import annotations

import pytest

from covid_19_data_engineering_spark import lifecycle
from covid_19_data_engineering_spark.pipeline import run_daily, run_quarterly

ENCOUNTERS = """encounter_id,empi_id,is_covid,admit_date,charge
1001,0042,t,2021-03-15,12.50
1002,0107,f,2021-04-01,3
1003,0007,true,2021-05-20,0.25
"""

MAPPING = """claim_id,encounter_id
900000000001,1001
900000000002,1002
"""

BROKEN = 'name,qty\ngood,1\n"unclosed quote,oops\nalso_good,2\n'


@pytest.fixture()
def csv_dir(tmp_path):
    (tmp_path / "PH_F_Encounter.csv").write_text(ENCOUNTERS)
    (tmp_path / "Map_Claim_Encounter.csv").write_text(MAPPING)
    return tmp_path


def test_run_daily_end_to_end(spark, csv_dir):
    paths = [str(csv_dir / "PH_F_Encounter.csv"), str(csv_dir / "Map_Claim_Encounter.csv")]
    results = run_daily(spark, paths, schema="daily_t1")

    by_table = {r.table: r for r in results}
    assert by_table["ph_f_encounter"].rows_loaded == 3
    assert by_table["map_claim_encounter"].rows_loaded == 2

    # promoted: prod exists, build gone
    assert lifecycle.table_exists(spark, "daily_t1", "ph_f_encounter")
    assert not lifecycle.table_exists(spark, "daily_t1", "ph_f_encounter_build")

    prod = spark.table("daily_t1.ph_f_encounter")
    dtypes = dict(prod.dtypes)
    assert dtypes == {
        "encounter_id": "smallint",
        "empi_id": "string",
        "is_covid": "boolean",
        "admit_date": "date",
        "charge": "double",
    }
    mapping = dict(spark.table("daily_t1.map_claim_encounter").dtypes)
    assert mapping["claim_id"] == "bigint"


def test_run_daily_swap_replaces_old(spark, csv_dir):
    path = str(csv_dir / "PH_F_Encounter.csv")
    run_daily(spark, [path], schema="daily_t2")
    first = spark.table("daily_t2.ph_f_encounter").count()
    run_daily(spark, [path], schema="daily_t2")  # second day: swap, not append
    second = spark.table("daily_t2.ph_f_encounter").count()
    assert first == second == 3


def test_run_daily_quarantine(spark, tmp_path):
    p = tmp_path / "Broken_Extract.csv"
    p.write_text(BROKEN)
    results = run_daily(spark, [str(p)], schema="daily_t3")
    assert results[0].rows_quarantined >= 1
    assert results[0].rows_loaded >= 1  # good rows still land
    q = spark.table("daily_t3.broken_extract_quarantine")
    assert q.count() == results[0].rows_quarantined


def test_run_quarterly_history_and_all_rows(spark, csv_dir):
    path = str(csv_dir / "PH_F_Encounter.csv")
    results = run_quarterly(spark, [path], schema="quart_t1")

    # regression vs reference bug: ALL rows land, not just the last
    assert results[0].rows_loaded == 3

    prod = spark.table("quart_t1.ph_f_encounter")
    assert "load_time" in prod.columns
    assert prod.where("load_time IS NULL").count() == 0

    hist = spark.table("quart_t1.ph_f_encounter_history")
    assert hist.count() == 3
    assert "load_date" in hist.columns

    # second run doubles history, prod stays at 3
    run_quarterly(spark, [path], schema="quart_t1")
    assert spark.table("quart_t1.ph_f_encounter").count() == 3
    assert spark.table("quart_t1.ph_f_encounter_history").count() == 6


def test_clone_structure_empty(spark, csv_dir):
    run_daily(spark, [str(csv_dir / "PH_F_Encounter.csv")], schema="daily_t4")
    lifecycle.clone_structure(spark, "daily_t4", "ph_f_encounter", "ph_f_encounter_clone")
    clone = spark.table("daily_t4.ph_f_encounter_clone")
    assert clone.count() == 0
    assert clone.schema == spark.table("daily_t4.ph_f_encounter").schema


def test_merge_upsert(spark):
    from covid_19_data_engineering_spark import lifecycle as lc

    schema = "merge_test"
    lc.ensure_schema(spark, schema)
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "id long, name string, v long"
    )
    lc.write_build_table(spark, base, schema, "items")
    lc.promote(spark, schema, "items")

    updates = spark.createDataFrame(
        [(2, "b2", 99), (4, "d", 40)], "id long, name string, v long"
    )
    lc.merge_upsert(spark, schema, "items", updates, key="id")

    rows = {r["id"]: (r["name"], r["v"]) for r in spark.table(f"{schema}.items").collect()}
    assert rows == {1: ("a", 10), 2: ("b2", 99), 3: ("c", 30), 4: ("d", 40)}
    # idempotent re-apply: same updates produce the same table
    lc.merge_upsert(spark, schema, "items", updates, key="id")
    assert spark.table(f"{schema}.items").count() == 4


def test_compact_table(spark):
    from covid_19_data_engineering_spark import lifecycle as lc

    schema = "compact_test"
    lc.ensure_schema(spark, schema)
    frag = spark.range(0, 1000).repartition(16).withColumnRenamed("id", "v")
    lc.write_build_table(spark, frag, schema, "frag")
    lc.promote(spark, schema, "frag")

    n = lc.compact_table(spark, schema, "frag", target_files=2)
    assert n == 1000
    after = spark.table(f"{schema}.frag")
    assert after.count() == 1000
    assert after.rdd.getNumPartitions() <= 2
    assert set(r["v"] for r in after.collect()) == set(range(1000))


def test_backup_csv_files(tmp_path):
    import datetime as dt

    from covid_19_data_engineering_spark.pipeline import backup_csv_files

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.csv").write_text("id\n1\n")
    (src / "b.csv").write_text("id\n2\n")
    copies = backup_csv_files(
        [str(src / "a.csv"), str(src / "b.csv")],
        str(tmp_path / "hist"),
        today=dt.date(2026, 8, 13),
    )
    assert len(copies) == 2
    assert all("upload_2026_08_13" in c for c in copies)
    assert (tmp_path / "hist" / "upload_2026_08_13" / "a.csv").read_text() == "id\n1\n"


@pytest.mark.parametrize("mode", ["rename", "atomic"])
def test_promote_swap_semantics_both_modes(spark, mode, count_jobs):
    """B9 swap parameterized over both commit protocols: reference-parity
    DROP+RENAME and the round-4 atomic view-pointer commit. Same observable
    contract: prod serves the new rows, the build name is released."""
    from covid_19_data_engineering_spark import lifecycle as lc

    schema = f"promote_{mode}"
    lc.ensure_schema(spark, schema)
    v1 = spark.createDataFrame([(1, "old")], "id long, tag string")
    lc.write_build_table(spark, v1, schema, "t")
    jobs_first, _ = count_jobs(spark, lambda: lc.promote(spark, schema, "t", mode=mode))
    assert {r["tag"] for r in spark.table(f"{schema}.t").collect()} == {"old"}

    v2 = spark.createDataFrame([(2, "new"), (3, "new")], "id long, tag string")
    lc.write_build_table(spark, v2, schema, "t")
    jobs_swap, _ = count_jobs(spark, lambda: lc.promote(spark, schema, "t", mode=mode))
    assert {r["tag"] for r in spark.table(f"{schema}.t").collect()} == {"new"}
    if mode == "rename":
        # catalog operations only: promote never launches a Spark job
        assert (jobs_first, jobs_swap) == (0, 0)
    assert not lc.table_exists(spark, schema, "t_build")

    if mode == "atomic":
        # pointer commit: prod is a view over exactly one versioned table —
        # old versions are GC'd after the commit
        tables = {t.name: t.tableType for t in spark.catalog.listTables(schema)}
        assert tables["t"] == "VIEW"
        versions = [n for n in tables if n.startswith("t__v")]
        assert len(versions) == 1


def test_promote_mode_switching(spark, count_jobs):
    """rename -> atomic migrates (drops the plain table once), atomic ->
    rename drops the view; both directions end with correct prod rows, and
    a rename-mode promote launches no Spark job."""
    from covid_19_data_engineering_spark import lifecycle as lc

    schema = "promote_switch"
    lc.ensure_schema(spark, schema)
    lc.write_build_table(
        spark, spark.createDataFrame([(1,)], "id long"), schema, "t")
    jobs, _ = count_jobs(spark, lambda: lc.promote(spark, schema, "t", mode="rename"))
    assert jobs == 0

    lc.write_build_table(
        spark, spark.createDataFrame([(2,)], "id long"), schema, "t")
    lc.promote(spark, schema, "t", mode="atomic")
    assert [r["id"] for r in spark.table(f"{schema}.t").collect()] == [2]
    assert spark.catalog.getTable(f"{schema}.t").tableType == "VIEW"

    lc.write_build_table(
        spark, spark.createDataFrame([(3,)], "id long"), schema, "t")
    jobs, _ = count_jobs(spark, lambda: lc.promote(spark, schema, "t", mode="rename"))
    assert jobs == 0
    # the view the atomic promote left is dropped, a plain table takes its name
    assert spark.catalog.getTable(f"{schema}.t").tableType != "VIEW"
    assert [r["id"] for r in spark.table(f"{schema}.t").collect()] == [3]


# --- concurrent per-table loads ---------------------------------------------


def _write_manifest(tmp_path, names):
    """One small CSV per name, each with its own row count."""
    paths = []
    for i, name in enumerate(names):
        rows = "".join(f"{k},v{k}\n" for k in range(1, 3 + i))
        p = tmp_path / f"{name}.csv"
        p.write_text("id,label\n" + rows)
        paths.append(str(p))
    return paths


def _slow_promote_for(monkeypatch, slow_table, seconds, fail=False):
    """Make ``lifecycle.promote`` of one table finish last (or fail late)."""
    import time

    inner = lifecycle.promote

    def promote(spark, schema, table, *args, **kwargs):
        if table == slow_table:
            time.sleep(seconds)
            if fail:
                raise RuntimeError(f"promote of {table} failed")
        return inner(spark, schema, table, *args, **kwargs)

    monkeypatch.setattr(lifecycle, "promote", promote)


def test_run_daily_results_in_manifest_order(spark, tmp_path, monkeypatch, count_jobs):
    """Results follow the manifest even when the first table finishes last;
    every table runs on a worker thread that carries the caller's job group,
    and no PySpark warning about uninherited tags is raised."""
    import threading
    import warnings

    from covid_19_data_engineering_spark import pipeline

    names = ["t_zeta", "t_alpha", "t_mid", "t_beta", "t_omega"]
    paths = _write_manifest(tmp_path, names)
    _slow_promote_for(monkeypatch, "t_zeta", 0.5)
    sc = spark.sparkContext
    seen = []
    inner = pipeline.infer_table_schema

    def infer(df, *args, **kwargs):
        seen.append((threading.current_thread() is threading.main_thread(),
                     sc.getLocalProperty("spark.jobGroup.id")))
        return inner(df, *args, **kwargs)

    monkeypatch.setattr(pipeline, "infer_table_schema", infer)

    def load():
        caller = sc.getLocalProperty("spark.jobGroup.id")
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            results = run_daily(spark, paths, schema="daily_order")
        assert sc.getLocalProperty("spark.jobGroup.id") == caller
        return caller, results, caught

    jobs, (caller, results, caught) = count_jobs(spark, load)
    assert [r.table for r in results] == names
    assert [r.rows_loaded for r in results] == [2 + i for i in range(len(names))]
    for r in results:
        assert spark.table(f"daily_order.{r.table}").count() == r.rows_loaded
    assert seen == [(False, caller)] * len(paths)
    # the workers' jobs carry the group: each table's inference, build write
    # and counts are Spark jobs
    assert jobs >= 3 * len(paths)
    assert not [w for w in caught if "Tags will not be inherited" in str(w.message)]

    quarterly = run_quarterly(spark, paths[:2], schema="quart_order")
    assert [r.table for r in quarterly] == names[:2]


def test_run_daily_count_validation_raises_on_mismatch(spark, tmp_path, monkeypatch):
    paths = _write_manifest(tmp_path, ["cv_a", "cv_b", "cv_c"])
    inner = lifecycle.promote

    def promote_then_append(spark, schema, table, *args, **kwargs):
        inner(spark, schema, table, *args, **kwargs)
        if table == "cv_b":  # prod gains a row the build count never saw
            prod = lifecycle.qualified(schema, table)
            spark.table(prod).limit(1).write.mode("append").insertInto(prod)

    monkeypatch.setattr(lifecycle, "promote", promote_then_append)
    with pytest.raises(RuntimeError, match="count validation failed for cv_b"):
        run_daily(spark, paths, schema="daily_cv")


def test_run_daily_raises_earliest_failure_in_manifest_order(spark, tmp_path, monkeypatch):
    paths = _write_manifest(tmp_path, ["fail_late", "ok_one", "ok_two"])
    paths.insert(2, str(tmp_path / "missing_file.csv"))
    # the first file fails after the missing one has already failed
    _slow_promote_for(monkeypatch, "fail_late", 0.5, fail=True)
    reports = []
    monkeypatch.setattr(lifecycle, "count_report",
                        lambda *a, **k: reports.append(a) or pytest.fail("count ran"))
    with pytest.raises(RuntimeError, match="promote of fail_late failed"):
        run_daily(spark, paths, schema="daily_fail")
    assert reports == []

    # with the slow failure gone, the missing file is the earliest failure
    monkeypatch.setattr(lifecycle, "promote", lambda *a, **k: None)
    with pytest.raises(Exception, match="missing_file"):
        run_daily(spark, paths, schema="daily_fail")
    assert reports == []


def test_run_daily_rejects_one_table_from_two_files(spark, tmp_path):
    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    paths = [_write_manifest(tmp_path / d, ["Same_Name"])[0] for d in ("a", "b")]
    with pytest.raises(ValueError, match="same_name"):
        run_daily(spark, paths, schema="daily_twice")
