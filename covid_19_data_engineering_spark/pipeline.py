"""End-to-end pipeline drivers — the reference's two entry points, Spark-first.

- ``run_daily``     (reference C6, load_tables_daily.py:562-646): land CSVs as
  all-string build tables, infer + cast types, promote build->prod, report
  counts. The reference's per-column SELECT round trips and shell COPY hops
  collapse into one Spark job per table.
- ``run_quarterly`` (reference C7, vertica_upload.py:361-398): same landing
  plus a ``load_time`` audit column and an append-only history snapshot.
  NOTE: the reference's quarterly row-insert builds its INSERT inside the row
  loop but executes it after (vertica_upload.py:108-139), silently inserting
  only the last row of each CSV. This driver implements the evident intent —
  ALL rows land — and tests/test_pipeline.py pins that as a regression test.

Every per-table unit of work is independent, and a small table's load is
bound by Spark job latency, not by data: each file is one input split, so
each of its ~15 jobs is a single task. Both drivers therefore run each
file's whole chain (land, infer, cast, write build, quarantine, count,
promote) on one shared thread pool of width
``min(len(csv_paths), sparkContext.defaultParallelism)``, so the jobs of
different tables fill the cores together. Thread targets are wrapped with
``pyspark.util.inheritable_thread_target(spark)``, so a job group or other
local property the caller set labels the workers' jobs too. Results come
back in manifest order. If any file fails, the error of the earliest
failing file in manifest order is raised once every started load has
ended, loads not yet started are cancelled, and no count validation runs;
tables whose load finished stay promoted, as earlier tables did when the
loop was sequential. Count validation runs only after every table is
promoted. Each table's chain is the same sequence of plans either way, so
the inferred schemas do not depend on the pool.
"""

from __future__ import annotations

import logging
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

from covid_19_data_engineering_spark import lifecycle
from covid_19_data_engineering_spark.inference import (
    apply_inferred_schema,
    infer_table_schema,
)
from covid_19_data_engineering_spark.sources.csv import (
    read_csv_landing,
    table_name_for,
)

log = logging.getLogger(__name__)


@dataclass
class LoadResult:
    table: str
    rows_loaded: int
    rows_quarantined: int
    inferred_schema: dict[str, str] = field(default_factory=dict)


def _load_daily_one(spark: SparkSession, csv_path: str, schema: str,
                    quarantine_schema: str | None) -> LoadResult:
    """CSV -> typed build table -> quarantine -> build count -> prod."""
    table = table_name_for(csv_path)
    good, bad = read_csv_landing(spark, csv_path)
    inferred = infer_table_schema(good)
    typed = apply_inferred_schema(good, inferred)
    lifecycle.write_build_table(spark, typed, schema, table)
    n_bad = 0
    if quarantine_schema is not None:
        n_bad = bad.count()
        if n_bad:
            bad.write.mode("append").format("parquet").saveAsTable(
                lifecycle.qualified(quarantine_schema, f"{table}_quarantine")
            )
    n_good = spark.table(lifecycle.qualified(schema, table + lifecycle.BUILD_SUFFIX)).count()
    lifecycle.promote(spark, schema, table)
    log.info("daily: %s loaded %d rows (%d quarantined)", table, n_good, n_bad)
    return LoadResult(table, n_good, n_bad, inferred)


def _load_quarterly_one(spark: SparkSession, csv_path: str, schema: str) -> LoadResult:
    """CSV -> typed build table with load_time -> prod -> history snapshot."""
    table = table_name_for(csv_path)
    good, _ = read_csv_landing(spark, csv_path)
    inferred = infer_table_schema(good)
    typed = lifecycle.with_load_time(apply_inferred_schema(good, inferred))
    lifecycle.write_build_table(spark, typed, schema, table)
    lifecycle.promote(spark, schema, table)
    lifecycle.snapshot_history(spark, schema, table)
    n = spark.table(lifecycle.qualified(schema, table)).count()
    log.info("quarterly: %s loaded %d rows + history snapshot", table, n)
    return LoadResult(table, n, 0, inferred)


def _load_concurrently(spark: SparkSession, csv_paths: list[str],
                       load_one: Callable[[str], LoadResult]) -> list[LoadResult]:
    """Run ``load_one`` per file on a pool of
    ``min(len(csv_paths), defaultParallelism)`` threads; results in manifest
    order. The earliest failure in manifest order is raised after every
    started load has ended; loads not yet started are cancelled."""
    tables = [table_name_for(p) for p in csv_paths]
    twice = sorted({t for t in tables if tables.count(t) > 1})
    if twice:
        # two concurrent loads of one table would overwrite each other's build
        raise ValueError(f"more than one file in the manifest lands as {twice}")
    width = max(1, min(len(csv_paths), spark.sparkContext.defaultParallelism))
    pool = ThreadPoolExecutor(max_workers=width, thread_name_prefix="table-load")
    try:
        # wrapped per file, in this thread: each worker starts from its own
        # copy of the caller's local properties (job group included)
        futures = [pool.submit(inheritable_thread_target(spark)(load_one), path)
                   for path in csv_paths]
        return [f.result() for f in futures]
    finally:
        pool.shutdown(wait=True, cancel_futures=True)


def backup_csv_files(csv_paths: list[str], backup_dir: str,
                     today: "dt.date | None" = None) -> list[str]:
    """Raw-landing copies into ``backup_dir/upload_YYYY_MM_DD/`` before any
    load touches the warehouse (reference A8, load_tables_daily.py:329-338:
    same dated-directory convention)."""
    import datetime as dt
    import os
    import shutil

    stamp = (today or dt.date.today()).strftime("upload_%Y_%m_%d")
    dest = os.path.join(backup_dir, stamp)
    os.makedirs(dest, exist_ok=True)
    copies = []
    for path in csv_paths:
        copies.append(shutil.copy2(path, dest))
    return copies


def run_daily(spark: SparkSession, csv_paths: list[str], schema: str = "daily",
              quarantine: bool = True, backup_dir: str | None = None) -> list[LoadResult]:
    """Daily load: backup -> per table, concurrently: land -> infer/cast ->
    promote; then validate every table's count."""
    lifecycle.ensure_schema(spark, schema)
    if backup_dir is not None:
        backup_csv_files(csv_paths, backup_dir)
    quarantine_schema = schema if quarantine else None
    results = _load_concurrently(
        spark, csv_paths,
        lambda path: _load_daily_one(spark, path, schema, quarantine_schema))
    tables = [r.table for r in results]
    report = {r["table_name"]: r["row_count"]
              for r in lifecycle.count_report(spark, schema, tables).collect()}
    for r in results:
        if report.get(r.table) != r.rows_loaded:
            raise RuntimeError(
                f"count validation failed for {r.table}: "
                f"loaded {r.rows_loaded}, prod has {report.get(r.table)}"
            )
    return results


def run_quarterly(spark: SparkSession, csv_paths: list[str],
                  schema: str = "quarterly") -> list[LoadResult]:
    """Quarterly load, per table concurrently: land with load_time audit
    column -> promote -> history snapshot (all rows — fixing the reference's
    last-row-only bug)."""
    lifecycle.ensure_schema(spark, schema)
    return _load_concurrently(
        spark, csv_paths, lambda path: _load_quarterly_one(spark, path, schema))


def main(argv: list[str] | None = None) -> int:
    """CLI mirroring the reference's entry points
    (``python load_tables_daily.py`` / ``python vertica_upload.py daily|quarterly``):

        python -m covid_19_data_engineering_spark.pipeline daily \\
            --input ./input --schema daily [--backup ./history]
        python -m covid_19_data_engineering_spark.pipeline quarterly \\
            --input /data/upload --schema quarterly [--manifest files.list]
    """
    import argparse
    import glob
    import os
    import sys

    from covid_19_data_engineering_spark.session import get_spark
    from covid_19_data_engineering_spark.sources.csv import read_manifest

    parser = argparse.ArgumentParser(prog="covid_19_data_engineering_spark.pipeline")
    parser.add_argument("mode", choices=["daily", "quarterly"])
    parser.add_argument("--input", required=True, help="directory of CSV extracts")
    parser.add_argument("--schema", default=None, help="target schema (default: mode name)")
    parser.add_argument("--manifest", default=None,
                        help="optional file list (one CSV name per line); default: all *.csv")
    parser.add_argument("--backup", default=None, help="raw-landing backup directory (daily)")
    args = parser.parse_args(argv)

    if args.manifest:
        paths = [os.path.join(args.input, n) for n in read_manifest(args.manifest)]
    else:
        paths = sorted(glob.glob(os.path.join(args.input, "*.csv")))
    if not paths:
        print(f"no CSV inputs found under {args.input}", file=sys.stderr)
        return 1

    spark = get_spark(app_name=f"pipeline-{args.mode}")
    schema = args.schema or args.mode
    if args.mode == "daily":
        results = run_daily(spark, paths, schema=schema, backup_dir=args.backup)
    else:
        results = run_quarterly(spark, paths, schema=schema)
    for r in results:
        print(f"{r.table}: {r.rows_loaded} rows ({r.rows_quarantined} quarantined)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
