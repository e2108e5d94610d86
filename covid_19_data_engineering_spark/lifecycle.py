"""Table lifecycle: staging -> promote -> history.

Re-implements the reference's zero-downtime swap and history-snapshot
machinery on the Spark catalog:

- build tables ``<name>_build``      (reference load_tables_daily.py:231,268,346)
- atomic-ish promote by rename       (reference load_tables_daily.py:227-244)
- schema-only clone (empty CTAS)     (reference vertica_upload.py:190-206)
- append-only history snapshots      (reference vertica_upload.py:209-230)
- ``load_time`` audit column         (reference vertica_upload.py:114,132-136,280-281)
- count validation report            (reference load_tables_daily.py:365-372)

Scale notes: promote is a metastore rename — O(1), no data movement, exactly
why the reference chose rename over copy. History tables are written
partitioned by ``load_date`` so time-travel reads prune to one partition and
daily appends never rewrite old data. The default DROP+RENAME promote keeps
the reference's two-catalog-op gap (load_tables_daily.py:232-244); the
round-4 ``mode="atomic"`` promote closes it with a single-op view-pointer
commit over versioned physical tables (see ``promote``).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

BUILD_SUFFIX = "_build"
HISTORY_SUFFIX = "_history"


def qualified(schema: str, table: str) -> str:
    return f"{schema}.{table}" if schema else table


def ensure_schema(spark: SparkSession, schema: str) -> None:
    if schema:
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {schema}")


def table_exists(spark: SparkSession, schema: str, table: str) -> bool:
    """Existence probe (reference B6: to_regclass / v_catalog lookups)."""
    return spark.catalog.tableExists(qualified(schema, table))


def drop_table(spark: SparkSession, schema: str, table: str) -> None:
    spark.sql(f"DROP TABLE IF EXISTS {qualified(schema, table)}")


def write_build_table(spark: SparkSession, df: DataFrame, schema: str, table: str) -> str:
    """Land a DataFrame as the staging table ``<table>_build`` (overwrite:
    a rerun of a failed day replaces the half-built table, never prod)."""
    ensure_schema(spark, schema)
    build = table + BUILD_SUFFIX
    df.write.mode("overwrite").format("parquet").saveAsTable(qualified(schema, build))
    return build


def clone_structure(spark: SparkSession, schema: str, src: str, dst: str) -> None:
    """Schema-only CTAS: copy structure, zero rows (reference B4,
    ``SELECT * FROM old WHERE 1 = 2`` — Catalyst folds the false predicate
    to an empty relation, so this reads no data)."""
    ensure_schema(spark, schema)
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {qualified(schema, dst)} "
        f"AS SELECT * FROM {qualified(schema, src)} WHERE 1 = 2"
    )


def promote(spark: SparkSession, schema: str, table: str,
            mode: str = "rename") -> None:
    """Staging -> production swap (reference C2/B9). Metastore-only; no data
    rewrite at any scale. Two commit protocols:

    - ``mode="rename"`` (reference parity): DROP prod + RENAME build. Two
      catalog ops — a reader between them sees no table (the same gap the
      reference accepts, load_tables_daily.py:232-244); the ``_build``
      table survives a crash in between for recovery.
    - ``mode="atomic"``: pointer-commit protocol. The production name is a
      VIEW over a versioned physical table ``<table>__v{n}``; promote
      renames the (reader-invisible) build table to the next version and
      repoints the view with CREATE OR REPLACE VIEW — ONE catalog op, so a
      reader sees the old version or the new one, never a missing table.
      The previous version is dropped after the commit; a crash before
      that drop leaves a harmless orphan version, never a broken prod.
      This is the same pointer-swap idea as a Delta/Iceberg metadata
      commit, expressed in the vanilla catalog; on a deployment with a
      transactional format installed, REPLACE TABLE subsumes it.

    One-time migration: if prod currently exists as a plain TABLE (earlier
    rename-mode promotes), the first atomic promote must drop it before the
    view can take its name — that single migration swap keeps the rename-
    mode gap; every subsequent atomic promote is gapless.
    """
    build = table + BUILD_SUFFIX
    if not table_exists(spark, schema, build):
        raise ValueError(f"no build table {qualified(schema, build)} to promote")
    # catalog lookups only: ``spark.catalog.listTables`` would launch Spark
    # jobs (it streams its result through ``toLocalIterator``) on every call
    prod = qualified(schema, table)
    prod_type = (spark.catalog.getTable(prod).tableType
                 if table_exists(spark, schema, table) else None)
    if mode == "rename":
        # a prod name left as a view by an earlier atomic-mode promote needs
        # DROP VIEW (DROP TABLE refuses); mode switching stays legal
        if prod_type == "VIEW":
            spark.sql(f"DROP VIEW IF EXISTS {prod}")
        drop_table(spark, schema, table)
        spark.sql(f"ALTER TABLE {qualified(schema, build)} RENAME TO {prod}")
        return
    if mode != "atomic":
        raise ValueError(f"unknown promote mode {mode!r}")

    db = schema or spark.catalog.currentDatabase()
    version_prefix = f"{table}__v"
    shown = spark.sql(f"SHOW TABLES IN {db} LIKE '{version_prefix}*'").collect()
    versions = sorted(
        int(r.tableName[len(version_prefix):])
        for r in shown
        if r.tableName.startswith(version_prefix)
        and r.tableName[len(version_prefix):].isdigit()
    )
    next_v = (versions[-1] + 1) if versions else 1
    versioned = f"{version_prefix}{next_v}"
    spark.sql(
        f"ALTER TABLE {qualified(schema, build)} RENAME TO {qualified(schema, versioned)}"
    )
    if prod_type is not None and prod_type != "VIEW":
        drop_table(spark, schema, table)  # one-time migration from rename mode
    # THE commit: a single catalog operation repoints production
    spark.sql(f"CREATE OR REPLACE VIEW {prod} AS SELECT * FROM {qualified(schema, versioned)}")
    for v in versions:
        drop_table(spark, schema, f"{version_prefix}{v}")


def with_load_time(df: DataFrame) -> DataFrame:
    """Audit column the quarterly path stamps on every row (reference B11)."""
    return df.withColumn("load_time", F.current_timestamp())


def snapshot_history(spark: SparkSession, schema: str, table: str) -> None:
    """Append today's full table contents to ``<table>_history`` (reference
    C4). Partitioned by ``load_date`` so each snapshot is its own partition:
    appends touch only new files and readers prune by date."""
    src = qualified(schema, table)
    hist = qualified(schema, table + HISTORY_SUFFIX)
    snap = spark.table(src).withColumn("load_date", F.current_date())
    if not table_exists(spark, schema, table + HISTORY_SUFFIX):
        snap.write.format("parquet").partitionBy("load_date").saveAsTable(hist)
    else:
        snap.write.mode("append").format("parquet").insertInto(hist)


def count_report(spark: SparkSession, schema: str, tables: list[str]) -> DataFrame:
    """Post-promotion validation: one row per table with its count(*)
    (reference C3). Returned as a DataFrame so callers can assert/persist."""
    parts = [
        spark.table(qualified(schema, t))
        .agg(F.count(F.lit(1)).alias("row_count"))
        .select(F.lit(t).alias("table_name"), "row_count")
        for t in tables
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("table_name")


def merge_upsert(spark: SparkSession, schema: str, table: str,
                 updates: DataFrame, key: str) -> None:
    """Upsert ``updates`` into ``schema.table`` on ``key``: matched rows are
    replaced, unmatched rows appended (MERGE semantics without a
    transactional table format).

    Plan: anti-join the target against the update keys (drops superseded
    rows), union the updates, rewrite through a ``_build`` staging table,
    promote by rename. The anti join broadcasts the update-key set when
    small — the common CDC case — so the target scan never shuffles; the
    rewrite is the price of parquet immutability (a Delta/Iceberg MERGE
    rewrites only matched files; same logical contract).
    """
    target = qualified(schema, table)
    survivors = spark.table(target).join(
        F.broadcast(updates.select(key)), on=key, how="left_anti"
    )
    merged = survivors.unionByName(updates)
    write_build_table(spark, merged, schema, table)
    promote(spark, schema, table)


def compact_table(spark: SparkSession, schema: str, table: str,
                  target_files: int = 1) -> int:
    """Small-files compaction: rewrite ``schema.table`` into ``target_files``
    files via the staging+promote path (same crash-safety as a daily load).

    The streaming/append paths accrete many small files; scans then pay
    per-file open cost and lose row-group-level parallelism. At scale,
    target_files ~= table_bytes / maxPartitionBytes, run periodically per
    partition. Returns the row count preserved (validation the caller logs).
    """
    target = qualified(schema, table)
    df = spark.table(target)
    n = df.count()
    compacted = df.coalesce(target_files)
    write_build_table(spark, compacted, schema, table)
    promote(spark, schema, table)
    return n
