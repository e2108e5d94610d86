"""Parquet loaders for the benchmark star schema.

The driver materializes TPC-H-ish tables (plus ``events``/``documents``/
``embeddings``) at /root/testdata/sf*/ — one parquet file per table. At 100 TB
each "file" would be a partitioned parquet dataset; ``spark.read.parquet``
handles both transparently, and column pruning + predicate pushdown reach the
scan either way.

Schema memo: ``spark.read.parquet`` resolves a file's schema when the
DataFrame is built, by a Spark job that reads the parquet footers (0.1-0.2 s
each, paid inside every query builder). ``load_table`` keeps the resolved
schema per session, in a ``weakref.WeakKeyDictionary`` keyed by the
``SparkSession`` object (never by ``id()``, which a later session can
reuse), and reads a memoized path with that schema supplied, which launches
no job. Within a session the key is the absolute path plus the file's
``(st_ino, st_size, st_mtime_ns)``, so a file rewritten in place, or a
dataset directory Spark overwrote (a new directory), is resolved again. A
path ``os.stat`` cannot reach (an object store URI) is read uncached. Each
call still builds a fresh DataFrame, so two loads of one table in a plan
are distinct relations, as before.
"""

from __future__ import annotations

import os
import threading
import weakref

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# session -> {(abs path, st_ino, st_size, st_mtime_ns) -> resolved StructType}
_SCHEMAS = weakref.WeakKeyDictionary()
_SCHEMAS_LOCK = threading.Lock()


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the footer-schema job paid once per
    session and file version (see the module docstring)."""
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    path = os.path.abspath(path)
    key = (path, st.st_ino, st.st_size, st.st_mtime_ns)
    with _SCHEMAS_LOCK:
        schema = _SCHEMAS.get(spark, {}).get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    with _SCHEMAS_LOCK:
        _SCHEMAS.setdefault(spark, {})[key] = df.schema
    return df


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        # The testdata generator has shipped events.ts under two different
        # parquet physical types across rounds: INT64 TIMESTAMP(NANOS) (which
        # Spark refuses outright — PARQUET_TYPE_ILLEGAL — unless the legacy
        # nanosAsLong flag is on, and then reads as BIGINT nanos) and plain
        # timestamp[us] (read as TIMESTAMP_NTZ). Never assume the physical
        # type: set the legacy flag so the nanos vintage at least loads, then
        # convert ONLY when the column actually read as bigint.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # Legacy vintage: ts is long nanos; convert to TimestampType at
        # microsecond precision (matches DuckDB's cast of TIMESTAMP_NS to
        # TIMESTAMP, which also truncates to micros). Integer `div`, NOT `/`:
        # float division of 1.7e18-scale nanos loses the low bits (2^53
        # mantissa) and lands ±1µs off.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def events_with_time_cols(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """events plus derived calendar columns (``ts_day``/``ts_hour``/
    ``ts_week``, each a truncated timestamp).

    The ONE place that derives calendar grains from ``ts`` — consumers
    (retention cohorts, OHLC, rolling actives, temporal joins) pick the
    grain they need and Catalyst prunes the rest, so a future ts-type change
    is a single edit here, not one per consumer. ``date_trunc`` is legal on
    TIMESTAMP and TIMESTAMP_NTZ alike."""
    e = load_table(spark, "events", sf_dir)
    return (
        e.withColumn("ts_day", F.date_trunc("day", F.col("ts")))
        .withColumn("ts_hour", F.date_trunc("hour", F.col("ts")))
        .withColumn("ts_week", F.date_trunc("week", F.col("ts")))
    )


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: load_table(spark, name, sf_dir) for name in TABLES}


def register_temp_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Expose every benchmark table as a temp view so ``spark.sql`` queries run
    against the same names the DuckDB oracle uses."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
