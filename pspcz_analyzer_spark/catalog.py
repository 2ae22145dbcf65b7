"""Table registry over Parquet directories.

The reference keeps one Polars DataFrame per table in process memory, keyed
by electoral period (``/root/reference/pspcz_analyzer/services/data_reader.py:94-103``).
Here a "catalog" is just a directory of Parquet tables; Spark re-reads
snapshots per query (Parquet readers see a consistent file set), which
replaces the reference's mtime-based file watcher for freshness.

The driver's synthetic star schema (TESTDATA.md) uses the same mechanism:
``load_table(spark, sf_dir, name)`` gives every query its inputs.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

# The driver's deterministic TPC-H-ish tables (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one Parquet table lazily (scan node only; no action).

    ``events.ts`` is TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark
    reads as TIMESTAMP_NTZ — naive values identical to DuckDB's read, so
    oracles hash-match with no timezone dependence. Earlier testdata
    generations wrote TIMESTAMP(NANOS); the conf + rebuild below keep those
    readable (nanos arrive as long, ``div 1000`` truncates to micros exactly
    like DuckDB's nanos->micros read).
    """
    # Sessions must carry spark.sql.legacy.parquet.nanosAsLong=true before
    # this read (TIMESTAMP(NANOS) columns are unreadable otherwise).
    # get_spark() sessions and plans.query_fns callers already satisfy it;
    # the idempotent shim below (get-before-set, constant values, no
    # order-dependence) keeps DIRECT calls under a caller-supplied vanilla
    # session working too (e.g. jobs.ingest_period_tables).
    from pspcz_analyzer_spark.session import ensure_runtime_confs

    ensure_runtime_confs(spark)
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def default_sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
