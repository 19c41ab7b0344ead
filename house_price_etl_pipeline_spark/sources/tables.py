"""Loaders for the driver-generated testdata tables (TESTDATA.md).

Parquet only — columnar scan with predicate pushdown and column pruning
for free. At 100 TB these reads would be partitioned-parquet directories;
the API shape (dir + table name) is unchanged by that.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
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

# Dimension tables small enough to broadcast at ANY scale factor: their
# cardinality is fixed (region=5, nation=25) or grows sub-linearly. Joins
# against these must never shuffle the fact side.
BROADCAST_TABLES = frozenset({"region", "nation"})


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; have {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # events.ts is TIMESTAMP(NANOS) parquet, which Spark's vectorized
        # reader rejects (PARQUET_TYPE_ILLEGAL). Read nanos as raw int64
        # and truncate to µs TimestampType — same truncation DuckDB's µs
        # timestamps apply, so oracle comparisons line up.
        from pyspark.sql import functions as F

        from ..session import rebind

        df = rebind(nanos_session(spark).read.parquet(path), spark)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return spark.read.parquet(path)


def nanos_session(spark: SparkSession) -> SparkSession:
    """A private clone of ``spark`` that reads TIMESTAMP(NANOS) parquet
    as raw int64 (``nanosAsLong``). A scan keeps the session it was
    read with, so a frame read here and rebound to ``spark`` reads the
    same way while ``spark``'s own conf never gains the flag."""
    from ..session import private_session

    return private_session(
        spark, {"spark.sql.legacy.parquet.nanosAsLong": "true"})


def stream_table_reader(spark: SparkSession, sf_dir: str, name: str,
                        schema) -> DataFrame:
    """Layout-aware streaming file source for ``<sf_dir>/<name>.parquet``.

    The table may be a SINGLE FILE (the testdata generator's layout) or
    a DIRECTORY of part files (Spark's own writer layout — any replica
    or production copy). The file source lists a directory, so the
    single-file layout scans ``sf_dir`` glob-filtered to the file name;
    a directory is streamed directly. The old glob-only form silently
    matched ZERO files against a directory-shaped table — every
    streaming query drained zero batches on a standard-layout copy of
    the data (found by the 64x replica probe, round 8)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(path):
        return spark.readStream.schema(schema).parquet(path)
    return (spark.readStream.schema(schema)
            .option("pathGlobFilter", f"{name}.parquet")
            .parquet(sf_dir))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (for the spark.sql surface)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


# Memoized row counts + data-scaled partition widths. Aggregations with
# WIDE or object-backed per-group state (collect_set edge building, the
# 64-column SimHash bit-vote) must size their shuffle to GROUP COUNT,
# not to a fixed knob: per-task aggregation state = groups/partitions ×
# state width, and a fixed width turns linear data growth into a heap
# wall (measured twice — SCALE.md §64× and §Round-5). One metadata-cheap
# count() per (session, table, dir), memoized.
_ROWCOUNT_CACHE: dict[tuple[str, str, str], int] = {}


_SCHEMA_CACHE: dict[tuple[str, str, str], object] = {}


def table_schema_raw(spark: SparkSession, sf_dir: str, name: str):
    """Memoized RAW parquet footer schema of a testdata table (no ts
    conversion — events keeps its nanos-as-long int64, which the
    streaming sources convert themselves). The streaming sources probe
    the footer to build their file-source schema, and the testdata
    files are immutable per (session, dir), so repeat probes (one per
    streaming query start, ~78 ms of driver-side inference each) are
    pure waste. Metadata only, never results."""
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), name)
    sch = _SCHEMA_CACHE.get(key)
    if sch is None:
        reader = nanos_session(spark) if name == "events" else spark
        path = os.path.join(sf_dir, f"{name}.parquet")
        sch = reader.read.parquet(path).schema
        _SCHEMA_CACHE[key] = sch
    return sch


def table_rowcount(spark: SparkSession, sf_dir: str, name: str) -> int:
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), name)
    n = _ROWCOUNT_CACHE.get(key)
    if n is None:
        n = load_table(spark, sf_dir, name).count()
        _ROWCOUNT_CACHE[key] = n
    return n


def scaled_partitions(spark: SparkSession, sf_dir: str, name: str,
                      rows_per_partition: int, floor: int = 8,
                      cap: int = 4096) -> int:
    """ceil(rowcount / rows_per_partition), clamped — the width that
    keeps per-task aggregation state bounded at any data scale."""
    rows = table_rowcount(spark, sf_dir, name)
    return max(floor, min(cap, -(-rows // rows_per_partition)))
