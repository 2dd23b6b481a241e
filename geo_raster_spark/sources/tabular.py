"""Tabular scans (SURVEY.md §2.1 S9/S13/S15).

The reference hand-rolls CSV type inference [ref: lib/csv_util.py:9-43] and
recursive file listing with regex filters [ref: util/generate_list.py:40-122].
Spark equivalents are one-liners; kept as named helpers so the operator
inventory maps 1:1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_csv(spark: SparkSession, path: str, sep: str = ",") -> DataFrame:
    """S9: header CSV with per-column type inference
    [ref: lib/csv_util.py:28-43]."""
    return spark.read.csv(path, header=True, inferSchema=True, sep=sep)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """S1/S13 role: columnar scan (Iceberg at deployment; parquet here)."""
    return spark.read.parquet(path)


def list_files(spark: SparkSession, glob_path: str,
               pattern: str | None = None, skip_empty: bool = True) -> DataFrame:
    """S15: file listing with regex filter + zero-size skip
    [ref: util/generate_list.py:40-122] — via the binaryFile source's
    metadata columns (no content read: ``content`` is dropped before any
    action, so column pruning keeps it off disk)."""
    df = (spark.read.format("binaryFile").load(glob_path)
          .select("path", "length", "modificationTime"))
    if skip_empty:
        df = df.where(F.col("length") > 0)
    if pattern:
        df = df.where(F.col("path").rlike(pattern))
    return df


def read_jdbc(spark: SparkSession, url: str, table: str,
              partition_column: str | None = None,
              lower_bound=None, upper_bound=None, num_partitions: int = 8,
              **options) -> DataFrame:
    """S11: relational source [ref: lib/libpg.py:22-80 — the reference's
    psycopg2 wrapper; here the engine-agnostic Spark JDBC reader].

    At scale ALWAYS pass ``partition_column`` + bounds: without them the
    whole table funnels through one task; with them Spark issues
    ``num_partitions`` bounded range queries in parallel."""
    r = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column is not None:
        r = (r.option("partitionColumn", partition_column)
              .option("lowerBound", str(lower_bound))
              .option("upperBound", str(upper_bound))
              .option("numPartitions", str(num_partitions)))
    for k, v in options.items():
        r = r.option(k, v)
    return r.load()


def write_jdbc(df: DataFrame, url: str, table: str, mode: str = "append",
               **options) -> None:
    """S11 sink: idempotence at scale comes from keyed overwrite semantics
    upstream (checkpoint filtering), not from the DB write itself."""
    w = df.write.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in options.items():
        w = w.option(k, v)
    w.mode(mode).save()
