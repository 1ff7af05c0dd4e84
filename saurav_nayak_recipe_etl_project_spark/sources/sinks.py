"""Sinks: data-lake CSV backup + warehouse truncate-load.

Mirrors the reference's two-tier load (reference README §5.3):
CSV backups to a bucket (cloud_function/main.py:107-142) and
WRITE_TRUNCATE warehouse loads (bigquery_loader_function/main.py).
Spark-first both are just `df.write` — distributed, atomic via the
commit protocol, no driver-side buffering of rows. The ETL writes the
lake from the committed warehouse parquet, so the documents are parsed
once; not the reverse, as a CSV read-back cannot tell null from "".
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def write_csv_lake(df: DataFrame, path: str) -> None:
    """Header'd CSV backup (the reference's data-lake tier). One file
    per partition; callers repartition if a specific layout is needed."""
    df.write.mode("overwrite").option("header", "true").csv(path)


def load_warehouse_table(df: DataFrame, path: str,
                         partition_by: list[str] | None = None) -> None:
    """WRITE_TRUNCATE-equivalent warehouse load: overwrite parquet,
    optionally hive-partitioned so downstream scans partition-prune."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def read_warehouse_table(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_csv_lake(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Typed read-back of a lake CSV (the reference's validator re-reads
    its CSVs; schema string keeps types explicit — no inference job)."""
    return (
        spark.read.schema(schema).option("header", "true")
        .option("mode", "PERMISSIVE").csv(path)
    )


def table_path(root: str, name: str) -> str:
    return os.path.join(root, name)
