"""End-to-end document ETL pipeline — the reference's full flow,
Spark-first.

Reference flow (src/etl_pipeline.py / cloud_function/main.py):
  Firestore docs → Python loops explode nested arrays → 5 CSVs →
  bucket backup → BigQuery WRITE_TRUNCATE load → SQL validation.

This pipeline:
  JSONL docs → declarative explode/posexplode normalization →
  parquet warehouse truncate-load → CSV lake backup written from the
  committed warehouse (not the reverse: a parquet round trip is
  lossless, a CSV one is not — null and "" both write as an empty
  field) → validation report.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from saurav_nayak_recipe_etl_project_spark.sources.documents import (
    INTERACTION_DOC_SCHEMA,
    USER_DOC_SCHEMA,
    read_documents,
)
from saurav_nayak_recipe_etl_project_spark.sources.sinks import (
    load_warehouse_table,
    table_path,
    write_csv_lake,
)


def _good(docs: DataFrame, key: str) -> DataFrame:
    # PERMISSIVE mode nulls every data field on a malformed line, so a
    # required-field filter quarantines bad docs without touching the
    # _corrupt_record column (which Spark only allows on cached plans).
    return docs.filter(F.col(key).isNotNull()).drop("_corrupt_record")


def normalize_documents(docs: DataFrame) -> dict[str, DataFrame]:
    """Nested order-docs → star schema: a fact table plus an ordered
    bridge table (the reference's recipes/ingredients/steps split,
    src/etl_pipeline.py:56-84)."""
    good = _good(docs, "order_id")
    orders = good.select("order_id", "user_id", "status", "total", "order_date")
    items = good.select(
        "order_id", F.posexplode("items").alias("pos", "it")
    ).select(
        "order_id",
        (F.col("pos") + 1).cast("long").alias("step_number"),
        F.col("it.line").alias("line"),
        F.col("it.part_id").alias("part_id"),
        F.col("it.quantity").alias("quantity"),
    )
    return {"orders": orders, "order_items": items}


def _load_tables(spark: SparkSession, tables: dict[str, DataFrame],
                 lake_dir: str, warehouse_dir: str) -> dict[str, int]:
    """Parse each table's documents once, in two Spark jobs: the
    warehouse write observes the row count (no `count()` re-read) and
    the lake re-reads the parquet with the known schema (a bare read
    runs a schema-inference job)."""
    counts: dict[str, int] = {}
    for name, df in tables.items():
        obs, wh_path = Observation(), table_path(warehouse_dir, name)
        load_warehouse_table(df.observe(obs, F.count(F.lit(1)).alias("n")),
                             wh_path)
        write_csv_lake(spark.read.schema(df.schema).parquet(wh_path),
                       table_path(lake_dir, name))
        counts[name] = obs.get["n"]
    return counts


def run_document_etl(spark: SparkSession, source_path: str,
                     lake_dir: str, warehouse_dir: str) -> dict[str, int]:
    """Extract → normalize → warehouse load → lake backup.
    Returns per-table row counts (the reference prints these)."""
    tables = normalize_documents(read_documents(spark, source_path))
    return _load_tables(spark, tables, lake_dir, warehouse_dir)


def run_full_star_etl(spark: SparkSession, users_path: str, orders_path: str,
                      interactions_path: str, lake_dir: str,
                      warehouse_dir: str) -> dict[str, int]:
    """The reference's complete flow: three document collections →
    four-table star schema (users, orders fact, order_items ordered
    bridge, interactions log) → lake + warehouse
    (src/etl_pipeline.py:28-134 end-to-end)."""
    tables = normalize_documents(read_documents(spark, orders_path))
    tables["users"] = _good(
        read_documents(spark, users_path, USER_DOC_SCHEMA), "user_id")
    tables["interactions"] = _good(read_documents(
        spark, interactions_path, INTERACTION_DOC_SCHEMA), "interaction_id")
    return _load_tables(spark, tables, lake_dir, warehouse_dir)
