"""Semi-structured document source.

The reference streams JSON documents with nested arrays out of
Firestore (reference src/etl_pipeline.py:28-32). The Spark-first
equivalent is a schema'd JSON-lines reader: explicit StructType (no
sampling-based inference job at scale), nested arrays land as
array<struct> columns ready for explode, and the reader parallelizes
per file-split like any other source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from saurav_nayak_recipe_etl_project_spark.sources.catalog import load_table

# The "order document" shape — an order with its nested line items,
# structurally identical to the reference's recipe docs with nested
# ingredients/steps (reference schema/recipe.json).
ORDER_DOC_SCHEMA = T.StructType(
    [
        T.StructField("order_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("total", T.DoubleType()),
        T.StructField("order_date", T.StringType()),
        T.StructField(
            "items",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("line", T.IntegerType()),
                        T.StructField("part_id", T.LongType()),
                        T.StructField("quantity", T.DoubleType()),
                    ]
                )
            ),
        ),
    ]
)


def read_documents(spark: SparkSession, path: str,
                   schema: T.StructType = ORDER_DOC_SCHEMA) -> DataFrame:
    """Schema'd JSONL document reader (PERMISSIVE + corrupt-record
    column, so bad documents surface as data, not job failures)."""
    full_schema = T.StructType(
        [*schema.fields, T.StructField("_corrupt_record", T.StringType())]
    )
    return spark.read.schema(full_schema).json(path)


USER_DOC_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("username", T.StringType()),
        T.StructField("segment", T.StringType()),
        T.StructField("balance", T.DoubleType()),
    ]
)

INTERACTION_DOC_SCHEMA = T.StructType(
    [
        T.StructField("interaction_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("type", T.StringType()),
        T.StructField("rating", T.DoubleType()),
        T.StructField("at", T.StringType()),
    ]
)


def export_user_documents(spark: SparkSession, sf_dir: str, out_path: str) -> None:
    """users collection analog (reference users docs → users.csv)."""
    customer = load_table(spark, "customer", sf_dir)
    customer.select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_name").alias("username"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_acctbal").alias("balance"),
    ).write.mode("overwrite").json(out_path)


def export_interaction_documents(spark: SparkSession, sf_dir: str,
                                 out_path: str) -> None:
    """interactions collection analog (view/like/cook_attempt log →
    events with optional rating; reference interactions docs)."""
    events = load_table(spark, "events", sf_dir)
    events.select(
        F.col("event_id").alias("interaction_id"),
        "user_id",
        F.col("event_type").alias("type"),
        F.when(F.col("event_type") == "purchase", F.round(F.col("value"), 2))
        .alias("rating"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("at"),
    ).write.mode("overwrite").json(out_path)


def export_order_documents(spark: SparkSession, sf_dir: str, out_path: str) -> None:
    """Build nested order docs from the relational tables and write
    JSONL — the fixture generator standing in for the upstream
    document store."""
    orders = load_table(spark, "orders", sf_dir)
    lineitem = load_table(spark, "lineitem", sf_dir)
    items = (
        lineitem.groupBy("l_orderkey")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("l_linenumber").alias("line"),
                        F.col("l_partkey").alias("part_id"),
                        F.col("l_quantity").alias("quantity"),
                    )
                )
            ).alias("items")
        )
    )
    docs = orders.join(items, orders.o_orderkey == items.l_orderkey, "left").select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("total"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        "items",
    )
    docs.write.mode("overwrite").json(out_path)
