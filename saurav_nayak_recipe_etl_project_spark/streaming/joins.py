"""Stream-stream interval join (G5): attribute each purchase to the
view events that preceded it within an hour, per user.

Streaming: both sides watermarked; the time-bound join condition lets
Spark expire state (without the interval bound, stream-stream join
state grows forever). Batch twin is the identical join on the static
table — the oracle bridge, same plan shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from saurav_nayak_recipe_etl_project_spark.sources.catalog import load_table
from saurav_nayak_recipe_etl_project_spark.streaming import drain
from saurav_nayak_recipe_etl_project_spark.streaming.events import (
    read_event_stream,
)

ATTRIBUTION_WINDOW = "1 hour"


def _sides(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    views = events.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    return views, purchases


def _attributed(views: DataFrame, purchases: DataFrame) -> DataFrame:
    joined = purchases.join(
        views,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {ATTRIBUTION_WINDOW}")),
    )
    return joined.select(
        "purchase_id",
        F.col("p_user").alias("user_id"),
        "view_id",
        F.expr("timestampdiff(SECOND, date_trunc('second', v_ts), "
               "date_trunc('second', p_ts))").alias("lag_s"),
    )


def view_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream join."""
    views, purchases = _sides(load_table(spark, "events", sf_dir))
    return _attributed(views, purchases)


def run_attribution_stream(spark: SparkSession, source_dir: str,
                           checkpoint_dir: str, query_name: str) -> None:
    events = read_event_stream(spark, source_dir)
    views, purchases = _sides(events)
    out = _attributed(
        views.withWatermark("v_ts", "2 hours"),
        purchases.withWatermark("p_ts", "2 hours"),
    )
    drain(out, checkpoint_dir, query_name)


def _outer_attributed(views: DataFrame, purchases: DataFrame) -> DataFrame:
    """Every view LEFT OUTER joined to same-user purchases in the hour
    AFTER it — unmatched views survive with a NULL purchase (the
    'views that never converted' stream, which the inner form silently
    drops)."""
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts")
           <= F.col("v_ts") + F.expr(f"INTERVAL {ATTRIBUTION_WINDOW}")),
        "leftOuter",
    )
    return joined.select(
        "view_id",
        F.col("v_user").alias("user_id"),
        "purchase_id",
        F.col("purchase_id").isNotNull().alias("converted"),
    )


def view_purchase_attribution_outer(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Batch twin of the LEFT OUTER stream-stream join."""
    views, purchases = _sides(load_table(spark, "events", sf_dir))
    return _outer_attributed(views, purchases)


def run_attribution_stream_outer(spark: SparkSession, source_dir: str,
                                 checkpoint_dir: str, query_name: str,
                                 max_files_per_trigger: int | None = None,
                                 watermark: str = "2 hours") -> None:
    """G19 — stream-stream LEFT OUTER interval join. The semantics the
    inner join can't express: a view with no purchase inside its
    window must STILL be emitted (purchase NULL) — but only once the
    watermark has passed the end of its join window, because until
    then a matching purchase could still arrive. Spark holds the
    unmatched view in state and emits the null row at state expiry, so
    null rows appearing AT ALL proves cross-micro-batch watermark
    expiry ran (single-batch runs with a generous watermark would keep
    every unmatched row in state forever and emit nothing for them —
    availableNow drains pending state at end-of-stream, which the test
    exercises both ways)."""
    events = read_event_stream(
        spark, source_dir, max_files_per_trigger=max_files_per_trigger
    )
    views, purchases = _sides(events)
    out = _outer_attributed(
        views.withWatermark("v_ts", watermark),
        purchases.withWatermark("p_ts", watermark),
    )
    drain(out, checkpoint_dir, query_name)


STREAM_JOIN_QUERIES = {"view_purchase_attribution": view_purchase_attribution}

STREAM_JOIN_ORACLES = {
    "view_purchase_attribution": """
        SELECT p.event_id AS purchase_id, p.user_id AS user_id,
          v.event_id AS view_id,
          CAST(epoch(date_trunc('second', p.ts))
               - epoch(date_trunc('second', v.ts)) AS BIGINT) AS lag_s
        FROM events p JOIN events v
          ON p.event_type = 'purchase' AND v.event_type = 'view'
         AND p.user_id = v.user_id
         AND v.ts <= p.ts
         AND v.ts >= p.ts - INTERVAL 1 HOUR
    """,
}
