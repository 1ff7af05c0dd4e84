"""Streaming drift monitor: per-day event-type-mix divergence from the
corpus mix — the F55 source-JS audit, streaming edition. A pipeline
that ingests events continuously wants "did today's traffic mix drift?"
answered from the SAME materialized counts the ingest already
maintains, not a second batch scan.

Split of labor (the stream_mv_user_stats pattern): the STREAM maintains
only the additive state — per (1-day window, event_type) counts, a
watermarked windowed aggregation with bounded state — and the drift
scalar is a stateless rollup computed FROM those counts
(`drift_from_counts`), shared verbatim with the batch twin. Stream and
batch therefore cannot diverge on the JS math; the only thing the
equality test has to pin is the counts, and the drift equality follows
structurally.

Exactness (the F55 discipline): with P = day mix, Q = corpus mix,
M = (P+Q)/2, the log ratios collapse to integer ratios —
P/M = 2·c·N/(c·N + ct·nd), Q/M = 2·ct·nd/(c·N + ct·nd) — so every ln
argument is an exact DECIMAL(38,0)/HUGEINT integer, micro-rounded once
per (day, type) cell; accumulators are exact and js_micro is a chain
of truncating integer divisions both engines share. The grid is
calendar x type-catalog bounded (with c=0 cells), never event-sized.

Reference scope: the reference's event-driven layer reloads tables on
file arrival (bigquery_loader_function/main.py) with no monitoring;
drift detection is part of the mandated streaming extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from saurav_nayak_recipe_etl_project_spark.sources.catalog import load_table
from saurav_nayak_recipe_etl_project_spark.streaming import drain
from saurav_nayak_recipe_etl_project_spark.streaming.events import (
    WATERMARK,
    read_event_stream,
)


def _lnmu(expr: str) -> str:
    return f"cast(round(ln(cast({expr} as double)) * 1000000) as bigint)"


def drift_from_counts(cnt: DataFrame) -> DataFrame:
    """Per-day JS divergence (micro-nats) of the day's event-type mix
    from the corpus mix, from ANY (d, event_type, c) counts frame —
    the shared rollup both the batch twin and the streamed MV feed."""
    per_day = cnt.groupBy("d").agg(F.sum("c").alias("nd"))
    per_type = cnt.groupBy("event_type").agg(F.sum("c").alias("ct"))
    n_all = cnt.agg(F.sum("c").alias("nn"))
    # renamed join leg: the counts frame feeds four plan branches, and
    # when it is a (memory-)table reference the analyzer cannot always
    # de-conflict the reused attribute ids in the join condition —
    # fresh names sidestep that for ANY input frame
    cj = cnt.select(
        F.col("d").alias("_cd"),
        F.col("event_type").alias("_ct_key"),
        "c",
    )
    grid = (
        per_day.crossJoin(F.broadcast(per_type))
        .join(
            cj,
            (F.col("d") == F.col("_cd"))
            & (F.col("event_type") == F.col("_ct_key")),
            "left",
        )
        .drop("_cd", "_ct_key")
        .crossJoin(F.broadcast(n_all))
        .withColumn("c", F.coalesce("c", F.lit(0)))
        .withColumn(
            "den",
            F.expr(
                "cast(c as decimal(38,0)) * nn"
                " + cast(ct as decimal(38,0)) * nd"
            ),
        )
    )
    terms = grid.select(
        "d", "c", "ct", "nd", "nn",
        F.when(
            F.col("c") > 0,
            F.expr(_lnmu("2 * cast(c as decimal(38,0)) * nn"))
            - F.expr(_lnmu("den")),
        ).otherwise(F.lit(0)).alias("dp"),
        (F.expr(_lnmu("2 * cast(ct as decimal(38,0)) * nd"))
         - F.expr(_lnmu("den"))).alias("dq"),
    )
    return (
        terms.groupBy("d")
        .agg(
            F.max("nd").alias("nd"),
            F.max("nn").alias("nn"),
            F.sum(F.expr("cast(c as decimal(38,0)) * dp")).alias("sp"),
            F.sum(F.expr("cast(ct as decimal(38,0)) * dq")).alias("sq"),
        )
        .select(
            "d",
            F.col("nd").cast("long").alias("n_events"),
            F.expr(
                "cast((sp DIV nd + sq DIV nn) DIV 2 as bigint)"
            ).alias("js_micro"),
        )
        .select(
            "d", "n_events", "js_micro",
            F.round(F.col("js_micro") / F.lit(1e6), 4).alias("js_nats"),
        )
    )


def daily_type_mix_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry batch twin: drift_from_counts over the batch-loaded
    events table (NTZ dates — timezone-independent)."""
    ev = load_table(spark, "events", sf_dir)
    cnt = ev.groupBy(
        F.to_date("ts").alias("d"), "event_type"
    ).agg(F.count("*").alias("c"))
    return drift_from_counts(cnt)


def run_type_mix_stream(spark: SparkSession, source_dir: str,
                        checkpoint_dir: str, query_name: str) -> None:
    """The streaming half: watermarked per-(day-window, type) counts
    into a memory MV (swap for a Delta/parquet MV in production).
    availableNow drains everything currently landed, exactly once."""
    events = read_event_stream(spark, source_dir)
    counts = (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("c"))
        .select(
            F.to_date("w.start").alias("d"), "event_type", "c"
        )
    )
    drain(counts, checkpoint_dir, query_name, "complete")


DRIFT_ORACLE = """
    WITH cnt AS (
      SELECT CAST(ts AS DATE) AS d, event_type, COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ),
    per_day AS (SELECT d, SUM(c) AS nd FROM cnt GROUP BY d),
    per_type AS (
      SELECT event_type, SUM(c) AS ct FROM cnt GROUP BY event_type
    ),
    n_all AS (SELECT SUM(c) AS nn FROM cnt),
    grid AS (
      SELECT per_day.d, per_day.nd, per_type.event_type, per_type.ct,
        n_all.nn, COALESCE(cnt.c, 0) AS c,
        CAST(COALESCE(cnt.c, 0) AS HUGEINT) * nn
          + CAST(per_type.ct AS HUGEINT) * nd AS den
      FROM per_day
      CROSS JOIN per_type
      LEFT JOIN cnt ON cnt.d = per_day.d
        AND cnt.event_type = per_type.event_type
      CROSS JOIN n_all
    ),
    terms AS (
      SELECT d, c, ct, nd, nn,
        CASE WHEN c > 0 THEN
          CAST(round(ln(CAST(2 * CAST(c AS HUGEINT) * nn AS DOUBLE))
               * 1000000) AS BIGINT)
          - CAST(round(ln(CAST(den AS DOUBLE)) * 1000000) AS BIGINT)
        ELSE 0 END AS dp,
        CAST(round(ln(CAST(2 * CAST(ct AS HUGEINT) * nd AS DOUBLE))
             * 1000000) AS BIGINT)
        - CAST(round(ln(CAST(den AS DOUBLE)) * 1000000) AS BIGINT)
          AS dq
      FROM grid
    ),
    agg AS (
      SELECT d, MAX(nd) AS nd, MAX(nn) AS nn,
        SUM(CAST(c AS HUGEINT) * dp) AS sp,
        SUM(CAST(ct AS HUGEINT) * dq) AS sq
      FROM terms GROUP BY d
    )
    SELECT d, CAST(nd AS BIGINT) AS n_events,
      CAST((sp // nd + sq // nn) // 2 AS BIGINT) AS js_micro,
      ROUND(CAST((sp // nd + sq // nn) // 2 AS BIGINT) / 1000000.0, 4)
        AS js_nats
    FROM agg
"""

STREAM_DRIFT_QUERIES = {
    "daily_type_mix_drift": daily_type_mix_drift,
}

STREAM_DRIFT_ORACLES = {
    "daily_type_mix_drift": DRIFT_ORACLE,
}
