"""Structured Streaming re-host of the reference's event-driven layer.

The reference refreshes its warehouse via a GCS-triggered Cloud
Function (reference bigquery_loader_function/main.py — file lands →
load job). Spark-first that's a file-source `readStream` with
incremental listing, watermarked event-time windows, and exactly-once
sinks — the same "new file → processed" contract, minus the glue.

`stream_events_window` (registry) is the batch-mode twin of the
streaming aggregation: windows are epoch-aligned so batch SQL
(DuckDB time_bucket) reproduces the streaming result exactly — the
correctness bridge for the G suite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from saurav_nayak_recipe_etl_project_spark.sources.catalog import load_table
from saurav_nayak_recipe_etl_project_spark.streaming import (
    await_or_raise,
    drain,
    read_drops,
)

WINDOW = "1 day"
WATERMARK = "1 day"


def _cents():
    """`value` in integer cents: the money-sum trick — float sums are
    shuffle-order-dependent, integer cents are exact and associative."""
    return F.round(F.col("value") * 100).cast("long")


def _money_sum():
    """Exact money sum of `value`, rounded to cents."""
    return F.round(F.sum(_cents()) / F.lit(100.0), 2)


def _epoch_s(col: str):
    """Seconds since the epoch of a timestamp column, timezone-free."""
    return F.expr("timestampdiff(SECOND, TIMESTAMP '1970-01-01 00:00:00',"
                  f" {col})").cast("long")


def _windowed(events: DataFrame) -> DataFrame:
    """Tumbling-window counts/sums per event type; shared by the batch
    twin and the streaming pipeline (identical logical plan)."""
    return (
        events.groupBy(F.window("ts", WINDOW).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def stream_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1 — batch twin of the streaming windowed aggregation."""
    return _windowed(load_table(spark, "events", sf_dir))


def read_event_stream(spark: SparkSession, source_dir: str,
                      max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream over event parquet drops, storage-unit aware:
    probes one parquet footer (catalog.event_ts_is_nanos) to decide
    whether `ts` arrives as epoch-ns long (TIMESTAMP(NANOS) data) or a
    proper µs timestamp, then applies the SAME normalization helper as
    the batch catalog — batch and stream cannot diverge on units.
    `max_files_per_trigger` throttles micro-batch size (and lets tests
    force multi-batch runs to exercise cross-batch state)."""
    from saurav_nayak_recipe_etl_project_spark.sources.catalog import (
        event_ts_is_nanos,
        normalize_event_ts,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ts_field = "ts long" if event_ts_is_nanos(source_dir) else "ts timestamp"
    schema = (
        f"event_id long, {ts_field}, user_id long, event_type string, "
        "value double, props string"
    )
    raw = read_drops(spark, source_dir, schema, max_files_per_trigger)
    # Watermarks require instant-typed (TIMESTAMP, not NTZ) event time —
    # correct for streaming: late-data reasoning happens on the timeline.
    return normalize_event_ts(raw, instant=True)


def run_windowed_stream(spark: SparkSession, source_dir: str,
                        checkpoint_dir: str, query_name: str) -> None:
    """Incremental pipeline: file drops → watermarked windowed agg →
    in-memory sink (swap for parquet/kafka in production), processing
    everything currently available, exactly once."""
    events = read_event_stream(spark, source_dir)
    agg = _windowed(events.withWatermark("ts", WATERMARK))
    drain(agg, checkpoint_dir, query_name, "complete")


def run_windowed_stream_continuous(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    query_name: str,
    interval: str = "500 milliseconds",
):
    """processingTime-trigger twin of run_windowed_stream: the query
    stays RESIDENT and fires a micro-batch every `interval`, picking
    up files as they land — the long-lived production deployment
    shape, vs availableNow's drain-and-stop used everywhere else in
    this suite (and by the reference's event-driven loader,
    bigquery_loader_function/main.py:20-40, which is invoked per
    upload). Returns the live StreamingQuery; the CALLER owns stop().

    Semantics are identical to the availableNow twin (same plan, same
    checkpointed state), which is exactly what the soak test pins:
    files fed across several wall-clock triggers must equal the batch
    twin over the union."""
    events = read_event_stream(spark, source_dir)
    agg = _windowed(events.withWatermark("ts", WATERMARK))
    return (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=interval)
        .start()
    )


def run_windowed_stream_append(spark: SparkSession, source_dir: str,
                               checkpoint_dir: str, out_path: str) -> None:
    """Append-mode twin of run_windowed_stream: emits a window ONLY
    once the watermark passes its end (finalized, exactly-once rows) —
    the state-bounded production mode. Complete mode re-emits every
    window each trigger and keeps ALL windows in state forever;
    append + watermark expires closed windows, so state is bounded by
    the watermark horizon regardless of stream age. Events older than
    the watermark are dropped (pinned in tests/test_late_data.py).
    Sink is parquet (fault-tolerant, checkpoint-recoverable — the
    memory sink cannot resume an append query across restarts)."""
    events = read_event_stream(spark, source_dir)
    agg = _windowed(events.withWatermark("ts", WATERMARK))
    await_or_raise(
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _top_users(events: DataFrame, k: int) -> DataFrame:
    """Top-k users by event volume; shared by the batch twin and the
    streaming leaderboard (identical logical plan)."""
    return (
        events.groupBy("user_id")
        .agg(F.count("*").alias("n_events"), _money_sum().alias("total_value"))
        .orderBy(F.desc("n_events"), F.asc("user_id"))
        .limit(k)
    )


def top_event_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the incremental top-k: top-10 users by event
    volume (the continuously-maintained leaderboard shape from the
    incremental top-k literature)."""
    return _top_users(load_table(spark, "events", sf_dir), 10)


def run_topk_stream(spark: SparkSession, source_dir: str,
                    checkpoint_dir: str, query_name: str, k: int = 10) -> None:
    """Continuously-maintained top-k leaderboard: complete-mode agg +
    per-trigger sorted limit. State is one row per user — bounded by
    key cardinality, not stream length."""
    agg = _top_users(read_event_stream(spark, source_dir), k)
    drain(agg, checkpoint_dir, query_name, "complete")


def run_enriched_stream(spark: SparkSession, source_dir: str, user_dim,
                        checkpoint_dir: str, query_name: str) -> None:
    """Stream-static enrichment: the event stream joined per
    micro-batch to a STATIC dimension (here a user dim DataFrame) —
    the lookup-join shape every event pipeline needs, distinct from
    the watermarked stream-stream join (joins.py). The static side is
    re-resolved each micro-batch (so a dim refresh between triggers is
    picked up) and broadcast — no state store involved, unlike
    stream-stream joins. Aggregates per (segment, event_type) so the
    output is dimension-bounded."""
    ev = read_event_stream(spark, source_dir)
    enriched = ev.join(F.broadcast(user_dim), "user_id", "left")
    agg = (
        enriched.groupBy(
            F.coalesce("segment", F.lit("unknown")).alias("segment"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), _money_sum().alias("sum_value"))
    )
    drain(agg, checkpoint_dir, query_name, "complete")


def run_ohlc_stream(spark: SparkSession, source_dir: str,
                    checkpoint_dir: str, query_name: str) -> None:
    """Incrementally-maintained daily OHLC bars per event type (the
    plans/temporal.events_ohlc batch query as a live view).

    The batch form picks open/close with ROW_NUMBER windows — window
    functions don't exist in streaming aggregations, so the stream
    uses the ALGEBRAIC form: min_by/max_by over the (ts, event_id)
    struct. These are self-mergeable (min_by of min_bys is min_by), so
    micro-batch order cannot change the result — the stream equals the
    batch twin after ANY file arrival order (pinned in
    tests/test_streaming.py with a 2-batch split feed). State: one row
    per (event_type, day) — bounded by the calendar, not the stream.
    Complete-mode memory sink here; production would use append +
    watermark like run_windowed_stream_append once bars finalize."""
    ev = read_event_stream(spark, source_dir, max_files_per_trigger=1)
    pick = F.struct("ts", "event_id")
    agg = (
        ev.select(
            "event_type", F.col("ts").cast("date").alias("day"),
            "ts", "event_id", _cents().alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(
            F.count("*").alias("n_events"),
            (F.min_by("cents", pick) / F.lit(100.0)).alias("open"),
            (F.max("cents") / F.lit(100.0)).alias("high"),
            (F.min("cents") / F.lit(100.0)).alias("low"),
            (F.max_by("cents", pick) / F.lit(100.0)).alias("close"),
            (F.sum("cents") / F.lit(100.0)).alias("volume"),
        )
    )
    drain(agg, checkpoint_dir, query_name, "complete")


def run_sliding_stream(spark: SparkSession, source_dir: str,
                       checkpoint_dir: str, query_name: str) -> None:
    """Streaming twin of plans/temporal.events_sliding_window: 1-day
    windows sliding every 6 hours — each event updates FOUR overlapping
    window states (the Expand runs map-side per micro-batch, state is
    per (window, event_type)). Complete-mode memory sink; equality with
    the batch form under a 2-batch split feed is pinned in
    tests/test_streaming.py — overlapping-window state must merge
    across micro-batches exactly like tumbling state does."""
    ev = read_event_stream(spark, source_dir, max_files_per_trigger=1)
    agg = (
        ev.groupBy(F.window("ts", "1 day", "6 hours"), "event_type")
        .agg(F.count("*").alias("n"), _money_sum().alias("sum_value"))
        .select(
            _epoch_s("window.start").alias("window_start_s"),
            "event_type", "n", "sum_value",
        )
    )
    drain(agg, checkpoint_dir, query_name, "complete")


def run_dedup_stream(spark: SparkSession, source_dir: str,
                     checkpoint_dir: str, query_name: str) -> None:
    """Streaming dedup: at-least-once upstream delivery → exactly-once
    downstream rows. dropDuplicatesWithinWatermark keys state on
    event_id and expires it with the watermark, so dedup state stays
    bounded no matter how long the stream runs."""
    events = read_event_stream(spark, source_dir)
    deduped = events.withWatermark("ts", "30 days").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    drain(deduped, checkpoint_dir, query_name)


STREAMING_QUERIES = {
    "stream_events_window": stream_events_window,
    "top_event_users": top_event_users,
}

STREAMING_ORACLES = {
    "top_event_users": """
        SELECT user_id, COUNT(*) AS n_events,
          ROUND(SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0, 2)
            AS total_value
        FROM events GROUP BY user_id
        ORDER BY n_events DESC, user_id LIMIT 10
    """,
    "stream_events_window": """
        SELECT
          strftime(time_bucket(INTERVAL '1 day', ts), '%Y-%m-%d %H:%M:%S')
            AS window_start,
          event_type,
          COUNT(*) AS n,
          ROUND(SUM(value), 2) AS sum_value
        FROM events
        GROUP BY 1, 2
    """,
}


def _session_windows(events: DataFrame, watermark: str) -> DataFrame:
    """Native session_window aggregation (30-minute gap) per user over
    the watermarked event stream, with session bounds in epoch
    seconds; shared by the complete- and append-mode runners."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"), F.sum(_cents()).alias("cents"))
        .select(
            "user_id",
            _epoch_s("sw.start").alias("session_start_s"),
            _epoch_s("sw.end").alias("session_end_s"),
            "n_events",
            (F.col("cents") / F.lit(100.0)).alias("session_value"),
        )
    )


def run_session_window_stream(spark: SparkSession, source_dir: str,
                              checkpoint_dir: str,
                              query_name: str) -> None:
    """STREAMING native session_window: watermarked gap-based session
    aggregation (MergingSessionsExec with state) — the streaming twin
    of streaming/sessions.events_session_window. Sessions merge ACROSS
    micro-batches: an event landing within 30 min of a session open in
    a previous batch must extend that session's state, not start a new
    row — pinned in tests by a 2-batch split feed equaling the batch
    form. Watermark bounds session state. Output runs in COMPLETE
    mode (session_window aggregation does not support update mode in
    Spark), which rebuilds the whole result each trigger — fine for
    this memory-sink test scope; a production sink would use APPEND
    mode with a tighter watermark so only watermark-closed sessions
    emit, keeping per-trigger output incremental."""
    ev = read_event_stream(spark, source_dir, max_files_per_trigger=1)
    drain(_session_windows(ev, "30 days"), checkpoint_dir, query_name,
          "complete")


def run_session_window_stream_append(spark: SparkSession, source_dir: str,
                                     checkpoint_dir: str, query_name: str,
                                     watermark: str = "2 hours") -> None:
    """APPEND-mode native session_window: the PRODUCTION deployment
    shape of run_session_window_stream — each session row emits
    exactly once, when the watermark passes its close, so per-trigger
    output is incremental instead of a complete rebuild. The
    complement: sessions still open against the FINAL watermark stay
    in state and never emit (a stream has no end-of-data oracle) —
    the same contract as the LEFT OUTER join's null rows, which is
    why the test compares watermark-closed sessions only.
    max_files_per_trigger=1 forces cross-micro-batch session merging
    before emission."""
    ev = read_event_stream(spark, source_dir, max_files_per_trigger=1)
    drain(_session_windows(ev, watermark), checkpoint_dir, query_name)
