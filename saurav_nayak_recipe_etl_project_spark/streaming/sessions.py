"""Sessionization — custom stateful operator (G3).

Batch twin: lag + running-sum windows assign gap-based session ids
declaratively (one shuffle on user_id, both windows share the sort).
Streaming: `applyInPandasWithState` keeps (session_start, last_ts,
count) per user and emits a session whenever the gap closes it —
Spark's state store handles checkpointing/recovery, so the operator
survives executor loss at any scale.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from saurav_nayak_recipe_etl_project_spark.streaming import drain
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)
from pyspark.sql.window import Window

from saurav_nayak_recipe_etl_project_spark.sources.catalog import load_table

GAP_MINUTES = 30


def sessionize_batch(events: DataFrame, gap_minutes: int = GAP_MINUTES) -> DataFrame:
    """Gap-based sessions: new session only when the per-user gap
    EXCEEDS `gap_minutes` — a gap exactly equal to the duration merges,
    matching Spark's `session_window` (verified by the exact-boundary
    fixture in tests/test_sessions.py). lag + cumulative sum over one
    (user_id, ts) sort."""
    order = [F.col("ts"), F.col("event_id")]
    w = Window.partitionBy("user_id").orderBy(*order)
    gap_s = gap_minutes * 60
    prev_ts = F.lag("ts").over(w)
    # Microsecond-exact, timezone-free gap (timestampdiff on the NTZ
    # column; unix_timestamp would both truncate and drag in the
    # session timezone) so boundary gaps agree with the oracle exactly.
    gap_us = F.expr("timestampdiff(MICROSECOND, lag(ts) OVER "
                    "(PARTITION BY user_id ORDER BY ts, event_id), ts)")
    is_new = F.when(
        prev_ts.isNull() | (gap_us > gap_s * 1_000_000), 1
    ).otherwise(0)
    run = Window.partitionBy("user_id").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    with_sess = events.withColumn("session_id", F.sum(is_new).over(run))
    return (
        with_sess.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.expr(
                "timestampdiff(SECOND, date_trunc('second', min(ts)), "
                "date_trunc('second', max(ts)))"
            ).alias("duration_s"),
        )
    )


def sessionize_native(events: DataFrame,
                      gap_minutes: int = GAP_MINUTES) -> DataFrame:
    """Second, independent sessionization path: Spark's built-in
    `session_window` (dynamic gap windows, also streaming-capable).
    Cross-validated against the lag+cumsum implementation in tests —
    two algorithms, one answer."""
    return (
        events.groupBy(
            F.session_window("ts", f"{gap_minutes} minutes"), "user_id"
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss")
            .alias("session_start"),
            "n_events",
        )
    )


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based user sessions (30-min) with counts and durations."""
    return sessionize_batch(load_table(spark, "events", sf_dir))


STATE_SCHEMA = StructType(
    [
        StructField("start_ts", DoubleType()),
        StructField("last_ts", DoubleType()),
        StructField("n_events", LongType()),
    ]
)
OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
    ]
)


def _make_session_fn(gap_minutes: int = GAP_MINUTES):
    """Per-user state machine: extend the open session or close it and
    emit. Sessions still open when the stream drains stay in state
    (they complete on later triggers) — exactly-once semantics come
    from the state store + checkpoint.

    Built as a CLOSURE so cloudpickle ships it by value — a
    module-level function is pickled by reference and Python workers
    without this repo on sys.path could not import it."""
    gap_s = gap_minutes * 60.0

    def session_fn(key: tuple, pdfs: Iterator["pd.DataFrame"],
                   state: GroupState) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        (user_id,) = key
        if state.exists:
            start_ts, last_ts, n = state.get
        else:
            start_ts = last_ts = None
            n = 0

        # applyInPandasWithState delivers a group's rows as MULTIPLE
        # pandas chunks with no cross-chunk time ordering — sort once
        # over the whole group, never per-chunk, or unordered groups
        # mis-segment.
        all_ts = sorted(ts for pdf in pdfs for ts in pdf["ts"])
        out: list[tuple[Any, ...]] = []
        for ts in all_ts:
            t = ts.timestamp()
            if last_ts is None:
                start_ts, last_ts, n = t, t, 1
            elif t - last_ts > gap_s:
                out.append((
                    user_id,
                    pd.Timestamp(start_ts, unit="s").floor("us"),
                    pd.Timestamp(last_ts, unit="s").floor("us"),
                    n,
                ))
                start_ts, last_ts, n = t, t, 1
            else:
                last_ts, n = t, n + 1
        state.update((start_ts, last_ts, n))
        if out:
            yield pd.DataFrame(
                out,
                columns=["user_id", "session_start", "session_end", "n_events"],
            )

    return session_fn


_session_fn = _make_session_fn()


def sessionize_stream(events: DataFrame) -> DataFrame:
    """Streaming sessionization over an event stream (ts must be a
    proper timestamp column)."""
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _make_session_fn(),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_session_stream(spark: SparkSession, source_dir: str,
                       checkpoint_dir: str, query_name: str,
                       max_files_per_trigger: int | None = None) -> None:
    from saurav_nayak_recipe_etl_project_spark.streaming.events import read_event_stream

    events = read_event_stream(spark, source_dir, max_files_per_trigger)
    drain(sessionize_stream(events), checkpoint_dir, query_name)


def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native `F.session_window` batch aggregation — the JVM-side
    session operator (SessionWindowing + MergingSessionsExec), a
    THIRD sessionization surface next to the lag/cumsum batch twin
    (sessionize_batch) and the applyInPandasWithState stream.

    Boundary semantics differ from sessionize_batch by design and are
    pinned by the oracle: session_window merges an event only if it
    arrives STRICTLY before prev_ts + gap (overlapping half-open
    [ts, ts+gap) windows), so a gap exactly equal to 30 min STARTS a
    new session here, while sessionize_batch merges it. session_end
    is last_ts + gap (the window end), not last_ts."""
    from saurav_nayak_recipe_etl_project_spark.sources.catalog import (
        load_table,
    )

    ev = load_table(spark, "events", sf_dir)
    sw = F.session_window(F.col("ts"), f"{GAP_MINUTES} minutes")
    return (
        ev.groupBy("user_id", sw.alias("sw"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            (F.col("cents") / F.lit(100.0)).alias("session_value"),
        )
    )


STREAMING_SESSION_QUERIES = {
    "sessionize_events": sessionize_events,
    "events_session_window": events_session_window,
}

STREAMING_SESSION_ORACLES = {
    "events_session_window": """
        -- session_window boundary semantics: STRICT merge
        -- (ts < prev_ts + gap), so new_s fires at diff >= 1800s —
        -- unlike sessionize_events' lag/cumsum twin which merges the
        -- exact-1800s gap; session_end = last_ts + gap.
        WITH e AS (
          SELECT user_id, ts, CAST(ROUND(value * 100) AS BIGINT) AS cents
          FROM events
        ),
        s AS (
          SELECT user_id, ts, cents,
            CASE WHEN lag(ts) OVER w IS NULL
                   OR date_diff('microsecond', lag(ts) OVER w, ts)
                      >= 1800000000
                 THEN 1 ELSE 0 END AS new_s
          FROM e
          WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        g AS (
          SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS sid
          FROM s
        )
        SELECT user_id,
          MIN(ts) AS session_start,
          MAX(ts) + INTERVAL 30 MINUTE AS session_end,
          COUNT(*) AS n_events,
          CAST(SUM(cents) AS BIGINT) / 100.0 AS session_value
        FROM g GROUP BY user_id, sid
    """,
    "sessionize_events": """
        WITH g AS (
          SELECT user_id, ts, event_id,
            CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                 THEN 1 ELSE 0 END AS new_s
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        s AS (
          SELECT user_id, ts,
            CAST(SUM(new_s) OVER (
              PARTITION BY user_id ORDER BY ts, event_id
              ROWS UNBOUNDED PRECEDING
            ) AS BIGINT) AS session_id
          FROM g
        )
        SELECT user_id, session_id, COUNT(*) AS n_events,
          strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
          CAST(epoch(date_trunc('second', MAX(ts)))
               - epoch(date_trunc('second', MIN(ts))) AS BIGINT) AS duration_s
        FROM s GROUP BY user_id, session_id
    """,
}
