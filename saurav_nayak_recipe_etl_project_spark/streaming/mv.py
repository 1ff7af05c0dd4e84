"""Incremental materialized-view maintenance (IVM) over the event
stream: a per-(user, event_type) aggregate table kept current by
merging per-batch PARTIAL aggregates, never recomputing from scratch.

This upgrades the reference's WRITE_TRUNCATE warehouse refresh
(bigquery_loader_function/main.py:20-40 — drop the table, reload
everything) to the incremental shape every warehouse eventually needs:
each micro-batch contributes only its own partial aggregate, and the
view is the merge of partials.

Design (the 100 TB IVM shape):
- foreachBatch computes the batch's partial aggregate — COUNT and an
  integer-cents SUM, both self-mergeable (associative + commutative),
  which is what makes the increment EXACT, not approximate. AVG-style
  derived metrics are computed at read time from the mergeable parts.
- State is parquet partitioned by batch_id: one new partition per
  batch, O(batch keys) written bytes; the accumulated state is never
  rewritten (the same append-only idea as the dedup band-key state,
  doc_dedup.py). Writes are idempotent: OVERWRITE of the replay-stable
  `batch_id=N` dir, so an at-least-once replay reproduces identical
  bytes instead of double-counting — the classic IVM failure mode.
- The VIEW is merge-on-read: one groupBy over the partition dirs.
  Because integer partial sums merge associatively, the streamed view
  equals the one-shot batch aggregate BIT-FOR-BIT — which is why the
  registered entry can carry a strict value oracle (the plain SQL
  groupBy), not just an agreement gate.
- `compact_mv_state` folds all partials into one partition at the
  newest batch id (merge-on-read cost is #partitions; compaction
  bounds it) — run it out-of-band, like parquet compaction
  (operators/maintenance.py); the view is identical before and after
  (tested). The fold is written to a sibling temp dir and swapped in
  by two renames (`streaming.fold_batches`), so a crash never leaves
  folded totals next to the partials they fold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from saurav_nayak_recipe_etl_project_spark.functions.cachereg import scratch_dir
from saurav_nayak_recipe_etl_project_spark.sources.catalog import load_table
from saurav_nayak_recipe_etl_project_spark.streaming import (
    drain,
    fold_batches,
    key_batches,
    replay_batches,
)

MV_KEYS = ("user_id", "event_type")


def _partial_agg(batch_df: DataFrame) -> DataFrame:
    """The batch's mergeable partial: COUNT + integer-cents SUM (the
    money-sum trick — float sums are shuffle-order-dependent; integer
    cents are exact and associative, so partials merge losslessly)."""
    return batch_df.groupBy(*MV_KEYS).agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
    )


def mv_process_batch(batch_df: DataFrame, batch_id: int,
                     state_path: str) -> None:
    """One IVM micro-batch: write the batch partial to its own
    replay-stable partition dir. No read of prior state at all —
    maintenance cost is O(batch), independent of view size."""
    _partial_agg(batch_df).write.mode("overwrite").parquet(
        f"{state_path}/batch_id={batch_id}"
    )


def _merge_partials(partials: DataFrame) -> DataFrame:
    """Sum partials per key; the result is itself a valid partial."""
    return partials.groupBy(*MV_KEYS).agg(
        F.sum("n_events").cast("long").alias("n_events"),
        F.sum("value_cents").alias("value_cents"),
    )


def read_mv(spark: SparkSession, state_path: str) -> DataFrame:
    """Merge-on-read: fold all batch partials into the current view.
    Derived metrics (total_value, avg_value) come from the mergeable
    parts at read time."""
    partials = spark.read.option("basePath", state_path).parquet(state_path)
    return (
        _merge_partials(partials)
        .select(
            *MV_KEYS,
            "n_events",
            F.round(F.col("value_cents") / F.lit(100.0), 2).alias("total_value"),
            # deliberately UNROUNDED: rounding an arbitrary quotient
            # diverges at .5 boundaries (Spark rounds the shortest
            # decimal string, DuckDB the binary value); the raw double
            # is the same IEEE division on both sides, hence portable
            ((F.col("value_cents") / F.col("n_events")) / F.lit(100.0))
            .alias("avg_value"),
        )
    )


def compact_mv_state(spark: SparkSession, state_path: str) -> int:
    """Fold every batch partial into one partition at the newest batch
    id (out-of-band, like parquet compaction). Returns the number of
    partitions removed. The merged partial is itself a valid partial,
    so `read_mv` is unchanged by compaction. Crash-safe: the fold is
    swapped in by `fold_batches`, never written next to the partials
    it folds (which `read_mv` would double-count)."""
    return fold_batches(spark, state_path, _merge_partials)


def run_mv_stream(spark: SparkSession, source_dir: str,
                  checkpoint_dir: str, state_path: str,
                  max_files_per_trigger: int | None = None) -> None:
    """Event drops → incrementally-maintained aggregate view."""
    from saurav_nayak_recipe_etl_project_spark.streaming.events import (
        read_event_stream,
    )

    events = read_event_stream(spark, source_dir,
                               max_files_per_trigger=max_files_per_trigger)
    drain(events, checkpoint_dir,
          lambda batch_df, batch_id: mv_process_batch(batch_df, batch_id,
                                                      state_path))


def stream_mv_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered IVM entry, STRICT VALUE oracle: replays the corpus
    through `mv_process_batch` as two event_id-ordered batches with a
    real state dir, then reads the merged view. Because the partials
    are integer and merge associatively, the result must equal the
    one-shot SQL groupBy bit-for-bit — any double-count (replay bug),
    lost batch, or merge error shows up as a value/hash mismatch at
    the driver, far stronger than an agree-boolean."""
    events = load_table(spark, "events", sf_dir)
    state = replay_batches("stream_mv_", mv_process_batch,
                           key_batches(events, "event_id", 2))
    return read_mv(spark, state)


def run_mv_stream_txlog(spark: SparkSession, table: str,
                        checkpoint_dir: str, state_path: str,
                        max_versions_per_batch: int | None = None) -> None:
    """The same IVM pipeline fed from the ACID table instead of file
    drops: `spark.readStream.format("txlog")` (sources/txsource.py —
    commit versions as offsets) → per-batch partials. This is the
    lakehouse deployment shape: writers commit through tx_append, the
    view maintains itself off the transaction log, and the query
    checkpoint + dense immutable versions give exactly-once."""
    from saurav_nayak_recipe_etl_project_spark.sources.txsource import (
        register_txlog_source,
    )

    register_txlog_source(spark)
    reader = spark.readStream.format("txlog").option("path", table)
    if max_versions_per_batch is not None:
        reader = reader.option("maxVersionsPerBatch",
                               str(max_versions_per_batch))
    drain(reader.load(), checkpoint_dir,
          lambda batch_df, batch_id: mv_process_batch(batch_df, batch_id,
                                                      state_path))


def txsource_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered entry, STRICT VALUE oracle — the A18 DataSource
    driven end-to-end: the events corpus lands in a txlog ACID table
    as three tx_append commits, the table is consumed through the
    REAL `spark.readStream.format("txlog")` source across TWO query
    lifetimes sharing one checkpoint (commits 0-1 in the first, commit
    2 landing only after it stops), each micro-batch maintains the
    user-stats MV, and the merged view must equal the one-shot SQL
    groupBy bit-for-bit. One hash therefore proves the source's
    version-offset planning, the Arrow read lane, exactly-once resume
    from the checkpoint (a replay of commits 0-1 in the second
    lifetime would double-count and mismatch), and the IVM merge."""
    from saurav_nayak_recipe_etl_project_spark.sources.txlog import (
        tx_append,
    )

    events = load_table(spark, "events", sf_dir).select(
        "event_id", "user_id", "event_type", "value")
    b0, b1, b2 = key_batches(events, "event_id", 3)
    tmp = scratch_dir("txsource_mv_")
    table, ckpt, state = f"{tmp}/events_tx", f"{tmp}/ckpt", f"{tmp}/state"
    tx_append(b0, table, ["event_id"])
    tx_append(b1, table, ["event_id"])
    run_mv_stream_txlog(spark, table, ckpt, state)
    # the third commit lands only AFTER the first lifetime stopped:
    # the resumed query must consume exactly it and nothing else
    tx_append(b2, table, ["event_id"])
    run_mv_stream_txlog(spark, table, ckpt, state)
    return read_mv(spark, state)


STREAM_MV_QUERIES = {
    "stream_mv_user_stats": stream_mv_user_stats,
    "txsource_mv": txsource_mv,
}

STREAM_MV_ORACLES = {
    # The one-shot aggregate the incrementally-maintained view must
    # equal exactly (integer-cents money sum, same association).
    "stream_mv_user_stats": """
        SELECT user_id, event_type,
          CAST(COUNT(*) AS BIGINT) AS n_events,
          ROUND(CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                / 100.0, 2) AS total_value,
          (CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
           / CAST(COUNT(*) AS BIGINT)) / 100.0 AS avg_value
        FROM events
        GROUP BY user_id, event_type
    """,
}

# Same one-shot aggregate, the SAME string: the txlog-fed MV maintains
# an identical view, so stream_mv_user_stats' oracle is its strict
# oracle verbatim — any version replayed twice across the two query
# lifetimes doubles a partial and hash-mismatches.
STREAM_MV_ORACLES["txsource_mv"] = STREAM_MV_ORACLES["stream_mv_user_stats"]
