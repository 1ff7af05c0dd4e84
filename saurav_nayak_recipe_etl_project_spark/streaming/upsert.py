"""foreachBatch warehouse upsert — the reference's `bq-auto-loader`
(WRITE_TRUNCATE per file drop) upgraded to incremental last-write-wins
state: each micro-batch merges into a keyed parquet table instead of
replacing it.

foreachBatch gives exactly-once-per-batch semantics (batch_id is
replay-stable); the merge itself is a window dedup — at warehouse
scale you'd swap the overwrite for a format with row-level merge
(Delta/Iceberg), but the merge plan is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from saurav_nayak_recipe_etl_project_spark.streaming import drain, hadoop_fs
from saurav_nayak_recipe_etl_project_spark.streaming.events import (
    read_event_stream,
)


def latest_per_key(df: DataFrame, key: str, ts: str, tiebreak: str) -> DataFrame:
    w = Window.partitionBy(key).orderBy(F.desc(ts), F.desc(tiebreak))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def run_upsert_stream(spark: SparkSession, source_dir: str,
                      checkpoint_dir: str, state_path: str) -> None:
    """Event drops → per-user latest-state parquet table."""
    events = read_event_stream(spark, source_dir)

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        incoming = latest_per_key(batch_df, "user_id", "ts", "event_id")
        # Only a genuinely-missing state path means "first batch" —
        # corrupt files or IO errors must propagate, not silently
        # overwrite the accumulated state with one micro-batch.
        fs, jvm_path = hadoop_fs(spark, state_path)
        if fs.exists(jvm_path):
            existing = spark.read.parquet(state_path)
            merged = latest_per_key(
                existing.unionByName(incoming), "user_id", "ts", "event_id"
            )
        else:
            merged = incoming
        # materialize before overwriting the path we just read
        merged.localCheckpoint().write.mode("overwrite").parquet(state_path)

    drain(events, checkpoint_dir, merge)


def run_audited_publish_stream(spark: SparkSession, source_dir: str,
                               checkpoint_dir: str, table_dir: str,
                               audits,
                               max_files_per_trigger: int | None = None,
                               ) -> dict:
    """Streaming write-audit-publish: each trigger's CUMULATIVE
    aggregate snapshot is STAGED, audited against the staged files,
    and only then atomically published
    (operators/maintenance.publish_with_audit inside foreachBatch) —
    the streaming form of the WAP protocol, so downstream readers of
    the live pointer can never observe data that failed its quality
    gate.

    Cumulative is load-bearing: the upstream is a STATEFUL streaming
    aggregation keyed by (event_type, user_id) and foreachBatch runs
    in COMPLETE output mode, so every trigger's batch_df is the full
    state over ALL events seen so far — not the micro-batch alone. A
    later micro-batch therefore never replaces earlier batches'
    counts, and exact distinct-user counts fall out of the state key
    (streaming aggregations forbid countDistinct; counting state rows
    per type is the exact equivalent).

    A failed audit is RECORDED (batch_id -> error) and the stream
    continues — a poisoned batch must not wedge the pipeline; the
    rejected snapshot never becomes visible, and the NEXT good
    trigger's snapshot (cumulative, rebuilt from state) supersedes
    it, so a rejected batch's events are deferred, never lost.
    Returns {batch_id: 'published' | error message}."""
    from saurav_nayak_recipe_etl_project_spark.operators.maintenance import (
        AuditFailure,
        publish_with_audit,
    )

    events = read_event_stream(
        spark, source_dir, max_files_per_trigger=max_files_per_trigger
    )
    per_user = events.groupBy("event_type", "user_id").agg(
        F.count("*").alias("n")
    )
    outcomes: dict = {}

    def stage_audit_publish(batch_df: DataFrame, batch_id: int) -> None:
        snap = batch_df.groupBy("event_type").agg(
            F.sum("n").cast("long").alias("n_events"),
            F.count("user_id").alias("n_users"),
        )
        try:
            publish_with_audit(snap, table_dir, audits)
            outcomes[batch_id] = "published"
        except AuditFailure as e:
            outcomes[batch_id] = str(e)

    drain(per_user, checkpoint_dir, stage_audit_publish, "complete")
    return outcomes
