"""foreachBatch warehouse upsert — the reference's `bq-auto-loader`
(WRITE_TRUNCATE per file drop) upgraded to incremental last-write-wins
state: each micro-batch merges into a keyed parquet table instead of
replacing it.

foreachBatch gives exactly-once-per-batch semantics (batch_id is
replay-stable); the merge itself is a window dedup.

Crash posture: a batch never writes into the state it reads. The merged
state goes to a sibling `.fold.tmp` dir and is published with the
streaming kit's `swap_dirs` (the first batch, with no live state yet,
publishes with a plain rename). Every crash window therefore leaves
either the old state, a stray temp dir, or the old state parked at
`.fold.old` — which `recover_swap` moves back at the start of the next
batch. No window loses accumulated state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from saurav_nayak_recipe_etl_project_spark.streaming import (
    drain,
    hadoop_fs,
    recover_swap,
    swap_dirs,
)
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
        # heal a swap a crash interrupted BEFORE deciding "first
        # batch": only a genuinely-missing state means that — corrupt
        # files or IO errors must propagate, not silently replace the
        # accumulated state with one micro-batch
        recover_swap(spark, state_path)
        fs, jvm_path = hadoop_fs(spark, state_path)
        tmp = f"{state_path}.fold.tmp"
        tmp_path = hadoop_fs(spark, tmp)[1]
        fs.delete(tmp_path, True)
        if fs.exists(jvm_path):
            latest_per_key(
                spark.read.parquet(state_path).unionByName(incoming),
                "user_id", "ts", "event_id").write.parquet(tmp)
            swap_dirs(spark, state_path, tmp)
        else:
            incoming.write.parquet(tmp)
            if not fs.rename(tmp_path, jvm_path):
                raise IOError(f"upsert: rename {tmp} -> {state_path} failed")

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
