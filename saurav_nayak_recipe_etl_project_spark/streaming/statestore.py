"""RocksDB state store for stateful streaming: disk-backed keyed
state so an aggregation's state can exceed executor memory.

Why this matters at 100 TB: the default HDFSBackedStateStoreProvider
keeps every partition's ENTIRE key-value state map in executor heap
(state is the store, memory is the bound) — a high-cardinality keyed
aggregation (per-user counters over a billion users) OOMs no matter
how many shuffle partitions it gets. Spark ships a RocksDB-backed
provider (bundled JNI, no extra install) that keeps working-set pages
in native memory and spills the rest to local SSD, bounding heap at
O(block cache) instead of O(state).

Changelog checkpointing is the second half of the scale story: with
it ON, each commit uploads only the batch's delta to the checkpoint
location instead of re-zipping the full RocksDB snapshot — commit
cost tracks update rate, not accumulated state size.

The provider is wired through session confs read at QUERY START and
recorded per-checkpoint; a checkpoint must keep the provider it was
created with (Spark refuses a mismatched restart), which is why the
runner scopes the confs and restores the previous values after the
query drains.

Reference scope: the reference's event-driven loader
(bigquery_loader_function/main.py:20-40) delegates all state to
BigQuery; this module is the self-hosted-state equivalent for the
streaming re-host, sized for state that outgrows memory.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import SparkSession, functions as F

from saurav_nayak_recipe_etl_project_spark.streaming import drain
from saurav_nayak_recipe_etl_project_spark.streaming.events import (
    read_event_stream,
)

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)

# Session confs for RocksDB-backed state. Kept minimal: provider +
# changelog checkpointing (delta uploads) + bounded native memory so
# 32 local tasks don't each grab an unbounded block cache.
ROCKSDB_CONFS = {
    "spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER,
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled":
        "true",
    "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage": "true",
}


@contextmanager
def rocksdb_state(spark: SparkSession):
    """Scope RocksDB state-store confs to a `with` block, restoring
    the previous session values on exit (other queries in the same
    session keep their provider — a checkpoint's provider choice is
    sticky and per-query)."""
    saved = {}
    for k, v in ROCKSDB_CONFS.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        yield spark
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def run_rocksdb_user_stats_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    query_name: str,
) -> None:
    """Per-user event counters (the highest-cardinality grouping the
    events table offers — user_id keys grow with the corpus, which is
    exactly the state the default in-heap provider cannot hold) as a
    stateful streaming aggregation on RocksDB state, drained with
    availableNow into a complete-mode memory sink.

    Restartable: calling this again with the same checkpoint after
    new files land resumes from committed RocksDB state — the
    recovery path (load snapshot + replay changelog) is what the
    2-run test exercises."""
    events = read_event_stream(spark, source_dir)
    per_user = events.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .alias("value_cents"),
        # max, not countDistinct: distinct aggs are unsupported on
        # streams (their state is a per-key set, unbounded); max is
        # O(1) state per key and order/restart-independent
        F.max(F.round(F.col("value") * 100).cast("long"))
        .alias("max_value_cents"),
    )
    with rocksdb_state(spark):
        drain(per_user, checkpoint_dir, query_name, "complete")
