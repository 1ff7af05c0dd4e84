"""Streaming near-duplicate dedup of documents via MinHash-band keys
(G7 extended from event_id equality to LSH similarity keys).

Semantics (shared by the batch twin and the stream): a document is a
DUPLICATE iff it shares at least one MinHash band bucket with an
earlier document — "earlier" is doc_id order in batch, arrival order
in the stream (identical when files arrive in doc_id order, which the
twin-agreement test enforces).

Why foreachBatch and not dropDuplicatesWithinWatermark: band-OR
semantics ("dup if ANY of the 8 band keys was seen") cannot be keyed
as a single equality column, and chaining a stateful explode-dedup
with a per-doc all-bands aggregate is two stateful operators. Instead
each micro-batch joins its band keys against the accumulated band-key
state table and appends ONLY the batch's new keys.

Scale + exactly-once design (round-3 rewrite, round-5 bucket prune):
- State is parquet partitioned by batch_id THEN bucket
  (pmod(band_hash, N_STATE_BUCKETS)): each batch writes one new
  batch_id partition holding only the keys it introduced (anti-join
  against prior state), so per-batch state WRITE is O(batch), not
  O(corpus) — and the membership semi-join READ filters state to the
  buckets the incoming batch actually touches, so small batches read
  a directory-pruned fraction of state instead of all of it
  (tests assert the pruned file set). N_STATE_BUCKETS=16 keeps test
  corpora multi-file; a 100 TB deployment would use 256-1024 so a
  typical micro-batch touches a small fraction of bucket dirs.
- foreachBatch is at-least-once; the sink is made idempotent with the
  replay-stable batch_id: survivors and new state keys both go to
  per-batch_id partition dirs in OVERWRITE mode, and the survivor /
  new-key computation reads state EXCLUDING its own batch_id
  partition — a replayed batch recomputes byte-identical output and
  overwrites the same two dirs. No committed-batch marker needed.
- Retention: `retention_batches=N` prunes the state view to the last
  N batch partitions (partition-pruned read) and deletes expired
  partition dirs — state on disk is bounded, same role as a
  watermark. Default None keeps everything (exact dedup).
The cross-batch membership check still reads the retained state once
per batch — unavoidable for exact set membership without an indexed
store; the round-2 defect was the O(corpus) re-WRITE, now gone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from saurav_nayak_recipe_etl_project_spark.functions.cachereg import scratch_dir
from saurav_nayak_recipe_etl_project_spark.streaming import (
    batch_dirs,
    drain,
    hadoop_fs,
    key_batches,
    parallel_actions,
    read_drops,
    rebalance_for_write,
)

from saurav_nayak_recipe_etl_project_spark.operators.dedup import (
    band_keys,
    minhash_signatures,
)
from saurav_nayak_recipe_etl_project_spark.sources.catalog import load_table

# State-partitioning fan-out for the membership-read prune; the bucket
# is pmod(band_hash, N_STATE_BUCKETS), a content key (band_id alone
# can't prune: every doc emits every band index).
N_STATE_BUCKETS = 16


def lsh_band_dedup(docs: DataFrame) -> DataFrame:
    """Batch twin: (doc_id, kept) — kept=false iff the doc shares a
    band bucket with a smaller doc_id. One explode + one bucket-min
    window-free aggregation + one semi-join; sub-quadratic by the same
    argument as minhash_lsh_pairs."""
    bands = band_keys(minhash_signatures(docs))
    bucket_min = bands.groupBy("band_id", "band_hash").agg(
        F.min("doc_id").alias("min_doc")
    )
    dup_ids = (
        bands.join(bucket_min, ["band_id", "band_hash"])
        .filter(F.col("doc_id") > F.col("min_doc"))
        .select("doc_id")
        .distinct()
    )
    return (
        docs.select("doc_id")
        .join(dup_ids.withColumn("_dup", F.lit(True)), "doc_id", "left")
        .select("doc_id", F.coalesce(~F.col("_dup"), F.lit(True)).alias("kept"))
    )


def dedup_stream_lsh_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-vs-batch equality gate, hash-verifiable (batch-twin
    oracle): replays the corpus through the streaming micro-batch
    processor (_process_batch) as two doc_id-ordered batches with real
    state dirs, then emits per-doc `agree` = (streamed kept-status ==
    single-pass batch twin). The oracle asserts TRUE for every doc_id,
    so any cross-batch state bug (membership miss, replay
    non-idempotency, bucket-prune error) goes RED at the driver.
    Equality holds because state records EVERY band key of a batch
    (kept or dropped), so "key in state" ⟺ "shares a bucket with a
    smaller doc_id" under an ordered split. Raw kept/dropped output:
    lsh_band_dedup() (replay + planted-dup behavior pinned in
    tests/test_doc_dedup.py)."""
    docs = load_table(spark, "documents", sf_dir)
    first, second = key_batches(docs, "doc_id", 2)
    tmp = scratch_dir("stream_lsh_replay_")
    state, out = f"{tmp}/state", f"{tmp}/out"
    _process_batch(spark, first, 0, state, out)
    _process_batch(spark, second, 1, state, out)
    streamed = (
        spark.read.parquet(out)
        .select("doc_id").withColumn("_skept", F.lit(True))
    )
    batch = lsh_band_dedup(docs)
    return batch.join(streamed, "doc_id", "left").select(
        "doc_id",
        (F.col("kept") == F.coalesce(F.col("_skept"), F.lit(False)))
        .alias("agree"),
    )


def _read_state(spark: SparkSession, state_path: str):
    """State view (band_id, band_hash, batch_id, bucket) or empty frame.

    The state layout is `state_path/batch_id=N/bucket=K/…` — standard
    hive partitioning, so batch_id AND bucket predicates both prune to
    whole directories before any file is opened."""
    fs, jvm_path = hadoop_fs(spark, state_path)
    if not fs.exists(jvm_path) or not fs.listStatus(jvm_path):
        return spark.createDataFrame(
            [], "band_id int, band_hash long, batch_id long, bucket int"
        ), fs
    state = spark.read.option("basePath", state_path).parquet(state_path)
    if "bucket" not in state.columns:
        # Pre-bucket-layout state dir (no bucket= subdirs): bucket is a
        # pure function of band_hash, so backfill it in the view. Reads
        # of legacy partitions lose directory pruning (correctness
        # unchanged); new batches still write the partitioned layout,
        # so the state migrates forward as legacy batches expire.
        state = state.withColumn(
            "bucket",
            F.pmod(F.col("band_hash"), F.lit(N_STATE_BUCKETS)).cast("int"),
        )
    return state, fs


def _retained_seen(spark: SparkSession, state_path: str, batch_id: int,
                   retention_batches: int | None,
                   touched_buckets: list[int]):
    """The state the membership check actually reads: excludes this
    batch's own partition (replay idempotency), expired partitions
    (retention), and — the round-5 prune — every bucket dir the
    incoming batch does not touch. All three are partition-column
    filters, so the scan reads only touched bucket dirs of retained
    batch dirs (state READ scales with buckets touched, not corpus)."""
    seen, fs = _read_state(spark, state_path)
    seen = seen.filter(F.col("batch_id") != batch_id)
    if retention_batches is not None:
        seen = seen.filter(F.col("batch_id") > batch_id - 1 - retention_batches)
    seen = seen.filter(F.col("bucket").isin(touched_buckets))
    return seen, fs


def _process_batch(spark: SparkSession, batch_df: DataFrame, batch_id: int,
                   state_path: str, out_path: str,
                   retention_batches: int | None = None) -> None:
    """One micro-batch of the dedup: idempotent under replay.

    All writes are OVERWRITEs of per-batch_id partition dirs, and the
    state view excludes this batch's own partition, so re-running the
    same (batch_df, batch_id) reproduces identical output."""
    # batch input: bounded micro-batch scan, consumed by the shingle
    # explode and the survivors anti-join — both cheap pruned scans;
    # not worth a dedicated materialization job (r15)
    bands = band_keys(minhash_signatures(batch_df)).withColumn(
        "bucket", F.pmod(F.col("band_hash"), F.lit(N_STATE_BUCKETS)).cast("int")
    ).localCheckpoint(eager=False)
    # the bucket dirs this batch can possibly hit — bounded by
    # N_STATE_BUCKETS, so the collect is O(1) regardless of batch size.
    # This collect is bands' FIRST consumer: the lazy checkpoint
    # materializes inside it (one job instead of materialize+collect;
    # every later join in this batch reads the cache — no concurrent
    # first-consumers, so the r14 lazy-checkpoint hazard is absent)
    touched = [r["bucket"] for r in bands.select("bucket").distinct().collect()]
    seen, fs = _retained_seen(spark, state_path, batch_id,
                              retention_batches, touched)
    seen_keys = seen.select("band_id", "band_hash")
    # cross-batch dups: any band key already in retained state
    cross = (
        bands.join(seen_keys, ["band_id", "band_hash"], "left_semi")
        .select("doc_id")
    )
    # within-batch dups: share a bucket with a smaller doc_id
    bucket_min = bands.groupBy("band_id", "band_hash").agg(
        F.min("doc_id").alias("min_doc")
    )
    within = (
        bands.join(bucket_min, ["band_id", "band_hash"])
        .filter(F.col("doc_id") > F.col("min_doc"))
        .select("doc_id")
    )
    dup_ids = cross.unionByName(within).distinct()
    survivors = batch_df.join(dup_ids, "doc_id", "left_anti")
    # rebalance_for_write: the survivor/new-key writes otherwise emit
    # one file per input partition (× bucket values for the state),
    # and every later batch's membership read pays the open cost of
    # those tiny files (guide §6: size output files on write)
    # append-only state: only the keys this batch introduces; O(batch)
    # written bytes regardless of corpus size. bucket is a partition
    # column so future batches' membership reads prune to touched dirs.
    new_keys = (
        bands.select("band_id", "band_hash", "bucket").distinct()
        .join(seen_keys, ["band_id", "band_hash"], "left_anti")
    )
    # the survivor and state-key writes are independent (distinct
    # dirs; both read only the materialized bands cache, the batch
    # scan and earlier-batch state files), so they run concurrently
    # from driver threads (guide §2.6) — per-job driver latencies
    # overlap, replay idempotency unchanged (same overwrites of the
    # same replay-stable batch_id dirs)
    parallel_actions(
        lambda: rebalance_for_write(survivors).write.mode("overwrite")
        .parquet(f"{out_path}/batch_id={batch_id}"),
        lambda: rebalance_for_write(new_keys, "bucket").write
        .mode("overwrite").partitionBy("bucket").parquet(
            f"{state_path}/batch_id={batch_id}"
        ),
    )
    if retention_batches is not None:
        cutoff = batch_id - retention_batches
        for old, path in batch_dirs(spark, state_path).items():
            if old <= cutoff:
                fs.delete(path, True)


def run_doc_dedup_stream(spark: SparkSession, source_dir: str,
                         checkpoint_dir: str, state_path: str,
                         out_path: str,
                         max_files_per_trigger: int | None = None,
                         retention_batches: int | None = None) -> None:
    """Document drops → near-dup-filtered parquet of survivors.

    Each micro-batch: band keys of incoming docs are checked against
    (a) the retained band-key state (docs seen in earlier batches) and
    (b) smaller-doc_id docs within the batch; survivors land in
    `out_path/batch_id=N`, and only the batch's NEW band keys land in
    `state_path/batch_id=N`. See module docstring for the
    idempotency and retention design."""
    docs = read_drops(spark, source_dir,
                      "doc_id long, lang string, source string, text string",
                      max_files_per_trigger)
    drain(docs, checkpoint_dir,
          lambda batch_df, batch_id: _process_batch(
              spark, batch_df, batch_id, state_path, out_path,
              retention_batches))


STREAM_DOC_DEDUP_QUERIES = {"dedup_stream_lsh_batch": dedup_stream_lsh_batch}
# Batch-twin equality oracle: the Spark side computes agreement between
# the micro-batch replay and the single-pass twin; the oracle pins it
# TRUE for every document.
STREAM_DOC_DEDUP_ORACLES: dict[str, str] = {
    "dedup_stream_lsh_batch": "SELECT doc_id, TRUE AS agree FROM documents",
}
