"""Incrementally-maintained VERIFIED near-dup pair MV: the
corpus-audit suite's shared pair set (lsh_verified_pairs — consumed
by dedup_source_matrix F61, split_leakage F62, leakage_by_source F78,
dup_exposure_by_quality F77, source_dup_exposure F68) kept current by
foreachBatch maintenance instead of a full recompute per dashboard
refresh.

Re-hosts the reference's event-driven refresh trigger
(cloud_function/main.py — new data lands, derived table refreshes)
at the pair-set layer, in the G9 IVM idiom (streaming/mv.py).

Why the pair set is incrementally maintainable EXACTLY: a MinHash
signature (and therefore every band key) is a pure per-document
function — batching cannot change it. A verified pair (a, b) with
tau-exact Jaccard is discovered in the micro-batch where its LATER
endpoint arrives: the earlier endpoint's band keys and shingle rows
are already in state, so candidates form by joining the batch's band
keys against (batch ∪ state) keys, and the exact verify runs on the
batch's shingles plus the state shingles of just the candidate
endpoints. Any pair the full-batch two-stage dedup finds shares ≥1
band bucket, so the incremental candidate set is IDENTICAL, and the
verify is the same function (dedup.verify_candidates) — the streamed
MV equals lsh_verified_pairs(corpus) set-for-set, value-for-value.
That is why the registered entry carries the same STRICT
exact-pair-set oracle as dedup_lsh_verified, not an agreement gate.

State layout (the doc_dedup.py discipline):
- `bands/batch_id=N/` — the batch's (doc_id, band_id, band_hash)
  keys; O(batch) written bytes, never rewritten.
- `shingles/batch_id=N/bucket=K/` — the batch's distinct (doc_id,
  shingle) rows, hive-partitioned by bucket = pmod(doc_id, 16) so the
  verify step's read of OLD endpoints' shingles prunes to the bucket
  dirs the batch's candidates actually touch (directory pruning, not
  a full state scan).
- `pairs/batch_id=N/` — the pairs discovered by this batch. The MV
  is the plain union of pair partitions: each pair is discovered in
  exactly one batch (the later endpoint's), so no merge is needed.
All writes OVERWRITE replay-stable batch_id dirs and every state read
EXCLUDES the batch's own partitions, so an at-least-once replay
reproduces byte-identical output — same exactly-once recipe as
doc_dedup/mv, exercised on every entry run by a deliberate replay.

100 TB posture: per-batch cost is O(batch shingles) + O(candidate
pairs) — the membership/verify joins touch state proportional to the
batch's band-bucket and doc-bucket footprint, never the corpus. The
pair MV itself is output-proportional (near-dup pairs, not n²). A
year of nightly drops costs a day's recompute, and the audit
dashboards (F61/F62/F68/F77/F78 rollups) can read `read_pair_mv`
instead of regenerating the pair set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from saurav_nayak_recipe_etl_project_spark.functions.cachereg import scratch_dir
from saurav_nayak_recipe_etl_project_spark.operators.dedup import (
    band_keys,
    minhash_signatures,
    shingle_rows,
    verify_candidates,
)
from saurav_nayak_recipe_etl_project_spark.sources.catalog import load_table
from saurav_nayak_recipe_etl_project_spark.streaming import (
    parallel_actions,
    rebalance_for_write,
)

PAIR_TAU = 0.5
N_DOC_BUCKETS = 16


def _fs(spark: SparkSession, path: str):
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jvm_path.getFileSystem(spark._jsc.hadoopConfiguration()), jvm_path


def _read_part(spark: SparkSession, path: str, schema: str,
               before_batch: int) -> DataFrame:
    """Hive-partitioned state view restricted to STRICTLY EARLIER
    batches (batch_id < before_batch) — stronger than excluding just
    the batch's own partition: a replay reads exactly the state the
    original run saw even if later batches have already committed, so
    the recomputed output is identical under ANY replay ordering, not
    only the in-order recovery Structured Streaming guarantees. Empty
    typed frame when the state dir doesn't exist yet (first batch)."""
    fs, jvm_path = _fs(spark, path)
    if not fs.exists(jvm_path) or not fs.listStatus(jvm_path):
        return spark.createDataFrame([], schema)
    return (
        spark.read.option("basePath", path).parquet(path)
        .filter(F.col("batch_id") < before_batch)
    )


def pair_mv_process_batch(batch_docs: DataFrame, batch_id: int,
                          state_path: str,
                          tau: float = PAIR_TAU) -> None:
    """One maintenance micro-batch: discover every verified pair whose
    later endpoint is in this batch, append batch state. Idempotent
    under replay (see module docstring)."""
    spark = batch_docs.sparkSession
    # batch input: a bounded micro-batch scan — consumed twice (the
    # shingle explode below and the old_ids anti-join), both cheap
    # column-pruned scans, so it is NOT checkpointed (r15: the eager
    # materialization job cost more than the second scan at any scale)
    docs = batch_docs.select("doc_id", "text")
    # per-doc band keys and distinct shingle rows — pure per-doc
    # functions, identical under any batching. Shingles materialize
    # FIRST and feed the signature pipeline, so the explode+distinct
    # runs once per batch, not once for state and again inside
    # minhash_signatures (r14: the batch's dominant recompute). sh_new's
    # checkpoint is LAZY: its single pre-write consumer chain runs
    # through bands_new's eager materialization (one job computes
    # both, sh_new caching as it streams past); the state write and
    # sh_all union then reuse the cache. bands_new stays EAGER — its
    # band self-join evaluates two shuffle-map stages concurrently,
    # which under a lazy checkpoint each re-evaluate the whole
    # signature pipeline (measured 2× WORSE in r14; recorded there).
    sh_new = shingle_rows(docs).withColumn(
        "bucket", F.pmod(F.col("doc_id"), F.lit(N_DOC_BUCKETS)).cast("int")
    ).localCheckpoint(eager=False)
    bands_new = band_keys(
        minhash_signatures(docs, shingles=sh_new.select("doc_id", "shingle"))
    ).localCheckpoint()

    bands_old = _read_part(
        spark, f"{state_path}/bands",
        "doc_id long, band_id int, band_hash long, batch_id long",
        batch_id,
    )
    # candidates: within-batch (a < b) ∪ cross-batch (new × state),
    # normalized to doc_a < doc_b — the same ≥1-shared-band criterion
    # the full-batch minhash_lsh_pairs uses
    a, b = bands_new.alias("a"), bands_new.alias("b")
    within = (
        a.join(b, (F.col("a.band_id") == F.col("b.band_id"))
               & (F.col("a.band_hash") == F.col("b.band_hash"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
    )
    o = bands_old.alias("o")
    cross = (
        a.join(o, (F.col("a.band_id") == F.col("o.band_id"))
               & (F.col("a.band_hash") == F.col("o.band_hash"))
               & (F.col("a.doc_id") != F.col("o.doc_id")))
        .select(
            F.least("a.doc_id", "o.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "o.doc_id").alias("doc_b"),
        )
    )
    # LAZY checkpoint: the touched-buckets collect below is cand's
    # first consumer and runs before any other — it materializes the
    # cache in the same job (one job instead of a dedicated
    # materialization + a collect), and the verify join then reads
    # the cache. No concurrent first-consumers, so the r14 lazy-
    # checkpoint hazard does not apply on this frame.
    cand = within.unionByName(cross).distinct().localCheckpoint(eager=False)

    # exact verify: shingles of batch docs + state shingles of just
    # the candidates' OLD endpoints (bucket-dir prune, then semi-join)
    endpoints = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    old_ids = endpoints.join(docs.select("doc_id"), "doc_id", "left_anti")
    touched = [
        r["bucket"]
        for r in old_ids.select(
            F.pmod(F.col("doc_id"), F.lit(N_DOC_BUCKETS)).cast("int")
            .alias("bucket")
        ).distinct().collect()
    ]  # bounded by N_DOC_BUCKETS — O(1) driver rows
    sh_old = _read_part(
        spark, f"{state_path}/shingles",
        "doc_id long, shingle string, batch_id long, bucket int",
        batch_id,
    )
    sh_old = (
        sh_old.filter(F.col("bucket").isin(touched or [-1]))
        .join(old_ids, "doc_id", "left_semi")
        .select("doc_id", "shingle")
    )
    sh_all = sh_new.select("doc_id", "shingle").unionByName(sh_old)
    pairs = verify_candidates(cand, sh_all, tau)
    # replay-stable overwrites: pairs + this batch's state. The three
    # writes are mutually independent (distinct dirs; all three read
    # only already-materialized caches — sh_new/bands_new/cand were
    # checkpointed above — plus earlier-batch state files), so they
    # run CONCURRENTLY from driver threads (guide §2.6): their per-job
    # driver latencies overlap instead of adding, heaviest first so
    # FIFO gives the verify chain resources and the two state writes
    # back-fill its tail. Idempotency is unchanged — each write still
    # overwrites its own replay-stable batch_id dir.
    # rebalance_for_write sizes the file fan-out (without it the
    # shingle write emits input-partitions × 16 bucket files per
    # batch, and every later batch's membership read pays their open
    # cost — measured as a major share of this harness's wall time).
    parallel_actions(
        lambda: pairs.write.mode("overwrite").parquet(
            f"{state_path}/pairs/batch_id={batch_id}"
        ),
        lambda: rebalance_for_write(sh_new, "bucket").write
        .mode("overwrite").partitionBy("bucket").parquet(
            f"{state_path}/shingles/batch_id={batch_id}"
        ),
        lambda: rebalance_for_write(bands_new).write.mode("overwrite")
        .parquet(f"{state_path}/bands/batch_id={batch_id}"),
    )


def read_pair_mv(spark: SparkSession, state_path: str) -> DataFrame:
    """The current verified pair set: plain union of pair partitions
    (each pair lives in exactly one batch dir — no merge, no dedup)."""
    return (
        spark.read.option("basePath", f"{state_path}/pairs")
        .parquet(f"{state_path}/pairs")
        .select("doc_a", "doc_b", "jaccard")
    )


def compact_pair_mv_state(spark: SparkSession, state_path: str) -> int:
    """Fold every pairs/bands/shingles batch partition into the newest
    batch_id dir and delete the rest (out-of-band, like parquet
    compaction — the compact_mv_state discipline from streaming/mv.py).
    Bounds the merge-on-read partition count after many micro-batches;
    `read_pair_mv` and the NEXT batch's state reads are unchanged by
    construction: pairs are disjoint across partitions (each pair
    lives in exactly one), and band/shingle rows are per-doc facts
    whose batch_id only matters as "strictly earlier than the next
    batch", which compaction to the newest id preserves. Run it at a
    QUIESCED boundary only (stream stopped, all batches committed):
    folding erases the per-batch history, so a replay of an
    already-committed batch after compaction would see the wrong
    earlier-state — the same contract compact_mv_state carries.
    Returns the number of partition dirs removed."""
    removed = 0
    for sub in ("pairs", "bands", "shingles"):
        path = f"{state_path}/{sub}"
        fs, jvm_path = _fs(spark, path)
        if not fs.exists(jvm_path):
            continue
        names = [s.getPath().getName() for s in fs.listStatus(jvm_path)
                 if s.getPath().getName().startswith("batch_id=")]
        if len(names) <= 1:
            continue
        max_id = max(int(n.split("=", 1)[1]) for n in names)
        df = spark.read.option("basePath", path).parquet(path)
        cols = [c for c in df.columns if c != "batch_id"]
        part_cols = ["bucket"] if sub == "shingles" else []
        merged = df.select(*cols).localCheckpoint()
        w = merged.write.mode("overwrite")
        if part_cols:
            w = w.partitionBy(*part_cols)
        w.parquet(f"{path}/batch_id={max_id}")
        for s in fs.listStatus(jvm_path):
            name = s.getPath().getName()
            if name.startswith("batch_id=") and name != f"batch_id={max_id}":
                fs.delete(s.getPath(), True)
                removed += 1
    return removed


def run_pair_mv_stream(spark: SparkSession, source_dir: str,
                       checkpoint_dir: str, state_path: str,
                       schema: str | None = None,
                       max_files_per_trigger: int | None = None) -> None:
    """Document drops → incrementally-maintained verified pair MV."""
    reader = spark.readStream.schema(
        schema or "doc_id long, text string, lang string, "
                  "source string, n_chars long"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    docs = reader.parquet(source_dir)

    from saurav_nayak_recipe_etl_project_spark.streaming import (
        await_or_raise,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        pair_mv_process_batch(batch_df, batch_id, state_path)

    await_or_raise(
        docs.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered IVM entry, STRICT VALUE oracle: replays the corpus
    through `pair_mv_process_batch` as two doc_id-ordered batches with
    a real state dir — batch 0 deliberately replayed (the
    at-least-once idempotency contract, exercised every run) — then
    reads the merged pair MV. The oracle is the FULL exact un-pruned
    tau=0.5 Jaccard pair set (the dedup_lsh_verified oracle), so a
    hash match proves, in one row set: banding recall 100% on this
    corpus, cross-batch candidate completeness, replay idempotency,
    and exact verify arithmetic — any missed state read, double-write,
    or bucket-prune bug goes RED at the driver."""
    docs = load_table(spark, "documents", sf_dir)
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    mid = (lo + hi) // 2 if lo is not None else 0
    tmp = scratch_dir("stream_pair_mv_")
    state = f"{tmp}/state"
    first = docs.filter(F.col("doc_id") <= mid)
    pair_mv_process_batch(first, 0, state)
    pair_mv_process_batch(first, 0, state)  # deliberate replay
    pair_mv_process_batch(docs.filter(F.col("doc_id") > mid), 1, state)
    return read_pair_mv(spark, state)


STREAM_PAIR_MV_QUERIES = {"stream_dup_pairs": stream_dup_pairs}

# The exact un-pruned tau=0.5 pair set — the dedup_lsh_verified oracle
# REUSED VERBATIM (operators/dedup.py): the streamed MV and the
# one-shot two-stage dedup must both equal it value-for-value.
from saurav_nayak_recipe_etl_project_spark.operators.dedup import (  # noqa: E402
    DEDUP_ORACLES as _DEDUP_ORACLES,
)

STREAM_PAIR_MV_ORACLES = {
    "stream_dup_pairs": _DEDUP_ORACLES["dedup_lsh_verified"],
}
