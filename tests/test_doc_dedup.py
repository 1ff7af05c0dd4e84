"""Streaming MinHash-band dedup: planted near-dups across micro-batches
must be dropped; the stream must agree with the batch twin when files
arrive in doc_id order."""

from __future__ import annotations

from pyspark.sql import functions as F

from saurav_nayak_recipe_etl_project_spark.streaming import doc_dedup as D

SCHEMA = "doc_id long, lang string, source string, text string"

_BASE = ("the quick brown fox jumps over the lazy dog while the "
         "cat watches from the warm windowsill every single morning")
_OTHER = ("distributed query engines shuffle partitioned data across "
          "executors to evaluate joins and aggregations at scale")

BATCH1 = [
    (1, "en", "web", _BASE),
    (2, "en", "web", _OTHER),
]
# near-dup of doc 1 (one word changed → high jaccard, collides in a
# band deterministically), one exact dup of doc 2, one fresh doc
BATCH2 = [
    (3, "en", "web", _BASE.replace("warm", "cold")),
    (4, "en", "web", _OTHER),
    (5, "en", "web", ("completely different content about cooking "
                      "recipes with fresh vegetables and aromatic "
                      "herbs from the garden simmered slowly")),
]


def _write_batch(spark, rows, path):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(path))
    import glob
    import shutil

    return glob.glob(f"{path}/part-*.parquet")[0], shutil


def test_stream_drops_near_dups_across_batches(spark, tmp_path):
    src = tmp_path / "drops"
    src.mkdir()
    for tag, rows in [("a", BATCH1), ("b", BATCH2)]:
        part, shutil = _write_batch(spark, rows, tmp_path / f"stage_{tag}")
        shutil.copy(part, src / f"{tag}.parquet")

    D.run_doc_dedup_stream(
        spark, str(src), str(tmp_path / "ckpt"),
        str(tmp_path / "state"), str(tmp_path / "out"),
        max_files_per_trigger=1,
    )
    kept = sorted(
        r["doc_id"] for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    # 3 (near-dup of 1) and 4 (exact dup of 2) dropped; 5 fresh kept
    assert kept == [1, 2, 5]


def test_stream_agrees_with_batch_twin(spark, tmp_path):
    src = tmp_path / "drops"
    src.mkdir()
    for tag, rows in [("a", BATCH1), ("b", BATCH2)]:
        part, shutil = _write_batch(spark, rows, tmp_path / f"stage_{tag}")
        shutil.copy(part, src / f"{tag}.parquet")

    D.run_doc_dedup_stream(
        spark, str(src), str(tmp_path / "ckpt"),
        str(tmp_path / "state"), str(tmp_path / "out"),
        max_files_per_trigger=1,
    )
    streamed = sorted(
        r["doc_id"] for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    twin = spark.createDataFrame(BATCH1 + BATCH2, SCHEMA)
    batch_kept = sorted(
        r["doc_id"] for r in D.lsh_band_dedup(twin).filter("kept").collect()
    )
    assert streamed == batch_kept


def test_state_write_scales_with_batch_not_corpus(spark, tmp_path):
    """Each batch's state partition holds only the keys IT introduced:
    written state is O(batch), not O(corpus) — the round-2 defect was a
    full-state rewrite per micro-batch."""
    src = tmp_path / "drops"
    src.mkdir()
    for tag, rows in [("a", BATCH1), ("b", BATCH2)]:
        part, shutil = _write_batch(spark, rows, tmp_path / f"stage_{tag}")
        shutil.copy(part, src / f"{tag}.parquet")

    state = tmp_path / "state"
    D.run_doc_dedup_stream(
        spark, str(src), str(tmp_path / "ckpt"), str(state),
        str(tmp_path / "out"), max_files_per_trigger=1,
    )
    per_batch = {
        r["batch_id"]: r["n"]
        for r in spark.read.option("basePath", str(state))
        .parquet(str(state))
        .groupBy("batch_id").agg(F.count("*").alias("n"))
        .collect()
    }
    assert set(per_batch) == {0, 1}
    # batch 0: 2 docs x 8 bands = up to 16 distinct keys
    assert per_batch[0] <= 16
    # batch 1 introduced only doc 5's fresh keys plus doc 3's non-colliding
    # bands — strictly fewer than a full rewrite (16 + batch-2 keys)
    assert per_batch[1] < per_batch[0] + 24


def test_replayed_batch_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-running _process_batch with the
    same (batch_df, batch_id) after a completed first run must reproduce
    identical survivors and state — no duplicate output rows."""
    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    b1 = spark.createDataFrame(BATCH1, SCHEMA)
    b2 = spark.createDataFrame(BATCH2, SCHEMA)
    D._process_batch(spark, b1, 0, state, out)
    D._process_batch(spark, b2, 1, state, out)
    first = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    n_state = spark.read.parquet(state).count()
    # replay batch 1 (crash-after-commit scenario: state for batch 1
    # already written, checkpoint not yet advanced)
    D._process_batch(spark, b2, 1, state, out)
    again = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert again == first == [1, 2, 5]
    assert spark.read.parquet(state).count() == n_state


def test_retention_forgets_old_band_keys(spark, tmp_path):
    """With retention_batches=1, a key last seen 2 batches ago is
    expired: the same doc re-arriving is KEPT, and the expired state
    partition is deleted from disk."""
    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    b1 = spark.createDataFrame(BATCH1, SCHEMA)
    fresh = spark.createDataFrame(
        [(10, "en", "web", "unrelated filler text about astronomy and "
                           "telescopes pointed at distant spiral galaxies")],
        SCHEMA,
    )
    replay_doc1 = spark.createDataFrame([(20, "en", "web", _BASE)], SCHEMA)
    D._process_batch(spark, b1, 0, state, out, retention_batches=1)
    D._process_batch(spark, fresh, 1, state, out, retention_batches=1)
    # batch 2: doc 20 duplicates doc 1, but batch 0's keys are expired
    D._process_batch(spark, replay_doc1, 2, state, out, retention_batches=1)
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert 20 in kept
    import os

    dirs = sorted(os.listdir(state))
    assert "batch_id=0" not in dirs  # expired partition physically gone


def test_batch_twin_on_corpus(spark, sf_dir):
    from saurav_nayak_recipe_etl_project_spark.sources.catalog import load_table

    kept_rows = D.lsh_band_dedup(load_table(spark, "documents", sf_dir)).collect()
    n_docs = len(kept_rows)
    n_kept = sum(r["kept"] for r in kept_rows)
    # the corpus has planted dups, so some docs drop — but most survive
    assert 0 < n_kept < n_docs

    # registry entry: micro-batch replay must agree with the twin on
    # EVERY doc (the driver's batch-twin equality oracle)
    out = D.dedup_stream_lsh_batch(spark, sf_dir).collect()
    assert len(out) == n_docs
    assert all(r["agree"] for r in out)


def test_state_read_prunes_to_touched_buckets(spark, tmp_path):
    """The membership read must scan ONLY the bucket dirs the incoming
    batch touches: a one-doc batch (≤ 8 band keys → ≤ 8 buckets) after
    a large corpus batch must read a strict subset of state files, and
    every file it reads must live under a touched bucket dir."""
    import re

    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    # batch 0: a corpus wide enough to populate many bucket dirs
    corpus = [
        (i, "en", "web",
         f"document number {i} talks about topic {i % 7} in a "
         f"distinctive way with unique token t{i} and filler words "
         f"spread across several sentences for shingling")
        for i in range(60)
    ]
    b0 = spark.createDataFrame(corpus, SCHEMA)
    D._process_batch(spark, b0, 0, state, out)

    # one-doc batch: its 8 band keys touch at most 8 of the 16 buckets
    b1 = spark.createDataFrame(
        [(999, "en", "web", "a tiny single new document about nothing")],
        SCHEMA,
    )
    bands = D.band_keys(D.minhash_signatures(b1)).withColumn(
        "bucket",
        F.pmod(F.col("band_hash"), F.lit(D.N_STATE_BUCKETS)).cast("int"),
    )
    touched = sorted({r["bucket"] for r in bands.select("bucket").collect()})
    assert len(touched) <= 8 < D.N_STATE_BUCKETS

    seen, _ = D._retained_seen(spark, state, 1, None, touched)
    read_files = {
        r["f"]
        for r in seen.select(F.input_file_name().alias("f")).distinct().collect()
    }
    all_files = {
        r["f"]
        for r in D._read_state(spark, state)[0]
        .select(F.input_file_name().alias("f")).distinct().collect()
    }
    assert read_files, "pruned state read came back empty"
    assert len(read_files) < len(all_files), (
        "bucket prune read as many files as the full state scan"
    )
    for f in read_files:
        m = re.search(r"bucket=(\d+)", f)
        assert m and int(m.group(1)) in touched, (
            f"read a file outside the touched buckets: {f}"
        )
