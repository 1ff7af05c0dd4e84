"""Python DataSource (jsonl_docs): write the documents table out as
JSONL shards through the custom sink's two-phase commit, read it back
through the custom source, and require exact row parity with the
parquet original — plus the structural evidence: one scan task per
shard, deterministic part-names, _SUCCESS marker, no staging
leftovers."""

from __future__ import annotations

import os

from saurav_nayak_recipe_etl_project_spark.sources.catalog import load_table
from saurav_nayak_recipe_etl_project_spark.sources.pysource import register
from saurav_nayak_recipe_etl_project_spark.streaming import await_or_raise


def test_jsonl_roundtrip_and_commit_protocol(spark, sf_dir, tmp_path):
    register(spark)
    docs = load_table(spark, "documents", sf_dir)
    out = str(tmp_path / "shards")

    (docs.repartition(4).write.format("jsonl_docs")
     .option("path", out).mode("overwrite").save())

    files = sorted(os.listdir(out))
    shards = [f for f in files if f.endswith(".jsonl")]
    assert shards == [f"part-{i:05d}.jsonl" for i in range(len(shards))]
    assert 1 <= len(shards) <= 4
    assert "_SUCCESS" in files
    assert not any(f.startswith("_tmp-") for f in files)

    back = spark.read.format("jsonl_docs").option("path", out).load()
    # one scan task per shard file
    assert back.rdd.getNumPartitions() == len(shards)

    key = lambda r: (r["doc_id"], r["text"], r["lang"], r["source"],
                     r["n_chars"])
    want = sorted(map(key, docs.collect()))
    assert sorted(map(key, back.collect())) == want
    assert back.schema == docs.schema

    # the row lane (arrow=false) must agree with the Arrow lane
    row_lane = (spark.read.format("jsonl_docs").option("path", out)
                .option("arrow", "false").load())
    assert sorted(map(key, row_lane.collect())) == want


def test_jsonl_stream_reader_picks_up_new_shards(spark, sf_dir, tmp_path):
    """The partitioned streaming reader: shard 1 consumed by the first
    availableNow run, shard 2 (landing later, lexicographically after)
    by a restart from the same checkpoint — union equals the batch
    read, offsets replay from the query checkpoint."""
    import json as _json

    register(spark)
    src = str(tmp_path / "stream_shards")
    os.makedirs(src)
    docs = load_table(spark, "documents", sf_dir).limit(40).collect()
    fields = ["doc_id", "text", "lang", "source", "n_chars"]

    def _land(name, rows):
        with open(os.path.join(src, name), "w", encoding="utf-8") as fh:
            for r in rows:
                fh.write(_json.dumps({f: r[f] for f in fields},
                                     ensure_ascii=False) + "\n")

    out = str(tmp_path / "js_out")

    def _drain():
        # parquet sink: fault-tolerant, so the SECOND run genuinely
        # recovers offsets from the checkpoint (memory sink refuses)
        q = (spark.readStream.format("jsonl_docs").option("path", src)
             .load()
             .writeStream.format("parquet").option("path", out)
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / "ckpt_js"))
             .trigger(availableNow=True).start())
        await_or_raise(q)

    _land("shard-000.jsonl", docs[:25])
    _drain()
    assert spark.read.parquet(out).count() == 25

    _land("shard-001.jsonl", docs[25:])
    _drain()
    got = sorted(
        (r["doc_id"], r["text"]) for r in
        spark.read.parquet(out).select("doc_id", "text").collect()
    )
    assert got == sorted((r["doc_id"], r["text"]) for r in docs)


def test_jsonl_stream_backpressure_bounds_burst(spark, sf_dir, tmp_path):
    """Burst protection: a resident query (maxFilesPerBatch=1) that
    has consumed its first batch gets THREE shards dumped at once —
    they must arrive as three bounded 4-row micro-batches, never one
    12-row gulp. (Batch 0 of any run is uncapped by API necessity —
    Spark asks latestOffset before initialOffset — which the module
    docstring documents; this test pins the steady-state cap.)"""
    import json as _json
    import time as _t

    from saurav_nayak_recipe_etl_project_spark.streaming.monitor import (
        recording,
    )

    register(spark)
    src = str(tmp_path / "bp_shards")
    os.makedirs(src)

    def _land(i):
        with open(os.path.join(src, f"shard-{i:03d}.jsonl"), "w") as fh:
            for j in range(4):
                fh.write(_json.dumps({
                    "doc_id": i * 10 + j, "text": f"t{i}", "lang": "en",
                    "source": "s", "n_chars": 2}) + "\n")

    _land(0)  # batch 0 (uncapped by necessity): one small shard
    out = str(tmp_path / "bp_out")

    def _rows():
        try:
            return spark.read.parquet(out).count()
        except Exception:
            return 0  # sink dir not created yet

    with recording(spark) as rec:
        q = (spark.readStream.format("jsonl_docs").option("path", src)
             .option("maxFilesPerBatch", "1").load()
             .writeStream.format("parquet").option("path", out)
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / "bp_ckpt"))
             .trigger(processingTime="300 milliseconds").start())
        try:
            deadline = _t.time() + 60
            while _t.time() < deadline and _rows() < 4:
                _t.sleep(0.3)
            # the BURST: three shards land at once while resident
            for i in (1, 2, 3):
                _land(i)
            while _t.time() < deadline and _rows() < 16:
                _t.sleep(0.3)
        finally:
            q.stop()
            q.awaitTermination(30)
        _t.sleep(1.0)  # listener events are async
        data_batches = [r for r in rec.snapshot() if r[4] > 0]

    # batch 0 = 4 rows; the burst = three MORE 4-row batches
    assert len(data_batches) == 4, data_batches
    assert all(r[4] == 4 for r in data_batches), data_batches
    got = spark.read.parquet(out)
    assert got.count() == 16
    assert got.select("doc_id").distinct().count() == 16


def test_jsonl_stream_rejects_out_of_order_shard(spark, sf_dir, tmp_path):
    """A shard landing lexicographically BEFORE the consumed prefix
    must fail the query loudly (silent index re-slicing would re-read
    or skip data)."""
    import json as _json

    import pytest

    register(spark)
    src = str(tmp_path / "stream_shards_ooo")
    os.makedirs(src)

    def _land(name, ids):
        with open(os.path.join(src, name), "w", encoding="utf-8") as fh:
            for i in ids:
                fh.write(_json.dumps({
                    "doc_id": i, "text": "t", "lang": "en",
                    "source": "s", "n_chars": 1}) + "\n")

    out = str(tmp_path / "ooo_out")

    def _drain():
        q = (spark.readStream.format("jsonl_docs").option("path", src)
             .load()
             .writeStream.format("parquet").option("path", out)
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / "ckpt_ooo"))
             .trigger(availableNow=True).start())
        await_or_raise(q)

    _land("shard-005.jsonl", [1, 2])
    _drain()
    _land("shard-001.jsonl", [3])  # sorts BEFORE the consumed shard
    with pytest.raises(Exception, match="out-of-order|STREAM_FAILED"):
        _drain()


def test_jsonl_stream_writer_batch_prefixed_commit(spark, sf_dir, tmp_path):
    """The streaming sink: two micro-batches (parquet shards landing
    between availableNow runs) produce batch-prefixed JSONL shards,
    contents equal to the batch read of everything; the custom stream
    READER can then tail the very directory the writer produced (the
    file-bus composition), and no staging files survive."""
    import shutil as _shutil

    register(spark)
    src = str(tmp_path / "pq_in")
    os.makedirs(src)
    out = str(tmp_path / "jsonl_out")
    docs = load_table(spark, "documents", sf_dir).limit(40)
    a = docs.limit(25)

    def _drain():
        q = (spark.readStream.schema(docs.schema).parquet(src)
             .writeStream.format("jsonl_docs").option("path", out)
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / "ckpt_w"))
             .trigger(availableNow=True).start())
        await_or_raise(q)

    stage = tmp_path / "stage_w"
    a.coalesce(1).write.mode("overwrite").parquet(str(stage))
    _shutil.move(str(next(stage.glob("part-*.parquet"))),
                 os.path.join(src, "drop-a.parquet"))
    _drain()
    files1 = sorted(f for f in os.listdir(out) if f.endswith(".jsonl"))
    assert files1 and all(f.startswith("batch-") for f in files1)

    docs.exceptAll(a).coalesce(1).write.mode("overwrite").parquet(str(stage))
    _shutil.move(str(next(stage.glob("part-*.parquet"))),
                 os.path.join(src, "drop-b.parquet"))
    _drain()
    files2 = sorted(f for f in os.listdir(out) if f.endswith(".jsonl"))
    assert set(files1) < set(files2)
    assert not any(f.startswith("_tmp-") for f in os.listdir(out))
    batch_ids = {f.split("-")[1] for f in files2}
    assert len(batch_ids) == 2  # one prefix per micro-batch

    back = spark.read.format("jsonl_docs").option("path", out).load()
    key = lambda r: (r["doc_id"], r["text"])
    assert sorted(map(key, back.collect())) == sorted(
        map(key, docs.collect())
    )


def test_jsonl_overwrite_replaces_previous_shards(spark, sf_dir, tmp_path):
    register(spark)
    docs = load_table(spark, "documents", sf_dir).limit(50)
    out = str(tmp_path / "shards2")
    (docs.repartition(4).write.format("jsonl_docs")
     .option("path", out).mode("overwrite").save())
    n_first = len([f for f in os.listdir(out) if f.endswith(".jsonl")])
    # second job with fewer tasks must not leave first-run shards
    (docs.repartition(1).write.format("jsonl_docs")
     .option("path", out).mode("overwrite").save())
    shards = [f for f in os.listdir(out) if f.endswith(".jsonl")]
    assert len(shards) == 1 and n_first > 1
    back = spark.read.format("jsonl_docs").option("path", out).load()
    assert back.count() == 50


def test_jsonl_append_continues_numbering(spark, sf_dir, tmp_path):
    """mode('append') must number NEW shards past the existing max —
    renaming from part-00000 again would silently clobber the first
    job's shards."""
    register(spark)
    from pyspark.sql import functions as F

    docs = load_table(spark, "documents", sf_dir)
    # deterministic doc_id split — two limit() evaluations are not
    # guaranteed to pick the same rows across jobs
    a = docs.where(F.col("doc_id") % 5 < 3).limit(30)
    a_ids = [r["doc_id"] for r in a.select("doc_id").collect()]
    a = docs.where(F.col("doc_id").isin(a_ids))
    b = docs.where(~F.col("doc_id").isin(a_ids)).limit(20)
    b_ids = [r["doc_id"] for r in b.select("doc_id").collect()]
    b = docs.where(F.col("doc_id").isin(b_ids))
    out = str(tmp_path / "shards3")
    (a.repartition(2).write.format("jsonl_docs")
     .option("path", out).mode("overwrite").save())
    (b.repartition(2).write.format("jsonl_docs")
     .option("path", out).mode("append").save())
    shards = sorted(f for f in os.listdir(out) if f.endswith(".jsonl"))
    assert shards == [f"part-{i:05d}.jsonl" for i in range(len(shards))]
    assert len(shards) >= 3  # both jobs' shards coexist
    back = spark.read.format("jsonl_docs").option("path", out).load()
    assert back.count() == 50
    assert back.select("doc_id").distinct().count() == 50


def test_jsonl_commit_preserves_concurrent_writers_staging(
        spark, sf_dir, tmp_path):
    """Round-8 advisory: a commit may purge only its OWN writer-id
    staging prefix — a concurrent job's staged (not yet committed)
    `_tmp-*` files in the same directory must survive."""
    register(spark)
    out = str(tmp_path / "shared")
    os.makedirs(out)
    foreign = os.path.join(out, "_tmp-feedfacefeedface-aaaa.jsonl")
    with open(foreign, "w") as fh:
        fh.write('{"doc_id": 999}\n')
    docs = load_table(spark, "documents", sf_dir).limit(10)
    (docs.write.format("jsonl_docs")
     .option("path", out).mode("overwrite").save())
    assert os.path.exists(foreign), \
        "commit purged a concurrent writer's staged file"
    # and the foreign staging is invisible to readers (underscore
    # prefix), so the committed view is unaffected
    back = spark.read.format("jsonl_docs").option("path", out).load()
    assert back.count() == 10


def test_jsonl_batch_reader_skips_uncommitted_batch_shards(
        spark, sf_dir, tmp_path):
    """Round-8 advisory: batch-<id>-* shards from the streaming sink
    are visible to BATCH reads only once their _batch-<id>._COMMITTED
    marker exists — a crash mid-commit (file renamed, marker not yet
    dropped) must yield the committed-prefix snapshot, not a torn
    one."""
    register(spark)
    out = str(tmp_path / "bus")
    os.makedirs(out)

    def shard(name, ids):
        with open(os.path.join(out, name), "w") as fh:
            for i in ids:
                fh.write(
                    '{"doc_id": %d, "text": "t", "lang": "en",'
                    ' "source": "s", "n_chars": 1}\n' % i
                )

    shard("batch-0000000000-part-00000.jsonl", [1, 2])
    with open(os.path.join(out, "_batch-0000000000._COMMITTED"), "w"):
        pass
    # batch 1: renamed but its marker never landed (crash window)
    shard("batch-0000000001-part-00000.jsonl", [3, 4])
    back = spark.read.format("jsonl_docs").option("path", out).load()
    ids = sorted(r["doc_id"] for r in back.collect())
    assert ids == [1, 2], ids
    # once the marker lands (replay repaired the batch), rows appear
    with open(os.path.join(out, "_batch-0000000001._COMMITTED"), "w"):
        pass
    back2 = spark.read.format("jsonl_docs").option("path", out).load()
    assert sorted(r["doc_id"] for r in back2.collect()) == [1, 2, 3, 4]
