"""The tx-log DataSource (sources/txsource.py): batch snapshot parity
with read_table (incl. time travel), the version-offset streaming
source (exactly-once across checkpointed restarts, burst-capped
batches, loud on removal commits), and additive-evolution NULL
backfill through the Arrow lane.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from saurav_nayak_recipe_etl_project_spark.sources.txlog import (
    _read_json_commit,
    tx_append,
    tx_delete_where,
    read_table,
)
from saurav_nayak_recipe_etl_project_spark.sources.txsource import (
    register_txlog_source,
)
from saurav_nayak_recipe_etl_project_spark.streaming import drain
from tests.txframes import tx_df, tx_rows


@pytest.fixture()
def txsrc(spark):
    register_txlog_source(spark)
    return spark


def test_batch_read_parity_and_time_travel(txsrc, tmp_path):
    spark = txsrc
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a"), (2, "b")]), t, ["k"])
    tx_append(tx_df(spark, [(3, "c")]), t, ["k"])
    got = spark.read.format("txlog").option("path", t).load()
    assert tx_rows(got) == tx_rows(read_table(spark, t))
    v0 = (spark.read.format("txlog").option("path", t)
          .option("version", 0).load())
    assert tx_rows(v0) == [(1, "a"), (2, "b")]


def _drain(spark, t, ckpt, out, **opts):
    reader = spark.readStream.format("txlog").option("path", t)
    for k, v in opts.items():
        reader = reader.option(k, v)
    stream = reader.load()
    batches = []

    def sink(df, bid):
        rows = [tuple(r) for r in df.collect()]
        if rows:
            batches.append(rows)
            out.extend(rows)

    drain(stream, ckpt, sink)
    return batches


def test_stream_versions_are_offsets_with_restart(txsrc, tmp_path):
    spark = txsrc
    t, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    tx_append(tx_df(spark, [(1, "a")]), t, ["k"])
    tx_append(tx_df(spark, [(2, "b")]), t, ["k"])
    out: list = []
    _drain(spark, t, ckpt, out)
    assert sorted(out) == [(1, "a"), (2, "b")]
    # new commits land; a SECOND query lifetime on the same checkpoint
    # consumes ONLY them — versions are the offsets
    tx_append(tx_df(spark, [(3, "c")]), t, ["k"])
    out2: list = []
    _drain(spark, t, ckpt, out2)
    assert sorted(out2) == [(3, "c")]
    # nothing new: a third lifetime is an empty drain
    out3: list = []
    _drain(spark, t, ckpt, out3)
    assert out3 == []


def test_stream_burst_cap_bounds_batches(txsrc, tmp_path):
    spark = txsrc
    t, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    tx_append(tx_df(spark, [(0, "seed")]), t, ["k"])
    out: list = []
    _drain(spark, t, ckpt, out, maxVersionsPerBatch="1")
    # a burst of 3 more commits becomes bounded micro-batches on the
    # resumed query (the first batch of a FRESH query is uncapped by
    # API necessity — this one is a restart, so the cap applies).
    # pyspark 4.1 falls back to SINGLE-batch execution for availableNow
    # on Python sources, so each query lifetime here runs exactly one
    # capped micro-batch — the cap shows up as one-commit-per-lifetime.
    for i in range(1, 4):
        tx_append(tx_df(spark, [(i, f"r{i}")]), t, ["k"])
    out2: list = []
    for _ in range(3):
        batches = _drain(spark, t, ckpt, out2, maxVersionsPerBatch="1")
        assert len(batches) == 1 and len(batches[0]) == 1
    assert sorted(out2) == [(1, "r1"), (2, "r2"), (3, "r3")]
    # fully drained
    assert _drain(spark, t, ckpt, [], maxVersionsPerBatch="1") == []


def test_stream_byte_cap_paces_uneven_commits(txsrc, tmp_path):
    """maxBytesPerBatch (r13 verdict item 6): commit COUNT pacing lets
    one huge commit blow up a micro-batch; byte pacing admits commits
    while the accumulated added-file bytes stay under the budget —
    deliberately uneven commits here (tiny, huge, tiny, tiny): the
    huge one flows ALONE (oversized single commits must still flow),
    and the two trailing tiny ones coalesce under the budget."""
    spark = txsrc
    t, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    tx_append(tx_df(spark, [(0, "seed")]), t, ["k"])
    out: list = []
    _drain(spark, t, ckpt, out)  # consume the seed; cap applies next
    tx_append(tx_df(spark, [(1, "tiny1")]).coalesce(1), t, ["k"])
    big = spark.range(2, 5002).select(
        F.col("id").alias("k"),
        F.concat(F.lit("row-"), F.col("id")).alias("s")).coalesce(1)
    tx_append(big, t, ["k"])
    tx_append(tx_df(spark, [(9001, "tiny2")]).coalesce(1), t, ["k"])
    tx_append(tx_df(spark, [(9002, "tiny3")]).coalesce(1), t, ["k"])
    # budget: comfortably above one tiny commit (~1 KB) plus another,
    # far below the 5000-row commit
    sizes = [a["stats"]["bytes"]
             for v in range(1, 5)
             for a in _read_json_commit(t, v)["actions"]]
    tiny, huge = sizes[0], sizes[1]
    assert huge > 4 * tiny
    budget = str(tiny + huge // 4)
    out2: list = []
    # pyspark 4.1 runs ONE batch per availableNow lifetime on Python
    # sources (see burst-cap test), so each drain = one paced batch
    counts = []
    for _ in range(3):
        batches = _drain(spark, t, ckpt, out2, maxBytesPerBatch=budget)
        assert len(batches) == 1
        counts.append(len(batches[0]))
    # batch 1: tiny1 alone (huge would exceed); batch 2: huge alone
    # (oversized but must flow); batch 3: tiny2+tiny3 coalesce
    assert counts == [1, 5000, 2]
    assert _drain(spark, t, ckpt, [], maxBytesPerBatch=budget) == []
    assert len(out2) == 5003


def test_stream_removal_commit_is_loud(txsrc, tmp_path):
    spark = txsrc
    t, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    tx_append(tx_df(spark, [(1, "a"), (2, "b")]), t, ["k"])
    tx_delete_where(spark, t, ("k", "=", 1), ["k"])
    with pytest.raises(Exception, match="tx_changes"):
        _drain(spark, t, ckpt, [])


def test_stream_backfills_pre_evolution_files(txsrc, tmp_path):
    spark = txsrc
    t, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    tx_append(tx_df(spark, [(1, "a")]), t, ["k"])
    tx_append(tx_df(spark, [(2, "b", 7)], "k long, s string, extra int"),
              t, ["k"], allow_schema_evolution=True)
    out: list = []
    _drain(spark, t, ckpt, out)
    # the query schema is the evolved one; the pre-evolution file's
    # rows carry NULL for the new column (the mergeSchema contract,
    # through the Arrow lane)
    assert sorted(out) == [(1, "a", None), (2, "b", 7)]


def test_starting_version_skips_history(txsrc, tmp_path):
    spark = txsrc
    t, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    tx_append(tx_df(spark, [(1, "a")]), t, ["k"])
    tx_append(tx_df(spark, [(2, "b")]), t, ["k"])
    out: list = []
    _drain(spark, t, ckpt, out, startingVersion="1")
    assert sorted(out) == [(2, "b")]


def test_processing_time_trigger_paces_multiple_batches(txsrc, tmp_path):
    """maxVersionsPerBatch under a RESIDENT processingTime trigger:
    commits landing while the query is live must arrive as one
    bounded micro-batch each WITHIN ONE query lifetime — the pacing
    the availableNow single-batch fallback (documented above)
    sidesteps. The r12 verdict's item 3a."""
    import time

    spark = txsrc
    t, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    tx_append(tx_df(spark, [(0, "seed")]), t, ["k"])
    batches: list = []

    def sink(df, bid):
        rows = sorted(tuple(r) for r in df.collect())
        if rows:
            batches.append(rows)

    q = (spark.readStream.format("txlog").option("path", t)
         .option("maxVersionsPerBatch", "1").load()
         .writeStream.foreachBatch(sink)
         .option("checkpointLocation", ckpt)
         .trigger(processingTime="300 milliseconds").start())
    try:
        deadline = time.time() + 90
        while time.time() < deadline and not batches:
            time.sleep(0.1)
        assert batches, "seed batch never arrived"
        # three commits land while the query is LIVE; the cap must
        # deliver them as three separate single-commit micro-batches
        for i in range(1, 4):
            tx_append(tx_df(spark, [(i, f"r{i}")]), t, ["k"])
        while time.time() < deadline and len(batches) < 4:
            time.sleep(0.1)
        assert q.isActive
    finally:
        q.stop()
        q.awaitTermination(30)
    assert batches == [
        [(0, "seed")], [(1, "r1")], [(2, "r2")], [(3, "r3")],
    ]


def test_txlog_fed_mv_equals_batch_twin(txsrc, tmp_path, sf_dir):
    """The A18 source driving the G9 user-stats MV end-to-end: the
    view maintained off readStream.format('txlog') must equal the
    one-shot batch aggregate bit-for-bit, and a second lifetime after
    a new commit must consume ONLY that commit."""
    from pyspark.sql import functions as F

    from saurav_nayak_recipe_etl_project_spark.sources.catalog import (
        load_table,
    )
    from saurav_nayak_recipe_etl_project_spark.streaming.mv import (
        _partial_agg,
        read_mv,
        run_mv_stream_txlog,
    )

    spark = txsrc
    events = load_table(spark, "events", sf_dir).select(
        "event_id", "user_id", "event_type", "value")
    lo, hi = events.agg(F.min("event_id"), F.max("event_id")).first()
    mid = (lo + hi) // 2
    t = str(tmp_path / "events_tx")
    ckpt, state = str(tmp_path / "ckpt"), str(tmp_path / "state")
    tx_append(events.filter(F.col("event_id") <= mid), t, ["event_id"])
    run_mv_stream_txlog(spark, t, ckpt, state)
    half = tx_rows(read_mv(spark, state))
    want_half = tx_rows(
        _partial_agg(events.filter(F.col("event_id") <= mid)).select(
            "user_id", "event_type", "n_events",
            F.round(F.col("value_cents") / 100.0, 2).alias("total_value"),
            ((F.col("value_cents") / F.col("n_events")) / F.lit(100.0))
            .alias("avg_value")))
    assert half == want_half
    # second commit + second lifetime: incremental, not a re-read
    tx_append(events.filter(F.col("event_id") > mid), t, ["event_id"])
    run_mv_stream_txlog(spark, t, ckpt, state)
    want_full = tx_rows(
        _partial_agg(events).select(
            "user_id", "event_type", "n_events",
            F.round(F.col("value_cents") / 100.0, 2).alias("total_value"),
            ((F.col("value_cents") / F.col("n_events")) / F.lit(100.0))
            .alias("avg_value")))
    assert tx_rows(read_mv(spark, state)) == want_full


def test_stream_upcasts_pre_widening_files(txsrc, tmp_path):
    """Type widening through the streaming source: files committed
    under the narrow (int/float) contract must arrive up-cast to the
    table's evolved wide schema via the Arrow casts."""
    spark = txsrc
    t, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    tx_append(spark.createDataFrame([(1, 1.5)], "k int, x float"),
              t, ["k"])
    tx_append(spark.createDataFrame([(2**40, 2.5)], "k long, x double"),
              t, ["k"], allow_schema_evolution=True)
    out: list = []
    _drain(spark, t, ckpt, out)
    assert sorted(out) == [(1, 1.5), (2**40, 2.5)]
    got = spark.read.format("txlog").option("path", t).load()
    assert {f.name: f.dataType.simpleString() for f in got.schema.fields} \
        == {"k": "bigint", "x": "double"}
