"""Log-structured ACID table (sources/txlog.py): snapshot/time-travel
correctness, O(delta) append (old files untouched), stats-based file
skipping pinned on the actual scanned file set, file-granular delete,
atomic compaction, optimistic-concurrency conflict, txn-idempotent
streaming sink (real readStream), vacuum retention + loud horizon.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from saurav_nayak_recipe_etl_project_spark.sources.txlog import (
    TxConflict,
    history,
    last_txn_batch,
    latest_version,
    read_table,
    snapshot_files,
    tx_append,
    tx_compact,
    tx_delete_where,
    tx_sink_batch,
    vacuum,
)


def _orders(spark, sf_dir):
    from saurav_nayak_recipe_etl_project_spark.sources.catalog import (
        load_table,
    )

    return load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_append_read_time_travel(spark, sf_dir, tmp_path):
    orders = _orders(spark, sf_dir)
    lo, hi = orders.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    mid = (lo + hi) // 2
    t = str(tmp_path / "t")
    a = orders.filter(F.col("o_orderkey") <= mid)
    b = orders.filter(F.col("o_orderkey") > mid)
    assert tx_append(a, t, ["o_orderkey"]) == 0
    assert tx_append(b, t, ["o_orderkey"]) == 1
    assert _rows(read_table(spark, t)) == _rows(orders)
    assert _rows(read_table(spark, t, version=0)) == _rows(a)
    h = history(t)
    assert [e["version"] for e in h] == [0, 1]
    assert all(e["removes"] == 0 for e in h)  # appends never rewrite


def test_append_leaves_old_files_untouched(spark, sf_dir, tmp_path):
    orders = _orders(spark, sf_dir)
    t = str(tmp_path / "t")
    tx_append(orders.limit(50), t)
    before = set(snapshot_files(t, 0))
    tx_append(orders.limit(10), t)
    after = snapshot_files(t, 1)
    assert before <= set(after)  # O(delta): v0's files live on as-is


def test_stats_skipping_prunes_scanned_files(spark, sf_dir, tmp_path):
    orders = _orders(spark, sf_dir)
    lo, hi = orders.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    t = str(tmp_path / "t")
    # range-partitioned write -> disjoint per-file key ranges
    tx_append(orders.repartitionByRange(8, "o_orderkey"), t,
              ["o_orderkey"])
    n_live = len(snapshot_files(t))
    assert n_live >= 4
    pred = ("o_orderkey", "<=", lo + (hi - lo) // 8)
    df = read_table(spark, t, where=pred)
    scanned = df.select(F.input_file_name().alias("f")).distinct().count()
    assert scanned < n_live, (scanned, n_live)  # files really skipped
    expected = orders.filter(F.col("o_orderkey") <= pred[2])
    assert _rows(df) == _rows(expected)  # and none wrongly skipped


def test_delete_where_is_file_granular(spark, sf_dir, tmp_path):
    orders = _orders(spark, sf_dir)
    lo, hi = orders.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    t = str(tmp_path / "t")
    tx_append(orders.repartitionByRange(8, "o_orderkey"), t,
              ["o_orderkey"])
    before = snapshot_files(t)
    cut = lo + (hi - lo) // 8
    tx_delete_where(spark, t, ("o_orderkey", "<=", cut), ["o_orderkey"])
    after = snapshot_files(t)
    survived = set(before) & set(after)
    assert survived, "delete rewrote every file despite disjoint ranges"
    assert set(after) != set(before)
    assert _rows(read_table(spark, t)) == _rows(
        orders.filter(F.col("o_orderkey") > cut))
    # time travel still sees the pre-delete table
    assert _rows(read_table(spark, t, version=0)) == _rows(orders)


def test_delete_preserves_null_predicate_rows(spark, tmp_path):
    """r11 review finding: ~(col op value) is NULL for NULL columns
    and a plain filter drops those rows — a delete must keep every
    row whose predicate is not TRUE, including NULLs."""
    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "F"), (2, None), (3, "O")], "k long, status string")
    tx_append(df, t)
    tx_delete_where(spark, t, ("status", "=", "F"))
    got = sorted((r["k"], r["status"])
                 for r in read_table(spark, t).collect())
    assert got == [(2, None), (3, "O")], got


def test_pruned_to_empty_read_keeps_evolved_schema(spark, tmp_path):
    """r11 review finding: the zero-match fallback must carry the
    FULL merged schema, not an arbitrary pre-evolution file's."""
    t = str(tmp_path / "t")
    tx_append(spark.createDataFrame([(1, "a")], "k long, s string"),
              t, ["k"])
    tx_append(
        spark.createDataFrame([(100, "b", 7)],
                              "k long, s string, extra long"),
        t, ["k"], allow_schema_evolution=True)
    df = read_table(spark, t, where=("k", "=", -5))  # matches nothing
    assert df.count() == 0
    assert "extra" in df.columns  # evolved column present even empty


def test_changes_after_delete_everything(spark, tmp_path):
    """r11 review finding: a delete-everything commit empties the
    to-snapshot; the CDF must report the removals, not crash."""
    from saurav_nayak_recipe_etl_project_spark.sources.txlog import (
        tx_changes,
    )

    t = str(tmp_path / "t")
    tx_append(spark.createDataFrame(
        [(1, "F"), (2, "F")], "k long, status string"), t)
    tx_delete_where(spark, t, ("status", "=", "F"))
    got = {r["k"]: r["change_type"]
           for r in tx_changes(spark, t, 0, 1, "k", ["status"]).collect()}
    assert got == {1: "removed", 2: "removed"}


def test_compact_is_invariant_and_atomic(spark, sf_dir, tmp_path):
    orders = _orders(spark, sf_dir)
    t = str(tmp_path / "t")
    tx_append(orders.repartition(6), t)
    tx_append(orders.limit(20).repartition(3), t)
    before = _rows(read_table(spark, t))
    v = tx_compact(spark, t, 1)
    assert len(snapshot_files(t)) == 1
    assert _rows(read_table(spark, t)) == before
    assert _rows(read_table(spark, t, version=v - 1)) == before


def test_concurrent_commit_semantics(spark, sf_dir, tmp_path):
    from saurav_nayak_recipe_etl_project_spark.sources.txlog import _commit

    orders = _orders(spark, sf_dir)
    t = str(tmp_path / "t")
    tx_append(orders.limit(10), t)
    # the commit primitive: a taken version number conflicts — this is
    # what a read-modify-write (delete/compact) surfaces when its base
    # went stale under it
    rival = os.path.join(t, "_txlog", f"{1:011d}.json")
    with open(rival, "w") as f:
        f.write('{"actions": [], "txn": null}\n')
    with pytest.raises(TxConflict, match="another"):
        _commit(t, 1, [])
    # blind appends COMMUTE: the losing appender auto-advances past
    # the rival instead of failing
    v = tx_append(orders.limit(5), t)
    assert v == 2
    assert read_table(spark, t).count() == 15


def test_txn_sink_is_idempotent(spark, sf_dir, tmp_path):
    orders = _orders(spark, sf_dir).limit(40)
    t = str(tmp_path / "t")
    tx_sink_batch(orders, 0, t, app="loader")
    n0 = read_table(spark, t).count()
    tx_sink_batch(orders, 0, t, app="loader")  # replayed micro-batch
    assert read_table(spark, t).count() == n0  # no duplicate rows
    assert latest_version(t) == 0              # and no empty commit
    tx_sink_batch(orders, 1, t, app="loader")
    assert read_table(spark, t).count() == 2 * n0
    assert last_txn_batch(t, "loader") == 1
    assert last_txn_batch(t, "other") is None


def test_real_stream_through_txn_sink(spark, sf_dir, tmp_path):
    """availableNow stream -> tx_sink_batch: the table's row set must
    equal the source exactly (exactly-once through the log)."""
    import glob
    import shutil

    from saurav_nayak_recipe_etl_project_spark.streaming import (
        drain,
        read_drops,
    )

    orders = _orders(spark, sf_dir)
    src = tmp_path / "drops"
    src.mkdir()
    a = orders.filter(F.col("o_orderkey") % 2 == 0).coalesce(1)
    b = orders.filter(F.col("o_orderkey") % 2 == 1).coalesce(1)
    for i, part in enumerate([a, b]):
        d = str(tmp_path / f"stage_{i}")
        part.write.parquet(d)
        shutil.copy(glob.glob(f"{d}/part-*.parquet")[0],
                    str(src / f"{i}.parquet"))
    t = str(tmp_path / "t")
    stream = read_drops(
        spark, str(src),
        "o_orderkey long, o_orderstatus string, o_totalprice double", 1)
    drain(stream, str(tmp_path / "ckpt"),
          lambda df, bid: tx_sink_batch(df, bid, t, app="stream"))
    assert _rows(read_table(spark, t)) == _rows(orders)
    assert last_txn_batch(t, "stream") == 1


def test_merge_replaces_and_inserts(spark, sf_dir, tmp_path):
    from saurav_nayak_recipe_etl_project_spark.sources.txlog import (
        tx_merge,
    )

    orders = _orders(spark, sf_dir)
    hi = orders.agg(F.max("o_orderkey")).first()[0]
    t = str(tmp_path / "t")
    tx_append(orders.repartitionByRange(6, "o_orderkey"), t,
              ["o_orderkey"])
    src = orders.filter(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey", F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
    ).unionByName(orders.limit(3).select(
        (F.col("o_orderkey") + hi + 1).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"), "o_totalprice"))
    tx_merge(spark, t, src, "o_orderkey", ["o_orderkey"])
    got = read_table(spark, t)
    expected = orders.join(
        src.select("o_orderkey"), "o_orderkey", "left_anti"
    ).unionByName(src)
    assert _rows(got) == _rows(expected)   # replaced once, never dup'd
    # time travel still sees the pre-merge table
    assert _rows(read_table(spark, t, version=0)) == _rows(orders)


def test_merge_prunes_files_outside_source_range(spark, sf_dir,
                                                 tmp_path):
    from saurav_nayak_recipe_etl_project_spark.sources.txlog import (
        tx_merge,
    )

    orders = _orders(spark, sf_dir)
    lo, hi = orders.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    t = str(tmp_path / "t")
    tx_append(orders.repartitionByRange(8, "o_orderkey"), t,
              ["o_orderkey"])
    before = set(snapshot_files(t))
    cut = lo + (hi - lo) // 8
    src = orders.filter(F.col("o_orderkey") <= cut).select(
        "o_orderkey", F.lit("U").alias("o_orderstatus"), "o_totalprice")
    tx_merge(spark, t, src, "o_orderkey", ["o_orderkey"])
    survived = before & set(snapshot_files(t))
    assert survived, "merge rewrote files whose key range it never hit"


def test_merge_duplicate_source_is_loud(spark, sf_dir, tmp_path):
    from saurav_nayak_recipe_etl_project_spark.sources.txlog import (
        tx_merge,
    )

    orders = _orders(spark, sf_dir)
    t = str(tmp_path / "t")
    tx_append(orders.limit(20), t, ["o_orderkey"])
    dup = orders.limit(5).unionByName(orders.limit(5))
    with pytest.raises(ValueError, match="duplicate"):
        tx_merge(spark, t, dup, "o_orderkey")


def test_clustered_compaction_keeps_skipping(spark, sf_dir, tmp_path):
    orders = _orders(spark, sf_dir)
    lo, hi = orders.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    t = str(tmp_path / "t")
    # many unclustered appends -> every file spans the key space
    for i in range(4):
        tx_append(orders.filter(F.col("o_orderkey") % 4 == i), t,
                  ["o_orderkey"])
    tx_compact(spark, t, 4, ["o_orderkey"], cluster_by="o_orderkey")
    pred = ("o_orderkey", "<=", lo + (hi - lo) // 8)
    df = read_table(spark, t, where=pred)
    scanned = df.select(F.input_file_name().alias("f")).distinct().count()
    assert scanned < len(snapshot_files(t)), "clustering didn't tighten stats"
    assert _rows(df) == _rows(
        orders.filter(F.col("o_orderkey") <= pred[2]))


def test_schema_evolution_additive_only(spark, sf_dir, tmp_path):
    orders = _orders(spark, sf_dir)
    t = str(tmp_path / "t")
    tx_append(orders.limit(20), t)
    evolved = orders.limit(10).withColumn("o_channel", F.lit("web"))
    # silent drift is rejected...
    with pytest.raises(ValueError, match="schema drift"):
        tx_append(evolved, t)
    # ...deliberate additive evolution is allowed
    tx_append(evolved, t, allow_schema_evolution=True)
    df = read_table(spark, t)
    assert "o_channel" in df.columns
    assert df.count() == 30
    # pre-evolution rows surface NULL for the new column
    assert df.filter(F.col("o_channel").isNull()).count() == 20
    # type changes and dropped columns are NEVER evolution
    retyped = orders.limit(5).withColumn(
        "o_totalprice", F.col("o_totalprice").cast("string"))
    with pytest.raises(ValueError, match="rejected"):
        tx_append(retyped, t, allow_schema_evolution=True)
    with pytest.raises(ValueError, match="rejected"):
        tx_append(orders.limit(5).drop("o_orderstatus"), t,
                  allow_schema_evolution=True)


def test_merge_with_schema_evolution(spark, sf_dir, tmp_path):
    from saurav_nayak_recipe_etl_project_spark.sources.txlog import (
        tx_merge,
    )

    orders = _orders(spark, sf_dir)
    t = str(tmp_path / "t")
    tx_append(orders.limit(30), t, ["o_orderkey"])
    src = orders.limit(5).withColumn("o_flag", F.lit(1))
    with pytest.raises(ValueError, match="schema drift"):
        tx_merge(spark, t, src, "o_orderkey")
    tx_merge(spark, t, src, "o_orderkey", ["o_orderkey"],
             allow_schema_evolution=True)
    df = read_table(spark, t)
    assert df.count() == 30
    assert df.filter(F.col("o_flag") == 1).count() == 5
    assert df.filter(F.col("o_flag").isNull()).count() == 25


def test_changes_reads_only_churn(spark, sf_dir, tmp_path):
    from saurav_nayak_recipe_etl_project_spark.sources.txlog import (
        tx_changes, tx_merge,
    )

    orders = _orders(spark, sf_dir)
    t = str(tmp_path / "t")
    tx_append(orders.repartitionByRange(6, "o_orderkey"), t,
              ["o_orderkey"])
    src = orders.limit(10).select(
        "o_orderkey", F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") + 1).alias("o_totalprice"))
    tx_merge(spark, t, src, "o_orderkey", ["o_orderkey"])
    changes = tx_changes(spark, t, 0, 1, "o_orderkey",
                         ["o_orderstatus", "o_totalprice"])
    got = {r["o_orderkey"]: r["change_type"] for r in changes.collect()}
    expected_keys = {r["o_orderkey"] for r in src.select(
        "o_orderkey").collect()}
    assert set(got) == expected_keys          # ONLY the churn surfaces
    assert set(got.values()) == {"changed"}
    # compaction-only churn hashes out to an EMPTY feed
    tx_compact(spark, t, 2, ["o_orderkey"], cluster_by="o_orderkey")
    assert tx_changes(spark, t, 1, 2, "o_orderkey",
                      ["o_orderstatus", "o_totalprice"]).count() == 0
    # delete shows up as removed
    tx_delete_where(spark, t, ("o_orderstatus", "=", "U"))
    dels = tx_changes(spark, t, 2, 3, "o_orderkey",
                      ["o_orderstatus", "o_totalprice"])
    assert {r["change_type"] for r in dels.collect()} == {"removed"}
    assert dels.count() == len(expected_keys)


def test_incremental_reader_and_append_feed_contract(spark, sf_dir,
                                                     tmp_path):
    from saurav_nayak_recipe_etl_project_spark.sources.txlog import (
        tx_read_incremental,
    )

    orders = _orders(spark, sf_dir)
    t = str(tmp_path / "t")
    tx_append(orders.limit(30), t)
    df, cur = tx_read_incremental(spark, t, -1)
    assert cur == 0 and df.count() == 30
    # nothing new -> None, same cursor
    df2, cur2 = tx_read_incremental(spark, t, cur)
    assert df2 is None and cur2 == cur
    tx_append(orders.limit(50), t)  # overlapping rows, new files
    df3, cur3 = tx_read_incremental(spark, t, cur)
    assert cur3 == 1 and df3.count() == 50  # only the NEW commit's rows
    # a removal in the range is not an append feed — loud, not ghosts
    tx_delete_where(spark, t, ("o_orderstatus", "=", "F"))
    with pytest.raises(ValueError, match="tx_changes"):
        tx_read_incremental(spark, t, cur3)


def test_crashed_writer_orphans_invisible_then_vacuumed(spark, sf_dir,
                                                        tmp_path):
    from saurav_nayak_recipe_etl_project_spark.sources.txlog import (
        _write_files,
    )

    orders = _orders(spark, sf_dir)
    t = str(tmp_path / "t")
    tx_append(orders.limit(30), t)
    before = _rows(read_table(spark, t))
    # a writer crashes AFTER writing data files, BEFORE committing
    orphan_actions = _write_files(orders.limit(10), t, None)
    assert orphan_actions  # files exist on disk...
    assert _rows(read_table(spark, t)) == before  # ...readers never see them
    removed = vacuum(t, keep_versions=1)
    assert removed >= len(orphan_actions)  # and vacuum reclaims them
    assert _rows(read_table(spark, t)) == before


def test_vacuum_retention_and_loud_horizon(spark, sf_dir, tmp_path):
    orders = _orders(spark, sf_dir)
    t = str(tmp_path / "t")
    tx_append(orders.limit(30).repartition(3), t)
    tx_delete_where(spark, t, ("o_orderstatus", "=", "F"))
    tx_compact(spark, t, 1)
    latest = _rows(read_table(spark, t))
    removed = vacuum(t, keep_versions=1)
    assert removed > 0
    assert _rows(read_table(spark, t)) == latest  # live snapshot intact
    with pytest.raises(ValueError, match="vacuumed"):
        read_table(spark, t, version=0)           # loud, not FileNotFound
