"""Deletion vectors on the log-structured ACID table (the Delta DV /
Iceberg v2 position-delete design): `tx_delete_where(...,
deletion_vectors=True)` records (file, row_index) positions instead of
rewriting files; reads merge-on-read via `_metadata.row_index`
anti-joins. Pins: zero data files rewritten, NULL safety,
accumulation, merge/compact interplay, CDF, the append-feed raises,
the batch DataSource mask, checkpoint/clean survival, vacuum
reference-keeping, and restore across a DV."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from saurav_nayak_recipe_etl_project_spark.sources import txlog
from saurav_nayak_recipe_etl_project_spark.sources.txlog import (
    history,
    latest_version,
    read_table,
    snapshot_files,
    tx_append,
    tx_changes,
    tx_checkpoint,
    tx_clean_log,
    tx_compact,
    tx_delete_where,
    tx_merge,
    tx_read_incremental,
    tx_restore,
    vacuum,
)
from tests.txframes import tx_df, tx_rows


def _data_files(t):
    return sorted(
        p for p in glob.glob(os.path.join(t, "data", "tx-*", "*.parquet")))


def test_dv_delete_rewrites_nothing_and_reads_correctly(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a"), (2, "F"), (3, "c"), (4, "F")]),
              t, ["k"])
    before = _data_files(t)
    v = tx_delete_where(spark, t, ("s", "=", "F"), ["k"],
                        deletion_vectors=True)
    assert v == 1
    # ZERO data files written or removed — the whole point
    assert _data_files(t) == before
    h = history(t)
    assert h[-1]["adds"] == 0 and h[-1]["removes"] == 0
    assert h[-1]["dvs"] >= 1
    assert tx_rows(read_table(spark, t)) == [(1, "a"), (3, "c")]
    # time travel: the pre-DV snapshot still shows everything
    assert len(tx_rows(read_table(spark, t, version=0))) == 4


def test_dv_delete_is_null_safe_and_accumulates(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "F"), (2, None), (3, "O"), (4, "F")])
              .coalesce(1), t, ["k"])
    tx_delete_where(spark, t, ("s", "=", "F"), ["k"],
                    deletion_vectors=True)
    # NULL predicate rows SURVIVE (IS TRUE semantics)
    assert tx_rows(read_table(spark, t)) == [(2, None), (3, "O")]
    # second DV on the same file accumulates; already-deleted rows are
    # not re-recorded (read-with-DVs feeds the position scan)
    tx_delete_where(spark, t, ("k", "=", 3), ["k"],
                    deletion_vectors=True)
    assert tx_rows(read_table(spark, t)) == [(2, None)]
    live = snapshot_files(t)
    assert all(len(st.get("_dvs", [])) == 2 for st in live.values())


def test_dv_noop_when_stats_overlap_but_nothing_matches(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a"), (9, "z")]), t, ["k"])
    v0 = latest_version(t)
    # k=5 overlaps the [1,9] stats range but matches no row
    assert tx_delete_where(spark, t, ("k", "=", 5), ["k"],
                           deletion_vectors=True) == v0
    assert latest_version(t) == v0


def test_merge_and_compact_after_dv(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a"), (2, "F"), (3, "c")]), t, ["k"])
    tx_delete_where(spark, t, ("s", "=", "F"), ["k"],
                    deletion_vectors=True)
    # merge must NOT resurrect the DV'd row: target read applies DVs,
    # and the rewrite folds the DV away for the touched file
    tx_merge(spark, t, tx_df(spark, [(3, "C"), (5, "e")]), "k", ["k"])
    assert tx_rows(read_table(spark, t)) == [(1, "a"), (3, "C"), (5, "e")]
    # compaction folds any remaining DVs into clean files
    tx_compact(spark, t, 1, ["k"])
    assert tx_rows(read_table(spark, t)) == [(1, "a"), (3, "C"), (5, "e")]
    assert all("_dvs" not in st for st in snapshot_files(t).values())


def test_cdf_reports_dv_rows_as_removed(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a"), (2, "F"), (3, "c")]), t, ["k"])
    tx_delete_where(spark, t, ("s", "=", "F"), ["k"],
                    deletion_vectors=True)
    ch = sorted((r["k"], r["change_type"])
                for r in tx_changes(spark, t, 0, 1, "k", ["s"]).collect())
    assert ch == [(2, "removed")]


def test_append_feeds_raise_on_dv(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "F"), (2, "b")]), t, ["k"])
    tx_delete_where(spark, t, ("s", "=", "F"), ["k"],
                    deletion_vectors=True)
    with pytest.raises(ValueError, match="tx_changes"):
        tx_read_incremental(spark, t, 0)


def test_batch_datasource_masks_dv_positions(spark, tmp_path):
    from saurav_nayak_recipe_etl_project_spark.sources.txsource import (
        register_txlog_source,
    )

    register_txlog_source(spark)
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a"), (2, "F"), (3, "c"), (4, "F")]),
              t, ["k"])
    tx_delete_where(spark, t, ("s", "=", "F"), ["k"],
                    deletion_vectors=True)
    got = spark.read.format("txlog").option("path", t).load()
    assert tx_rows(got) == [(1, "a"), (3, "c")]
    # time travel through the source still shows the pre-DV snapshot
    v0 = (spark.read.format("txlog").option("path", t)
          .option("version", 0).load())
    assert len(tx_rows(v0)) == 4
    # the STREAM raises on the DV commit (append feed cannot carry it)
    from saurav_nayak_recipe_etl_project_spark.streaming import (
        await_or_raise,
    )
    stream = (spark.readStream.format("txlog").option("path", t).load()
              .writeStream.foreachBatch(lambda df, bid: df.collect())
              .option("checkpointLocation", str(tmp_path / "ckpt"))
              .trigger(availableNow=True))
    with pytest.raises(Exception, match="tx_changes"):
        await_or_raise(stream.start())


def test_dv_survives_checkpoint_and_clean(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a"), (2, "F")]), t, ["k"])
    tx_delete_where(spark, t, ("s", "=", "F"), ["k"],
                    deletion_vectors=True)
    tx_checkpoint(t)
    tx_clean_log(t)
    # the DV list rides inside stats_json through the checkpoint
    assert tx_rows(read_table(spark, t)) == [(1, "a")]
    tx_append(tx_df(spark, [(3, "c")]), t, ["k"])
    assert tx_rows(read_table(spark, t)) == [(1, "a"), (3, "c")]


def test_vacuum_keeps_referenced_dvs_then_reclaims(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a"), (2, "F")]), t, ["k"])
    tx_delete_where(spark, t, ("s", "=", "F"), ["k"],
                    deletion_vectors=True)
    dv_files = glob.glob(os.path.join(t, "data", "dv-*", "*.parquet"))
    assert dv_files
    vacuum(t, keep_versions=1)
    # the kept snapshot still reads through the DV — files stay
    assert all(os.path.exists(p) for p in dv_files)
    assert tx_rows(read_table(spark, t)) == [(1, "a")]
    # compaction folds the DV away; vacuum then reclaims it
    tx_compact(spark, t, 1, ["k"])
    vacuum(t, keep_versions=1)
    assert not any(os.path.exists(p) for p in dv_files)
    assert tx_rows(read_table(spark, t)) == [(1, "a")]


def test_restore_across_dv_brings_rows_back(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a"), (2, "F")]), t, ["k"])
    tx_delete_where(spark, t, ("s", "=", "F"), ["k"],
                    deletion_vectors=True)
    assert tx_rows(read_table(spark, t)) == [(1, "a")]
    n_data = len(_data_files(t))
    v = tx_restore(t, 0)
    assert v == 2
    # metadata-only: restore across a DV writes no data files
    assert len(_data_files(t)) == n_data
    assert tx_rows(read_table(spark, t)) == [(1, "a"), (2, "F")]
    # CDF across the restore reports the row that came back
    ch = sorted((r["k"], r["change_type"])
                for r in tx_changes(spark, t, 1, 2, "k", ["s"]).collect())
    assert ch == [(2, "added")]


# --- CHECK constraints (the Delta ADD CONSTRAINT write contract) -------

def test_check_constraint_enforced_on_append_and_merge(spark, tmp_path):
    from saurav_nayak_recipe_etl_project_spark.sources.txlog import (
        table_checks,
        tx_drop_check,
        tx_set_check,
    )

    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, 1)], "k long, v long"), t, ["k"])
    tx_set_check(spark, t, "v_nonneg", ("v", ">=", 0))
    assert table_checks(t) == {"v_nonneg": ["v", ">=", 0]}
    # valid append passes; violating append is rejected WHOLE
    tx_append(tx_df(spark, [(2, 5)], "k long, v long"), t, ["k"])
    with pytest.raises(ValueError, match="v_nonneg"):
        tx_append(tx_df(spark, [(3, 7), (4, -1)], "k long, v long"),
                  t, ["k"])
    assert tx_rows(read_table(spark, t)) == [(1, 1), (2, 5)]
    # NULL passes (SQL-standard CHECK: violation only when FALSE)
    tx_append(tx_df(spark, [(5, None)], "k long, v long"), t, ["k"])
    # merge validates its source too
    with pytest.raises(ValueError, match="v_nonneg"):
        tx_merge(spark, t, tx_df(spark, [(2, -9)], "k long, v long"), "k")
    tx_merge(spark, t, tx_df(spark, [(2, 9)], "k long, v long"), "k")
    # dropping the constraint re-opens the gate
    tx_drop_check(t, "v_nonneg")
    assert table_checks(t) == {}
    tx_append(tx_df(spark, [(6, -3)], "k long, v long"), t, ["k"])
    assert (6, -3) in tx_rows(read_table(spark, t))


def test_check_constraint_validates_existing_data_and_survives_clean(
        spark, tmp_path):
    from saurav_nayak_recipe_etl_project_spark.sources.txlog import (
        table_checks,
        tx_set_check,
    )

    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, -5)], "k long, v long"), t, ["k"])
    # existing data violates: the constraint is NOT recorded (Delta
    # ADD CONSTRAINT semantics)
    with pytest.raises(ValueError, match="v_nonneg"):
        tx_set_check(spark, t, "v_nonneg", ("v", ">=", 0))
    assert table_checks(t) == {}
    tx_set_check(spark, t, "v_small", ("v", "<=", 100))
    # constraints ride through checkpoints and survive log cleaning
    tx_checkpoint(t)
    tx_clean_log(t)
    assert table_checks(t) == {"v_small": ["v", "<=", 100]}
    with pytest.raises(ValueError, match="v_small"):
        tx_append(tx_df(spark, [(2, 500)], "k long, v long"), t, ["k"])
    tx_append(tx_df(spark, [(2, 50)], "k long, v long"), t, ["k"])
    assert tx_rows(read_table(spark, t)) == [(1, -5), (2, 50)]
