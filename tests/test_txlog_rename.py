"""Column rename via column mapping (r13 verdict item 3 — the Delta
columnMapping.mode=name / Iceberg field-id idea): `tx_rename_column`
changes only the LOGICAL name in one metadata-only commit; data files
keep the stable PHYSICAL name, so zero files are rewritten, old files
read under the new name, new appends keep writing the physical name,
stats pruning survives (stats are keyed physical), time travel returns
the contract as of the version, and the mapping rides checkpoints,
restores, CHECK constraints, deletion vectors, and the txlog
DataSource."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from saurav_nayak_recipe_etl_project_spark.sources.txlog import (
    history,
    latest_version,
    read_table,
    snapshot_files,
    table_checks,
    table_colmap,
    tx_append,
    tx_checkpoint,
    tx_clean_log,
    tx_compact,
    tx_delete_where,
    tx_merge,
    tx_rename_column,
    tx_restore,
    tx_set_check,
)
from tests.txframes import tx_df, tx_rows


def _data_files(t):
    return sorted(
        p for p in glob.glob(os.path.join(t, "data", "tx-*", "*.parquet")))


def test_rename_is_metadata_only_and_reads_old_files(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a"), (2, "b")]), t, ["k"])
    before = _data_files(t)
    v = tx_rename_column(t, "s", "label")
    assert v == 1
    # zero files written, zero actions in the commit
    assert _data_files(t) == before
    h = history(t)[-1]
    assert h["adds"] == 0 and h["removes"] == 0 and h["dvs"] == 0
    got = read_table(spark, t)
    assert got.columns == ["k", "label"]
    assert tx_rows(got) == [(1, "a"), (2, "b")]
    assert table_colmap(t) == {"label": "s"}


def test_rename_then_append_roundtrip_writes_physical(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a")]), t, ["k"])
    tx_rename_column(t, "s", "label")
    tx_append(tx_df(spark, [(2, "b")], "k long, label string"), t, ["k"])
    got = read_table(spark, t)
    assert got.columns == ["k", "label"]
    assert tx_rows(got) == [(1, "a"), (2, "b")]
    # the post-rename file stores the PHYSICAL name on disk
    new_files = [f for f in _data_files(t)]
    raw_cols = {c for f in new_files
                for c in spark.read.parquet(f).columns}
    assert raw_cols == {"k", "s"}


def test_time_travel_returns_pre_rename_contract(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a")]), t, ["k"])
    tx_rename_column(t, "s", "label")
    assert read_table(spark, t, version=0).columns == ["k", "s"]
    assert read_table(spark, t, version=1).columns == ["k", "label"]


def test_rename_survives_checkpoint_and_clean(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a")]), t, ["k"])
    tx_rename_column(t, "s", "label")
    tx_checkpoint(t)
    tx_clean_log(t)
    assert table_colmap(t) == {"label": "s"}
    assert tx_rows(read_table(spark, t)) == [(1, "a")]
    tx_append(tx_df(spark, [(2, "b")], "k long, label string"), t, ["k"])
    assert tx_rows(read_table(spark, t)) == [(1, "a"), (2, "b")]


def test_rename_back_restores_identity(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a")]), t, ["k"])
    tx_rename_column(t, "s", "x")
    tx_rename_column(t, "x", "s")
    assert table_colmap(t) == {}
    assert tx_rows(read_table(spark, t)) == [(1, "a")]


def test_rename_rejections(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a")]), t, ["k"])
    with pytest.raises(ValueError, match="no column"):
        tx_rename_column(t, "nope", "x")
    with pytest.raises(ValueError, match="already has"):
        tx_rename_column(t, "s", "k")
    with pytest.raises(ValueError, match="invalid column name"):
        tx_rename_column(t, "s", "ba`d")
    tx_rename_column(t, "s", "label")
    # 'label' owns physical 's' — renaming k to 's' would shadow it
    with pytest.raises(ValueError, match="physical name"):
        tx_rename_column(t, "k", "s")


def test_added_column_cannot_shadow_a_physical_name(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a")]), t, ["k"])
    tx_rename_column(t, "s", "label")
    with pytest.raises(ValueError, match="shadow"):
        tx_append(tx_df(spark, [(2, "b", "boom")],
                      "k long, label string, s string"),
                  t, ["k"], allow_schema_evolution=True)


def test_checks_follow_the_rename(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a")]), t, ["k"])
    tx_set_check(spark, t, "k_pos", ("k", ">", 0))
    tx_rename_column(t, "k", "id")
    assert table_checks(t) == {"k_pos": ["id", ">", 0]}
    with pytest.raises(ValueError, match="k_pos"):
        tx_append(tx_df(spark, [(-1, "bad")], "id long, s string"),
                  t, ["id"])
    tx_append(tx_df(spark, [(2, "ok")], "id long, s string"), t, ["id"])
    assert tx_rows(read_table(spark, t)) == [(1, "a"), (2, "ok")]


def test_stats_pruning_survives_rename(spark, tmp_path):
    t = str(tmp_path / "t")
    # two files with disjoint k ranges, stats on k
    tx_append(tx_df(spark, [(1, "a"), (2, "b")]).coalesce(1), t, ["k"])
    tx_append(tx_df(spark, [(100, "x"), (200, "y")]).coalesce(1), t, ["k"])
    tx_rename_column(t, "k", "id")
    got = read_table(spark, t, where=("id", ">=", 100))
    assert tx_rows(got) == [(100, "x"), (200, "y")]
    # pruning actually skipped the low file (stats keyed physical)
    assert len(got.inputFiles()) == 1


def test_delete_merge_and_compact_after_rename(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a"), (2, "b"), (3, "c")]), t, ["k"])
    tx_rename_column(t, "k", "id")
    tx_delete_where(spark, t, ("id", "=", 3), ["id"])
    tx_merge(spark, t, tx_df(spark, [(2, "B"), (9, "new")],
                           "id long, s string"), "id", ["id"])
    tx_compact(spark, t, 1, ["id"])
    got = read_table(spark, t)
    assert got.columns == ["id", "s"]
    assert tx_rows(got) == [(1, "a"), (2, "B"), (9, "new")]
    # every generation (pre-rename, post-rename, compacted) stores the
    # PHYSICAL name on disk
    raw_cols = {c for f in _data_files(t)
                for c in spark.read.parquet(f).columns}
    assert raw_cols == {"k", "s"}


def test_dv_delete_after_rename(spark, tmp_path):
    """Merge-on-read delete on a renamed column: exercises the
    _metadata position extraction AFTER the logical rename projection."""
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a"), (2, "F"), (3, "c")]), t, ["k"])
    tx_rename_column(t, "s", "label")
    before = _data_files(t)
    tx_delete_where(spark, t, ("label", "=", "F"), ["k"],
                    deletion_vectors=True)
    assert _data_files(t) == before  # still zero rewrites
    assert tx_rows(read_table(spark, t)) == [(1, "a"), (3, "c")]


def test_restore_across_rename_rolls_back_the_name(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a")]), t, ["k"])
    tx_rename_column(t, "s", "label")
    tx_append(tx_df(spark, [(2, "b")], "k long, label string"), t, ["k"])
    v = tx_restore(t, 0)
    assert v == 3
    got = read_table(spark, t)
    assert got.columns == ["k", "s"]
    assert tx_rows(got) == [(1, "a")]


def test_txsource_batch_and_stream_after_rename(spark, tmp_path):
    from saurav_nayak_recipe_etl_project_spark.sources.txsource import (
        register_txlog_source,
    )
    from saurav_nayak_recipe_etl_project_spark.streaming import drain

    register_txlog_source(spark)
    t, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    tx_append(tx_df(spark, [(1, "a")]), t, ["k"])
    tx_rename_column(t, "s", "label")
    tx_append(tx_df(spark, [(2, "b")], "k long, label string"), t, ["k"])
    got = spark.read.format("txlog").option("path", t).load()
    assert got.columns == ["k", "label"]
    assert tx_rows(got) == [(1, "a"), (2, "b")]
    # time travel through the plugin reads the OLD contract
    v0 = (spark.read.format("txlog").option("path", t)
          .option("version", 0).load())
    assert v0.columns == ["k", "s"]
    # the stream conforms BOTH generations of files to the logical
    # schema (the rename commit itself carries no add actions)
    stream = spark.readStream.format("txlog").option("path", t).load()
    assert stream.columns == ["k", "label"]
    out: list = []
    drain(stream, ckpt,
          lambda df, bid: out.extend(tuple(r) for r in df.collect()))
    assert sorted(out) == [(1, "a"), (2, "b")]
