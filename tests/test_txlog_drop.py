"""Column DROP via column mapping (the second half of the
Delta/Iceberg rename/drop mapping, r14): `tx_drop_column` removes the
LOGICAL column in one metadata-only commit — data files keep the
physical bytes (zero rewrites), reads exclude the column, time travel
still shows it, and the physical name is RETIRED so a later re-add of
the same logical name gets a FRESH physical name: old data can never
resurrect through a re-added column (the field-id guarantee, done with
names). Pins: metadata-only, exclusion, time travel, re-add
NULL-backfill + fresh physical on disk, retired-list checkpoint
survival, partition/check-referenced drops rejected, merge guidance,
restore-across-drop, drop-after-rename."""

from __future__ import annotations

import glob
import os

import pytest

from saurav_nayak_recipe_etl_project_spark.sources.txlog import (
    history,
    latest_version,
    read_table,
    table_colmap,
    tx_append,
    tx_checkpoint,
    tx_clean_log,
    tx_drop_column,
    tx_merge,
    tx_rename_column,
    tx_restore,
    tx_set_check,
)
from tests.txframes import tx_df, tx_rows


def _data_files(t):
    return sorted(
        p for p in glob.glob(os.path.join(t, "data", "tx-*", "*.parquet")))


def test_drop_is_metadata_only_and_excludes_column(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a"), (2, "b")]), t, ["k"])
    before = _data_files(t)
    v = tx_drop_column(t, "s")
    assert v == 1
    assert _data_files(t) == before
    h = history(t)[-1]
    assert h["adds"] == 0 and h["removes"] == 0
    got = read_table(spark, t)
    assert got.columns == ["k"]
    assert tx_rows(got) == [(1,), (2,)]
    # time travel still shows the dropped column
    assert read_table(spark, t, version=0).columns == ["k", "s"]


def test_readd_gets_fresh_physical_and_null_backfill(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "old")]), t, ["k"])
    tx_drop_column(t, "s")
    # re-adding the SAME logical name: old data must NOT resurrect
    tx_append(tx_df(spark, [(2, "new")]), t, ["k"],
              allow_schema_evolution=True)
    got = read_table(spark, t)
    assert got.columns == ["k", "s"]
    assert tx_rows(got) == [(1, None), (2, "new")]
    # the re-added column maps to a FRESH physical name on disk
    cm = table_colmap(t)
    assert cm.get("s", "s") != "s"
    phys = cm["s"]
    newest = max(_data_files(t), key=os.path.getmtime)
    assert phys in spark.read.parquet(newest).columns
    # and a second append keeps working under the mapping
    tx_append(tx_df(spark, [(3, "more")]), t, ["k"])
    assert tx_rows(read_table(spark, t)) == [
        (1, None), (2, "new"), (3, "more")]


def test_drop_rejections(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a")]), t, ["k"], partition_by=["s"])
    with pytest.raises(ValueError, match="partition"):
        tx_drop_column(t, "s")
    t2 = str(tmp_path / "t2")
    tx_append(tx_df(spark, [(1, "a")]), t2, ["k"])
    tx_set_check(spark, t2, "k_pos", ("k", ">", 0))
    with pytest.raises(ValueError, match="k_pos"):
        tx_drop_column(t2, "k")
    with pytest.raises(ValueError, match="no column"):
        tx_drop_column(t2, "nope")
    # dropping the LAST column is meaningless
    t3 = str(tmp_path / "t3")
    tx_append(spark.createDataFrame([(1,)], "k long"), t3, ["k"])
    with pytest.raises(ValueError, match="last column"):
        tx_drop_column(t3, "k")


def test_merge_readding_retired_name_is_loud(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a")]), t, ["k"])
    tx_drop_column(t, "s")
    with pytest.raises(ValueError, match="retired"):
        tx_merge(spark, t, tx_df(spark, [(1, "boom")]), "k", ["k"],
                 allow_schema_evolution=True)


def test_retired_list_survives_checkpoint_and_clean(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a")]), t, ["k"])
    tx_drop_column(t, "s")
    tx_checkpoint(t)
    tx_clean_log(t)
    # re-add through the checkpointed retired list: fresh physical
    tx_append(tx_df(spark, [(2, "new")]), t, ["k"],
              allow_schema_evolution=True)
    assert table_colmap(t).get("s", "s") != "s"
    assert tx_rows(read_table(spark, t)) == [(1, None), (2, "new")]


def test_restore_across_drop_brings_column_back(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a")]), t, ["k"])
    tx_drop_column(t, "s")
    v = tx_restore(t, 0)
    assert v == 2
    got = read_table(spark, t)
    assert got.columns == ["k", "s"]
    assert tx_rows(got) == [(1, "a")]


def test_drop_after_rename_retires_the_physical(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a")]), t, ["k"])
    tx_rename_column(t, "s", "label")
    tx_drop_column(t, "label")
    assert read_table(spark, t).columns == ["k"]
    assert table_colmap(t) == {}
    # the ORIGINAL physical name 's' is retired: re-adding logical
    # 's' must get a fresh physical too (its bytes are in old files)
    tx_append(tx_df(spark, [(2, "new")]), t, ["k"],
              allow_schema_evolution=True)
    assert table_colmap(t).get("s", "s") != "s"
    assert tx_rows(read_table(spark, t)) == [(1, None), (2, "new")]
