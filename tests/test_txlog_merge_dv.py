"""DV-writing MERGE (merge-on-read upserts — r13 verdict item 2):
`tx_merge(..., deletion_vectors=True)` position-deletes the matched
rows a clause fires on and appends only the replacement rows — zero
data files removed. Pins: zero-rewrite on the matched side, clause
semantics (delete / conditional update / NULL safety) equal to the
COW twin, DV accumulation under repeated merges, fold-away under
compaction (mirrors tests/test_txlog_dv.py), CDF across a DV merge,
and kept-target rows never masked."""

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
    tx_append,
    tx_changes,
    tx_compact,
    tx_merge,
)
from tests.txframes import tx_df, tx_rows


def _data_files(t):
    return sorted(
        p for p in glob.glob(os.path.join(t, "data", "tx-*", "*.parquet")))


def _dvs(t):
    live = snapshot_files(t)
    return {f: st.get("_dvs", []) for f, st in live.items()}


def test_merge_dv_removes_no_data_files(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a"), (2, "b"), (3, "c"), (4, "d")])
              .repartition(2), t, ["k"])
    before = _data_files(t)
    v = tx_merge(spark, t, tx_df(spark, [(2, "B"), (9, "new")]), "k",
                 ["k"], deletion_vectors=True)
    assert v == 1
    # every pre-merge data file still ON DISK and still LIVE
    assert set(before) <= set(_data_files(t))
    assert set(os.path.join(t, f) for f in snapshot_files(t)) >= set(before)
    h = history(t)[-1]
    assert h["removes"] == 0 and h["dvs"] >= 1 and h["adds"] >= 1
    assert tx_rows(read_table(spark, t)) == [
        (1, "a"), (2, "B"), (3, "c"), (4, "d"), (9, "new")]


def test_merge_dv_equals_cow_twin_with_clauses(spark, tmp_path):
    src_rows = [(1, "D"), (2, "U"), (3, None), (11, "N")]
    results = []
    for mode, sub in ((False, "cow"), (True, "dv")):
        t = str(tmp_path / sub)
        tx_append(tx_df(spark, [(1, "a"), (2, "b"), (3, "c"), (4, "d")]),
                  t, ["k"])
        tx_merge(spark, t, tx_df(spark, src_rows), "k", ["k"],
                 matched_delete=("s", "=", "D"),
                 matched_update_condition=("k", "<", 100),
                 deletion_vectors=mode)
        results.append(tx_rows(read_table(spark, t)))
    assert results[0] == results[1] == [
        (2, "U"), (3, None), (4, "d"), (11, "N")]


def test_merge_dv_accumulates_under_repeated_merges(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a"), (2, "b"), (3, "c"), (4, "d")])
              .coalesce(1), t, ["k"])
    only_file = list(snapshot_files(t))[0]
    tx_merge(spark, t, tx_df(spark, [(1, "A1")]), "k", ["k"],
             deletion_vectors=True)
    assert len(_dvs(t)[only_file]) == 1
    tx_merge(spark, t, tx_df(spark, [(2, "B2")]), "k", ["k"],
             deletion_vectors=True)
    # second merge ADDS a second vector on the same original file
    assert len(_dvs(t)[only_file]) == 2
    # and re-merging an already-DV'd key masks the LATEST row, not the
    # original (positions are read with current DVs applied)
    tx_merge(spark, t, tx_df(spark, [(1, "A3")]), "k", ["k"],
             deletion_vectors=True)
    assert tx_rows(read_table(spark, t)) == [
        (1, "A3"), (2, "B2"), (3, "c"), (4, "d")]
    # no data file was ever removed across the three merges
    assert all(h["removes"] == 0 for h in history(t)[1:])


def test_merge_dv_folds_under_compaction(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a"), (2, "b"), (3, "c")]), t, ["k"])
    tx_merge(spark, t, tx_df(spark, [(2, "B"), (7, "x")]), "k", ["k"],
             deletion_vectors=True)
    assert any(_dvs(t).values())
    tx_compact(spark, t, 1, ["k"])
    # compaction rewrote the files: every DV is gone, values intact
    assert not any(st.get("_dvs") for st in snapshot_files(t).values())
    assert tx_rows(read_table(spark, t)) == [
        (1, "a"), (2, "B"), (3, "c"), (7, "x")]


def test_merge_dv_pure_delete_writes_no_files(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "D"), (2, "keep")]), t, ["k"])
    v = tx_merge(spark, t, tx_df(spark, [(1, "D")]), "k", ["k"],
                 matched_delete=("s", "=", "D"),
                 matched_update_condition=("k", "<", 0),
                 deletion_vectors=True)
    assert v == 1
    h = history(t)[-1]
    assert h["adds"] == 0 and h["removes"] == 0 and h["dvs"] == 1
    assert tx_rows(read_table(spark, t)) == [(2, "keep")]


def test_merge_dv_noop_when_nothing_fires(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a")]), t, ["k"])
    # matched, but neither clause fires (delete cond false, update
    # cond false) and nothing to insert → no-op, no empty commit
    v = tx_merge(spark, t, tx_df(spark, [(1, "z")]), "k", ["k"],
                 matched_delete=("s", "=", "NEVER"),
                 matched_update_condition=("k", "<", 0),
                 deletion_vectors=True)
    assert v == 0 and latest_version(t) == 0
    assert tx_rows(read_table(spark, t)) == [(1, "a")]


def test_merge_dv_cdf_reports_update_as_changed(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a"), (2, "b")]), t, ["k"])
    tx_merge(spark, t, tx_df(spark, [(2, "B"), (3, "c")]), "k", ["k"],
             deletion_vectors=True)
    diff = tx_changes(spark, t, 0, 1, "k", ["s"])
    assert tx_rows(diff) == [(2, "changed"), (3, "added")]


def test_merge_dv_all_insert_when_no_overlap(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a")]), t, ["k"])
    v = tx_merge(spark, t, tx_df(spark, [(100, "z")]), "k", ["k"],
                 deletion_vectors=True)
    assert v == 1
    h = history(t)[-1]
    assert h["dvs"] == 0 and h["removes"] == 0 and h["adds"] >= 1
    assert tx_rows(read_table(spark, t)) == [(1, "a"), (100, "z")]
