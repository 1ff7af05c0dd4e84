"""Round-14 ADVICE fixes (all four r13 advisories):

1. tx_append/tx_merge validate CHECK constraints against the WRITTEN
   BYTES (read-back of the new files), not a second evaluation of the
   source — a non-deterministic source can no longer commit rows that
   were never validated; a violating write discards its uncommitted
   files.
2. tx_restore optionally validates the restored rows against the
   constraints currently in force (spark= opt-in; default stays the
   Delta RESTORE exemption, now documented).
3. txsource DV masking is columnar (pushed-down parquet filter +
   one vectorized boolean mask) — pinned by the existing
   test_txlog_dv.py::test_batch_datasource_masks_dv_positions.
4. CHECK constraint names must be plain identifiers (they double as
   aggregation aliases in validation).

Plus: _write_files records per-file `bytes` stats (the maxBytesPerBatch
pacing input — see test_txsource.py for the pacing pin).
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from saurav_nayak_recipe_etl_project_spark.sources import txlog
from saurav_nayak_recipe_etl_project_spark.sources.txlog import (
    _read_json_commit,
    latest_version,
    read_table,
    tx_append,
    tx_delete_where,
    tx_merge,
    tx_restore,
    tx_set_check,
)
from tests.txframes import tx_df, tx_rows


def _data_dirs(t):
    return sorted(os.path.basename(p) for p in
                  glob.glob(os.path.join(t, "data", "*")))


def test_check_name_must_be_identifier(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a")]), t, ["k"])
    for bad in ("k.min", "a`b", "has space", "", "9starts_with_digit",
                "semi;colon"):
        with pytest.raises(ValueError, match="identifier"):
            tx_set_check(spark, t, bad, ("k", ">=", 0))
    # a plain identifier records fine
    v = tx_set_check(spark, t, "k_nonneg_1", ("k", ">=", 0))
    assert v == 1


def test_violating_append_discards_files_and_raises(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a"), (2, "b")]), t, ["k"])
    tx_set_check(spark, t, "k_positive", ("k", ">", 0))
    before_dirs = _data_dirs(t)
    before_rows = tx_rows(read_table(spark, t))
    with pytest.raises(ValueError, match="k_positive"):
        tx_append(tx_df(spark, [(-5, "bad"), (3, "ok")]), t, ["k"])
    # the rejected write's files are DISCARDED — no orphan data dirs,
    # no new version, table rows unchanged
    assert _data_dirs(t) == before_dirs
    assert latest_version(t) == 1
    assert tx_rows(read_table(spark, t)) == before_rows


def test_violating_merge_discards_files_and_raises(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a"), (2, "b")]), t, ["k"])
    tx_set_check(spark, t, "k_positive", ("k", ">", 0))
    before_dirs = _data_dirs(t)
    with pytest.raises(ValueError, match="k_positive"):
        tx_merge(spark, t, tx_df(spark, [(2, "upd"), (-7, "bad")]),
                 "k", ["k"])
    assert _data_dirs(t) == before_dirs
    assert latest_version(t) == 1
    assert tx_rows(read_table(spark, t)) == [(1, "a"), (2, "b")]


def test_append_validates_the_written_bytes_not_the_source(
        spark, tmp_path, monkeypatch):
    """The validated frame must READ FROM THE TABLE's new files (the
    written bytes), not re-evaluate the source plan — the ADVICE r13
    non-deterministic-source hazard, pinned structurally via the
    validated DataFrame's inputFiles()."""
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a")]), t, ["k"])
    tx_set_check(spark, t, "k_nonneg", ("k", ">=", 0))
    seen: list = []
    orig = txlog._validate_checks

    def spy(df, checks, table):
        if checks:
            seen.append(sorted(df.inputFiles()))
        return orig(df, checks, table)

    monkeypatch.setattr(txlog, "_validate_checks", spy)
    tx_append(tx_df(spark, [(5, "ok")]), t, ["k"])
    assert seen, "append with checks must validate"
    files = seen[-1]
    assert files, "validated frame must be file-backed (the read-back)"
    assert all(os.path.realpath(t) in os.path.realpath(f.replace("file:", ""))
               for f in files), f"validated frame read {files}, not {t}"
    # and they are exactly the NEW commit's files
    new = {a["file"] for a in
           _read_json_commit(t, latest_version(t))["actions"]}
    assert {os.path.join(*f.split("/")[-3:]) for f in files} == new


def test_restore_validation_optin_and_default_exemption(spark, tmp_path):
    t = str(tmp_path / "t")
    # v0 contains a row a FUTURE check will forbid
    tx_append(tx_df(spark, [(-5, "old"), (1, "a")]), t, ["k"])
    # v1 deletes it; v2 records the check (passes current data)
    tx_delete_where(spark, t, ("k", "<", 0), ["k"])
    tx_set_check(spark, t, "k_nonneg", ("k", ">=", 0))
    # opt-in validation: restoring v0 would reintroduce k=-5 → raises,
    # nothing committed
    with pytest.raises(ValueError, match="k_nonneg"):
        tx_restore(t, 0, spark=spark)
    assert latest_version(t) == 2
    # default: the documented Delta RESTORE exemption — state rollback
    # commits without re-validation
    v = tx_restore(t, 0)
    assert v == 3
    assert tx_rows(read_table(spark, t)) == [(-5, "old"), (1, "a")]


def test_cdf_rows_emits_all_four_image_classes(spark, tmp_path):
    from saurav_nayak_recipe_etl_project_spark.sources.txlog import (
        tx_changes_rows,
    )

    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a"), (2, "b"), (3, "c")]), t, ["k"])
    tx_merge(spark, t, tx_df(spark, [(2, "B"), (9, "new")]), "k", ["k"])
    tx_delete_where(spark, t, ("s", "=", "c"), ["k"])
    got = tx_changes_rows(spark, t, 0, 2, "k")
    assert set(got.columns) == {"k", "s", "_change_type"}
    assert tx_rows(got) == [
        (2, "B", "update_postimage"),
        (2, "b", "update_preimage"),
        (3, "c", "delete"),
        (9, "new", "insert"),
    ]


def test_cdf_rows_rewrite_only_churn_is_empty(spark, tmp_path):
    from saurav_nayak_recipe_etl_project_spark.sources.txlog import (
        tx_changes_rows, tx_compact,
    )

    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a"), (2, "b")]), t, ["k"])
    tx_compact(spark, t, 1, ["k"])
    assert tx_changes_rows(spark, t, 0, 1, "k").count() == 0


def test_cdf_rows_across_dv_and_rename(spark, tmp_path):
    from saurav_nayak_recipe_etl_project_spark.sources.txlog import (
        tx_changes_rows, tx_rename_column,
    )

    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a"), (2, "F")]), t, ["k"])
    tx_delete_where(spark, t, ("s", "=", "F"), ["k"],
                    deletion_vectors=True)
    tx_rename_column(t, "s", "label")
    # images read under the TO-version contract: renamed column name
    got = tx_changes_rows(spark, t, 0, 2, "k")
    assert set(got.columns) == {"k", "label", "_change_type"}
    assert tx_rows(got) == [(2, "F", "delete")]


def test_write_files_record_byte_stats(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a"), (2, "b")]), t, ["k"])
    for a in _read_json_commit(t, 0)["actions"]:
        assert a["op"] == "add"
        real = os.path.getsize(os.path.join(t, a["file"]))
        assert a["stats"]["bytes"] == real > 0
