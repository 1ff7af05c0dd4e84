"""Logical conflict resolution for read-modify-write commits
(_commit_rmw — the Delta ConflictChecker / WriteSerializable
behavior, r14): a rival BLIND APPEND landing during a
delete/merge/compact no longer aborts the op — the same actions
re-commit at the next version and the rival's files stay live
(appends commute with file-granular rewrites of OTHER files; at
100 TB: compaction no longer blocks ingest). Rivals that removed or
DV'd a file the op read, or changed table metadata
(schema/constraints/column mapping), still surface TxConflict for a
real re-derivation."""

from __future__ import annotations

import pytest

from saurav_nayak_recipe_etl_project_spark.sources import txlog
from saurav_nayak_recipe_etl_project_spark.sources.txlog import (
    TxConflict,
    history,
    latest_version,
    read_table,
    tx_append,
    tx_compact,
    tx_delete_where,
    tx_merge,
    tx_rename_column,
    tx_set_check,
)
from tests.txframes import tx_df, tx_rows


def _rival_hook(monkeypatch, spark, t, rival_fn):
    """Land `rival_fn` exactly once, inside the victim's
    _write_files window (after its base was captured)."""
    orig = txlog._write_files
    fired = []

    def hook(df, table, stats_cols, partition_by=None):
        actions = orig(df, table, stats_cols, partition_by)
        if not fired:
            fired.append(True)
            rival_fn()
        return actions

    monkeypatch.setattr(txlog, "_write_files", hook)
    return fired


def test_rival_append_commutes_with_delete(spark, tmp_path, monkeypatch):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a"), (2, "F")]), t, ["k"])
    _rival_hook(monkeypatch, spark, t,
                lambda: tx_append(tx_df(spark, [(9, "late")]), t, ["k"]))
    v = tx_delete_where(spark, t, ("s", "=", "F"), ["k"])
    # rival took version 1; the delete re-committed at 2 unchanged
    assert v == 2 and latest_version(t) == 2
    assert tx_rows(read_table(spark, t)) == [(1, "a"), (9, "late")]


def test_rival_append_survives_concurrent_compact(spark, tmp_path,
                                                  monkeypatch):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a")]), t, ["k"])
    tx_append(tx_df(spark, [(2, "b")]), t, ["k"])
    _rival_hook(monkeypatch, spark, t,
                lambda: tx_append(tx_df(spark, [(9, "late")]), t, ["k"]))
    v = tx_compact(spark, t, 1, ["k"])
    assert v == 3
    # the rival's rows are NOT in the compacted file set but stay live
    assert tx_rows(read_table(spark, t)) == [(1, "a"), (2, "b"), (9, "late")]
    h = history(t)[-1]
    assert h["removes"] == 2  # only the files compact READ


def test_rival_append_commutes_with_merge(spark, tmp_path, monkeypatch):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a"), (2, "b")]), t, ["k"])
    _rival_hook(monkeypatch, spark, t,
                lambda: tx_append(tx_df(spark, [(9, "late")]), t, ["k"]))
    v = tx_merge(spark, t, tx_df(spark, [(2, "B"), (5, "new")]), "k", ["k"])
    assert v == 2
    assert tx_rows(read_table(spark, t)) == [
        (1, "a"), (2, "B"), (5, "new"), (9, "late")]


def test_rival_remove_of_read_file_still_conflicts(spark, tmp_path,
                                                   monkeypatch):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a"), (2, "F")]), t, ["k"])
    # the rival compact runs through the same hook with the flag
    # already fired, so it executes plainly
    _rival_hook(monkeypatch, spark, t,
                lambda: tx_compact(spark, t, 1, ["k"]))
    with pytest.raises(TxConflict, match="re-derive"):
        tx_delete_where(spark, t, ("s", "=", "F"), ["k"])


def test_rival_dv_on_read_file_conflicts(spark, tmp_path, monkeypatch):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a"), (2, "F")]), t, ["k"])
    _rival_hook(
        monkeypatch, spark, t,
        lambda: tx_delete_where(spark, t, ("k", "=", 1), ["k"],
                                deletion_vectors=True))
    with pytest.raises(TxConflict, match="re-derive"):
        tx_compact(spark, t, 1, ["k"])


def test_rival_metadata_change_conflicts(spark, tmp_path, monkeypatch):
    for sub, rival in (
        ("t1", lambda t: tx_set_check(spark, t, "k_pos", ("k", ">", 0))),
        ("t2", lambda t: tx_rename_column(t, "s", "label")),
    ):
        t = str(tmp_path / sub)
        tx_append(tx_df(spark, [(1, "a"), (2, "F")]), t, ["k"])
        _rival_hook(monkeypatch, spark, t, lambda t=t: rival(t))
        with pytest.raises(TxConflict, match="metadata"):
            tx_delete_where(spark, t, ("s", "=", "F"), ["k"])
        monkeypatch.undo()


def test_dv_delete_commutes_with_rival_append(spark, tmp_path,
                                              monkeypatch):
    """The DV path bypasses _write_files, so hook the position write
    instead: rival append lands between base capture and commit."""
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a"), (2, "F")]), t, ["k"])
    orig = txlog._commit_rmw
    fired = []

    def hook(*args, **kwargs):
        if not fired:
            fired.append(True)
            tx_append(tx_df(spark, [(9, "late")]), t, ["k"])
        return orig(*args, **kwargs)

    monkeypatch.setattr(txlog, "_commit_rmw", hook)
    v = tx_delete_where(spark, t, ("s", "=", "F"), ["k"],
                        deletion_vectors=True)
    assert v == 2
    assert tx_rows(read_table(spark, t)) == [(1, "a"), (9, "late")]
