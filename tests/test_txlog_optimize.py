"""Bin-packing OPTIMIZE (tx_optimize — the Delta small-file
compaction, r14) and TIMESTAMP AS OF time travel. Pins: only
sub-target files are rewritten (big files untouched — O(small files)
maintenance at any table size), DV fold on packed files, partition
layout preserved, rival appends commute, no-op suppression; timestamp
resolution picks the latest commit at or before ts and is loud before
the first commit."""

from __future__ import annotations

import glob
import os

import pytest

from saurav_nayak_recipe_etl_project_spark.sources import txlog
from saurav_nayak_recipe_etl_project_spark.sources.txlog import (
    history,
    latest_version,
    read_table,
    snapshot_files,
    tx_append,
    tx_delete_where,
    tx_optimize,
    version_at_timestamp,
)
from tests.txframes import tx_df, tx_rows


def test_optimize_packs_only_small_files(spark, tmp_path):
    t = str(tmp_path / "t")
    # one BIG file (5000 rows) + three tiny ones
    big = spark.range(0, 5000).selectExpr("id as k", "'big' as s")
    tx_append(big.coalesce(1), t, ["k"])
    for i in range(3):
        tx_append(tx_df(spark, [(10000 + i, f"t{i}")]).coalesce(1),
                  t, ["k"])
    live = snapshot_files(t)
    big_file = max(live, key=lambda f: live[f]["bytes"])
    v = tx_optimize(spark, t, target_file_bytes=8 * 1024, stats_cols=["k"])
    assert v == 4
    after = snapshot_files(t)
    # the big file was NOT touched; the three tiny files packed to one
    assert big_file in after
    assert len(after) == 2
    assert history(t)[-1]["removes"] == 3
    assert read_table(spark, t).count() == 5003
    # idempotent: nothing small left to pack → no-op, no commit
    assert tx_optimize(spark, t, 8 * 1024, ["k"]) == 4
    # (the packed file may itself be < target, but a single small
    # file with no DVs is not worth a rewrite — still a no-op)
    assert latest_version(t) == 4


def test_optimize_folds_dvs_on_packed_files(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a"), (2, "F")]).coalesce(1), t, ["k"])
    tx_append(tx_df(spark, [(3, "c")]).coalesce(1), t, ["k"])
    tx_delete_where(spark, t, ("s", "=", "F"), ["k"],
                    deletion_vectors=True)
    assert any(st.get("_dvs") for st in snapshot_files(t).values())
    tx_optimize(spark, t, target_file_bytes=1 << 20, stats_cols=["k"])
    assert not any(st.get("_dvs") for st in snapshot_files(t).values())
    assert tx_rows(read_table(spark, t)) == [(1, "a"), (3, "c")]


def test_optimize_single_dv_file_is_packed(spark, tmp_path):
    """A lone small file carrying DVs is still worth rewriting —
    the pack removes the merge-on-read tax."""
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a"), (2, "F")]).coalesce(1), t, ["k"])
    tx_delete_where(spark, t, ("s", "=", "F"), ["k"],
                    deletion_vectors=True)
    v = tx_optimize(spark, t, target_file_bytes=1 << 20, stats_cols=["k"])
    assert v == 2
    assert not any(st.get("_dvs") for st in snapshot_files(t).values())
    assert tx_rows(read_table(spark, t)) == [(1, "a")]


def test_optimize_preserves_partition_layout(spark, tmp_path):
    t = str(tmp_path / "t")
    rows = [(1, "a"), (2, "b"), (3, "a"), (4, "b")]
    for r in rows:
        tx_append(tx_df(spark, [r]), t, ["k"], partition_by=["s"])
    tx_optimize(spark, t, target_file_bytes=1 << 20, stats_cols=["k"])
    assert tx_rows(read_table(spark, t)) == rows
    # still hive-partitioned after the pack, and pruning still works
    pr = read_table(spark, t, where=("s", "=", "a"))
    assert pr.inputFiles() and all("s=a/" in f for f in pr.inputFiles())
    assert tx_rows(pr) == [(1, "a"), (3, "a")]


def test_optimize_commutes_with_rival_append(spark, tmp_path,
                                             monkeypatch):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a")]), t, ["k"])
    tx_append(tx_df(spark, [(2, "b")]), t, ["k"])
    orig = txlog._write_files
    fired = []

    def hook(df, table, stats_cols, partition_by=None):
        actions = orig(df, table, stats_cols, partition_by)
        if not fired:
            fired.append(True)
            tx_append(tx_df(spark, [(9, "late")]), t, ["k"])
        return actions

    monkeypatch.setattr(txlog, "_write_files", hook)
    v = tx_optimize(spark, t, target_file_bytes=1 << 20, stats_cols=["k"])
    # rival took version 2; the pack re-committed at 3 unchanged
    assert v == 3
    assert tx_rows(read_table(spark, t)) == [(1, "a"), (2, "b"), (9, "late")]


def test_optimize_where_scopes_to_the_partition(spark, tmp_path):
    """OPTIMIZE WHERE: pack only the predicate's partition — the other
    partitions' small files stay exactly as they are."""
    t = str(tmp_path / "t")
    for r in [(1, "a"), (2, "a"), (3, "b"), (4, "b"), (5, "a")]:
        tx_append(tx_df(spark, [r]), t, ["k"], partition_by=["s"])
    before = snapshot_files(t)
    b_files = sorted(f for f in before if "s=b/" in f)
    v = tx_optimize(spark, t, target_file_bytes=1 << 20,
                    stats_cols=["k"], where=("s", "=", "a"))
    assert v == 5
    after = snapshot_files(t)
    # the b-partition's files are untouched; the a-partition packed
    assert sorted(f for f in after if "s=b/" in f) == b_files
    assert len([f for f in after if "s=a/" in f]) == 1
    assert tx_rows(read_table(spark, t)) == [
        (1, "a"), (2, "a"), (3, "b"), (4, "b"), (5, "a")]


def test_compact_zorder_prunes_on_both_columns(spark, tmp_path):
    """cluster_by=[a, b] Z-orders the compaction rewrite: a predicate
    on the SECOND column alone must prune files — under the
    lexicographic (single-column) layout it cannot (every b-value
    lands in every file)."""
    from saurav_nayak_recipe_etl_project_spark.sources.txlog import (
        tx_compact,
    )

    rows = [(i, (i * 37) % 100, f"r{i}") for i in range(400)]
    zt, lt = str(tmp_path / "z"), str(tmp_path / "l")
    for t, cb in ((zt, ["k", "v"]), (lt, "k")):
        tx_append(tx_df(spark, rows, "k long, v long, s string")
                  .repartition(4), t, ["k", "v"])
        tx_compact(spark, t, 8, ["k", "v"], cluster_by=cb)
    zq = read_table(spark, zt, where=("v", "<=", 10))
    lq = read_table(spark, lt, where=("v", "<=", 10))
    assert tx_rows(zq) == tx_rows(lq) == sorted(
        (k, v, s) for k, v, s in rows if v <= 10)
    # the Z-ordered table scans strictly fewer files on the b-only
    # predicate; the lexicographic one reads everything
    assert len(zq.inputFiles()) < len(lq.inputFiles()) == 8


def test_timestamp_as_of(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a")]), t, ["k"])
    tx_append(tx_df(spark, [(2, "b")]), t, ["k"])
    ts = [h["ts"] for h in history(t)]
    assert ts == sorted(ts) and all(x is not None for x in ts)
    # at the first commit's exact ts → version 0; after the second → 1
    assert version_at_timestamp(t, ts[0]) == 0
    assert version_at_timestamp(t, ts[1] + 1.0) == 1
    assert tx_rows(read_table(spark, t, timestamp=ts[0])) == [(1, "a")]
    assert tx_rows(read_table(spark, t, timestamp=ts[1])) == [
        (1, "a"), (2, "b")]
    with pytest.raises(ValueError, match="no surviving commit"):
        version_at_timestamp(t, ts[0] - 10.0)
    with pytest.raises(ValueError, match="not both"):
        read_table(spark, t, version=0, timestamp=ts[0])
