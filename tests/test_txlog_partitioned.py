"""Partitioned txlog tables (r13 verdict item 4): `tx_append(...,
partition_by=[...])` lays files out under hive-style `col=value`
directories with typed partition values in the log; a partition
predicate prunes files through the [v, v] stats of the partition
columns (without needing any stats_cols), and the spec is fixed at
table creation. Pins: the
input_file_name evidence that a partition predicate never lists other
partitions' files, layout preservation through delete/merge/compact,
DV deletes on deep paths, checkpoint/clean/vacuum on nested dirs,
the txlog DataSource's partition-column re-materialization, and
renaming a partition column."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from saurav_nayak_recipe_etl_project_spark.sources.txlog import (
    _read_json_commit,
    history,
    latest_version,
    read_table,
    snapshot_files,
    table_partition_by,
    tx_append,
    tx_checkpoint,
    tx_clean_log,
    tx_compact,
    tx_delete_where,
    tx_merge,
    tx_rename_column,
    vacuum,
)
from tests.txframes import tx_df, tx_rows


ROWS = [(1, "a"), (2, "b"), (3, "a"), (4, "c"), (5, "b"), (6, "a")]


def test_partitioned_append_layout_and_log(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, ROWS), t, ["k"], partition_by=["s"])
    assert table_partition_by(t) == ["s"]
    # hive layout on disk: data/tx-*/s=<v>/part-*.parquet
    deep = glob.glob(os.path.join(t, "data", "tx-*", "s=*", "*.parquet"))
    assert deep, "expected hive col=value directories"
    flat = glob.glob(os.path.join(t, "data", "tx-*", "*.parquet"))
    assert not flat, "no files outside partition dirs"
    # typed partition values + [v, v] stats ride in every add action
    for a in _read_json_commit(t, 0)["actions"]:
        p = a["stats"]["_part"]["s"]
        assert isinstance(p, str) and f"s={p}/" in a["file"]
        assert a["stats"]["s"] == [p, p]
    assert tx_rows(read_table(spark, t)) == sorted(ROWS)


@pytest.mark.parametrize("lane", ["footer", "readback"])
def test_partition_columns_carry_point_stats_in_both_write_lanes(
        spark, tmp_path, monkeypatch, lane):
    """Every add action that records `_part` carries [v, v] min/max
    stats for each partition column, whichever lane took the stats
    (parquet footers, or the read-back aggregate the footer lane falls
    back to). That invariant is what lets the one min/max prune answer
    a partition predicate too."""
    from saurav_nayak_recipe_etl_project_spark.sources import txlog

    if lane == "readback":
        monkeypatch.setattr(txlog, "_footer_stats_actions",
                            lambda *a, **k: None)
    t = str(tmp_path / "t")
    rows = [(1, "a", 10), (2, "b=c", 20), (3, None, 10), (4, "a", None)]
    tx_append(tx_df(spark, rows, "k long, s string, d int"), t, ["k"],
              partition_by=["s", "d"])
    tx_delete_where(spark, t, ("k", "=", 2), ["k"])
    tx_compact(spark, t, 2, ["k"])
    adds = [a for v in range(latest_version(t) + 1)
            for a in _read_json_commit(t, v)["actions"] if a["op"] == "add"]
    assert len(adds) >= 3
    for a in adds:
        part = a["stats"]["_part"]
        assert sorted(part) == ["d", "s"]
        for p, v in part.items():
            assert a["stats"][p] == [v, v], (lane, a)
    assert tx_rows(read_table(spark, t, where=("s", "=", "a"))) == [
        (1, "a", 10), (4, "a", None)]
    assert tx_rows(read_table(spark, t, where=("d", "<", 15))) == [
        (1, "a", 10), (3, None, 10)]


def test_partition_predicate_never_lists_other_partitions(spark, tmp_path):
    """The verdict's evidence test: a partition predicate's scan must
    touch ONLY the matching partition's files — checked on the actual
    scanned file list, with NO stats columns recorded (the partition
    column's [v, v] stats alone prune)."""
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, ROWS), t, stats_cols=None, partition_by=["s"])
    tx_append(tx_df(spark, [(7, "a"), (8, "b")]), t, partition_by=["s"])
    got = read_table(spark, t, where=("s", "=", "a"))
    files = got.inputFiles()
    assert files and all("s=a/" in f for f in files)
    assert len(files) < len(snapshot_files(t))
    assert tx_rows(got) == [(1, "a"), (3, "a"), (6, "a"), (7, "a")]
    # range ops prune too (typed python compare on the values)
    gt = read_table(spark, t, where=("s", ">", "b"))
    assert all("s=c/" in f for f in gt.inputFiles())
    assert tx_rows(gt) == [(4, "c")]


def test_partition_spec_fixed_at_creation(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, ROWS), t, ["k"], partition_by=["s"])
    with pytest.raises(ValueError, match="fixed at table creation"):
        tx_append(tx_df(spark, [(9, "z")]), t, ["k"], partition_by=["k"])
    with pytest.raises(ValueError, match="fixed at table creation"):
        tx_append(tx_df(spark, [(9, "z")]), t, ["k"], partition_by=[])
    # restating the same spec, or omitting it, both inherit
    tx_append(tx_df(spark, [(9, "z")]), t, ["k"], partition_by=["s"])
    tx_append(tx_df(spark, [(10, "z")]), t, ["k"])
    assert len(tx_rows(read_table(spark, t))) == len(ROWS) + 2
    got = read_table(spark, t, where=("s", "=", "z"))
    assert all("s=z/" in f for f in got.inputFiles())
    assert tx_rows(got) == [(9, "z"), (10, "z")]


def test_partitioned_delete_merge_compact_preserve_layout(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, ROWS), t, ["k"], partition_by=["s"])
    tx_delete_where(spark, t, ("k", "=", 4), ["k"])
    # a row list, not tx_df: built through Arrow, this merge source
    # changes how many files the merge and the compact commit
    tx_merge(spark, t, spark.createDataFrame([(2, "b2"), (9, "c")],
                                             "k long, s string"),
             "k", ["k"])
    tx_compact(spark, t, 1, ["k"])
    # every surviving generation is still hive-partitioned
    assert all("=" in f.split("/")[-2] for f in snapshot_files(t))
    assert tx_rows(read_table(spark, t)) == [
        (1, "a"), (2, "b2"), (3, "a"), (5, "b"), (6, "a"), (9, "c")]
    # and the rewritten files' partition values still prune
    got = read_table(spark, t, where=("s", "=", "a"))
    assert all("s=a/" in f for f in got.inputFiles())


def test_partitioned_dv_delete_zero_rewrites(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, ROWS), t, ["k"], partition_by=["s"])
    before = sorted(glob.glob(os.path.join(t, "data", "tx-*", "s=*",
                                           "*.parquet")))
    tx_delete_where(spark, t, ("s", "=", "b"), ["k"],
                    deletion_vectors=True)
    after = sorted(glob.glob(os.path.join(t, "data", "tx-*", "s=*",
                                          "*.parquet")))
    assert after == before
    assert history(t)[-1]["dvs"] >= 1
    assert tx_rows(read_table(spark, t)) == [
        (1, "a"), (3, "a"), (4, "c"), (6, "a")]


def test_partitioned_checkpoint_clean_vacuum(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, ROWS), t, ["k"], partition_by=["s"])
    tx_compact(spark, t, 1, ["k"])
    tx_checkpoint(t)
    tx_clean_log(t)
    assert table_partition_by(t) == ["s"]  # survives via the footer
    assert tx_rows(read_table(spark, t)) == sorted(ROWS)
    # vacuum walks the NESTED dirs and reclaims the pre-compact files
    removed = vacuum(t, keep_versions=1)
    assert removed >= 3  # one file per partition value at least
    assert tx_rows(read_table(spark, t)) == sorted(ROWS)


def test_partitioned_txsource_batch_and_stream(spark, tmp_path):
    from saurav_nayak_recipe_etl_project_spark.sources.txsource import (
        register_txlog_source,
    )
    from saurav_nayak_recipe_etl_project_spark.streaming import drain

    register_txlog_source(spark)
    t, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    tx_append(tx_df(spark, ROWS), t, ["k"], partition_by=["s"])
    got = spark.read.format("txlog").option("path", t).load()
    # the partition column re-materializes from the log's _part values
    assert tx_rows(got) == sorted(ROWS)
    out: list = []
    stream = spark.readStream.format("txlog").option("path", t).load()
    drain(stream, ckpt,
          lambda df, bid: out.extend(tuple(r) for r in df.collect()))
    assert sorted(out) == sorted(ROWS)


def test_partition_values_with_special_chars_roundtrip(spark, tmp_path):
    """Hive path escaping: ':' and '=' are %-encoded in directory
    names and must decode back; a literal '+' is NOT encoded by hive
    and must NOT decode as a space (the url_decode form-semantics
    trap); NULL partition values ride the hive default marker."""
    t = str(tmp_path / "t")
    rows = [(1, "a+b"), (2, "x:y"), (3, "p=q"), (4, None), (5, "w z")]
    tx_append(tx_df(spark, rows), t, ["k"], partition_by=["s"])
    assert tx_rows(read_table(spark, t)) == rows
    got = read_table(spark, t, where=("s", "=", "a+b"))
    assert tx_rows(got) == [(1, "a+b")]
    # DV deletes work on the escaped dirs too (the rel-path extraction
    # must match the log's hive-escaped file keys, not the URI form)
    tx_delete_where(spark, t, ("s", "=", "x:y"), ["k"],
                    deletion_vectors=True)
    assert tx_rows(read_table(spark, t)) == [
        (1, "a+b"), (3, "p=q"), (4, None), (5, "w z")]
    # and the DataSource's worker-side mask agrees
    from saurav_nayak_recipe_etl_project_spark.sources.txsource import (
        register_txlog_source,
    )

    register_txlog_source(spark)
    via_src = spark.read.format("txlog").option("path", t).load()
    assert tx_rows(via_src) == [
        (1, "a+b"), (3, "p=q"), (4, None), (5, "w z")]


def test_streaming_sink_into_partitioned_table(spark, tmp_path):
    """tx_sink_batch inherits the partition spec: a streaming writer's
    micro-batches land hive-partitioned (and replay stays a no-op)."""
    from saurav_nayak_recipe_etl_project_spark.sources.txlog import (
        tx_sink_batch,
    )

    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(0, "a")]), t, ["k"], partition_by=["s"])
    tx_sink_batch(tx_df(spark, [(1, "b"), (2, "a")]), 0, t, app="w",
                  stats_cols=["k"])
    tx_sink_batch(tx_df(spark, [(1, "b"), (2, "a")]), 0, t, app="w",
                  stats_cols=["k"])  # replay: no-op
    assert latest_version(t) == 1
    assert tx_rows(read_table(spark, t)) == [(0, "a"), (1, "b"), (2, "a")]
    got = read_table(spark, t, where=("s", "=", "b"))
    assert all("s=b/" in f for f in got.inputFiles())
    assert tx_rows(got) == [(1, "b")]


def test_rename_partition_column(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, ROWS), t, ["k"], partition_by=["s"])
    tx_rename_column(t, "s", "cat")
    got = read_table(spark, t)
    assert got.columns == ["k", "cat"]
    assert tx_rows(got) == sorted(ROWS)
    # pruning under the NEW name (translated to the physical dirs)
    pr = read_table(spark, t, where=("cat", "=", "a"))
    assert all("s=a/" in f for f in pr.inputFiles())
    assert tx_rows(pr) == [(1, "a"), (3, "a"), (6, "a")]
    # appends under the new logical name keep the physical layout
    tx_append(tx_df(spark, [(9, "a")], "k long, cat string"), t, ["k"])
    assert glob.glob(os.path.join(t, "data", "tx-*", "s=a", "*.parquet"))
    assert tx_rows(read_table(spark, t, where=("cat", "=", "a"))) == [
        (1, "a"), (3, "a"), (6, "a"), (9, "a")]
