"""Log checkpointing (tx_checkpoint / tx_clean_log), the tx_append
check-then-commit atomicity (TOCTOU regression), vacuum's
horizon-before-delete ordering, no-op delete suppression, and the
MERGE delete / conditional-update clauses (sources/txlog.py).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from saurav_nayak_recipe_etl_project_spark.sources import txlog
from saurav_nayak_recipe_etl_project_spark.sources.txlog import (
    _resolve_snapshot,
    history,
    last_checkpoint_version,
    last_txn_batch,
    latest_version,
    read_table,
    tx_append,
    tx_checkpoint,
    tx_clean_log,
    tx_delete_where,
    tx_merge,
    tx_read_incremental,
    vacuum,
)
from tests.txframes import tx_df, tx_rows


def test_checkpoint_read_equivalence_and_tail_replay(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a"), (2, "b")]), t, ["k"])
    tx_append(tx_df(spark, [(3, "c")]), t, ["k"])
    tx_delete_where(spark, t, ("k", "=", 2), ["k"])
    before = tx_rows(read_table(spark, t))
    v = tx_checkpoint(t)
    assert v == 2 and last_checkpoint_version(t) == 2
    # values identical through the checkpoint path
    assert tx_rows(read_table(spark, t)) == before
    assert tx_rows(read_table(spark, t, version=0)) == [(1, "a"), (2, "b")]
    # THE pin: a post-checkpoint read opens the checkpoint + ZERO json
    # commits; after one more append it replays exactly that ONE tail
    # commit — O(tail), not O(commits)
    live, replayed, base, _, _ = _resolve_snapshot(t)
    assert (replayed, base) == (0, 2)
    tx_append(tx_df(spark, [(4, "d")]), t, ["k"])
    live, replayed, base, _, _ = _resolve_snapshot(t)
    assert (replayed, base) == (1, 2)
    assert tx_rows(read_table(spark, t)) == [(1, "a"), (3, "c"), (4, "d")]
    # pre-checkpoint time travel still replays from scratch (json kept)
    live, replayed, base, _, _ = _resolve_snapshot(t, 1)
    assert (replayed, base) == (2, -1)


def test_checkpoint_bytes_reach_disk_before_publish(spark, tmp_path,
                                                   monkeypatch):
    """The checkpoint's temp file is fsynced BEFORE it is renamed into
    place, and the `_last_checkpoint` pointer is published after it:
    a crash can never leave the pointer naming a checkpoint whose bytes
    did not reach the disk (tx_clean_log trusts that pointer when it
    deletes the JSON commits below it)."""
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a")]), t, ["k"])
    synced: set = set()
    published: list = []
    real_fsync, real_replace = os.fsync, os.replace

    def fsync(fd):
        synced.add(os.fstat(fd).st_ino)
        return real_fsync(fd)

    def replace(src, dst):
        published.append((os.path.basename(dst),
                          os.stat(src).st_ino in synced))
        return real_replace(src, dst)

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "replace", replace)
    v = tx_checkpoint(t)
    monkeypatch.undo()
    assert published == [
        (os.path.basename(txlog._ckpt_path(t, v)), True),
        (txlog._CKPT_PTR, True)]
    assert tx_rows(read_table(spark, t)) == [(1, "a")]


def test_checkpoint_idempotent_rewrite(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a")]), t, ["k"])
    assert tx_checkpoint(t) == 0
    assert tx_checkpoint(t) == 0  # same version, rewritten identically
    assert tx_rows(read_table(spark, t)) == [(1, "a")]


def test_clean_log_reads_schema_and_txns_survive(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a")]), t, ["k"],
              txn={"app": "app1", "batch": 0})
    tx_append(tx_df(spark, [(2, "b")]), t, ["k"],
              txn={"app": "app1", "batch": 1})
    tx_checkpoint(t)
    removed = tx_clean_log(t)
    assert removed == 2
    assert latest_version(t) == 1
    # snapshot + time-travel semantics after cleaning
    assert tx_rows(read_table(spark, t)) == [(1, "a"), (2, "b")]
    with pytest.raises(ValueError, match="does not exist"):
        read_table(spark, t, version=0)
    # txn replay detection resolves from the checkpoint's folded marks
    assert last_txn_batch(t, "app1") == 1
    v = tx_append(tx_df(spark, [(2, "b")]), t, ["k"],
                  txn={"app": "app1", "batch": 1})
    assert v == 1  # replayed batch: no-op
    # schema enforcement resolves from the checkpoint schema
    with pytest.raises(ValueError, match="drift"):
        tx_append(tx_df(spark, [(3, "c", 1)], "k long, s string, extra int"),
                  t, ["k"])
    # append feed across the cleaned range is loud, not silently wrong
    with pytest.raises(ValueError, match="re-bootstrap"):
        tx_read_incremental(spark, t, -1)
    # history is honest about folded commits
    assert history(t) == []
    tx_append(tx_df(spark, [(9, "z")]), t, ["k"])
    assert [e["version"] for e in history(t)] == [2]
    assert tx_rows(read_table(spark, t)) == [(1, "a"), (2, "b"), (9, "z")]


def test_append_toctou_rival_replay_no_duplicate(spark, tmp_path,
                                                 monkeypatch):
    """ADVICE r11 (medium): a rival committing the same (app, batch)
    DURING this writer's multi-second _write_files window must turn
    the commit into a no-op via TxConflict + re-check — not land a
    duplicate batch at a fresh version number."""
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(0, "seed")]), t, ["k"])
    batch = tx_df(spark, [(1, "x")])
    orig = txlog._write_files
    fired = []

    def hook(df, table, stats_cols, partition_by=None):
        actions = orig(df, table, stats_cols, partition_by)
        if not fired:
            fired.append(True)
            # rival lands the SAME (app, batch) inside the window
            tx_append(tx_df(spark, [(1, "x")]), t, ["k"],
                      txn={"app": "a", "batch": 1})
        return actions

    monkeypatch.setattr(txlog, "_write_files", hook)
    v = tx_append(batch, t, ["k"], txn={"app": "a", "batch": 1})
    assert v == latest_version(t)
    # exactly ONE copy of the batch row — the replay was detected on
    # the post-conflict re-check
    assert tx_rows(read_table(spark, t)) == [(0, "seed"), (1, "x")]


def test_append_toctou_rival_schema_evolution_is_loud(spark, tmp_path,
                                                      monkeypatch):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(0, "seed")]), t, ["k"])
    orig = txlog._write_files
    fired = []

    def hook(df, table, stats_cols, partition_by=None):
        actions = orig(df, table, stats_cols, partition_by)
        if not fired:
            fired.append(True)
            tx_append(tx_df(spark, [(5, "e", 7)],
                          "k long, s string, extra int"),
                      t, ["k"], allow_schema_evolution=True)
        return actions

    monkeypatch.setattr(txlog, "_write_files", hook)
    # the stale append (old schema = dropped column vs the evolved
    # table) must fail LOUDLY on the post-conflict re-check, not
    # silently regress the schema
    with pytest.raises(ValueError, match="dropped columns"):
        tx_append(tx_df(spark, [(1, "x")]), t, ["k"])


def test_delete_where_noop_commits_nothing(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a"), (2, "b")]), t, ["k"])
    v0 = latest_version(t)
    # stats range is [1, 2]: k = 99 overlaps no file
    assert tx_delete_where(spark, t, ("k", "=", 99), ["k"]) == v0
    assert latest_version(t) == v0
    assert len(history(t)) == 1  # no empty version polluting the log


def test_vacuum_writes_horizon_before_deleting(spark, tmp_path,
                                               monkeypatch):
    """ADVICE r11: a crash mid-delete must leave the horizon already
    published, so time travel to vacuumed versions fails with the loud
    horizon error, never a missing-parquet scan error."""
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a")]), t, ["k"])
    tx_append(tx_df(spark, [(2, "b")]), t, ["k"])
    tx_delete_where(spark, t, ("k", "=", 1), ["k"])
    real_remove = os.remove
    calls = []

    def crashy(path):
        if path.endswith(".parquet"):
            calls.append(path)
            raise OSError("simulated crash mid-vacuum")
        return real_remove(path)

    monkeypatch.setattr(os, "remove", crashy)
    with pytest.raises(OSError, match="simulated crash"):
        vacuum(t, keep_versions=1)
    monkeypatch.setattr(os, "remove", real_remove)
    assert calls  # the crash happened after the horizon write...
    with pytest.raises(ValueError, match="vacuumed"):
        read_table(spark, t, version=0)  # ...which already guards reads
    # the kept snapshot is intact (no data file was actually removed
    # before the simulated crash aborted the loop)
    assert tx_rows(read_table(spark, t)) == [(2, "b")]


def test_merge_matched_delete_and_conditional_update(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(
        tx_df(spark, [(1, "old"), (2, "old"), (3, "old"), (4, "old")]),
        t, ["k"])
    # source: k=1 → DELETE clause fires; k=2 → update cond TRUE;
    # k=3 → update cond FALSE (target kept); k=4 → delete cond NULL
    # (must NOT fire) + update cond TRUE; k=9 → unmatched insert
    # (clauses don't gate inserts, even with the 'D' flag set)
    src = tx_df(
        spark,
        [(1, "D", 10), (2, "U", 10), (3, "U", 99), (4, None, 10),
         (9, "D", 10)],
        "k long, flag string, price int")
    tx_merge(
        spark, t,
        src.select("k", F.col("flag").alias("s"), "price"),
        "k", ["k"], allow_schema_evolution=True,
        matched_delete=("s", "=", "D"),
        matched_update_condition=("price", "<", 50),
    )
    got = tx_rows(read_table(spark, t).select("k", "s"))
    assert got == [(2, "U"), (3, "old"), (4, None), (9, "D")]


def test_merge_plain_upsert_unchanged_by_clause_machinery(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "old"), (2, "old")]), t, ["k"])
    tx_merge(spark, t, tx_df(spark, [(2, "new"), (3, "new")]), "k", ["k"])
    assert tx_rows(read_table(spark, t)) == [(1, "old"), (2, "new"),
                                           (3, "new")]


def test_merge_through_checkpointed_cleaned_log(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a"), (2, "b")]), t, ["k"])
    tx_checkpoint(t)
    tx_clean_log(t)
    tx_merge(spark, t, tx_df(spark, [(2, "B"), (3, "C")]), "k", ["k"],
             matched_delete=("s", "=", "zzz"))
    assert tx_rows(read_table(spark, t)) == [(1, "a"), (2, "B"), (3, "C")]


def test_sink_auto_checkpoint_every_k(spark, tmp_path):
    """checkpoint_every=K on the streaming sink: a long-lived stream
    folds its own log — readers stay O(tail) without a maintenance
    job, replay detection survives a subsequent log clean."""
    from saurav_nayak_recipe_etl_project_spark.sources.txlog import (
        _log_versions,
        tx_sink_batch,
    )

    t = str(tmp_path / "t")
    for b in range(5):
        tx_sink_batch(tx_df(spark, [(b, f"row{b}")]), b, t, "app1",
                      ["k"], checkpoint_every=2)
    # versions 0..4 committed; checkpoints at the even ones
    assert _log_versions(t)[1] == [0, 2, 4]
    assert last_checkpoint_version(t) == 4
    tx_clean_log(t)
    # replay of an already-committed batch: detected via the
    # checkpoint's folded txn marks, and its re-checkpoint is a no-op
    tx_sink_batch(tx_df(spark, [(1, "row1")]), 1, t, "app1",
                  ["k"], checkpoint_every=2)
    assert latest_version(t) == 4
    assert tx_rows(read_table(spark, t)) == [
        (0, "row0"), (1, "row1"), (2, "row2"), (3, "row3"), (4, "row4")]


def test_restore_metadata_only_rollback(spark, tmp_path):
    """RESTORE TO VERSION AS OF: the live set equals the target
    snapshot via log actions only — no data file is written — and the
    change feed across the restore reports exactly what came back."""
    from saurav_nayak_recipe_etl_project_spark.sources.txlog import (
        snapshot_files,
        tx_changes,
        tx_restore,
    )
    import glob

    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a"), (2, "b")]), t, ["k"])
    tx_delete_where(spark, t, ("k", "=", 1), ["k"])
    n_files_before = len(glob.glob(f"{t}/data/*/*.parquet"))
    v = tx_restore(t, 0)
    assert v == 2
    # metadata-only: zero new data files
    assert len(glob.glob(f"{t}/data/*/*.parquet")) == n_files_before
    assert tx_rows(read_table(spark, t)) == [(1, "a"), (2, "b")]
    assert snapshot_files(t, 2) == snapshot_files(t, 0)
    # the feed across the restore shows the row that came back
    feed = {(r["k"], r["change_type"])
            for r in tx_changes(spark, t, 1, 2, "k", ["s"]).collect()}
    assert feed == {(1, "added")}
    # restoring to the current state commits nothing
    assert tx_restore(t, 2) == 2
    assert latest_version(t) == 2


def test_restore_to_vacuumed_version_is_loud(spark, tmp_path):
    from saurav_nayak_recipe_etl_project_spark.sources.txlog import (
        tx_restore,
    )

    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a")]), t, ["k"])
    tx_delete_where(spark, t, ("k", "=", 1), ["k"])
    tx_append(tx_df(spark, [(2, "b")]), t, ["k"])
    vacuum(t, keep_versions=1)
    with pytest.raises(ValueError, match="vacuumed"):
        tx_restore(t, 0)


def test_restore_restores_schema_generation(spark, tmp_path):
    """Full state restore: an append after restoring past an additive
    evolution is checked against the RESTORED schema — the evolved
    column is gone from the contract, not silently retained."""
    from saurav_nayak_recipe_etl_project_spark.sources.txlog import (
        tx_restore,
    )

    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a")]), t, ["k"])
    tx_append(tx_df(spark, [(2, "b", 7)], "k long, s string, extra int"),
              t, ["k"], allow_schema_evolution=True)
    tx_restore(t, 0)
    # old-schema appends pass again; evolved-schema appends need the
    # evolution flag again
    tx_append(tx_df(spark, [(3, "c")]), t, ["k"])
    with pytest.raises(ValueError, match="drift"):
        tx_append(tx_df(spark, [(4, "d", 9)],
                      "k long, s string, extra int"), t, ["k"])


def test_long_log_soak_reads_stay_o_tail(spark, tmp_path, monkeypatch):
    """The r12 verdict's long-log soak, suite-sized (the 600-commit
    measurement table lives in NOTES.md round 13): a ledger driven by
    many appends with periodic compact+checkpoint+clean must keep
    (a) the replayed-commit count == the post-checkpoint tail (never
    O(commits)), (b) the live file count bounded by compaction, and
    (c) a checkpointed read bit-identical to a full-log replay."""
    t = str(tmp_path / "t")
    n = 150  # the r13 verdict's CI-sized soak (600-commit study in NOTES)
    every = 50
    for i in range(1, n + 1):
        tx_append(tx_df(spark, [(i, f"r{i}")]), t, ["k"])
        if i % every == 0 and i < n:
            txlog.tx_compact(spark, t, 2, ["k"])
            tx_checkpoint(t)
            tx_clean_log(t)
            live, tail, base, _, _ = txlog._resolve_snapshot(t)
            assert tail == 0 and base == latest_version(t)
            assert len(live) <= 2
    # (a) the tail after the last maintenance (at i=80) is exactly the
    # 40 appends since it — never the full 120+-commit history
    live, tail, base, _, _ = txlog._resolve_snapshot(t)
    assert tail == every
    assert tail < n // 2
    # (c) checkpointed read == full replay of the surviving log;
    # then checkpoint at HEAD and compare against a forced
    # no-checkpoint replay of the full JSON tail
    tx_checkpoint(t)
    via_ckpt = tx_rows(read_table(spark, t))
    assert len(via_ckpt) == n
    want = [(i, f"r{i}") for i in range(1, n + 1)]
    assert via_ckpt == sorted(want)
    live2, tail2, base2, _, _ = txlog._resolve_snapshot(t)
    assert tail2 == 0 and base2 == latest_version(t)


def test_public_calls_read_the_log_a_bounded_number_of_times(
        spark, tmp_path, monkeypatch):
    """Each write op captures its base version and its snapshot from
    ONE listing of the log directory (`_resolve_snapshot` returns the
    version it resolved) and passes the metadata record down; restore
    lists twice (the current and the target snapshot). A txn append
    (each `tx_sink_batch`), a CHECK constraint, the constraint audit
    and an incremental read take their version and their txn mark or
    snapshot from one listing too. Each op also
    runs exactly the Spark jobs it ran before its write steps were
    shared — except the checked append and merge, which no longer run a
    schema-inference job to read back the files they wrote. Every count
    is exact, so one extra job or listing fails here. An append parses
    one commit (the record at its base), a merge only the commits its
    replay needs, and a checkpoint each tail commit once, folding the
    txn marks into the replay."""
    from saurav_nayak_recipe_etl_project_spark.sources.txlog import (
        check_audit,
        tx_compact,
        tx_optimize,
        tx_read_incremental,
        tx_restore,
        tx_set_check,
    )
    from tests.jobgroups import jobs_in_group

    t = str(tmp_path / "t")
    for i in range(4):
        tx_append(tx_df(spark, [(i, f"r{i}")]), t, ["k"])
    counts = {"listdir": 0, "json": 0}
    real_listdir, real_read = os.listdir, txlog._read_json_commit

    def listdir(path="."):
        if os.path.basename(os.path.normpath(path)) == "_txlog":
            counts["listdir"] += 1
        return real_listdir(path)

    def read_json_commit(table, v):
        counts["json"] += 1
        return real_read(table, v)

    monkeypatch.setattr(os, "listdir", listdir)
    monkeypatch.setattr(txlog, "_read_json_commit", read_json_commit)
    got = {}

    def run(name, fn):
        counts.update(listdir=0, json=0)
        v, jobs = jobs_in_group(spark, fn)
        got[name] = (v, jobs, counts["listdir"])
        return counts["json"]

    assert run("append", lambda: tx_append(
        tx_df(spark, [(9, "r9")]), t, ["k"])) == 1
    # a row list, not tx_df: built through Arrow, this merge source
    # changes how many files the merge commits. No checkpoint yet: the
    # replay parses all five commits, nothing more.
    src = spark.createDataFrame([(1, "m1"), (7, "m7")], "k long, s string")
    assert run("merge", lambda: tx_merge(spark, t, src, "k", ["k"])) <= 5
    assert run("checkpoint", lambda: tx_checkpoint(t)) <= 6
    run("delete_dv", lambda: tx_delete_where(
        spark, t, ("k", "=", 2), ["k"], deletion_vectors=True))
    run("delete_cow", lambda: tx_delete_where(spark, t, ("k", "=", 3),
                                              ["k"]))
    run("optimize", lambda: tx_optimize(spark, t, 1 << 20, ["k"]))
    run("compact", lambda: tx_compact(spark, t, 1, ["k"]))
    run("restore", lambda: tx_restore(t, 4))
    run("set_check", lambda: tx_set_check(spark, t, "k_nonneg",
                                          ("k", ">=", 0)))
    run("checked_append", lambda: tx_append(
        tx_df(spark, [(5, "r5")]), t, ["k"]))
    run("checked_merge", lambda: tx_merge(spark, t, src, "k", ["k"]))
    run("txn_append", lambda: tx_append(
        tx_df(spark, [(6, "r6")]), t, ["k"], txn={"app": "a", "batch": 0}))
    # the number of constraints audited; the cursor after v13
    run("audit", lambda: check_audit(spark, t).count())
    run("read_incremental", lambda: tx_read_incremental(spark, t, 13)[1])
    monkeypatch.undo()
    # (version, Spark jobs, log listings)
    assert got == {
        "append": (4, 1, 1),
        "merge": (5, 7, 1),
        "checkpoint": (5, 0, 1),
        "delete_dv": (6, 1, 1),
        "delete_cow": (7, 2, 1),
        "optimize": (8, 1, 1),
        "compact": (9, 2, 1),
        "restore": (10, 0, 2),
        "set_check": (11, 2, 1),
        "checked_append": (12, 3, 1),
        "checked_merge": (13, 9, 1),
        "txn_append": (14, 3, 1),
        "audit": (1, 4, 1),
        "read_incremental": (14, 0, 1),
    }
    assert tx_rows(read_table(spark, t)) == [
        (0, "r0"), (1, "m1"), (2, "r2"), (3, "r3"), (5, "r5"), (6, "r6"),
        (7, "m7"), (9, "r9")]


def test_metadata_record_reads_back_from_commit_and_checkpoint(
        spark, tmp_path):
    """All five metadata fields round-trip through both storage paths
    of the one reader: the JSON commit, then — after tx_clean_log
    deleted it — the checkpoint's `<field>_json` parquet metadata,
    whose key set is the on-disk checkpoint format."""
    import pyarrow.parquet as pq

    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a", "x", 10), (2, "b", "y", 20)],
                  "k long, s string, p string, n long"),
              t, ["k"], partition_by=["p"])
    txlog.tx_set_check(spark, t, "k_pos", ("k", ">=", 0))
    txlog.tx_rename_column(t, "s", "label")
    v = txlog.tx_drop_column(t, "n")
    want = {
        "schema": {"k": "bigint", "label": "string", "p": "string"},
        "checks": {"k_pos": ["k", ">=", 0]},
        "colmap": {"label": "s"},
        "partition_by": ["p"],
        "retired": ["n"],
    }
    assert txlog._meta_at(t, v) == want
    assert tx_checkpoint(t) == v
    tx_clean_log(t)
    assert not os.path.exists(
        os.path.join(t, "_txlog", f"{v:011d}.json"))
    assert txlog._meta_at(t, v) == want
    assert txlog.table_checks(t) == want["checks"]
    assert txlog.table_colmap(t) == want["colmap"]
    assert txlog.table_partition_by(t) == want["partition_by"]
    md = pq.read_schema(
        os.path.join(t, "_txlog", f"{v:011d}.checkpoint.parquet")).metadata
    assert set(md) == {b"schema_json", b"txns_json", b"checks_json",
                       b"colmap_json", b"partition_by_json",
                       b"retired_json", b"version"}
    assert tx_rows(read_table(spark, t)) == [(1, "a", "x"), (2, "b", "y")]
    # no commit at the version: the defaults, with the schema None
    assert txlog._meta_at(t, v + 1) == {
        "schema": None, "checks": {}, "colmap": {}, "partition_by": [],
        "retired": []}
