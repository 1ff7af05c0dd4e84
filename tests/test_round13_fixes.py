"""Regression pins for the three r12 ADVICE findings:

1. tx_merge TOCTOU (medium): base must be captured BEFORE the schema
   check so a rival schema-evolution commit landing in the window
   forces TxConflict instead of being silently dropped from the
   merged schema.
2. tx_checkpoint pointer regression (low): two racing checkpoints
   must never move `_last_checkpoint` backwards, and tx_clean_log
   must clean only what the pointer can resolve.
3. swap_dirs crash window (low): a crash between the two renames
   strands the only state copy at {live}.fold.old — the next
   maintenance run must self-heal instead of returning 0 / raising.
   Pinned for all four compactors, which share streaming.fold_batches.
"""

from __future__ import annotations

import json
import os

import pytest

from saurav_nayak_recipe_etl_project_spark.sources import txlog
from saurav_nayak_recipe_etl_project_spark.sources.catalog import load_table
from saurav_nayak_recipe_etl_project_spark.sources.txlog import (
    TxConflict,
    last_checkpoint_version,
    latest_version,
    read_table,
    tx_append,
    tx_checkpoint,
    tx_clean_log,
    tx_merge,
)
from saurav_nayak_recipe_etl_project_spark.streaming.ann_mv import (
    ann_mv_process_batch,
    compact_ann_mv_state,
    read_ann_mv,
)
from saurav_nayak_recipe_etl_project_spark.streaming import key_batches
from saurav_nayak_recipe_etl_project_spark.streaming.clipstats_mv import (
    clip_stats_from_counts,
    clipstats_process_batch,
    compact_clipstats_state,
    read_clipstats_counts,
)
from saurav_nayak_recipe_etl_project_spark.streaming.mv import (
    compact_mv_state,
    mv_process_batch,
    read_mv,
)
from saurav_nayak_recipe_etl_project_spark.streaming.pair_mv import (
    compact_pair_mv_state,
    pair_mv_process_batch,
    read_pair_mv,
)
from tests.txframes import tx_df, tx_rows


# --- 1. tx_merge TOCTOU ------------------------------------------------

def test_merge_toctou_rival_schema_evolution_conflicts(spark, tmp_path,
                                                       monkeypatch):
    """A rival schema-evolution commit landing DURING the merge's
    _write_files window must force TxConflict (base+1 is taken) — the
    pre-fix behavior schema-checked against the pre-rival version and
    committed a schema that silently dropped the rival's new column."""
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a"), (2, "b")]), t, ["k"])
    orig = txlog._check_schema
    fired = []

    # the rival lands the instant the merge's schema check RETURNS —
    # the exact pre-fix window (check ran, base not yet captured);
    # pre-fix the merge then committed at rival+1 with the rival's
    # column silently dropped from _schema_fields(merged)
    def hook(*args, **kwargs):
        prior = orig(*args, **kwargs)
        if not fired:
            fired.append(True)
            tx_append(tx_df(spark, [(9, "e", 7)],
                          "k long, s string, extra int"),
                      t, ["k"], allow_schema_evolution=True)
        return prior

    monkeypatch.setattr(txlog, "_check_schema", hook)
    with pytest.raises(TxConflict):
        tx_merge(spark, t, tx_df(spark, [(2, "B"), (3, "c")]), "k")
    # the rival's evolution SURVIVED: its column is in the live schema
    # and its row is in the table — nothing was silently regressed
    got = read_table(spark, t)
    assert "extra" in got.columns
    assert tx_rows(got.select("k", "s")) == [(1, "a"), (2, "b"), (9, "e")]


def test_merge_retry_after_conflict_sees_evolved_schema(spark, tmp_path,
                                                        monkeypatch):
    """The caller-retry path: after the TxConflict above, re-running
    the same merge must now be checked against the EVOLVED schema —
    an old-schema source (missing the rival's column) fails loudly."""
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a")]), t, ["k"])
    tx_append(tx_df(spark, [(9, "e", 7)], "k long, s string, extra int"),
              t, ["k"], allow_schema_evolution=True)
    with pytest.raises(ValueError, match="dropped columns"):
        tx_merge(spark, t, tx_df(spark, [(1, "A")]), "k")


# --- 2. checkpoint pointer monotonicity --------------------------------

def test_checkpoint_pointer_never_regresses(spark, tmp_path):
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a")]), t, ["k"])
    tx_checkpoint(t)
    # simulate a rival having already published a NEWER pointer while
    # this (slower) checkpointer was folding an older version
    ptr = os.path.join(txlog._log_path(t), txlog._CKPT_PTR)
    with open(ptr, "w") as f:
        f.write(json.dumps({"version": 999}))
    tx_append(tx_df(spark, [(2, "b")]), t, ["k"])
    tx_checkpoint(t)  # folds v1 < 999: must NOT move the pointer back
    assert last_checkpoint_version(t) == 999


def test_clean_log_trusts_pointer_not_max_listed(spark, tmp_path):
    """With listed checkpoints {0, 1} but the pointer regressed to 0
    (the race the write-side guard prevents, simulated directly),
    tx_clean_log must clean only commits the POINTER can resolve —
    pre-fix it cleaned to the max listed checkpoint and left the
    pointer-resolved read path replaying into deleted commits."""
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a")]), t, ["k"])
    tx_checkpoint(t)  # ckpt 0, ptr 0
    tx_append(tx_df(spark, [(2, "b")]), t, ["k"])
    tx_checkpoint(t)  # ckpt 1, ptr 1
    ptr = os.path.join(txlog._log_path(t), txlog._CKPT_PTR)
    with open(ptr, "w") as f:
        f.write(json.dumps({"version": 0}))  # regressed pointer
    tx_clean_log(t)
    # the read path resolves base=0 via the pointer and replays the
    # JSON tail — commit 1 must therefore have survived the clean
    assert tx_rows(read_table(spark, t)) == [(1, "a"), (2, "b")]
    assert latest_version(t) == 1


# --- 3. swap_dirs crash self-heal ---------------------------------------

def _build_state(spark, sf_dir, tmp_path, table, key, process):
    """Two key-ordered batches of `table` through `process`."""
    state = str(tmp_path / "state")
    batches = key_batches(load_table(spark, table, sf_dir), key, 2)
    for batch_id, batch in enumerate(batches):
        process(batch, batch_id, state)
    return state


def _postings_set(df):
    return sorted(
        (r["vec_id"], r["list_id"], r["dist2"]) for r in df.collect())


# name -> (table, split key, process_batch, crashed dir under the state
# dir, compactor, view, partition dirs the compaction removes)
_COMPACTORS = {
    "ann": ("embeddings", "vec_id", ann_mv_process_batch, "/postings",
            compact_ann_mv_state,
            lambda spark, st: _postings_set(read_ann_mv(spark, st)), 1),
    "clipstats": ("embeddings", "vec_id", clipstats_process_batch,
                  "/counts", compact_clipstats_state,
                  lambda spark, st: tx_rows(clip_stats_from_counts(
                      read_clipstats_counts(spark, st))), 1),
    "mv": ("events", "event_id", mv_process_batch, "", compact_mv_state,
           lambda spark, st: tx_rows(read_mv(spark, st)), 1),
    # one dir from each of pairs/, bands/ and shingles/
    "pair": ("documents", "doc_id", pair_mv_process_batch, "/pairs",
             compact_pair_mv_state,
             lambda spark, st: tx_rows(read_pair_mv(spark, st)), 3),
}


@pytest.mark.parametrize("name", sorted(_COMPACTORS))
def test_compactor_heals_crashed_swap(spark, sf_dir, tmp_path, name):
    table, key, process, sub, compact, view, n_removed = _COMPACTORS[name]
    state = _build_state(spark, sf_dir, tmp_path, table, key, process)
    before = view(spark, state)
    # simulate the between-renames crash: live gone, state at .fold.old
    os.rename(f"{state}{sub}", f"{state}{sub}.fold.old")
    assert compact(spark, state) == n_removed  # healed AND compacted
    assert view(spark, state) == before


def test_compact_heals_crashed_rebuild_swap(spark, sf_dir, tmp_path):
    """A rebuild crash strands the WHOLE state dir — the compactor
    must recover it before looking for postings."""
    state = _build_state(spark, sf_dir, tmp_path, "embeddings", "vec_id",
                         ann_mv_process_batch)
    before = _postings_set(read_ann_mv(spark, state))
    os.rename(state, f"{state}.fold.old")
    removed = compact_ann_mv_state(spark, state)
    assert removed == 1
    assert _postings_set(read_ann_mv(spark, state)) == before


def test_regressed_pointer_read_repairs_via_listing(spark, tmp_path):
    """The monotonic write guard is itself check-then-write, so a true
    interleave can still regress the pointer AFTER a clean already ran
    against the newer one. The read path must then REPAIR through the
    directory listing (checkpoint parquet files are never cleaned)
    instead of raising 'missing commits' on a healthy table."""
    t = str(tmp_path / "t")
    tx_append(tx_df(spark, [(1, "a")]), t, ["k"])
    tx_checkpoint(t)  # ckpt 0
    tx_append(tx_df(spark, [(2, "b")]), t, ["k"])
    tx_checkpoint(t)  # ckpt 1, ptr 1
    tx_clean_log(t)   # cleans commits <= 1 (pointer = 1)
    # NOW the lost-race pointer write lands (simulated directly)
    ptr = os.path.join(txlog._log_path(t), txlog._CKPT_PTR)
    with open(ptr, "w") as f:
        f.write(json.dumps({"version": 0}))
    # pointer says base=0, commit 1's JSON is gone — the listed
    # checkpoint at 1 must repair the read
    assert tx_rows(read_table(spark, t)) == [(1, "a"), (2, "b")]
    # and the next checkpoint heals the pointer itself
    tx_append(tx_df(spark, [(3, "c")]), t, ["k"])
    tx_checkpoint(t)
    assert last_checkpoint_version(t) == 2
