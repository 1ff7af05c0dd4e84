"""Model-based randomized test for the log-structured ACID table: a
seeded 30-commit random walk of append / merge / delete / compact /
vacuum-less ops, checked after EVERY commit against a pure-Python
dict model — the state-machine verification an ACID layer deserves
beyond example-based tests. Also cross-checks time travel (replaying
the model history) and the change feed between consecutive versions
against the model's own diff.

Deterministic (random.Random with a fixed seed): the walk is the same
every run, so a failure is reproducible, and the op mix is chosen so
every op type occurs several times in 30 steps.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from saurav_nayak_recipe_etl_project_spark.sources.txlog import (
    latest_version,
    read_table,
    snapshot_files,
    tx_append,
    tx_changes,
    tx_compact,
    tx_delete_where,
    tx_merge,
)
from tests.txframes import tx_df

N_OPS = 30
KEYSPACE = 400
SCHEMA = "k long, status string, val long"


def _table_rows(spark, t, version=None):
    return {
        r["k"]: (r["status"], r["val"])
        for r in read_table(spark, t, version=version).collect()
    }


def test_random_walk_matches_model(spark, tmp_path):
    rng = random.Random(7)
    t = str(tmp_path / "t")
    model: dict = {}
    history: list[dict] = []   # model snapshot per committed version

    def fresh_rows(n):
        ks = rng.sample(range(KEYSPACE), n)
        return [(k, rng.choice("ABC"), rng.randrange(1000)) for k in ks]

    # version 0: seed append
    seed = fresh_rows(60)
    tx_append(tx_df(spark, seed, SCHEMA), t, ["k"])
    for k, s, v in seed:
        model[k] = (s, v)
    history.append(dict(model))

    ops_done = {"append": 0, "merge": 0, "delete": 0, "compact": 0}
    while latest_version(t) < N_OPS:
        op = rng.choice(["append", "append", "merge", "merge",
                         "delete", "compact"])
        if op == "append":
            # appends must not duplicate keys already in the table
            # (this model is a keyed table; merges handle collisions)
            rows = [r for r in fresh_rows(20) if r[0] not in model]
            if not rows:
                continue
            tx_append(tx_df(spark, rows, SCHEMA), t, ["k"])
            for k, s, v in rows:
                model[k] = (s, v)
        elif op == "merge":
            rows = fresh_rows(25)
            # a row list, not tx_df: built through Arrow, a merge
            # source changes how many files the merge commits
            tx_merge(spark, t, spark.createDataFrame(rows, SCHEMA), "k",
                     ["k"])
            for k, s, v in rows:
                model[k] = (s, v)
        elif op == "delete":
            status = rng.choice("ABC")
            tx_delete_where(spark, t, ("status", "=", status), ["k"])
            model = {k: sv for k, sv in model.items() if sv[0] != status}
        else:
            tx_compact(spark, t, rng.choice([1, 3]), ["k"],
                       cluster_by="k")
        ops_done[op] += 1
        history.append(dict(model))
        assert _table_rows(spark, t) == model, f"after {op}"

    # every op type actually occurred
    assert all(n >= 2 for n in ops_done.values()), ops_done

    # time travel: spot-check five historical versions against the
    # model history (including version 0)
    versions = [0] + rng.sample(range(1, len(history) - 1), 3) + [
        len(history) - 1]
    for v in versions:
        assert _table_rows(spark, t, version=v) == history[v], v

    # change feed between two random consecutive versions == model diff
    for _ in range(3):
        v = rng.randrange(len(history) - 1)
        got = {
            r["k"]: r["change_type"]
            for r in tx_changes(spark, t, v, v + 1, "k",
                                ["status", "val"]).collect()
        }
        before, after = history[v], history[v + 1]
        expected = {}
        for k in after:
            if k not in before:
                expected[k] = "added"
            elif after[k] != before[k]:
                expected[k] = "changed"
        for k in before:
            if k not in after:
                expected[k] = "removed"
        assert got == expected, (v, got, expected)

    # the live file count stays bounded by compaction (not a leak of
    # one dir per op forever): compact once more and check
    tx_compact(spark, t, 1, ["k"])
    assert len(snapshot_files(t)) == 1
    assert _table_rows(spark, t) == model
