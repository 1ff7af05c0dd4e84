"""Real-concurrency pins for the tx log's optimistic-concurrency
primitive: two OS processes racing `_commit` on the same version
(exactly one winner per version, loser TxConflict — the cross-process
mutual-exclusion claim the in-process tests can't make), and two
threads racing `tx_append` through one SparkSession (commuting appends
auto-advance; both land, no lost update)."""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import threading

from pyspark.sql import functions as F

from saurav_nayak_recipe_etl_project_spark.sources.txlog import (
    latest_version,
    read_table,
    tx_append,
)

N_VERSIONS = 8


def _rmw_racer(table, barrier, out_q):
    """Child process: a read-modify-write writer that prepared its
    actions at base, then loses the version race to the parent's
    blind appends — _commit_rmw must commute past them."""
    from saurav_nayak_recipe_etl_project_spark.sources.txlog import (
        _commit_rmw,
        _meta_at,
    )

    base = 0
    actions = [{"op": "remove", "file": "data/old-0"},
               {"op": "add", "file": "data/rewrite-0",
                "stats": {"rows": 1}}]
    barrier.wait()   # parent lands rival appends now
    barrier.wait()   # rivals are committed; our base is stale
    v = _commit_rmw(table, base, actions, {"data/old-0"},
                    _meta_at(table, base))
    out_q.put(v)


def test_rmw_commutes_with_rival_appends_cross_process(tmp_path):
    from saurav_nayak_recipe_etl_project_spark.sources.txlog import (
        _commit,
        snapshot_files,
    )

    table = str(tmp_path / "t")
    os.makedirs(table)
    _commit(table, 0, [{"op": "add", "file": "data/old-0",
                        "stats": {"rows": 1}}], schema={"k": "bigint"})
    ctx = mp.get_context("fork")
    barrier = ctx.Barrier(2)
    out_q = ctx.Queue()
    p = ctx.Process(target=_rmw_racer, args=(table, barrier, out_q))
    p.start()
    barrier.wait()
    for i in (1, 2):  # two rival blind appends take versions 1-2
        _commit(table, i, [{"op": "add", "file": f"data/rival-{i}",
                            "stats": {"rows": 1}}])
    barrier.wait()
    v = out_q.get(timeout=120)
    p.join(timeout=60)
    assert p.exitcode == 0
    # the rmw writer re-committed its UNCHANGED actions after the
    # rivals: versions 1-2 are the appends, 3 the rewrite
    assert v == 3 and latest_version(table) == 3
    live = set(snapshot_files(table))
    assert live == {"data/rival-1", "data/rival-2", "data/rewrite-0"}


def _racer(table, barrier, out_q, who):
    # child process: pure-Python commit path only, no Spark needed
    from saurav_nayak_recipe_etl_project_spark.sources.txlog import (
        TxConflict,
        _commit,
    )

    wins, conflicts = [], 0
    for v in range(N_VERSIONS):
        barrier.wait()  # both processes attempt the SAME version together
        try:
            _commit(table, v, [{"op": "add", "file": f"data/{who}-{v}"}],
                    schema={"k": "bigint"})
            wins.append(v)
        except TxConflict:
            conflicts += 1
        barrier.wait()  # round barrier: neither runs ahead
    out_q.put((who, wins, conflicts))


def test_commit_race_two_processes(tmp_path):
    table = str(tmp_path / "t")
    os.makedirs(table)
    ctx = mp.get_context("fork")
    barrier = ctx.Barrier(2)
    out_q = ctx.Queue()
    ps = [ctx.Process(target=_racer, args=(table, barrier, out_q, w))
          for w in ("A", "B")]
    for p in ps:
        p.start()
    results = {}
    for _ in ps:
        who, wins, conflicts = out_q.get(timeout=120)
        results[who] = (wins, conflicts)
    for p in ps:
        p.join(timeout=60)
        assert p.exitcode == 0
    wins_a, conf_a = results["A"]
    wins_b, conf_b = results["B"]
    # every version has EXACTLY one winner, and the loser always saw
    # TxConflict — never a silent double-commit or a lost version
    assert sorted(wins_a + wins_b) == list(range(N_VERSIONS))
    assert set(wins_a) & set(wins_b) == set()
    assert conf_a + conf_b == N_VERSIONS
    # the log on disk agrees: one commit file per version, each
    # holding exactly the winner's action
    log = os.path.join(table, "_txlog")
    files = sorted(f for f in os.listdir(log) if f.endswith(".json"))
    assert len(files) == N_VERSIONS
    for f in files:
        v = int(f[:-5])
        with open(os.path.join(log, f)) as fh:
            entry = json.loads(fh.read())
        who = "A" if v in wins_a else "B"
        assert entry["actions"] == [
            {"op": "add", "file": f"data/{who}-{v}"}]


def test_tx_append_auto_advance_two_threads(spark, tmp_path):
    table = str(tmp_path / "t")
    tx_append(spark.createDataFrame([(0, "seed")], "k long, s string"),
              table, ["k"])
    results, errors = {}, []
    gate = threading.Barrier(2)

    def writer(who, lo):
        try:
            gate.wait()
            df = spark.createDataFrame(
                [(lo + i, who) for i in range(5)], "k long, s string")
            results[who] = tx_append(df, table, ["k"])
        except Exception as e:  # pragma: no cover - failure detail
            errors.append((who, e))

    ts = [threading.Thread(target=writer, args=("A", 100)),
          threading.Thread(target=writer, args=("B", 200))]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=300)
    assert not errors, errors
    # commuting appends: both committed, at DISTINCT versions, and no
    # rows were lost to the race
    assert sorted(results.values()) == [1, 2]
    assert latest_version(table) == 2
    got = read_table(spark, table)
    assert got.count() == 11
    assert got.filter(F.col("s") == "A").count() == 5
    assert got.filter(F.col("s") == "B").count() == 5
