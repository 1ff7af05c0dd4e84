"""foreachBatch upsert: state table converges to one latest row per
user across multiple drops, matching the batch answer."""

from __future__ import annotations

import shutil


from saurav_nayak_recipe_etl_project_spark.sources.catalog import load_table
from saurav_nayak_recipe_etl_project_spark.streaming import upsert as U


def _land_halves(spark, sf_dir, tmp_path):
    """Stage the events table's even and odd event_ids as two
    single-file parquet drops under `tmp_path`; return their paths."""
    import glob

    from pyspark.sql import functions as F

    events = load_table(spark, "events", sf_dir).withColumn(
        "ts", F.col("ts").cast("timestamp"))
    out = []
    for name, pred in [("even", "event_id % 2 = 0"),
                       ("odd", "event_id % 2 = 1")]:
        half = str(tmp_path / f"half_{name}")
        events.filter(pred).coalesce(1).write.parquet(half)
        out.append(glob.glob(half + "/part-*.parquet")[0])
    return out


def _assert_latest_per_user(spark, sf_dir, state):
    got = spark.read.parquet(state)
    events = load_table(spark, "events", sf_dir)
    want = U.latest_per_key(events, "user_id", "ts", "event_id")
    assert got.count() == events.select("user_id").distinct().count()
    g = {r["user_id"]: r["event_id"] for r in got.collect()}
    w = {r["user_id"]: r["event_id"] for r in want.collect()}
    assert g == w


def test_upsert_converges_to_latest_per_user(spark, sf_dir, tmp_path):
    src = tmp_path / "drops"
    src.mkdir()
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    shutil.copy(f"{sf_dir}/events.parquet", src / "a.parquet")
    U.run_upsert_stream(spark, str(src), ckpt, state)
    # second identical drop must not duplicate state
    shutil.copy(f"{sf_dir}/events.parquet", src / "b.parquet")
    U.run_upsert_stream(spark, str(src), ckpt, state)
    _assert_latest_per_user(spark, sf_dir, state)


def test_upsert_heals_a_crashed_state_swap(spark, sf_dir, tmp_path):
    """Two disjoint drops (even and odd event_ids), with a crash
    between the swap's two renames simulated after the first: the live
    state sits only at `.fold.old`. The second batch must heal it and
    fold the second drop into ALL the accumulated state, not rebuild
    the state from the second drop alone."""
    import os

    src = tmp_path / "drops"
    src.mkdir()
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    even, odd = _land_halves(spark, sf_dir, tmp_path)
    shutil.copy(even, src / "even.parquet")
    U.run_upsert_stream(spark, str(src), ckpt, state)
    os.rename(state, f"{state}.fold.old")
    shutil.copy(odd, src / "odd.parquet")
    U.run_upsert_stream(spark, str(src), ckpt, state)
    _assert_latest_per_user(spark, sf_dir, state)
    assert not os.path.exists(f"{state}.fold.old")
    assert not os.path.exists(f"{state}.fold.tmp")


def test_audited_publish_stream_gates_each_batch(spark, sf_dir, tmp_path):
    """Streaming WAP: a passing audit publishes the batch snapshot; a
    failing audit records the rejection, leaves the live pointer on
    the last good snapshot, and does not wedge the stream."""
    from saurav_nayak_recipe_etl_project_spark.operators.maintenance import (
        read_published,
    )

    src = tmp_path / "drops"
    src.mkdir()
    table = str(tmp_path / "published")

    shutil.copy(f"{sf_dir}/events.parquet", src / "a.parquet")
    ok = U.run_audited_publish_stream(
        spark, str(src), str(tmp_path / "ck1"), table,
        audits=[lambda df: df.count() > 0],
    )
    assert list(ok.values()) == ["published"]
    first = read_published(spark, table)
    n_types = first.count()
    assert n_types > 0

    def impossible(df):
        return False

    impossible.__name__ = "impossible"
    shutil.copy(f"{sf_dir}/events.parquet", src / "b.parquet")
    rejected = U.run_audited_publish_stream(
        spark, str(src), str(tmp_path / "ck2"), table,
        audits=[impossible],
    )
    assert any("impossible" in v for v in rejected.values())
    # live table still the audited snapshot
    assert read_published(spark, table).count() == n_types


def test_audited_publish_stream_is_cumulative_across_batches(
    spark, sf_dir, tmp_path
):
    """Two micro-batches (maxFilesPerTrigger=1 over two half-corpus
    drops): the final published snapshot must aggregate BOTH batches'
    events — per-type counts and exact distinct users over the full
    corpus — not just the latest micro-batch's rows."""
    from pyspark.sql import functions as F

    from saurav_nayak_recipe_etl_project_spark.operators.maintenance import (
        read_published,
    )

    events = load_table(spark, "events", sf_dir)
    src = tmp_path / "drops"
    src.mkdir()
    for name, part in zip(("even", "odd"),
                          _land_halves(spark, sf_dir, tmp_path)):
        shutil.copy(part, src / f"{name}.parquet")

    outcomes = U.run_audited_publish_stream(
        spark, str(src), str(tmp_path / "ck"), str(tmp_path / "pub"),
        audits=[lambda df: df.count() > 0],
        max_files_per_trigger=1,
    )
    assert sorted(outcomes.values()) == ["published", "published"], outcomes

    got = {
        r["event_type"]: (r["n_events"], r["n_users"])
        for r in read_published(spark, str(tmp_path / "pub")).collect()
    }
    want = {
        r["event_type"]: (r["n_events"], r["n_users"])
        for r in events.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        ).collect()
    }
    assert got == want
