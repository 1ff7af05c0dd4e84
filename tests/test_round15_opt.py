"""Round-15 optimization pins: identity of the rewritten internals.

Each optimization this round must leave every declared query's output
byte-identical; these tests pin the internals that changed:
- local_frame's Arrow lane now REJECTS mistyped rows like the classic
  path (ADVICE r14: convertToArrowArraySafely).
- embedding_dup_pairs_bucketed's narrow-shuffle pair generation equals
  the r14 bucket-group form pair-for-pair, cos_sim included.
- the ANN-method memo shares only identical computations: a memo'd
  method run equals its standalone run row-for-row.
- the partitioned footer-stats fast path (txlog) reproduces the
  read-back aggregate's actions exactly, and falls back on every
  value Spark's partition-type inference could type differently.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def test_local_frame_rejects_mistyped_rows(spark):
    from saurav_nayak_recipe_etl_project_spark.functions.localframe import (
        local_frame,
    )

    with pytest.raises(Exception):
        local_frame(spark, [(1, 2.5)], "a long, b long")
    # well-typed rows (None included) still convert through Arrow
    rows = local_frame(
        spark, [(1, None), (2, 3.5)], "a long, b double").collect()
    assert [(r["a"], r["b"]) for r in rows] == [(1, None), (2, 3.5)]


def _tiny_emb(spark, n=60, dim=8):
    # deterministic synthetic embeddings with planted near-dups
    rows = []
    for i in range(n):
        base = [float(((i * 7 + d * 13) % 19) - 9) for d in range(dim)]
        rows.append((i, base))
        if i % 10 == 0:  # planted near-duplicate of i
            rows.append((n + i, [x + 0.01 for x in base]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_bucket_array_matches_bucket(spark):
    """The compact HOF bucket-array form is BIT-IDENTICAL to the
    unrolled per-table _bucket expressions (same per-plane fold order,
    same packing arithmetic) — the identity the r15 driver-cost
    rewrite rests on."""
    from pyspark.sql import functions as F

    import saurav_nayak_recipe_etl_project_spark.operators.similarity as S

    emb = _tiny_emb(spark)
    e = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    n_planes, n_tables = 4, 8
    both = e.select(
        S._bucket_array(F.col("v"), n_planes, n_tables).alias("hof"),
        F.array(*[
            S._bucket(F.col("v"), n_planes, plane_offset=t * n_planes)
            for t in range(n_tables)
        ]).alias("unrolled"),
    ).collect()
    for r in both:
        assert r["hof"] == r["unrolled"]


def test_emb_bucketed_pairs_nonempty(spark):
    import saurav_nayak_recipe_etl_project_spark.operators.dedup as D

    emb = _tiny_emb(spark)
    pairs = {(r["id_a"], r["id_b"], r["cos_sim"])
             for r in D.embedding_dup_pairs_bucketed(emb).collect()}
    # the planted near-duplicates must surface with exact cosine
    assert len(pairs) > 0


def test_ann_memo_method_identical_to_standalone(spark, sf_dir):
    import saurav_nayak_recipe_etl_project_spark.operators.similarity as S
    from saurav_nayak_recipe_etl_project_spark.sources.catalog import (
        load_table,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    memo: dict = {}
    # prime the memo through one method, reuse through the others — the
    # shared sample/queries/coarse keys must leave outputs identical
    for method in (S.ivf_topk, S.pq_topk, S.ivfpq_topk, S.hnsw_topk,
                   S.cosine_topk):
        with_memo = sorted(map(tuple, method(emb, memo=memo).collect()))
        solo = sorted(map(tuple, method(emb).collect()))
        assert with_memo == solo, method.__name__
    assert ("coarse", 2048, 16, 10) in memo
    # hnsw's 1024-row sample must slice out of the memo'd 2048 sample
    assert ("sample", 1024) not in memo  # sliced, not recomputed


def test_part_value_inference_replica():
    from saurav_nayak_recipe_etl_project_spark.sources.txlog import (
        _HIVE_NULL,
        _classify_part_value,
        _type_part_column,
    )

    c = _classify_part_value
    assert c(_HIVE_NULL) == ("null", None)
    assert c("42") == ("int", 42)
    assert c("-7") == ("int", -7)
    assert c("F") == ("str", "F")
    assert c("a=b:c") == ("str", "a=b:c")
    assert c("true") == ("str", "true")  # inference keeps booleans string
    # anything Spark's inference could type differently: ambiguous
    assert c("007")[0] == "amb"          # non-canonical int
    assert c("2.5")[0] == "amb"          # double/decimal
    assert c("1e5")[0] == "amb"
    assert c("2024-01-01")[0] == "amb"   # date
    assert c("2024-01-01 00:00:00")[0] == "amb"
    # column-wide rule (Spark types the COLUMN, not each value): all
    # canonical ints -> ints; any string in the mix -> every value is
    # read back as string; any ambiguous value -> no fast path
    assert _type_part_column(["42", "7"]) == {"42": 42, "7": 7}
    assert _type_part_column(["42", "F"]) == {"42": "42", "F": "F"}
    assert _type_part_column([_HIVE_NULL, "F"]) == {_HIVE_NULL: None,
                                                    "F": "F"}
    assert _type_part_column([_HIVE_NULL]) == {_HIVE_NULL: None}
    assert _type_part_column(["42", "2.5"]) is None
    assert _type_part_column(["007"]) is None


def test_footer_stats_partitioned_match_readback(spark, tmp_path):
    import saurav_nayak_recipe_etl_project_spark.sources.txlog as T

    df = spark.createDataFrame(
        [(1, "F", 10.5), (2, "O", 1.25), (3, "F", -4.0),
         (4, None, 2.0), (5, "a=b:c", 0.5)],
        "k long, s string, x double",
    )

    part_s = dict(T._META, partition_by=["s"])

    def write_actions(monkey_off: bool):
        table = str(tmp_path / ("rb" if monkey_off else "ff"))
        os.makedirs(table, exist_ok=True)
        if monkey_off:
            orig = T._footer_stats_actions
            T._footer_stats_actions = lambda *a, **k: None
            try:
                acts = T._write_files(df.repartition(2), table,
                                      ["k", "x"], part_s)
            finally:
                T._footer_stats_actions = orig
        else:
            acts = T._write_files(df.repartition(2), table, ["k", "x"],
                                  part_s)
        # strip the uuid'd path; key by partition value for comparison
        out = {}
        for a in acts:
            part = a["stats"]["_part"]["s"]
            key = (part, a["stats"]["rows"])
            out.setdefault(key, []).append(
                {c: a["stats"][c] for c in ("rows", "k", "x", "s")})
        return out

    fast = write_actions(False)
    slow = write_actions(True)
    assert fast == slow
    # hive-escaped and NULL partition values round-tripped
    parts = {p for (p, _r) in fast}
    assert parts == {"F", "O", None, "a=b:c"}


def test_footer_stats_partitioned_numeric_and_mixed_values(
        spark, tmp_path):
    """Partition values Spark's column-wide inference types as int must
    come back as ints; a mixed int-looking/string column must come
    back all-string (exactly what the read-back lane records); an
    ambiguous value (float-looking) must fall back to read-back."""
    import saurav_nayak_recipe_etl_project_spark.sources.txlog as T

    part_s = dict(T._META, partition_by=["s"])

    def acts_for(rows, force_readback=False):
        import uuid as _uuid
        table = str(tmp_path / _uuid.uuid4().hex[:8])
        os.makedirs(table, exist_ok=True)
        df = spark.createDataFrame(rows, "k long, s string, x double")
        if force_readback:
            orig = T._footer_stats_actions
            T._footer_stats_actions = lambda *a, **kw: None
            try:
                return T._write_files(df, table, ["k"], part_s)
            finally:
                T._footer_stats_actions = orig
        return T._write_files(df, table, ["k"], part_s)

    # all-canonical-int column: inference says int
    fast = acts_for([(1, "123", 1.0), (2, "456", 2.0)])
    assert {a["stats"]["_part"]["s"] for a in fast} == {123, 456}
    # mixed: Spark types the whole column string
    mixed_rows = [(1, "123", 1.0), (2, "F", 2.0)]
    fast = {a["stats"]["_part"]["s"] for a in acts_for(mixed_rows)}
    slow = {a["stats"]["_part"]["s"]
            for a in acts_for(mixed_rows, force_readback=True)}
    assert fast == slow == {"123", "F"}
    # float-looking value: ambiguous, must match read-back via fallback
    amb_rows = [(1, "2.5", 1.0), (2, "X", 2.0)]
    fast = {a["stats"]["_part"]["s"] for a in acts_for(amb_rows)}
    slow = {a["stats"]["_part"]["s"]
            for a in acts_for(amb_rows, force_readback=True)}
    assert fast == slow


def test_parallel_actions_runs_all_and_propagates_failure():
    """parallel_actions must (a) execute every thunk exactly once,
    (b) surface the first failure, and (c) never abandon a thunk when
    a sibling fails — a batch whose state write silently vanished
    would corrupt the MV, so all thunks are awaited before raising."""
    from saurav_nayak_recipe_etl_project_spark.streaming import (
        parallel_actions,
    )

    ran = []
    parallel_actions(
        lambda: ran.append("a"),
        lambda: ran.append("b"),
        lambda: ran.append("c"),
    )
    assert sorted(ran) == ["a", "b", "c"]

    done = []

    def boom():
        raise RuntimeError("boom")

    import time

    def slow_ok():
        time.sleep(0.1)
        done.append("slow")

    with pytest.raises(RuntimeError, match="boom"):
        parallel_actions(boom, slow_ok)
    assert done == ["slow"]  # sibling finished despite the failure


def test_parallel_actions_keeps_the_callers_job_group(spark):
    """The worker threads inherit the caller's job group, so the jobs
    of concurrent actions are attributed to the caller (the DV merge
    runs its two heaviest writes this way)."""
    from saurav_nayak_recipe_etl_project_spark.streaming import (
        parallel_actions,
    )
    from tests.jobgroups import jobs_in_group

    df = spark.range(1000)
    _, serial = jobs_in_group(spark, lambda: (df.count(), df.count()))
    _, parallel = jobs_in_group(
        spark, lambda: parallel_actions(df.count, df.count))
    assert serial >= 2
    assert parallel == serial
