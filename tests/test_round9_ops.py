"""Round-9 pins: the approx table profile (oracle match, the
no-Expand plan contract that is its whole reason to exist, and gate
honesty), plus the NULL-preservation law of pseudonymize() from the
round-8 advisory.
"""

from __future__ import annotations

import contextlib
import io

from tests.oracle import assert_matches_oracle

from saurav_nayak_recipe_etl_project_spark.registry import ORACLES, QUERIES


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_table_profile_approx_matches_oracle(spark, sf_dir):
    assert_matches_oracle(
        QUERIES["table_profile_lineitem_approx"](spark, sf_dir),
        ORACLES["table_profile_lineitem_approx"], sf_dir,
    )


def test_table_profile_approx_production_plan_has_no_expand(spark, sf_dir):
    """The point of the approx profile: sketches merge as a plain
    partial/final aggregate, so the ungated (production) plan must
    carry NO Expand node — while the exact profile's plan must (its
    documented fan-out-11 cost). The gated verification entry
    legitimately keeps the Expand (it computes the exact distincts to
    assert the sketch bounds)."""
    from saurav_nayak_recipe_etl_project_spark.plans.profiling import (
        table_profile_approx,
    )
    from saurav_nayak_recipe_etl_project_spark.sources.catalog import (
        load_table,
    )

    li = load_table(spark, "lineitem", sf_dir)
    assert "Expand" not in _plan(table_profile_approx(li, gate=False))
    assert "Expand" in _plan(QUERIES["table_profile_lineitem"](spark, sf_dir))


def test_table_profile_approx_gate_trips_on_broken_sketch(spark, sf_dir):
    """Gate honesty: every registered row reports distinct_ok=True on
    real data, and the ungated approx values actually track the exact
    profile within the asserted band (so the boolean isn't vacuous)."""
    from saurav_nayak_recipe_etl_project_spark.plans.profiling import (
        ADC_TOL,
        table_profile_approx,
    )
    from saurav_nayak_recipe_etl_project_spark.sources.catalog import (
        load_table,
    )

    rows = QUERIES["table_profile_lineitem_approx"](spark, sf_dir).collect()
    assert rows and all(r["distinct_ok"] for r in rows)
    li = load_table(spark, "lineitem", sf_dir)
    approx = {
        r["col_name"]: r["approx_distinct"]
        for r in table_profile_approx(li, gate=False).collect()
    }
    exact = {
        r["col_name"]: r["n_distinct"]
        for r in QUERIES["table_profile_lineitem"](spark, sf_dir).collect()
    }
    for col, ex in exact.items():
        assert abs(approx[col] - ex) <= max(1.0, ex * ADC_TOL), col


def test_pseudonymize_preserves_nulls(spark):
    """Round-8 advisory: a NULL identifier must stay NULL through
    pseudonymization — concat_ws would otherwise collapse every NULL
    to sha2(secret) and NULL keys would start joining each other."""
    from saurav_nayak_recipe_etl_project_spark.operators.privacy import (
        pseudonymize,
    )

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, None)], "id int, k string"
    )
    out = {r["id"]: r["k"] for r in pseudonymize(df, ["k"]).collect()}
    assert out[2] is None and out[3] is None
    assert out[1] is not None and len(out[1]) == 64
    # and the null-count is unchanged (no token materialized)
    assert pseudonymize(df, ["k"]).where("k IS NULL").count() == 2


def test_corpus_audit_matrices_match_oracles(spark, sf_dir):
    for name in ["dedup_source_matrix", "split_leakage"]:
        assert_matches_oracle(QUERIES[name](spark, sf_dir),
                              ORACLES[name], sf_dir)


def test_corpus_audit_matrices_conserve_the_pair_set(spark, sf_dir):
    """Both matrices are rollups of the SAME verified pair set, so
    their n_pairs totals must equal the pair count exactly — a lost
    or double-counted pair (e.g. a least/greatest mix-up) breaks
    conservation before it breaks the oracle hash."""
    from saurav_nayak_recipe_etl_project_spark.operators.dedup import (
        lsh_verified_pairs,
    )
    from saurav_nayak_recipe_etl_project_spark.sources.catalog import (
        load_table,
    )

    n = lsh_verified_pairs(load_table(spark, "documents", sf_dir)).count()
    for name in ["dedup_source_matrix", "split_leakage"]:
        rows = QUERIES[name](spark, sf_dir).collect()
        assert sum(r["n_pairs"] for r in rows) == n, name
        # unordered cells: every (a, b) has a <= b and appears once
        cells = [(r[0], r[1]) for r in rows]
        assert all(a <= b for a, b in cells)
        assert len(cells) == len(set(cells))


def test_split_leakage_diagonal_is_split_pure(spark, sf_dir):
    """Exact duplicates can never leak across splits (same text ->
    same md5 -> same split): every exact-duplicate group must map to
    exactly one split label."""
    from pyspark.sql import functions as F

    from saurav_nayak_recipe_etl_project_spark.operators.corpus_audit import (
        _SPLIT,
    )
    from saurav_nayak_recipe_etl_project_spark.sources.catalog import (
        load_table,
    )

    docs = load_table(spark, "documents", sf_dir)
    bad = (
        docs.select(F.md5("text").alias("h"), F.expr(_SPLIT).alias("s"))
        .groupBy("h")
        .agg(F.countDistinct("s").alias("ns"))
        .where("ns > 1")
        .count()
    )
    assert bad == 0


def test_twosample_entries_match_oracles(spark, sf_dir):
    for name in ["order_value_ks_test", "priority_value_mannwhitney"]:
        assert_matches_oracle(QUERIES[name](spark, sf_dir),
                              ORACLES[name], sf_dir)


def test_ks_matches_brute_force_and_bounds(spark, sf_dir):
    """KS D from the banded lane must equal a driver-side brute-force
    over the collected values (small at test SF), and D is a CDF gap,
    so ks_d_micro must sit in [0, 1e6]."""
    from saurav_nayak_recipe_etl_project_spark.sources.catalog import (
        load_table,
    )

    row = QUERIES["order_value_ks_test"](spark, sf_dir).collect()[0]
    assert 0 <= row["ks_d_micro"] <= 1_000_000
    vals = (
        load_table(spark, "orders", sf_dir)
        .where("o_orderstatus IN ('F', 'O')")
        .selectExpr(
            "cast(round(o_totalprice * 100) as bigint) c", "o_orderstatus s"
        )
        .collect()
    )
    f = sorted(v["c"] for v in vals if v["s"] == "F")
    o = sorted(v["c"] for v in vals if v["s"] == "O")
    import bisect

    best = 0
    for c in sorted(set(f) | set(o)):
        d = abs(
            bisect.bisect_right(f, c) * len(o)
            - bisect.bisect_right(o, c) * len(f)
        )
        best = max(best, d)
    assert row["ks_d_micro"] == best * 1_000_000 // (len(f) * len(o))
    assert row["n_f"] == len(f) and row["n_o"] == len(o)


def test_mannwhitney_matches_brute_force_midranks(spark, sf_dir):
    """The doubled rank-sum lane must reproduce the classic midrank
    computation exactly, and AUC must respect U1 + U2 = n1*n2 (the
    complement law) within the shared floor division."""
    from collections import Counter

    from saurav_nayak_recipe_etl_project_spark.sources.catalog import (
        load_table,
    )

    row = QUERIES["priority_value_mannwhitney"](spark, sf_dir).collect()[0]
    assert 0 <= row["auc_micro"] <= 1_000_000 and row["z2_micro"] >= 0
    vals = (
        load_table(spark, "orders", sf_dir)
        .selectExpr(
            "cast(round(o_totalprice * 100) as bigint) c",
            "o_orderpriority in ('1-URGENT', '2-HIGH') u",
        )
        .collect()
    )
    cnt = Counter(v["c"] for v in vals)
    # doubled midrank per value: 2*(count of smaller) + count(v) + 1
    seen = 0
    mid_x2 = {}
    for c in sorted(cnt):
        mid_x2[c] = 2 * seen + cnt[c] + 1
        seen += cnt[c]
    n1 = sum(1 for v in vals if v["u"])
    n2 = len(vals) - n1
    r1_x2 = sum(mid_x2[v["c"]] for v in vals if v["u"])
    u1_x2 = r1_x2 - n1 * (n1 + 1)
    assert row["n_urgent"] == n1 and row["n_other"] == n2
    assert row["auc_micro"] == u1_x2 * 1_000_000 // (2 * n1 * n2)


def test_pmi_matches_oracle_and_brute_force(spark, sf_dir):
    """Oracle hash plus an independent Python recomputation of every
    cell's PMI from the counts — guards against Spark and DuckDB
    sharing a same-wrong formula. Cell count is the 5x5 catalog
    product; row margins must reproduce N."""
    import math

    assert_matches_oracle(QUERIES["segment_priority_pmi"](spark, sf_dir),
                          ORACLES["segment_priority_pmi"], sf_dir)
    rows = QUERIES["segment_priority_pmi"](spark, sf_dir).collect()
    assert len(rows) == 25
    n = sum(r["o"] for r in rows)
    rt = {}
    ct = {}
    for r in rows:
        rt[r["c_mktsegment"]] = rt.get(r["c_mktsegment"], 0) + r["o"]
        ct[r["o_orderpriority"]] = ct.get(r["o_orderpriority"], 0) + r["o"]
    for r in rows:
        want = round(math.log(r["o"] * n) * 1e6) - round(
            math.log(rt[r["c_mktsegment"]] * ct[r["o_orderpriority"]]) * 1e6
        )
        assert r["pmi_micro"] == want, (r, want)
        term = r["o"] * r["pmi_micro"] * 1000
        want_term = term // n if term >= 0 else -((-term) // n)
        assert r["mi_term_nano"] == want_term


def test_split_repair_reaches_zero_leakage_fixpoint(spark, sf_dir):
    """The component-level repair must be a FIXPOINT: recomputing the
    near-dup pair matrix with the repaired labels yields ZERO
    off-diagonal cells (pair-level endpoint moves would fail this —
    they can create fresh cross-split pairs)."""
    from pyspark.sql import functions as F

    from saurav_nayak_recipe_etl_project_spark.operators.corpus_audit import (
        _SPLIT,
        pair_label_matrix,
    )
    from saurav_nayak_recipe_etl_project_spark.operators.dedup import (
        lsh_verified_pairs,
    )
    from saurav_nayak_recipe_etl_project_spark.sources.catalog import (
        load_table,
    )

    docs = load_table(spark, "documents", sf_dir)
    moved = QUERIES["split_leakage_repair"](spark, sf_dir).select(
        "doc_id", "new_split"
    )
    repaired = (
        docs.select("doc_id", F.expr(_SPLIT).alias("split"))
        .join(moved, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("new_split", "split").alias("split"),
        )
    )
    m = pair_label_matrix(lsh_verified_pairs(docs), repaired, "split")
    off = m.where(F.col("split_a") != F.col("split_b")).count()
    assert off == 0
    # and the audit itself sees leakage BEFORE the repair (the test
    # data plants paraphrase-class leaks, so the repair is not vacuous)
    pre = QUERIES["split_leakage"](spark, sf_dir)
    assert pre.where(F.col("split_a") != F.col("split_b")).count() > 0


def test_keep_best_keeper_laws(spark, sf_dir):
    """Exactly one keeper per cluster; the keeper's token count is the
    cluster max; ties break to the smallest doc_id; every doc maps to
    a keeper in its own cluster."""
    from pyspark.sql import functions as F

    from saurav_nayak_recipe_etl_project_spark.functions.text_fn import (
        tokens,
    )
    from saurav_nayak_recipe_etl_project_spark.sources.catalog import (
        load_table,
    )

    out = QUERIES["dedup_keep_best"](spark, sf_dir)
    per = out.groupBy("cluster_id").agg(
        F.sum(F.col("keep").cast("int")).alias("nk"),
        F.countDistinct("keeper_id").alias("nd"),
    )
    assert per.where("nk != 1 OR nd != 1").count() == 0
    docs = load_table(spark, "documents", sf_dir)
    nt = docs.select(
        "doc_id", F.size(tokens(F.col("text"))).alias("n_tokens")
    )
    j = out.join(nt, "doc_id")
    stats = j.groupBy("cluster_id").agg(
        F.max("n_tokens").alias("mx"),
        F.min(F.when(F.col("keep"), F.col("n_tokens"))).alias("keeper_nt"),
        F.min(F.when(F.col("keep"), F.col("doc_id"))).alias("kid"),
    )
    assert stats.where("keeper_nt != mx").count() == 0
    # tie law: keeper is the SMALLEST doc_id among max-length members
    want = (
        j.join(stats.select("cluster_id", "mx"), "cluster_id")
        .where(F.col("n_tokens") == F.col("mx"))
        .groupBy("cluster_id")
        .agg(F.min("doc_id").alias("want_kid"))
    )
    assert (
        stats.join(want, "cluster_id").where("kid != want_kid").count() == 0
    )


def test_stl_identity_and_edges(spark, sf_dir):
    """Oracle hash plus the decomposition laws: residual closes the
    additive identity EXACTLY on interior months, trend/residual are
    NULL exactly where the 13-month window is incomplete, and the
    seasonal component is shared per calendar month."""
    from pyspark.sql import functions as F

    assert_matches_oracle(QUERIES["monthly_revenue_stl"](spark, sf_dir),
                          ORACLES["monthly_revenue_stl"], sf_dir)
    rows = QUERIES["monthly_revenue_stl"](spark, sf_dir).collect()
    idxs = sorted(r["idx"] for r in rows)
    by_idx = {r["idx"]: r for r in rows}
    for r in rows:
        interior = all(
            r["idx"] + d in by_idx for d in range(-6, 7)
        )
        if interior:
            assert r["trend_x24"] is not None
            assert (
                24 * r["revenue_cents"]
                - r["trend_x24"]
                - r["seasonal_x24"]
                == r["residual_x24"]
            )
        else:
            assert r["trend_x24"] is None and r["residual_x24"] is None
    # one seasonal value per calendar month
    seas = {}
    for r in rows:
        if r["seasonal_x24"] is not None:
            seas.setdefault(r["cal_month"], set()).add(r["seasonal_x24"])
    assert all(len(v) == 1 for v in seas.values())
    assert len(idxs) == len(set(idxs))


def test_quality_sweep_monotone_and_totals(spark, sf_dir):
    """Oracle hash plus the retention laws: kept counts are monotone
    NON-INCREASING in the threshold, and the ppm shares are floors of
    the exact ratios against the corpus totals."""
    from saurav_nayak_recipe_etl_project_spark.sources.catalog import (
        load_table,
    )

    assert_matches_oracle(QUERIES["quality_threshold_sweep"](spark, sf_dir),
                          ORACLES["quality_threshold_sweep"], sf_dir)
    rows = sorted(
        QUERIES["quality_threshold_sweep"](spark, sf_dir).collect(),
        key=lambda r: r["thr_micro"],
    )
    assert [r["thr_micro"] for r in rows] == [
        t * 100000 for t in range(1, 10)
    ]
    for a, b in zip(rows, rows[1:]):
        assert b["n_docs_kept"] <= a["n_docs_kept"]
        assert b["tokens_kept"] <= a["tokens_kept"]
    nd = load_table(spark, "documents", sf_dir).count()
    for r in rows:
        assert r["docs_kept_ppm"] == r["n_docs_kept"] * 1_000_000 // nd


def test_corpus_release_dedup_then_split_needs_no_repair(spark, sf_dir):
    """P5's load-bearing design law: after keep-longest
    canonicalization, ZERO verified near-dup pairs exist among the
    keepers (each cluster contributes one doc), so the content split
    can never leak — the repair pass is provably unnecessary in this
    stage order. Also pins the composed oracle and conservation:
    per-(split, source) doc counts sum to the keeper count."""
    from pyspark.sql import functions as F

    from saurav_nayak_recipe_etl_project_spark.operators.corpus_audit import (
        keep_best_mapping,
    )
    from saurav_nayak_recipe_etl_project_spark.operators.dedup import (
        lsh_verified_pairs,
    )
    from saurav_nayak_recipe_etl_project_spark.operators.text import (
        quality_reasons,
    )
    from saurav_nayak_recipe_etl_project_spark.sources.catalog import (
        load_table,
    )

    out = assert_matches_oracle(
        QUERIES["corpus_release_pipeline"](spark, sf_dir),
        ORACLES["corpus_release_pipeline"], sf_dir)
    docs = load_table(spark, "documents", sf_dir)
    surv = docs.filter(quality_reasons() == "")
    keepers = keep_best_mapping(surv).where("keep").select("doc_id")
    keeper_docs = surv.join(keepers, "doc_id")
    assert lsh_verified_pairs(keeper_docs).count() == 0
    n_keepers = keepers.count()
    assert sum(r["n_docs"] for r in out) == n_keepers
    # and the pipeline actually dropped something at each stage
    assert n_keepers < surv.count() <= docs.count()


def test_kendall_matches_python_grid_brute_force(spark, sf_dir):
    """Recompute C/D/ties/tau from the collected joint grid in pure
    Python (the grid is domain-bounded, so exhaustive cell-pair
    enumeration is cheap) — independent of both engines' SQL."""
    import math

    from saurav_nayak_recipe_etl_project_spark.sources.catalog import (
        load_table,
    )

    assert_matches_oracle(
        QUERIES["quantity_discount_kendall"](spark, sf_dir),
        ORACLES["quantity_discount_kendall"], sf_dir,
    )
    row = QUERIES["quantity_discount_kendall"](spark, sf_dir).collect()[0]
    cells = (
        load_table(spark, "lineitem", sf_dir)
        .selectExpr(
            "cast(round(l_quantity) as bigint) qx",
            "cast(round(l_discount * 100) as bigint) dx",
        )
        .groupBy("qx", "dx")
        .count()
        .collect()
    )
    grid = [(r["qx"], r["dx"], r["count"]) for r in cells]
    C = D = 0
    for i, (qa, da, na) in enumerate(grid):
        for qb, db, nb in grid[i + 1:]:
            if qa == qb or da == db:
                continue
            if (qa < qb) == (da < db):
                C += na * nb
            else:
                D += na * nb
    n = sum(c for _, _, c in grid)
    tx = {}
    ty = {}
    for qx, dx, c in grid:
        tx[qx] = tx.get(qx, 0) + c
        ty[dx] = ty.get(dx, 0) + c
    n1 = sum(t * (t - 1) // 2 for t in tx.values())
    n2 = sum(t * (t - 1) // 2 for t in ty.values())
    assert (row["n"], row["c_pairs"], row["d_pairs"]) == (n, C, D)
    assert (row["tie_x_pairs"], row["tie_y_pairs"]) == (n1, n2)
    n0 = n * (n - 1) // 2
    want = round((C - D) * 1e6 / math.sqrt(float((n0 - n1) * (n0 - n2))))
    assert row["tau_b_micro"] == want
    assert -1_000_000 <= row["tau_b_micro"] <= 1_000_000


def test_drift_stream_matches_batch_twin(spark, sf_dir, tmp_path):
    """The streamed (day, type) counts MV, pushed through the SAME
    drift_from_counts rollup, must reproduce the batch twin exactly
    (session is UTC, so epoch-aligned day windows == NTZ dates)."""
    import shutil

    from saurav_nayak_recipe_etl_project_spark.streaming import drift as D

    src = tmp_path / "drops"
    src.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src / "events.parquet")
    D.run_type_mix_stream(
        spark, str(src), str(tmp_path / "ckpt"), "drift_mv_test"
    )
    streamed = spark.sql("SELECT d, event_type, c FROM drift_mv_test")
    got = {
        (str(r["d"]), r["js_micro"], r["n_events"])
        for r in D.drift_from_counts(streamed).collect()
    }
    want = {
        (str(r["d"]), r["js_micro"], r["n_events"])
        for r in D.daily_type_mix_drift(spark, sf_dir).collect()
    }
    assert got == want and len(got) == 30


def test_anova_matches_python_brute_force(spark, sf_dir):
    """Recompute F and eta^2 in Python integers from the raw cents —
    independent of both engines — including the documented per-group
    floor on S_g^2/n_g."""
    from collections import defaultdict

    from saurav_nayak_recipe_etl_project_spark.sources.catalog import (
        load_table,
    )

    assert_matches_oracle(QUERIES["priority_value_anova"](spark, sf_dir),
                          ORACLES["priority_value_anova"], sf_dir)
    row = QUERIES["priority_value_anova"](spark, sf_dir).collect()[0]
    vals = (
        load_table(spark, "orders", sf_dir)
        .selectExpr(
            "o_orderpriority p", "cast(round(o_totalprice * 100) as bigint) c"
        )
        .collect()
    )
    groups = defaultdict(list)
    for v in vals:
        groups[v["p"]].append(v["c"])
    k = len(groups)
    n = sum(len(g) for g in groups.values())
    s = sum(sum(g) for g in groups.values())
    q = sum(c * c for g in groups.values() for c in g)
    t = sum(sum(g) ** 2 // len(g) for g in groups.values())
    a = n * t - s * s
    b = n * q - n * t
    assert row["n"] == n and row["k"] == k
    assert row["f_stat_micro"] == a * (n - k) * 1_000_000 // ((k - 1) * b)
    assert row["eta2_micro"] == a * 1_000_000 // (a + b)
    assert row["eta2_micro"] >= 0 and row["f_stat_micro"] >= 0


def test_k_anonymity_monotone_and_matches_oracle(spark, sf_dir):
    """Exposure is monotone NON-DECREASING in k (a group below k is
    below every larger k), and the k=2 row counts exactly the
    singleton groups."""
    assert_matches_oracle(QUERIES["k_anonymity_audit"](spark, sf_dir),
                          ORACLES["k_anonymity_audit"], sf_dir)
    rows = sorted(QUERIES["k_anonymity_audit"](spark, sf_dir).collect(),
                  key=lambda r: r["k"])
    assert [r["k"] for r in rows] == [2, 5, 10, 25]
    for a, b in zip(rows, rows[1:]):
        assert b["groups_below"] >= a["groups_below"]
        assert b["rows_below"] >= a["rows_below"]
        assert b["exposure_ppm"] >= a["exposure_ppm"]
    assert rows[0]["groups_below"] == rows[0]["rows_below"]  # size-1 groups


def test_stl_anomalies_match_python_mad(spark, sf_dir):
    """Recompute the median/MAD cut in Python from the decomposition's
    residuals — the flag set must match exactly, and flags must be a
    strict minority (a robust cut that flags half the months is
    diagnosing itself)."""
    assert_matches_oracle(QUERIES["revenue_anomalies_stl"](spark, sf_dir),
                          ORACLES["revenue_anomalies_stl"], sf_dir)
    rows = QUERIES["revenue_anomalies_stl"](spark, sf_dir).collect()
    res = sorted(r["residual_x24"] for r in rows)
    n = len(res)
    med_x2 = res[(n - 1) // 2] + res[n // 2]
    devs = sorted(abs(2 * r["residual_x24"] - med_x2) for r in rows)
    mad_x4 = devs[(n - 1) // 2] + devs[n // 2]
    want = {
        r["idx"]: abs(2 * r["residual_x24"] - med_x2) * 20000
        > 22239 * mad_x4
        for r in rows
    }
    got = {r["idx"]: r["is_anomaly"] for r in rows}
    assert got == want
    assert 0 < sum(got.values()) < n / 2


def test_pipe_syntax_matches_oracle_and_classic_form(spark, sf_dir):
    """The pipe-syntax query must hash-match the classic-SQL oracle
    AND produce the identical result as the classic Spark SQL form —
    pinning that |> is pure syntax, not different semantics."""
    assert_matches_oracle(QUERIES["orders_pipe_summary"](spark, sf_dir),
                          ORACLES["orders_pipe_summary"], sf_dir)
    from saurav_nayak_recipe_etl_project_spark.plans.sqlfeatures import (
        _view,
    )

    orders = _view(spark, "orders", sf_dir)
    classic = spark.sql(f"""
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
          SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS revenue_cents,
          SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) DIV COUNT(*)
            AS avg_cents
        FROM {orders} WHERE o_orderstatus IN ('F', 'O')
        GROUP BY o_orderstatus, o_orderpriority
    """)
    got = sorted(map(tuple, QUERIES["orders_pipe_summary"](
        spark, sf_dir).collect()))
    want = sorted(map(tuple, classic.collect()))
    assert got == want and len(got) == 10


def test_backtest_matches_python(spark, sf_dir):
    """Recompute both baselines' MAE/MAPE from the month rollup in
    Python — the eval set (months with BOTH forecasts) must match."""
    from saurav_nayak_recipe_etl_project_spark.sources.catalog import (
        load_table,
    )
    from pyspark.sql import functions as F

    assert_matches_oracle(
        QUERIES["revenue_forecast_backtest"](spark, sf_dir),
        ORACLES["revenue_forecast_backtest"], sf_dir,
    )
    m = {
        r["idx"]: r["rev"]
        for r in load_table(spark, "orders", sf_dir)
        .groupBy(
            F.expr(
                "(year(cast(o_orderdate as date)) - 1970) * 12"
                " + month(cast(o_orderdate as date)) - 1"
            ).alias("idx")
        )
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
             .alias("rev"))
        .collect()
    }
    evalset = [i for i in m if i - 1 in m and i - 12 in m]
    rows = {r["method"]: r for r in
            QUERIES["revenue_forecast_backtest"](spark, sf_dir).collect()}
    for method, lag in [("naive", 1), ("seasonal_naive", 12)]:
        aes = [abs(m[i] - m[i - lag]) for i in evalset]
        apes = [abs(m[i] - m[i - lag]) * 1_000_000 // m[i] for i in evalset]
        r = rows[method]
        assert r["n_months"] == len(evalset)
        assert r["mae_cents"] == sum(aes) // len(aes)
        assert r["mape_ppm"] == sum(apes) // len(apes)


def test_recommendations_serving_table_laws(spark, sf_dir):
    """<=3 recs per anchor with contiguous ranks from 1; every rec
    pair is symmetric at the PAIR level (if (a,b) passes the support
    floor, both a and b appear as anchors somewhere); rank order
    matches (lift desc, n_ab desc, rec asc) within each anchor."""
    assert_matches_oracle(
        QUERIES["part_recommendations_topn"](spark, sf_dir),
        ORACLES["part_recommendations_topn"], sf_dir,
    )
    rows = QUERIES["part_recommendations_topn"](spark, sf_dir).collect()
    from collections import defaultdict

    per = defaultdict(list)
    for r in rows:
        per[r["part_id"]].append(r)
    for anchor, rs in per.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 3
        keys = [(-r["lift_ppm"], -r["n_ab"], r["rec_part_id"]) for r in rs]
        assert keys == sorted(keys)
    anchors = set(per)
    recs = {r["rec_part_id"] for r in rows}
    # symmetrization: every recommended part is itself an anchor
    assert recs <= anchors


def test_embedding_outliers_match_python(spark, sf_dir):
    """Recompute mean vector, dist2, median/MAD cut in Python integers
    from the raw embeddings — flags must match exactly."""
    from saurav_nayak_recipe_etl_project_spark.sources.catalog import (
        load_table,
    )

    rows = assert_matches_oracle(
        QUERIES["embedding_outliers_mad"](spark, sf_dir),
        ORACLES["embedding_outliers_mad"], sf_dir)
    vecs = {
        r["vec_id"]: [round(float(x) * 1_000_000) for x in r["embedding"]]
        for r in load_table(spark, "embeddings", sf_dir).collect()
    }
    d = len(next(iter(vecs.values())))
    n = len(vecs)
    def trunc_div(a, b):
        q = abs(a) // b
        return q if a >= 0 else -q
    mean = [trunc_div(sum(v[i] for v in vecs.values()), n) for i in range(d)]
    dist2 = {
        k: sum((v[i] - mean[i]) ** 2 for i in range(d))
        for k, v in vecs.items()
    }
    s = sorted(dist2.values())
    med_x2 = s[(n - 1) // 2] + s[n // 2]
    devs = sorted(abs(2 * x - med_x2) for x in dist2.values())
    mad_x4 = devs[(n - 1) // 2] + devs[n // 2]
    assert len(rows) == n
    for r in rows:
        assert r["dist2"] == dist2[r["vec_id"]]
        want = abs(2 * r["dist2"] - med_x2) * 20000 > 22239 * mad_x4
        assert r["is_outlier"] == want, r


def test_simhash_radius_audit_laws(spark, sf_dir):
    """Candidate and true-positive counts are monotone in the radius;
    r=0 candidates are exact-code collisions (near-identical texts),
    so their precision should be perfect on this corpus; the banded
    generator agrees with an unbanded brute-force hamming filter
    (pigeonhole losslessness, re-proven engine-independently)."""
    from pyspark.sql import functions as F

    from saurav_nayak_recipe_etl_project_spark.operators.dedup import (
        simhash,
        simhash_banded_pairs,
    )
    from saurav_nayak_recipe_etl_project_spark.sources.catalog import (
        load_table,
    )

    rows = sorted(
        assert_matches_oracle(QUERIES["simhash_radius_audit"](spark, sf_dir),
                              ORACLES["simhash_radius_audit"], sf_dir),
        key=lambda r: r["radius"])
    assert [r["radius"] for r in rows] == [0, 1, 2, 3]
    for a, b in zip(rows, rows[1:]):
        assert b["n_cand"] >= a["n_cand"] and b["n_true"] >= a["n_true"]
        assert b["recall_ppm"] >= a["recall_ppm"]
    assert rows[0]["precision_ppm"] == 1_000_000
    # losslessness: banded pair set == brute force over the codes
    docs = load_table(spark, "documents", sf_dir)
    codes = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    ids = sorted(codes)
    brute = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if bin(codes[a] ^ codes[b]).count("1") <= 3
    }
    banded = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_banded_pairs(docs).collect()
    }
    assert banded == brute


def test_event_percentiles_match_python(spark, sf_dir):
    """Recompute the type-1 quantiles in Python from the raw cents —
    per event type, p_q = sorted values[ceil(q*n) - 1]."""
    from saurav_nayak_recipe_etl_project_spark.sources.catalog import (
        load_table,
    )

    assert_matches_oracle(
        QUERIES["event_value_percentiles_exact"](spark, sf_dir),
        ORACLES["event_value_percentiles_exact"], sf_dir,
    )
    from collections import defaultdict

    vals = defaultdict(list)
    for r in (
        load_table(spark, "events", sf_dir)
        .selectExpr("event_type t", "cast(round(value * 100) as bigint) c")
        .collect()
    ):
        vals[r["t"]].append(r["c"])
    rows = {r["event_type"]: r for r in
            QUERIES["event_value_percentiles_exact"](spark, sf_dir).collect()}
    assert set(rows) == set(vals)
    for t, v in vals.items():
        v.sort()
        n = len(v)
        r = rows[t]
        assert r["n"] == n
        for q in (50, 90, 99):
            k = (n * q + 99) // 100
            assert r[f"p{q}_cents"] == v[k - 1], (t, q)
        assert r["p50_cents"] <= r["p90_cents"] <= r["p99_cents"]


def test_interpurchase_matches_python(spark, sf_dir):
    """Recompute per-segment gap medians in Python from the raw
    orders — gap set and x2-median must match exactly."""
    from collections import defaultdict

    from saurav_nayak_recipe_etl_project_spark.sources.catalog import (
        load_table,
    )

    assert_matches_oracle(
        QUERIES["customer_interpurchase_time"](spark, sf_dir),
        ORACLES["customer_interpurchase_time"], sf_dir,
    )
    orders = (
        load_table(spark, "orders", sf_dir)
        .selectExpr(
            "o_custkey",
            "o_orderkey",
            "datediff(cast(o_orderdate as date), date '1970-01-01') d",
        )
        .collect()
    )
    seg = {
        r["c_custkey"]: r["c_mktsegment"]
        for r in load_table(spark, "customer", sf_dir)
        .select("c_custkey", "c_mktsegment").collect()
    }
    per_cust = defaultdict(list)
    for r in orders:
        per_cust[r["o_custkey"]].append((r["d"], r["o_orderkey"]))
    gaps = defaultdict(list)
    for ck, ds in per_cust.items():
        ds.sort()
        for (a, _), (b, _) in zip(ds, ds[1:]):
            gaps[seg[ck]].append(b - a)
    rows = {r["c_mktsegment"]: r for r in
            QUERIES["customer_interpurchase_time"](spark, sf_dir).collect()}
    assert set(rows) == set(gaps)
    for s, g in gaps.items():
        g.sort()
        n = len(g)
        med_x2 = g[(n - 1) // 2] + g[n // 2]
        assert rows[s]["n_gaps"] == n
        assert rows[s]["median_gap_x2_days"] == med_x2


def test_backlog_aging_conservation(spark, sf_dir):
    """Band cells must partition the open-order set exactly: counts
    and cents sum to the raw open totals, bands are non-negative, and
    band_start_days = 90 * band."""
    from pyspark.sql import functions as F

    from saurav_nayak_recipe_etl_project_spark.sources.catalog import (
        load_table,
    )

    assert_matches_oracle(QUERIES["orders_backlog_aging"](spark, sf_dir),
                          ORACLES["orders_backlog_aging"], sf_dir)
    rows = QUERIES["orders_backlog_aging"](spark, sf_dir).collect()
    raw = (
        load_table(spark, "orders", sf_dir)
        .where("o_orderstatus = 'O'")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .alias("cents"),
        )
        .collect()[0]
    )
    assert sum(r["n_orders"] for r in rows) == raw["n"]
    assert sum(r["backlog_cents"] for r in rows) == raw["cents"]
    for r in rows:
        assert r["age_band"] >= 0
        assert r["band_start_days"] == 90 * r["age_band"]


def test_q11_analog_share_laws(spark, sf_dir):
    """Every emitted part's share strictly exceeds 1000 ppm (the
    cross-multiplied HAVING cut), shares are <= 1e6, and per-nation
    the emitted parts' value never exceeds the national total."""
    from collections import defaultdict

    assert_matches_oracle(QUERIES["q11_analog_supply_share"](spark, sf_dir),
                          ORACLES["q11_analog_supply_share"], sf_dir)
    rows = QUERIES["q11_analog_supply_share"](spark, sf_dir).collect()
    assert rows
    per_nation = defaultdict(int)
    for r in rows:
        assert 1000 <= r["share_ppm"] <= 1_000_000
        per_nation[r["n_name"]] += r["value_cents"]
    # emitted subtotal <= national total (reconstruct total from any
    # row's share: total >= value * 1e6 / (share+1))
    for r in rows:
        approx_total = r["value_cents"] * 1_000_000 // (r["share_ppm"] + 1)
        assert per_nation[r["n_name"]] <= approx_total * 2  # sanity bound


def test_brand_dispersion_matches_python(spark, sf_dir):
    """Recompute CV ppm in Python from the raw cents — the sqrt lane
    (single double conversion of the exact radicand) must match, and
    CV must be positive on varied prices."""
    import math
    from collections import defaultdict

    from saurav_nayak_recipe_etl_project_spark.sources.catalog import (
        load_table,
    )

    assert_matches_oracle(QUERIES["brand_price_dispersion"](spark, sf_dir),
                          ORACLES["brand_price_dispersion"], sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir)
    rows = (
        li.join(part.select("p_partkey", "p_brand"),
                li.l_partkey == part.p_partkey)
        .selectExpr("p_brand", "cast(round(l_extendedprice*100) as bigint) c")
        .collect()
    )
    per = defaultdict(list)
    for r in rows:
        per[r["p_brand"]].append(r["c"])
    got = {r["p_brand"]: r for r in
           QUERIES["brand_price_dispersion"](spark, sf_dir).collect()}
    assert set(got) == set(per)
    for b, cs in per.items():
        n, s, q = len(cs), sum(cs), sum(c * c for c in cs)
        r = got[b]
        assert r["n_items"] == n and r["mean_cents"] == s // n
        want = round(math.sqrt(float(n * q - s * s)) * 1e6 / float(s))
        assert r["cv_ppm"] == want and r["cv_ppm"] > 0


def test_wilson_bounds_match_textbook_formula(spark, sf_dir):
    """Recompute the interval with the plain float textbook Wilson
    formula — must agree within 1 ppm of the exact-radicand form
    (same math, different association order), and the interval must
    contain the point rate and stay inside [0, 1e6]."""
    import math

    assert_matches_oracle(QUERIES["daily_error_rate_wilson"](spark, sf_dir),
                          ORACLES["daily_error_rate_wilson"], sf_dir)
    rows = QUERIES["daily_error_rate_wilson"](spark, sf_dir).collect()
    assert len(rows) == 30
    z = 1.96
    for r in rows:
        n, k = r["n"], r["k"]
        p = k / n
        centre = (p + z * z / (2 * n)) / (1 + z * z / n)
        half = (z / (1 + z * z / n)) * math.sqrt(
            p * (1 - p) / n + z * z / (4 * n * n)
        )
        lo, hi = round((centre - half) * 1e6), round((centre + half) * 1e6)
        assert abs(r["wilson_lo_ppm"] - lo) <= 1, (r, lo)
        assert abs(r["wilson_hi_ppm"] - hi) <= 1, (r, hi)
        assert 0 <= r["wilson_lo_ppm"] <= r["rate_ppm"] + 1
        assert r["rate_ppm"] <= r["wilson_hi_ppm"] <= 1_000_000


def test_source_exposure_consistent_with_pair_matrix(spark, sf_dir):
    """Exposure counts must equal the distinct endpoints of the SAME
    pair set F61 rolls up, and total docs must reconcile with the
    corpus (partition law across sources)."""
    from saurav_nayak_recipe_etl_project_spark.operators.dedup import (
        lsh_verified_pairs,
    )
    from saurav_nayak_recipe_etl_project_spark.sources.catalog import (
        load_table,
    )

    rows = assert_matches_oracle(
        QUERIES["source_dup_exposure"](spark, sf_dir),
        ORACLES["source_dup_exposure"], sf_dir)
    docs = load_table(spark, "documents", sf_dir)
    assert sum(r["n_docs"] for r in rows) == docs.count()
    pairs = lsh_verified_pairs(docs).collect()
    eps = {p["doc_a"] for p in pairs} | {p["doc_b"] for p in pairs}
    assert sum(r["n_dup_docs"] for r in rows) == len(eps)
    for r in rows:
        assert 0 <= r["n_dup_docs"] <= r["n_docs"]
        assert r["exposure_ppm"] == r["n_dup_docs"] * 1_000_000 // r["n_docs"]
