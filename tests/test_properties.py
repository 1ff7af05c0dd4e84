"""Invariant tests over seeded-random corpora (one Spark job per
property, 200 docs each — the cheap version of property-based testing
that still catches semantic regressions)."""

from __future__ import annotations

import random

from saurav_nayak_recipe_etl_project_spark.operators import dedup as D
from saurav_nayak_recipe_etl_project_spark.operators import text as T
from tests.unionfind import min_labels

VOCAB = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
         "lambda mu nu xi omicron pi rho sigma tau upsilon").split()


def _random_docs(spark, n=200, seed=7):
    rng = random.Random(seed)
    rows = [
        (i, " ".join(rng.choices(VOCAB, k=rng.randint(0, 40))))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_partitions_corpus(spark):
    docs = _random_docs(spark)
    out = D.exact_duplicates(docs).collect()
    assert sum(r["n_copies"] for r in out) == docs.count()
    assert all(r["n_copies"] >= 1 for r in out)


def test_jaccard_pairs_bounded_and_ordered(spark):
    docs = _random_docs(spark, n=80)
    pairs = D.ngram_jaccard_pairs(docs, tau=0.0).collect()
    for r in pairs:
        assert r["doc_a"] < r["doc_b"]
        assert 0.0 < r["jaccard"] <= 1.0


def test_minhash_estimate_tracks_exact_jaccard(spark):
    docs = _random_docs(spark, n=60)
    exact = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in D.ngram_jaccard_pairs(docs, tau=0.0).collect()}
    est = {(r["doc_a"], r["doc_b"]): r["est_jaccard"]
           for r in D.minhash_lsh_pairs(docs, tau=0.5).collect()}
    # every confident LSH pair must have materially-similar exact jaccard
    for pair, e in est.items():
        assert exact.get(pair, 0.0) > 0.15, (pair, e, exact.get(pair))


def test_approx_percentile_tracks_exact(spark, sf_dir):
    from saurav_nayak_recipe_etl_project_spark.plans.advanced import (
        price_quantiles,
        price_quantiles_approx,
    )

    from pyspark.sql import functions as F

    from saurav_nayak_recipe_etl_project_spark.sources.catalog import load_table

    # the registry query is the rank-bound check: every segment must
    # report the sketch value inside its guaranteed rank interval
    for r in price_quantiles_approx(spark, sf_dir).collect():
        assert r["p50_ok"] and r["p90_ok"], r

    # raw sketch values still track the exact quantiles within 5%
    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    raw = (
        orders.join(F.broadcast(customer),
                    orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.expr("approx_percentile(o_totalprice, 0.5, 1000)").alias("p50"),
            F.expr("approx_percentile(o_totalprice, 0.9, 1000)").alias("p90"),
        )
    )
    exact = {r["c_mktsegment"]: (r["p50"], r["p90"])
             for r in price_quantiles(spark, sf_dir).collect()}
    approx = {r["c_mktsegment"]: (r["p50"], r["p90"])
              for r in raw.collect()}
    for seg, (e50, e90) in exact.items():
        a50, a90 = approx[seg]
        assert abs(a50 - e50) / e50 < 0.05
        assert abs(a90 - e90) / e90 < 0.05


def test_csv_lake_typed_roundtrip(spark, sf_dir, tmp_path):
    from saurav_nayak_recipe_etl_project_spark.sources import sinks
    from saurav_nayak_recipe_etl_project_spark.sources.catalog import load_table

    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    sinks.write_csv_lake(orders, str(tmp_path / "orders"))
    back = sinks.read_csv_lake(
        spark, str(tmp_path / "orders"),
        "o_orderkey long, o_custkey long, o_totalprice double, o_orderstatus string",
    )
    assert back.schema == orders.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, orders.collect()))


def test_token_count_invariants(spark, sf_dir):
    rows = T.text_token_count(spark, sf_dir).collect()
    for r in rows:
        assert r["ws_tokens"] >= 0
        assert r["bpe_tokens"] >= r["ws_tokens"]  # pieces only split further


def test_quality_score_in_unit_interval(spark, sf_dir):
    for r in T.text_quality(spark, sf_dir).collect():
        assert 0.0 <= r["quality_score"] <= 1.0
        assert 0.0 <= r["punct_ratio"] <= 1.0
        assert 0.0 <= r["stopword_ratio"] <= 1.0


def test_simhash_matches_reference_python(spark):
    """The portable simhash must equal an independent pure-python
    computation of the same spec (md5-derived 60-bit token hash,
    frequency-weighted sign sum) — pinning the cross-engine contract
    the SQL oracle relies on."""
    import hashlib
    from collections import Counter

    docs = _random_docs(spark, n=40, seed=11)
    got = {r["doc_id"]: r["simhash"] for r in D.simhash(docs).collect()}
    for row in docs.collect():
        toks = row["text"].strip().split() if row["text"].strip() else [""]
        weights = Counter(toks)
        bits = [0] * D.SIMHASH_BITS
        for tok, w in weights.items():
            h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
            for j in range(D.SIMHASH_BITS):
                bits[j] += w if (h >> j) & 1 else -w
        want = sum(1 << j for j in range(D.SIMHASH_BITS) if bits[j] > 0)
        assert got[row["doc_id"]] == want, row["doc_id"]


def test_morton_code_is_bijective_on_grid(spark):
    from pyspark.sql import functions as F

    from saurav_nayak_recipe_etl_project_spark.operators import layout as L

    grid = spark.createDataFrame(
        [(a, b) for a in range(32) for b in range(32)], "a int, b int"
    ).select(L.morton_code(F.col("a"), F.col("b")).alias("z"))
    zs = [r["z"] for r in grid.collect()]
    assert len(set(zs)) == 32 * 32          # injective on the grid
    assert min(zs) == 0 and max(zs) == 1023  # onto [0, 2^10)


def test_pagerank_mass_never_exceeds_scale(spark):
    import random as _r

    from saurav_nayak_recipe_etl_project_spark.operators import graph as G

    rng = _r.Random(3)
    edges = list({(rng.randrange(50), rng.randrange(50)) for _ in range(300)})
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")
    pr = G.pagerank_fixed_point(df).collect()
    total = sum(r["pr_micro"] for r in pr)
    # floor divisions only ever LEAK mass — never create it
    assert total <= G.PR_SCALE
    assert all(r["pr_micro"] >= 0 for r in pr)


def test_segment_dedup_conservation_on_random_corpus(spark):
    """Invariants on a seeded-random corpus: (1) total kept segments ==
    number of DISTINCT segments in the corpus; (2) per-doc kept <=
    total; (3) a doc's kept_text tokens are a sub-multiset appearing in
    its original text in order."""
    from saurav_nayak_recipe_etl_project_spark.operators.linedup import (
        segment_dedup,
    )

    docs = _random_docs(spark, n=120, seed=13)
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    segs_global = set()
    for t in texts.values():
        toks = t.split() if t.strip() else [""]
        if not t.strip():
            toks = [""]
        for i in range(0, len(toks), 10):
            segs_global.add(" ".join(toks[i:i + 10]))
    out = segment_dedup(docs).collect()
    assert sum(r["n_kept"] for r in out) == len(segs_global)
    for r in out:
        assert 0 <= r["n_kept"] <= r["n_segments"]
        if r["kept_text"]:
            # kept segments appear in original order
            orig = texts[r["doc_id"]].split()
            kept = r["kept_text"].split()
            it = iter(orig)
            assert all(tok in it for tok in kept), r["doc_id"]


def test_twa_bounded_by_min_max_value(spark):
    """TWA lies in [min, max] of the user's interval-weighted values."""
    import datetime as dt
    import random as _r

    from saurav_nayak_recipe_etl_project_spark.plans.temporal import (
        event_time_weighted_avg,
    )

    rng = _r.Random(3)
    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for uid in range(20):
        t = base
        for _ in range(rng.randint(2, 15)):
            t += dt.timedelta(seconds=rng.randint(1, 5000))
            rows.append((eid, t, uid, "view", round(rng.uniform(0, 50), 2), "{}"))
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        df.coalesce(1).write.mode("overwrite").parquet(f"{td}/events.parquet")
        out = event_time_weighted_avg(spark, td).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r[2], []).append(r[4])
    for r in out:
        vals = by_user[r["user_id"]][:-1]  # last event carries no weight
        assert min(vals) - 1e-9 <= r["twa_value"] <= max(vals) + 1e-9


def test_star_cc_labels_are_component_minima(spark):
    """On a seeded random graph, every cluster label must equal the min
    doc_id of its component (checked against a pure-python union-find)."""
    docs = _random_docs(spark, n=100, seed=23)
    edges = [(r["doc_a"], r["doc_b"])
             for r in D.lsh_verified_pairs(docs, tau=0.5).collect()]
    got = {r["doc_id"]: r["cluster_id"]
           for r in D.dup_clusters(docs, tau=0.5).collect()}
    assert got == min_labels(range(100), edges)
