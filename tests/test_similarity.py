"""ANN behavior: brute-force is exact; LSH-bucketed results are a
subset of the corpus with correct per-bucket ranking and decent recall
of the true top-1 when vectors are clustered."""

from __future__ import annotations

import math
import os

import pytest

from saurav_nayak_recipe_etl_project_spark.operators import similarity as S


def _emb(spark):
    # Two tight clusters around e1 and e2 + the query vectors 0,1.
    rows = []
    for i in range(12):
        if i % 2 == 0:
            rows.append((i, [1.0, 0.01 * i, 0.0, 0.0]))
        else:
            rows.append((i, [0.0, 0.01 * i, 1.0, 0.0]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk_exact(spark):
    out = S.cosine_topk(_emb(spark), n_queries=2, k=3).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rows in by_q.items():
        assert [r["rank"] for r in sorted(rows, key=lambda r: r["rank"])] == [1, 2, 3]
        # neighbors of an even query are even (same cluster), odd are odd
        for r in rows:
            assert r["neighbor_id"] % 2 == q % 2
            assert r["cos_sim"] > 0.99


def test_ivf_recall_on_clustered_vectors(spark):
    exact = {}
    for r in S.cosine_topk(_emb(spark), n_queries=2, k=3).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx = {}
    for r in S.ivf_topk(_emb(spark), n_queries=2, k=3, n_lists=4,
                        scan_frac=0.5).collect():
        approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    # a half-corpus probe budget on a 2-cluster corpus must recover
    # most of the exact top-k
    for q, want in exact.items():
        got = approx.get(q, set())
        assert len(got & want) >= 2, (q, got, want)


def test_ivf_longer_training_improves_or_matches(spark):
    exact = {}
    for r in S.cosine_topk(_emb(spark), n_queries=2, k=3).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    refined = {}
    for r in S.ivf_topk(_emb(spark), n_queries=2, k=3, n_lists=4,
                        scan_frac=0.5, train_iters=14).collect():
        refined.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for q, want in exact.items():
        assert len(refined.get(q, set()) & want) >= 2


def test_lsh_bucket_results_are_ranked_subset(spark):
    exact = {(r["query_id"], r["neighbor_id"])
             for r in S.cosine_topk(_emb(spark), n_queries=2, k=3).collect()}
    approx = S.lsh_bucketed_topk(_emb(spark), n_queries=2, k=3).collect()
    for r in approx:
        assert r["rank"] >= 1
        assert not math.isnan(r["cos_sim"])
    # same-bucket neighbors of a clustered query come from its cluster
    hits = {(r["query_id"], r["neighbor_id"]) for r in approx}
    assert hits & exact, "LSH should recover at least part of the exact top-k"


def test_recall_at_k_values_and_determinism(spark, sf_dir):
    """recall@k rows: one per method, in [0,1], deterministic across
    runs (hash-derived planes/centroids, id tiebreaks)."""
    from saurav_nayak_recipe_etl_project_spark.sources.catalog import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    r1 = {r["method"]: r["recall_at_k"]
          for r in S.recall_at_k(emb).collect()}
    r2 = {r["method"]: r["recall_at_k"]
          for r in S.recall_at_k(emb).collect()}
    assert set(r1) == {"lsh_bucketed", "ivf", "pq", "ivfpq", "hnsw"}
    assert r1 == r2
    for v in r1.values():
        assert 0.0 <= v <= 1.0
    # assert against RECALL_FLOORS itself (the driver's bounds oracle):
    # a drop below these is a real regression, not tuning noise — and
    # the floors hold at EVERY sf this suite may be pointed at, so no
    # method gets a fixture-only margin baked into the test (pq at
    # sf0.1 measures 0.70; a hard-coded 0.8 would fail on tuning noise)
    for method, floor in S.RECALL_FLOORS.items():
        assert r1[method] >= floor, (method, r1[method], floor)


def test_nsw_graph_is_connected_and_bounded_degree(spark):
    """The routing graph must be searchable: connected from the entry
    node and with the pruned degree bound respected."""
    import numpy as np

    rng = np.random.default_rng(7)
    X = rng.standard_normal((200, 16))
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    adj = S._build_nsw(X, m_edges=6)
    assert all(len(a) <= 12 for a in adj)
    seen = {0}
    stack = [0]
    while stack:
        u = stack.pop()
        for v in adj[u]:
            if v not in seen:
                seen.add(int(v))
                stack.append(int(v))
    assert len(seen) == 200


def test_nsw_beam_search_finds_near_exact_nodes(spark):
    """Beam search over the graph must recover most of the true top-10
    sample nodes without scanning all of them."""
    import numpy as np

    rng = np.random.default_rng(11)
    X = rng.standard_normal((300, 16))
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    adj = S._build_nsw(X, m_edges=8)
    q = X[123] + 0.05 * rng.standard_normal(16)
    q = q / np.linalg.norm(q)
    routed = S._beam_search(adj, X, q, ef=64)
    exact10 = set(np.argsort(-(X @ q))[:10].tolist())
    assert len(exact10 & set(routed[:32])) >= 7


def test_hnsw_topk_is_ranked_subset_of_corpus(spark, sf_dir):
    from saurav_nayak_recipe_etl_project_spark.sources.catalog import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    rows = S.hnsw_topk(emb).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        ranks = sorted(r["rank"] for r in rs)
        assert ranks == list(range(1, len(rs) + 1))
        sims = [r["cos_sim"] for r in sorted(rs, key=lambda r: r["rank"])]
        assert sims == sorted(sims, reverse=True)
        # soft assignment must not leak duplicate neighbors
        ids = [r["neighbor_id"] for r in rs]
        assert len(ids) == len(set(ids))
        assert q not in ids


def test_hnsw_hierarchy_levels_and_descent(spark):
    """Multi-layer HNSW invariants: deterministic geometric levels,
    upper layers nested subsets of lower ones, entry at the top level,
    and greedy descent + beam matching the brute-force top-1 over the
    sample for most queries (routing quality, not an exactness
    contract)."""
    import numpy as np

    lv1 = S._node_levels(1024, 8)
    lv2 = S._node_levels(1024, 8)
    assert (lv1 == lv2).all()
    # geometric decay: each level keeps roughly 1/8 of the previous
    n0, n1 = (lv1 >= 0).sum(), (lv1 >= 1).sum()
    assert n0 == 1024 and 60 <= n1 <= 220

    rng = np.random.default_rng(11)
    X = rng.standard_normal((400, 16))
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    adj0, upper, entry = S._build_hnsw(X, m_edges=6)
    levels = S._node_levels(len(X), 6)
    assert levels[entry] == levels.max()
    for li, layer in enumerate(upper, start=1):
        assert set(layer) == set(np.where(levels >= li)[0].tolist())
        for i, nb in layer.items():
            assert all(levels[j] >= li for j in nb)

    hits = 0
    for qi in range(40):
        q = X[qi]
        e0 = S._hnsw_descend(upper, X, q, entry)
        got = S._beam_search(adj0, X, q, ef=64, entry=e0)
        true_best = int(np.lexsort((np.arange(len(X)), -(X @ q)))[0])
        hits += true_best in got[:5]
    assert hits >= 38


@pytest.mark.parametrize("method", ["ivf_topk", "search_index"])
def test_full_probe_matches_exact_topk(spark, sf_dir, tmp_path, method):
    """With every list probed, the probed scan and per-query ranking
    return the exact top-k: the same (query, neighbor, rank) rows as
    cosine_topk, with cos_sim equal to within 1e-6."""
    from saurav_nayak_recipe_etl_project_spark.operators import (
        vector_index as V,
    )
    from saurav_nayak_recipe_etl_project_spark.sources.catalog import load_table

    # the sf0.01 corpus, one scale up from the suite default
    sf001 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    emb = load_table(spark, "embeddings", sf001)
    if method == "ivf_topk":
        approx = S.ivf_topk(emb, scan_frac=1.0)
    else:
        c = V.train_centroids(emb)
        V.build_index(emb, str(tmp_path / "idx"), c)
        q_ids, q_mat = S._load_queries(
            emb.select("vec_id", S._as_double("embedding").alias("v")),
            S.N_QUERIES)
        approx = V.search_index(spark, str(tmp_path / "idx"), q_ids, q_mat,
                                c, n_probe=V.N_LISTS)
    got = sorted(map(tuple, approx.collect()))
    want = sorted(map(tuple, S.cosine_topk(emb).collect()))
    assert [(q, n, r) for q, n, _, r in got] == \
        [(q, n, r) for q, n, _, r in want]
    for g, w in zip(got, want):
        assert abs(g[2] - w[2]) <= 1e-6, (g, w)


def test_no_query_vectors_raise_naming_n_queries(spark):
    """A corpus with no vec_id below n_queries has no queries to rank:
    the query load says so instead of failing inside np.stack."""
    rows = [(i, [1.0, 0.01 * i, 0.0, 0.0]) for i in range(10, 22)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for fn in (S.cosine_topk, S.recall_at_k):
        with pytest.raises(ValueError, match="n_queries=10"):
            fn(emb)


def test_one_vector_corpus_has_no_neighbours(spark):
    """A corpus whose only vector is a query has no neighbours. Every
    method returns no rows, although the soft assignments ask for more
    cells than the one-row sample holds, and recall_at_k reports a
    defined 0.0 per method."""
    from saurav_nayak_recipe_etl_project_spark.operators.semdedup import (
        semantic_dup_pairs,
    )

    emb = spark.createDataFrame([(0, [1.0] + [0.5] * 63)],
                                "vec_id long, embedding array<float>")
    for fn in (S.cosine_topk, S.lsh_bucketed_topk, S.ivf_topk, S.pq_topk,
               S.ivfpq_topk, S.hnsw_topk, semantic_dup_pairs):
        assert fn(emb).collect() == [], fn.__name__
    got = {r["method"]: r["recall_at_k"] for r in S.recall_at_k(emb).collect()}
    assert got == {m: 0.0 for m in S.RECALL_FLOORS}
