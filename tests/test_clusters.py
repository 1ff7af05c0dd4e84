"""Cluster resolution: transitive near-dups (A~B, B~C) must collapse
into one cluster labeled by the minimum doc_id."""

from __future__ import annotations

import random

from saurav_nayak_recipe_etl_project_spark.operators import dedup as D
from tests.unionfind import min_labels

BASE = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi")


def test_transitive_clusters_collapse(spark):
    # 1~2 (one change), 2~3 (one more change), but 1 and 3 differ by 2
    # tokens — still one cluster via transitivity. 4 is unrelated.
    v1 = BASE
    v2 = BASE.replace("upsilon", "omega")
    v3 = v2.replace("alpha", "aleph")
    other = "totally different words about spark catalyst tungsten " * 3
    docs = spark.createDataFrame(
        [(1, v1), (2, v2), (3, v3), (4, other), (5, other + " extra")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["cluster_id"]
           for r in D.dup_clusters(docs, tau=0.5).collect()}
    assert out[1] == out[2] == out[3] == 1     # transitive collapse
    assert out[4] == out[5]                     # near-dup pair clusters
    assert out[4] != out[1]
    assert len(out) == 5


def test_clusters_match_union_find_on_chain(spark):
    """A long chain (worst case for diameter-bound propagation) must
    produce ONE component, as a pure-Python union-find over the same
    verified edges does."""
    # docs 0..9 form a chain: doc i holds blocks i..i+9, so adjacent
    # docs share 9 of 10 blocks (Jaccard ~0.82 — solidly above the LSH
    # banding's reliable-recall zone) while docs 2 apart sit at ~0.67,
    # below tau — only the chain edges survive the exact verify.
    blk = 10
    blocks = [" ".join(f"w{i}_{j}" for j in range(blk)) for i in range(19)]
    rows = [(i, " ".join(blocks[i:i + 10])) for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    edges = [(r["doc_a"], r["doc_b"])
             for r in D.lsh_verified_pairs(docs, tau=0.75).collect()]
    got = {r["doc_id"]: r["cluster_id"]
           for r in D.dup_clusters(docs, tau=0.75).collect()}
    assert got == min_labels(range(10), edges)
    assert set(got.values()) == {0}, got


def test_clusters_match_union_find_on_corpus(spark, sf_dir):
    from saurav_nayak_recipe_etl_project_spark.sources.catalog import load_table

    docs = load_table(spark, "documents", sf_dir)
    ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    edges = [(r["doc_a"], r["doc_b"])
             for r in D.lsh_verified_pairs(docs).collect()]
    got = {r["doc_id"]: r["cluster_id"]
           for r in D.dup_clusters(docs).collect()}
    assert got == min_labels(ids, edges)


def test_star_components_contracts_a_deep_permuted_path(spark):
    """A 128-node path (diameter 127 — deeper than a 50-round min-label
    loop can resolve) with randomly permuted node ids contracts to ONE
    star rooted at the minimum node, inside the default round cap."""
    order = list(range(128))
    random.Random(11).shuffle(order)
    pairs = spark.createDataFrame(list(zip(order, order[1:])),
                                  "a long, b long")
    forest = {r["a"]: r["parent"]
              for r in D.star_components(pairs).collect()}
    assert forest == {v: 0 for v in range(1, 128)}
