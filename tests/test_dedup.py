"""Behavioral tests for the non-oracle-able dedup operators: plant
exact and near duplicates and assert they are found."""

from __future__ import annotations

from pyspark.sql import functions as F

from saurav_nayak_recipe_etl_project_spark.operators import dedup as D

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside"
)
NEAR = BASE.replace("garden", "meadow")  # one-token perturbation
OTHER = (
    "completely different content about spark query engines and their "
    "catalyst optimizer rules for predicate pushdown and column pruning"
)


def _docs(spark):
    return spark.createDataFrame(
        [(1, BASE), (2, BASE), (3, NEAR), (4, OTHER)],
        "doc_id long, text string",
    )


def test_exact_dedup_groups_identical(spark):
    out = {r["text_hash"]: r for r in D.exact_duplicates(_docs(spark)).collect()}
    by_copies = sorted(r["n_copies"] for r in out.values())
    assert by_copies == [1, 1, 2]
    dup = next(r for r in out.values() if r["n_copies"] == 2)
    assert dup["keeper_id"] == 1


def test_ngram_jaccard_finds_near_dup(spark):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in D.ngram_jaccard_pairs(_docs(spark), tau=0.3).collect()}
    assert pairs[(1, 2)] == 1.0           # identical
    assert 0.5 < pairs[(1, 3)] < 1.0      # near dup
    assert (1, 4) not in pairs            # unrelated


def test_minhash_lsh_finds_near_dup(spark):
    pairs = {(r["doc_a"], r["doc_b"]): r["est_jaccard"]
             for r in D.minhash_lsh_pairs(_docs(spark), tau=0.3).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs
    assert (1, 4) not in pairs


def test_lsh_verified_matches_exact_for_high_sim(spark, sf_dir):
    """Two-stage LSH-verified pairs must report the exact jaccard for
    every pair they surface, and recover all high-similarity pairs."""
    from saurav_nayak_recipe_etl_project_spark.sources.catalog import load_table

    docs = load_table(spark, "documents", sf_dir)
    # max_df_pct=None: lsh_verified reports UN-pruned exact jaccard, so
    # the comparison baseline must be the un-pruned shingle space too
    exact = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in D.ngram_jaccard_pairs(docs, tau=0.5,
                                            max_df_pct=None).collect()}
    staged = {(r["doc_a"], r["doc_b"]): r["jaccard"]
              for r in D.lsh_verified_pairs(docs, tau=0.5).collect()}
    for pair, j in staged.items():
        assert exact[pair] == j          # verified jaccard is exact
    high = {p for p, j in exact.items() if j >= 0.7}
    assert high <= set(staged), "missed high-similarity pair"


def test_simhash_near_means_close(spark):
    hashes = {r["doc_id"]: r["simhash"] for r in D.simhash(_docs(spark)).collect()}
    assert hashes[1] == hashes[2]

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert hamming(hashes[1], hashes[3]) < hamming(hashes[1], hashes[4])
    assert hamming(hashes[1], hashes[3]) <= 8


def test_embedding_pairs_threshold(spark):
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.99, 0.1, 0.0]),   # ~same direction
            (3, [0.0, 1.0, 0.0]),    # orthogonal
        ],
        "vec_id long, embedding array<float>",
    )
    pairs = {(r["id_a"], r["id_b"]) for r in
             D.embedding_dup_pairs(emb, tau=0.9).collect()}
    assert pairs == {(1, 2)}


def test_bucketed_embedding_pairs_are_exact_subset(spark, sf_dir):
    """LSH-bucketed pairs report the exact cosine for every pair they
    surface (subset of exact pairs, useful recall on clustered data)."""
    from saurav_nayak_recipe_etl_project_spark.sources.catalog import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    exact = {(r["id_a"], r["id_b"]): r["cos_sim"]
             for r in D.embedding_dup_pairs(emb, tau=0.3).collect()}
    bucketed = {(r["id_a"], r["id_b"]): r["cos_sim"]
                for r in D.embedding_dup_pairs_bucketed(emb, tau=0.3).collect()}
    assert set(bucketed) <= set(exact)
    for pair, sim in bucketed.items():
        assert exact[pair] == sim
    assert len(bucketed) >= len(exact) // 2, "bucket recall collapsed"
