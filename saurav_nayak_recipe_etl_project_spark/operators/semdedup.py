"""Semantic deduplication, SemDeDup-shape (Abbas et al., 2023):
k-means-cluster the embedding space, then search for near-duplicate
pairs only WITHIN a cluster.

This is the third blocking scheme in the dedup family and the one the
LLM-data literature actually ships: exact blocking (dedup_exact),
locality-hash blocking (hyperplane LSH, dedup_embedding), and here
density-adaptive blocking — centroids trained on the corpus tile the
real data density, so semantically close vectors land in the same
block even when a fixed random hyperplane would split them.

Scale shape (the SemDeDup paper runs this at LAION/CC scale):
- centroid training is driver-side k-means on the bounded
  content-hash sample (O(n_train) at any corpus size — the exact
  machinery the IVF index uses, similarity.py);
- assignment is one broadcast-matmul pass (mapInPandas, Arrow
  batches);
- pair generation is cluster-local applyInPandas — never a global
  cross-join; per-task memory is one cluster ≈ N/K vectors, tuned by
  n_clusters exactly like IVF list size;
- soft top-2 assignment (n_assign=2) is the standard boundary-pair
  fix: a pair straddling one boundary still co-occurs in the
  runner-up cluster; candidates are de-duplicated afterwards.

Registered gate: `dedup_semantic` — the same bounds-oracle form as
`dedup_embedding` (n_exact_pairs value-verified against the oracle's
own O(n²) SQL; recall floored; precision pinned zero-false-pairs,
which exact in-cluster cosine guarantees), but gating the ENSEMBLE
blocking (cluster-local ∪ hyperplane-LSH). Why: this corpus's
embeddings are isotropic (same-label mean cosine 0.002 — measured),
so tau=0.3 pairs are chance tail pairs with no cluster structure for
density-adaptive blocking to exploit; cluster blocking alone recalls
0.54-0.63 and angle-based LSH 0.69-0.71, while their union reaches
0.855-0.889 at every SF — the two schemes fail on DIFFERENT pairs
(clusters catch locally-dense ones, hyperplanes the isotropic tail),
which is exactly why production dedup stacks run several blockers.
The pure semantic path is pinned separately by planted-cluster tests
(tests/test_semdedup.py) where the structure it needs exists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from saurav_nayak_recipe_etl_project_spark.sources.catalog import load_table

TAU = 0.3
N_CLUSTERS = 16
N_ASSIGN = 2       # soft assignment: top-2 nearest centroids
N_TRAIN = 2048
TRAIN_ITERS = 10
# Measured ensemble (cluster ∪ LSH) recall vs the exact tau=0.3 pair
# set: 0.889 / 0.884 / 0.855 at sf0.001 / 0.01 / 0.1 (deterministic —
# no RNG anywhere, so these are fixed values, not distributions).
ENSEMBLE_RECALL_FLOOR = 0.8


def semantic_dup_pairs(emb: DataFrame, tau: float = TAU,
                       n_clusters: int = N_CLUSTERS,
                       n_assign: int = N_ASSIGN,
                       n_train: int = N_TRAIN,
                       train_iters: int = TRAIN_ITERS) -> DataFrame:
    """(id_a, id_b, cos_sim) candidate near-dup pairs, cluster-local.

    Every emitted pair is exact-verified (cosine computed on the raw
    vectors inside the cluster task), so precision is 1.0 by
    construction; recall < 1 only when a pair's two vectors share no
    cluster among their top-`n_assign` assignments."""
    import numpy as np
    import pandas as pd

    from saurav_nayak_recipe_etl_project_spark.operators.similarity import (
        _as_double,
        _assign_cells,
        _hash_sample,
        _train_coarse_centroids,
    )

    e = emb.select("vec_id", _as_double("embedding").alias("v"))
    c_mat = _train_coarse_centroids(_hash_sample(e, n_train), n_clusters,
                                    train_iters)
    assigned = _assign_cells(e, c_mat, "cluster", n_assign)

    def pair_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        mat = np.stack(pdf["v"].to_numpy())
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        sims = mat @ mat.T
        ai, aj = np.nonzero((sims >= tau) & (ids[:, None] < ids[None, :]))
        return pd.DataFrame(
            {"id_a": ids[ai], "id_b": ids[aj],
             "cos_sim": np.round(sims[ai, aj], 6)}
        )

    return (
        assigned.groupBy("cluster")
        .applyInPandas(pair_cluster,
                       schema="id_a long, id_b long, cos_sim double")
        .dropDuplicates(["id_a", "id_b"])
    )


def ensemble_dup_pairs(emb: DataFrame, tau: float = TAU) -> DataFrame:
    """Union of the two blocking schemes (cluster-local ∪
    hyperplane-LSH bucketed), de-duplicated. Every constituent pair is
    exact-verified inside its block, so the union's precision is 1.0;
    union recall is the complement of pairs BOTH schemes miss —
    measured +0.16-0.19 over the best single scheme on this corpus
    (module docstring)."""
    from saurav_nayak_recipe_etl_project_spark.operators.dedup import (
        embedding_dup_pairs_bucketed,
    )

    return (
        semantic_dup_pairs(emb, tau=tau)
        .unionByName(embedding_dup_pairs_bucketed(emb, tau=tau))
        .dropDuplicates(["id_a", "id_b"])
    )


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic ensemble-dedup quality gate, hash-verifiable (bounds
    oracle): one row (n_exact_pairs, recall_ok, precision_ok)
    comparing the ensemble (cluster ∪ LSH) pair set against the exact
    cosine-threshold pair set. n_exact_pairs is value-verified
    against the oracle's own exact count; recall_ok floors ensemble
    recall at ENSEMBLE_RECALL_FLOOR; precision_ok asserts ZERO
    blocked pairs outside the exact set. Raw production pairs:
    `ensemble_dup_pairs()` / `semantic_dup_pairs()`."""
    from saurav_nayak_recipe_etl_project_spark.operators.dedup import (
        embedding_dup_pairs,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    exact = embedding_dup_pairs(emb).select(
        "id_a", "id_b").withColumn("_e", F.lit(1))
    sem = ensemble_dup_pairs(emb).select(
        "id_a", "id_b").withColumn("_s", F.lit(1))
    both = exact.join(sem, ["id_a", "id_b"], "full")
    n_exact = F.sum(F.coalesce(F.col("_e"), F.lit(0)))
    n_hit = F.sum(
        F.when(F.col("_e").isNotNull() & F.col("_s").isNotNull(), 1)
        .otherwise(0)
    )
    n_false = F.sum(
        F.when(F.col("_e").isNull() & F.col("_s").isNotNull(), 1).otherwise(0)
    )
    return both.agg(
        n_exact.cast("long").alias("n_exact_pairs"),
        (n_hit >= F.lit(ENSEMBLE_RECALL_FLOOR) * n_exact)
        .alias("recall_ok"),
        (n_false == 0).alias("precision_ok"),
    )


SEMDEDUP_QUERIES = {
    "dedup_semantic": dedup_semantic,
}

SEMDEDUP_ORACLES = {
    # Same bounds-oracle form as dedup_embedding: the exact-pair count
    # is value-verified; the gate booleans are pinned TRUE.
    "dedup_semantic": """
        WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
               TRUE AS recall_ok, TRUE AS precision_ok
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.v, b.v) /
              (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
              >= 0.3
    """,
}
