"""Persistent IVF vector index as a PARTITIONED PARQUET TABLE, plus
incremental index maintenance.

The 100 TB serving design made concrete in Spark storage terms: the
inverted lists of an IVF index are exactly a hive partition layout
(`index_path/list_id=K/...`), so

- BUILD is one assignment pass (broadcast centroid matmul per Arrow
  batch) + one partitioned write;
- SEARCH is a PARTITION-PRUNED scan: a query's probed lists become a
  `list_id IN (...)` filter that Spark resolves to directory pruning —
  only n_probe of n_lists directories are ever opened (asserted on
  real file-read metrics in tests/test_vector_index.py);
- INCREMENTAL ADDS (`_add_batch`, a foreachBatch body) append
  `batch_id=N`-subdir overwrites inside each touched list dir —
  idempotent under replay, O(batch) written bytes, and the search
  path picks new vectors up with no index rebuild (centroids stay
  fixed, the standard FAISS add-with-ids contract).

Registry entries are verification gates in the round-6 style:
`ann_index_stream_batch` replays the corpus through the streaming
assigner in two batches and pins per-vector agreement with the batch
build; the partitioned-search path pins per-query recall floors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from saurav_nayak_recipe_etl_project_spark.functions.cachereg import scratch_dir
from saurav_nayak_recipe_etl_project_spark.operators.similarity import (
    N_QUERIES,
    TOP_K,
    _as_double,
    _assign_cells,
    _hash_sample,
    _load_queries,
    _probed_scores,
    _top_k,
    _train_coarse_centroids,
)
from saurav_nayak_recipe_etl_project_spark.sources.catalog import load_table
from saurav_nayak_recipe_etl_project_spark.streaming import key_batches

N_LISTS = 16
N_TRAIN = 2048
TRAIN_ITERS = 10


def train_centroids(emb: DataFrame, n_lists: int = N_LISTS):
    """Deterministic coarse centroids for the index (shared recipe
    with similarity.ivf_topk): driver-side k-means on the bounded
    xxhash64 sample. Returns a normalized (n_lists, dim) numpy
    matrix — the fixed quantizer every index operation shares."""
    e = emb.select("vec_id", _as_double("embedding").alias("v"))
    return _train_coarse_centroids(_hash_sample(e, N_TRAIN), n_lists,
                                   TRAIN_ITERS)


def assign_lists(emb: DataFrame, c_mat) -> DataFrame:
    """(vec_id, v, list_id) — nearest-centroid assignment, one
    broadcast matmul per Arrow batch; the map side of every index
    operation."""
    return _assign_cells(
        emb.select("vec_id", _as_double("embedding").alias("v")), c_mat,
        "list_id")


def build_index(emb: DataFrame, index_path: str, c_mat=None) -> None:
    """One-pass index build: assignment + partitioned write. At any
    corpus size this is a single scan and a single shuffle-free write
    (partitionBy on a map-computed column)."""
    if c_mat is None:
        c_mat = train_centroids(emb)
    assign_lists(emb, c_mat).write.mode("overwrite").partitionBy(
        "list_id"
    ).parquet(index_path)


def search_index(spark: SparkSession, index_path: str, q_ids, q_mat,
                 c_mat, k: int = TOP_K, n_probe: int = 6) -> DataFrame:
    """Partition-pruned probed search: the probed list ids become an
    IN-filter on the partition column, so the scan opens only n_probe
    of n_lists directories (directory-level pruning, no file touched
    outside the probe set — the IVF scan-cost win expressed purely in
    storage layout). Scoring is the broadcast query matmul; top-k is
    the per-query window."""
    import numpy as np

    order = np.argsort(-(q_mat @ c_mat.T), axis=1)
    probes = np.zeros(order.shape, dtype=bool)
    np.put_along_axis(probes, order[:, :n_probe], True, axis=1)
    idx = spark.read.parquet(index_path).filter(
        F.col("list_id").isin(np.flatnonzero(probes.any(axis=0)).tolist())
    )
    return _top_k(_probed_scores(idx, "list_id", q_ids, q_mat, probes), k)


def _add_batch(spark: SparkSession, batch_df: DataFrame, batch_id: int,
               index_path: str, c_mat) -> None:
    """One micro-batch of incremental adds: assign against the FIXED
    centroids, then overwrite this batch's own subdir inside each
    touched list partition — `list_id=K/batch_id=N/` — so replaying a
    batch rewrites identical files instead of duplicating vectors
    (same idempotency design as streaming/doc_dedup)."""
    assigned = assign_lists(batch_df, c_mat)
    (
        assigned.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .partitionBy("list_id", "batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(index_path)
    )


def ann_index_stream_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-vs-batch index equality gate, hash-verifiable
    (replay-equality oracle, the dedup_stream_lsh_batch pattern):
    replays the corpus through the incremental add path (_add_batch)
    as two vec_id-ordered batches into a real partitioned index dir,
    then emits per-vector `agree` = (streamed list assignment == the
    one-pass batch build's). The oracle pins TRUE for every vec_id:
    any drift between incremental adds and a fresh build (assignment
    nondeterminism, partition-overwrite bug, replay duplication) goes
    RED at the driver. Assignment is a pure function of (vector,
    fixed centroids), so exact equality is the correct bar."""
    emb = load_table(spark, "embeddings", sf_dir)
    c_mat = train_centroids(emb)
    tmp = scratch_dir("vec_index_replay_")
    first, second = key_batches(emb, "vec_id", 2)
    _add_batch(spark, first, 0, f"{tmp}/stream_index", c_mat)
    _add_batch(spark, second, 1, f"{tmp}/stream_index", c_mat)
    streamed = spark.read.parquet(f"{tmp}/stream_index").select(
        "vec_id", F.col("list_id").alias("s_list")
    )
    batch = assign_lists(emb, c_mat).select(
        "vec_id", F.col("list_id").alias("b_list")
    )
    return batch.join(streamed, "vec_id", "full").select(
        "vec_id",
        (F.col("s_list").isNotNull() & F.col("b_list").isNotNull()
         & (F.col("s_list") == F.col("b_list"))).alias("agree"),
    )


def ann_index_partitioned_search(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Partition-pruned index search gate, hash-verifiable (per-query
    bounds oracle): builds the partitioned index, searches the demo
    queries through the pruned-scan path, and emits (query_id,
    recall_ok) vs the exact top-k at the shared per-query floor. The
    directory-pruning property itself (files read ⊆ probed list dirs)
    is asserted on real scan metrics in tests/test_vector_index.py."""
    from saurav_nayak_recipe_etl_project_spark.operators.similarity import (
        PER_QUERY_RECALL_FLOOR,
        _per_query_recall_ok,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    c_mat = train_centroids(emb)
    tmp = scratch_dir("vec_index_search_")
    build_index(emb, f"{tmp}/index", c_mat)
    q_ids, q_mat = _load_queries(
        emb.select("vec_id", _as_double("embedding").alias("v")), N_QUERIES)
    hits = search_index(spark, f"{tmp}/index", q_ids, q_mat, c_mat)
    return _per_query_recall_ok(emb, hits, PER_QUERY_RECALL_FLOOR["ivf"])


VECTOR_INDEX_QUERIES = {
    "ann_index_stream_batch": ann_index_stream_batch,
    "ann_index_partitioned_search": ann_index_partitioned_search,
}

VECTOR_INDEX_ORACLES = {
    # replay-equality: incremental adds must reproduce the batch build
    "ann_index_stream_batch":
        "SELECT vec_id, TRUE AS agree FROM embeddings",
    # per-query bounds: the pruned-scan search holds the shared floor
    "ann_index_partitioned_search": f"""
        SELECT vec_id AS query_id, TRUE AS recall_ok
        FROM embeddings WHERE vec_id < {N_QUERIES}
    """,
}
