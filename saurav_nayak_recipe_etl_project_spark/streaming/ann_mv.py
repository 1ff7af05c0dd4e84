"""Incrementally-maintained IVF ANN index (G25): the similarity-search
counterpart of the pair MV (streaming/pair_mv.py) — embedding drops
keep a coarse-quantized posting-list index current by foreachBatch
maintenance, and nearest-neighbor queries are SERVED from the index
state instead of re-scanning the corpus.

Re-hosts the reference's event-driven refresh trigger
(cloud_function/main.py — new data lands, the derived table refreshes)
at the vector-index layer, in the G9/G24 IVM idiom.

Relation to operators/vector_index.py (the float IVF index): that
module is the throughput path — float centroids trained on a hash
sample, recall-floor verification gates (float math is not
cross-engine hash-verifiable). THIS module is its strict-value twin,
the operators/kmeans.py treatment applied to index maintenance:
micro-quantized int64 vectors, a content-keyed deterministic
quantizer, and exact integer distances make the ENTIRE
maintain-then-serve path value-verifiable against a DuckDB replay —
the same floor-vs-hash relationship ann_ivf_topk has to
embedding_kmeans. A production deployment runs the float index for
recall tuning and THIS discipline wherever an audit needs the index
provably equal to its specification (e.g. dedup/leakage dashboards
keyed on neighbor sets).

Why the index is incrementally maintainable EXACTLY: the coarse
quantizer is FROZEN after the seed batch — batch 0 trains it with the
content-keyed seed rule (the `k_lists` vectors with the smallest
md5(vec_id) among batch-0 rows, zero Lloyd iterations — the
operators/kmeans.py discipline, so training is deterministic and
SQL-replayable), and every later batch's assignment is a pure per-row
function of (vector, frozen centroids). Batching therefore cannot
change any posting row, each vector is indexed exactly once in its
own micro-batch, and the streamed index equals the one-shot batch
assignment row-for-row — which is why the registered entry carries a
STRICT full-replay oracle (quantizer train + assignment + probe +
exact re-rank, all in integer arithmetic), not an agreement gate.

State layout (the doc_dedup.py discipline):
- `centroids/` — written ONCE by batch 0; immutable afterwards.
  Replay-stable: retraining on a batch-0 replay reproduces the
  identical matrix (deterministic seed rule on the same rows).
- `postings/batch_id=N/list_id=K/` — the batch's (vec_id, dist2,
  micro vector) rows, hive-partitioned by assigned list: a search
  that probes `nprobe` lists reads ONLY those list_id dirs
  (directory pruning — the pair MV's bucket-prune idea, applied to
  the IVF probe). O(batch) written bytes, never rewritten.
All writes OVERWRITE replay-stable batch_id dirs, so an at-least-once
replay reproduces byte-identical state — exercised on every run of
the registered entry by a deliberate batch-0 replay.

100 TB posture: per-batch maintenance is one Arrow int64 matmul pass
over the batch (K×d broadcast in the closure, n_batch rows out — no
n·K·d explode); index growth is append-only and O(new vectors);
serving cost is O(Σ probed-list sizes · Q) with the probed lists
directory-pruned at the scan, so a 10-list probe over a billion-vector
index reads ~nprobe/K of the posting bytes. The quantizer is K×d —
driver-resident at any corpus size. Retraining (a new quantizer
generation) is a rebuild, not an increment — the honest IVF contract
(FAISS's add-vs-train split, re-expressed as streaming state).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from saurav_nayak_recipe_etl_project_spark.functions.cachereg import scratch_dir
from saurav_nayak_recipe_etl_project_spark.operators.kmeans import (
    _dist2_matrix,
    _seed_matrix,
    _vec_micro,
)
from saurav_nayak_recipe_etl_project_spark.sources.catalog import load_table
from saurav_nayak_recipe_etl_project_spark.streaming import (
    batch_dirs,
    drain,
    fold_batches,
    hadoop_fs,
    key_batches,
    read_drops,
    rebalance_for_write,
    recover_swap,
    replay_batches,
    swap_dirs,
)

ANN_MV_LISTS = 8     # coarse quantizer size (IVF nlist)
ANN_MV_NPROBE = 2    # lists probed per query
ANN_MV_TOPK = 5      # neighbors returned per query
ANN_MV_QUERIES = 10  # vec_id < 10 are the demo query vectors
                     # (operators/similarity.py N_QUERIES convention)


def _read_centroids(spark: SparkSession, cent_path: str):
    """The frozen K×d quantizer, driver-side. Loud when batch 0 never
    ran — serving or indexing against an untrained quantizer is a
    pipeline-order bug, not a condition to paper over."""
    import numpy as np

    fs, jvm_path = hadoop_fs(spark, cent_path)
    if not fs.exists(jvm_path):
        # ONLY the missing-path case maps to "untrained" — a corrupt
        # or unreadable centroid file must surface as the storage
        # fault it is, not as advice to retrain over possibly-good
        # state
        raise ValueError(
            "ann_mv: quantizer not trained — no centroid state at "
            f"{cent_path}; process the seed batch (batch_id=0) first")
    rows = spark.read.parquet(cent_path).orderBy("c").collect()
    cids = np.array([r["c"] for r in rows], dtype=np.int64)
    C = np.stack([np.array(r["v"], dtype=np.int64) for r in rows])
    return C, cids


def _assign_postings(v: DataFrame, C, cids) -> DataFrame:
    """Assignment kernel with the vector passed THROUGH (kmeans.py's
    _arrow_assign plus the v column) — one Arrow int64 matmul map
    pass, ZERO shuffles: at 100 TB the input never re-keys, it just
    lands in its list_id dirs. Shared by the per-batch maintenance
    and the full rebuild so the two paths cannot diverge."""

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["v"].to_numpy()).astype(np.int64)
            d2 = _dist2_matrix(X, C)
            a = np.argmin(d2, axis=1)
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy(),
                "list_id": cids[a],
                "dist2": d2[np.arange(len(a)), a],
                "v": pdf["v"],
            })

    return v.select("vec_id", "v").mapInPandas(
        gen, schema="vec_id long, list_id long, dist2 long, v array<long>"
    )


def _write_centroids(spark: SparkSession, C, cids, cent_path: str) -> None:
    """Materialize the K×d quantizer (shared by batch-0 training and
    the rebuild — one writer, one layout). local_frame: writing a
    pickled-rows frame costs a Python-worker job (~6 s/write on the
    r14 bench box — it was the single largest cost of stream_ann_index);
    the Arrow lane writes the same bytes in one JVM task."""
    from saurav_nayak_recipe_etl_project_spark.functions.localframe import (
        local_frame,
    )

    rows = [(int(c), [int(x) for x in row]) for c, row in zip(cids, C)]
    local_frame(
        spark, rows, "c long, v array<long>"
    ).coalesce(1).write.mode("overwrite").parquet(cent_path)


def _write_occupancy(spark: SparkSession, postings_dir: str,
                     occupancy_dir: str) -> None:
    """Occupancy side-state for the drift alarm: per-list counts of
    the posting dir just written — K rows, one slim column-pruned
    pass, crash-consistent with the postings, overwritten
    replay-stable. Explicit schema on the read-back: an EMPTY
    micro-batch writes a postings dir with no part files (partitionBy
    emits none), and a schema-inferring read would crash the stream
    on what must stay a harmless no-op (r12 review finding). Shared
    by the per-batch maintenance and the rebuild."""
    occ = (
        spark.read
        .schema("vec_id long, dist2 long, v array<long>, list_id long")
        .parquet(postings_dir)
        .groupBy(F.col("list_id").cast("long").alias("list_id"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    occ.coalesce(1).write.mode("overwrite").parquet(occupancy_dir)


def ann_mv_process_batch(batch_emb: DataFrame, batch_id: int,
                         state_path: str,
                         k_lists: int = ANN_MV_LISTS) -> None:
    """One maintenance micro-batch: batch 0 trains + freezes the
    quantizer, every batch appends its rows' posting entries.
    Idempotent under replay (module docstring)."""
    spark = batch_emb.sparkSession
    # no localCheckpoint: the batch is read at most twice (seed
    # collect on batch 0, then the assignment pass), and pinning a
    # 100 TB-scale batch in executor memory is worse than one recompute
    v = _vec_micro(batch_emb)
    cent_path = f"{state_path}/centroids"
    if batch_id == 0:
        C, cids = _seed_matrix(v, k_lists)
        if C.shape[0] < k_lists:
            raise ValueError(
                f"ann_mv: seed batch has {C.shape[0]} vectors, "
                f"needs >= k_lists={k_lists} to train the quantizer"
            )
        _write_centroids(spark, C, cids, cent_path)
    else:
        C, cids = _read_centroids(spark, cent_path)

    postings = _assign_postings(v, C, cids)
    # rebalance: without it the write emits (input partitions ×
    # posting lists) tiny files per batch; the occupancy read-back and
    # every probe-time scan pay their open cost (guide §6)
    rebalance_for_write(postings, "list_id").write.mode("overwrite") \
        .partitionBy("list_id").parquet(
            f"{state_path}/postings/batch_id={batch_id}"
        )
    # the frozen quantizer cannot adapt to embedding-distribution
    # drift; these counts are what lets ann_mv_drift SEE it
    _write_occupancy(spark,
                     f"{state_path}/postings/batch_id={batch_id}",
                     f"{state_path}/occupancy/batch_id={batch_id}")


def read_ann_mv(spark: SparkSession, state_path: str,
                lists: list[int] | None = None) -> DataFrame:
    """The current index: plain union of posting partitions (each
    vector lives in exactly one batch dir — no merge, no dedup).
    `lists` restricts the scan to those list_id partitions — the
    filter lands on the RAW inferred partition column, before any
    cast, so it prunes at the directory listing."""
    post = (
        spark.read.option("basePath", f"{state_path}/postings")
        .parquet(f"{state_path}/postings")
    )
    if lists is not None:
        post = post.filter(F.col("list_id").isin(lists))
    return post.select(
        "vec_id", F.col("list_id").cast("long").alias("list_id"),
        "dist2", "v",
    )


def ann_search_mv(spark: SparkSession, state_path: str,
                  queries: DataFrame, k: int = ANN_MV_TOPK,
                  nprobe: int = ANN_MV_NPROBE) -> DataFrame:
    """Serve top-k nearest neighbors from the index state.

    Probe selection is driver-side against the K×d quantizer (exact
    int64 matmul, ties by list id — the kmeans argmin discipline);
    the candidate scan reads ONLY the probed list_id partitions; the
    exact re-rank is one Arrow int64 pass (Q×d query matrix in the
    closure); the per-query top-k is a q-partitioned window over
    candidate rows (never a whole-group window). Self-matches are
    excluded. All arithmetic is integer-exact, so the result is
    hash-portable against the SQL replay oracle."""
    import numpy as np

    C, cids = _read_centroids(spark, f"{state_path}/centroids")
    q_rows = _vec_micro(queries).collect()  # Q rows — caller-bounded
    if not q_rows:
        return spark.createDataFrame(
            [], "q_vec_id long, knn_rank int, neighbor_id long, "
                "dist2 long")
    Q = np.stack([np.array(r["v"], dtype=np.int64) for r in q_rows])
    q_ids = [int(r["vec_id"]) for r in q_rows]
    qd2 = _dist2_matrix(Q, C)
    probe = []
    for i, qid in enumerate(q_ids):
        order = sorted(range(len(cids)),
                       key=lambda j: (int(qd2[i, j]), int(cids[j])))
        probe.extend((qid, int(cids[j])) for j in order[:nprobe])
    probed_lists = sorted({lst for _, lst in probe})

    post = read_ann_mv(spark, state_path, lists=probed_lists)
    from saurav_nayak_recipe_etl_project_spark.functions.localframe import (
        local_frame,
    )

    pairs = local_frame(spark, probe, "q_vec_id long, list_id long")
    cand = post.join(F.broadcast(pairs), "list_id").filter(
        F.col("vec_id") != F.col("q_vec_id")
    )

    qidx = {qid: i for i, qid in enumerate(q_ids)}

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["v"].to_numpy()).astype(np.int64)
            qi = pdf["q_vec_id"].map(qidx).to_numpy(dtype=np.int64)
            diff = X - Q[qi]
            yield pd.DataFrame({
                "q_vec_id": pdf["q_vec_id"].to_numpy(),
                "neighbor_id": pdf["vec_id"].to_numpy(),
                "dist2": (diff * diff).sum(axis=1),
            })

    scored = cand.select("q_vec_id", "vec_id", "v").mapInPandas(
        gen, schema="q_vec_id long, neighbor_id long, dist2 long"
    )
    w = Window.partitionBy("q_vec_id").orderBy("dist2", "neighbor_id")
    return (
        scored.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .select("q_vec_id", F.col("knn_rank").cast("int").alias("knn_rank"),
                "neighbor_id", "dist2")
    )


def ann_mv_occupancy(spark: SparkSession, state_path: str) -> DataFrame:
    """(batch_id, list_id, c): each batch's posting-list occupancy —
    the O(K)-per-batch side-state ann_mv_process_batch maintains.
    Survives compact_ann_mv_state untouched (it is provenance metrics,
    not serving state — compaction folds postings, not history)."""
    return (
        spark.read.parquet(f"{state_path}/occupancy")
        .select(F.col("batch_id").cast("long").alias("batch_id"),
                "list_id", "c")
    )


def ann_mv_drift(spark: SparkSession, state_path: str) -> DataFrame:
    """Quantizer-drift alarm for the FROZEN coarse quantizer: per
    batch, the JS divergence (micro-nats) of that batch's posting-list
    occupancy mix from the all-batches corpus mix — `drift_from_counts`
    (streaming/drift.py, the G22 engine) reused VERBATIM with
    batch_id as the day key and list_id as the category. A batch drawn
    from a shifted embedding distribution piles into few lists and its
    js_micro jumps, surfacing the recall risk BEFORE the recall-floor
    verification gate would catch it downstream. Integer-exact
    arithmetic end-to-end, so the scalar is hash-verifiable against
    the SQL replay."""
    from saurav_nayak_recipe_etl_project_spark.streaming.drift import (
        drift_from_counts,
    )

    cnt = ann_mv_occupancy(spark, state_path).select(
        F.col("batch_id").alias("d"),
        F.col("list_id").alias("event_type"),
        "c",
    )
    return drift_from_counts(cnt).select(
        F.col("d").alias("batch_id"),
        F.col("n_events").alias("n_vectors"),
        "js_micro", "js_nats",
    )


def compact_ann_mv_state(spark: SparkSession, state_path: str) -> int:
    """Fold every postings batch partition into the newest batch_id
    dir (keeping the list_id hive layout) and delete the rest — the
    compact_pair_mv_state discipline. `read_ann_mv` and later batches
    are unchanged by construction: each vector lives in exactly one
    batch dir, and a posting row's batch_id carries no meaning beyond
    provenance (assignment depends only on the frozen centroids).
    Run at a QUIESCED boundary only (stream stopped, all batches
    committed): folding erases per-batch history, so replaying an
    already-committed batch afterwards would duplicate its vectors.
    Returns the number of partition dirs removed.

    Crash-safe (r12 review finding): the fold is swapped in by
    `fold_batches`, never written next to the postings it folds."""
    # a rebuild crash strands the whole state dir; heal it FIRST, or
    # the postings path reads missing and the fold returns 0 instead
    # of recovering (fold_batches then heals a crashed postings swap)
    recover_swap(spark, state_path)
    return fold_batches(
        spark, f"{state_path}/postings",
        lambda partials: partials.select("vec_id", "dist2", "v", "list_id"),
        partition_by=["list_id"])


def rebuild_ann_mv(spark: SparkSession, state_path: str,
                   k_lists: int = ANN_MV_LISTS) -> int:
    """The drift alarm's RESPONSE (FAISS's train-vs-add split, acted
    on): retrain the coarse quantizer on the CURRENT corpus — the same
    content-keyed seed rule batch 0 used, now over every indexed
    vector — and reassign everything into a fresh single-fold
    generation folded at the CURRENT MAX batch id (the compactor's
    convention: batch_id=0 would collide with — and be silently
    overwritten by — a batch-0 retrain if a stream ever restarted
    with a fresh checkpoint; the max id can only be re-delivered by
    a same-checkpoint replay, which the quiesced contract already
    excludes), swapped in by the shared sibling-dir rename dance (no
    crash point mixes generations; the between-renames window reads
    LOUDLY missing, never half-swapped). After the rebuild the
    occupancy history is one in-distribution batch, so `ann_mv_drift`
    reads ~0 — the alarm clears by construction.

    Run QUIESCED (stream stopped, all batches committed), like the
    compactor: a pre-rebuild batch replayed afterwards would assign
    against the NEW quantizer and duplicate vectors the fold already
    carries. The stream resumes on its OWN checkpoint (batch ids
    continue above the fold) against the new centroids — later drops
    are increments again. Returns the number of vectors re-indexed."""
    # heal any prior crashed swap before reading state (ADVICE r12)
    recover_swap(spark, state_path)
    recover_swap(spark, f"{state_path}/postings")
    fold_id = max(batch_dirs(spark, f"{state_path}/postings"))
    post = read_ann_mv(spark, state_path)
    vecs = post.select("vec_id", "v")
    C, cids = _seed_matrix(vecs, k_lists)
    if C.shape[0] < k_lists:
        raise ValueError(
            f"rebuild_ann_mv: index holds {C.shape[0]} vectors, "
            f"needs >= k_lists={k_lists} to train the quantizer")
    tmp = f"{state_path}.fold.tmp"
    fs, tmp_p = hadoop_fs(spark, tmp)
    fs.delete(tmp_p, True)
    _write_centroids(spark, C, cids, f"{tmp}/centroids")
    rebalance_for_write(_assign_postings(vecs, C, cids), "list_id") \
        .write.partitionBy("list_id").parquet(
            f"{tmp}/postings/batch_id={fold_id}")
    _write_occupancy(spark, f"{tmp}/postings/batch_id={fold_id}",
                     f"{tmp}/occupancy/batch_id={fold_id}")
    # count from the K-row occupancy file just written — no second
    # pass over the reassigned postings (r12 review finding)
    n = (spark.read.parquet(f"{tmp}/occupancy/batch_id={fold_id}")
         .agg(F.sum("c")).first()[0]) or 0
    swap_dirs(spark, state_path, tmp)
    return int(n)


def run_ann_index_stream(spark: SparkSession, source_dir: str,
                         checkpoint_dir: str, state_path: str,
                         max_files_per_trigger: int | None = None) -> None:
    """Embedding drops → incrementally-maintained IVF index."""
    emb = read_drops(spark, source_dir,
                     "vec_id long, embedding array<float>, label int",
                     max_files_per_trigger)
    drain(emb, checkpoint_dir,
          lambda batch_df, batch_id: ann_mv_process_batch(
              batch_df, batch_id, state_path))


def stream_ann_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered IVM entry, STRICT VALUE oracle: replays the
    embeddings table through `ann_mv_process_batch` as two
    vec_id-split batches with a real state dir — batch 0 deliberately
    replayed (the at-least-once idempotency contract, exercised every
    run) — then serves the demo queries (vec_id < 10) from the MV.
    The oracle replays the ENTIRE path in SQL — quantizer training on
    the seed half, full-corpus assignment, per-query probe selection,
    candidate generation restricted to probed lists, exact integer
    re-rank — so one hash proves quantizer determinism, streamed-
    index/batch-assignment equality, replay idempotency, directory-
    pruned candidate completeness, and re-rank arithmetic."""
    emb = load_table(spark, "embeddings", sf_dir)
    state = replay_batches("stream_ann_mv_", ann_mv_process_batch,
                           key_batches(emb, "vec_id", 2))
    queries = emb.filter(F.col("vec_id") < ANN_MV_QUERIES)
    return ann_search_mv(spark, state, queries)


def _ivf_assign_ctes(k_lists: int, seed_on_full: bool = False) -> str:
    """The shared DuckDB replay prefix: micro-quantized vectors,
    quantizer training (content-keyed seed rule over the seed HALF by
    default, or the FULL corpus for the post-rebuild oracle), exact
    integer assignment of every vector into its posting list — used
    by the index, drift, and rebuild oracles, so the replays cannot
    diverge on the assignment semantics."""
    from saurav_nayak_recipe_etl_project_spark.operators.kmeans import (
        MICRO,
    )

    seed_filter = "" if seed_on_full else "WHERE vec_id <= mid"
    return f"""
    WITH v AS (
      SELECT vec_id,
        list_transform(embedding,
          x -> CAST(round(CAST(x AS DOUBLE) * {MICRO}) AS BIGINT)) AS m
      FROM embeddings
    ),
    midpoint AS (
      SELECT (MIN(vec_id) + MAX(vec_id)) // 2 AS mid FROM embeddings
    ),
    seeds AS (
      SELECT CAST(ROW_NUMBER() OVER (
                    ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1
                  AS BIGINT) AS c, m
      FROM v, midpoint {seed_filter}
      QUALIFY ROW_NUMBER()
        OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) <= {k_lists}
    ),
    cent AS (
      SELECT c, i.i AS dim, m[i.i + 1] AS cx
      FROM seeds, UNNEST(range(0, len(m))) AS i(i)
    ),
    dims AS (
      SELECT vec_id, i.i AS dim, m[i.i + 1] AS x
      FROM v, UNNEST(range(0, len(m))) AS i(i)
    ),
    d2 AS (
      SELECT vec_id, c, SUM((x - cx) * (x - cx)) AS dist2
      FROM dims JOIN cent USING (dim)
      GROUP BY vec_id, c
    ),
    posting AS (
      SELECT vec_id, c AS list_id FROM (
        SELECT vec_id, c,
          ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, c)
            AS rn
        FROM d2
      ) WHERE rn = 1
    )"""


def _ann_mv_oracle(k_lists: int = ANN_MV_LISTS,
                   nprobe: int = ANN_MV_NPROBE,
                   k: int = ANN_MV_TOPK,
                   n_queries: int = ANN_MV_QUERIES,
                   seed_on_full: bool = False) -> str:
    """Full-path DuckDB replay: quantizer train (the kmeans oracle's
    seed rule — over the seed half, or the full corpus for the
    rebuild entry), exact integer assignment of every vector,
    per-query nprobe probe (smallest (dist2, list)), candidates =
    probed posting lists minus self, exact integer re-rank, per-query
    top-k by (dist2, neighbor_id)."""
    return _ivf_assign_ctes(k_lists, seed_on_full) + f""",
    qprobe AS (
      SELECT vec_id AS q_vec_id, c AS list_id FROM (
        SELECT vec_id, c,
          ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, c)
            AS rn
        FROM d2 WHERE vec_id < {n_queries}
      ) WHERE rn <= {nprobe}
    ),
    cand AS (
      SELECT q.q_vec_id, p.vec_id AS neighbor_id
      FROM qprobe q JOIN posting p USING (list_id)
      WHERE p.vec_id <> q.q_vec_id
    ),
    scores AS (
      SELECT c.q_vec_id, c.neighbor_id,
        CAST(SUM((qd.x - nd.x) * (qd.x - nd.x)) AS BIGINT) AS dist2
      FROM cand c
      JOIN dims qd ON qd.vec_id = c.q_vec_id
      JOIN dims nd ON nd.vec_id = c.neighbor_id AND nd.dim = qd.dim
      GROUP BY c.q_vec_id, c.neighbor_id
    )
    SELECT q_vec_id, CAST(knn_rank AS INTEGER) AS knn_rank,
           neighbor_id, dist2
    FROM (
      SELECT q_vec_id, neighbor_id, dist2,
        ROW_NUMBER() OVER (
          PARTITION BY q_vec_id ORDER BY dist2, neighbor_id
        ) AS knn_rank
      FROM scores
    ) WHERE knn_rank <= {k}
    """


def stream_ann_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered drift-alarm entry, STRICT VALUE oracle: builds the
    same two-batch index state as stream_ann_index (batch 0
    deliberately replayed — the occupancy side-state must be
    replay-stable too), then emits each batch's occupancy-mix JS
    divergence from the corpus mix via ann_mv_drift. The oracle
    replays quantizer training + full-corpus assignment (the
    stream_ann_index prefix VERBATIM), rebuilds the per-(batch, list)
    occupancy analytically from vec_id <= mid, and reruns the G22
    integer JS arithmetic — one hash proves the side-state counts,
    their replay idempotency, and the drift scalar."""
    emb = load_table(spark, "embeddings", sf_dir)
    state = replay_batches("stream_ann_drift_", ann_mv_process_batch,
                           key_batches(emb, "vec_id", 2))
    return ann_mv_drift(spark, state)


def _ann_drift_oracle(k_lists: int = ANN_MV_LISTS) -> str:
    """Assignment prefix shared with _ann_mv_oracle, then the
    streaming/drift.py DRIFT_ORACLE arithmetic verbatim with batch_id
    as the day key and list_id as the category."""
    return _ivf_assign_ctes(k_lists) + """,
    cnt AS (
      SELECT CASE WHEN pv.vec_id <= m.mid THEN 0 ELSE 1 END AS d,
             pv.list_id AS event_type, COUNT(*) AS c
      FROM posting pv CROSS JOIN midpoint m
      GROUP BY 1, 2
    ),
    per_day AS (SELECT d, SUM(c) AS nd FROM cnt GROUP BY d),
    per_type AS (
      SELECT event_type, SUM(c) AS ct FROM cnt GROUP BY event_type
    ),
    n_all AS (SELECT SUM(c) AS nn FROM cnt),
    grid AS (
      SELECT per_day.d, per_day.nd, per_type.event_type, per_type.ct,
        n_all.nn, COALESCE(cnt.c, 0) AS c,
        CAST(COALESCE(cnt.c, 0) AS HUGEINT) * nn
          + CAST(per_type.ct AS HUGEINT) * nd AS den
      FROM per_day
      CROSS JOIN per_type
      LEFT JOIN cnt ON cnt.d = per_day.d
        AND cnt.event_type = per_type.event_type
      CROSS JOIN n_all
    ),
    terms AS (
      SELECT d, c, ct, nd, nn,
        CASE WHEN c > 0 THEN
          CAST(round(ln(CAST(2 * CAST(c AS HUGEINT) * nn AS DOUBLE))
               * 1000000) AS BIGINT)
          - CAST(round(ln(CAST(den AS DOUBLE)) * 1000000) AS BIGINT)
        ELSE 0 END AS dp,
        CAST(round(ln(CAST(2 * CAST(ct AS HUGEINT) * nd AS DOUBLE))
             * 1000000) AS BIGINT)
        - CAST(round(ln(CAST(den AS DOUBLE)) * 1000000) AS BIGINT)
          AS dq
      FROM grid
    ),
    agg AS (
      SELECT d, MAX(nd) AS nd, MAX(nn) AS nn,
        SUM(CAST(c AS HUGEINT) * dp) AS sp,
        SUM(CAST(ct AS HUGEINT) * dq) AS sq
      FROM terms GROUP BY d
    )
    SELECT CAST(d AS BIGINT) AS batch_id, CAST(nd AS BIGINT) AS n_vectors,
      CAST((sp // nd + sq // nn) // 2 AS BIGINT) AS js_micro,
      ROUND(CAST((sp // nd + sq // nn) // 2 AS BIGINT) / 1000000.0, 4)
        AS js_nats
    FROM agg
    """


def stream_ann_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered rebuild entry, STRICT VALUE oracle: build the
    two-batch streamed index (seed-half quantizer), then
    `rebuild_ann_mv` — the quantizer retrains on the FULL corpus and
    every vector reassigns into a fresh single-fold generation — and
    serve the demo queries from the rebuilt state. The oracle is the
    stream_ann_index replay with the seed rule widened to the full
    corpus, so one hash proves retraining determinism, the fold's
    reassignment, the generation swap, and that serving reads only
    the new generation."""
    emb = load_table(spark, "embeddings", sf_dir)
    first, second = key_batches(emb, "vec_id", 2)
    state = f"{scratch_dir('stream_ann_rebuild_')}/state"
    ann_mv_process_batch(first, 0, state)
    ann_mv_process_batch(second, 1, state)
    rebuild_ann_mv(spark, state)
    queries = emb.filter(F.col("vec_id") < ANN_MV_QUERIES)
    return ann_search_mv(spark, state, queries)


ANN_MV_QUERY_FNS = {
    "stream_ann_index": stream_ann_index,
    "stream_ann_drift": stream_ann_drift,
    "stream_ann_rebuild": stream_ann_rebuild,
}

ANN_MV_ORACLES = {
    "stream_ann_index": _ann_mv_oracle(),
    "stream_ann_drift": _ann_drift_oracle(),
    "stream_ann_rebuild": _ann_mv_oracle(seed_on_full=True),
}
