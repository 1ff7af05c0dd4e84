"""Similarity search over the `embeddings` table (array<float> column).

Each ANN method is a candidate generator in front of one exact
scan-and-rank step:

- cosine_topk        exact: every vector is scored against the
                     broadcast query matrix, one matmul per Arrow batch.
- lsh_bucketed_topk  deterministic random-hyperplane sign buckets
                     (xxhash64-derived ±1 planes, no RNG state); only
                     same-bucket pairs are scored, in JVM folds
                     (functions/vector_fn.py).
- ivf_topk, hnsw_topk  vectors assigned to IVF lists or HNSW sample-node
                     cells; a query scores only the cells it probes.
- pq_topk, ivfpq_topk  PQ codes give each query an ADC shortlist, which
                     an exact cosine re-ranks.

The shared steps (query load, nearest-cell assignment, probe-masked
scan, per-query top-k and the PQ ADC step) are the private helpers
below; vector_index.py and semdedup.py import them too.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from saurav_nayak_recipe_etl_project_spark.functions.localframe import (
    local_frame,
)
from saurav_nayak_recipe_etl_project_spark.functions.vector_fn import cosine
from saurav_nayak_recipe_etl_project_spark.sources.catalog import load_table

N_QUERIES = 10  # vec_id < 10 are the demo query vectors
TOP_K = 5
# kNN-eval constants shared by knn_label_accuracy AND its oracle SQL
# (interpolated into the f-string below) so the two cannot drift.
KNN_K = 5
KNN_SAMPLE_N = 100


def _as_double(col) -> F.Column:
    return F.transform(col, lambda x: x.cast("double"))


# The shared ANN steps. The functions that run on the executors are
# defined INSIDE these helpers so that cloudpickle ships them by value:
# the Python workers inherit the JVM's cwd, not the driver's sys.path,
# and need not be able to import this package.

def _load_queries(e: DataFrame, n_queries: int, memo: dict | None = None):
    """(q_ids, q_mat): the query vectors (vec_id < n_queries) of the
    (vec_id, v) frame `e`, rows normalized. The collected snapshot goes
    through the memo, so the methods recall_at_k composes share one
    collect."""
    import numpy as np

    qsnap = _memo_get(
        memo, ("queries", n_queries),
        lambda: e.filter(F.col("vec_id") < n_queries).toPandas())
    if not len(qsnap):
        raise ValueError(
            f"no query vectors: no vec_id < n_queries={n_queries}")
    q_mat = np.stack(qsnap["v"].to_numpy())
    return (qsnap["vec_id"].to_numpy(),
            q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True))


def _assign_cells(e: DataFrame, cells, cell_col: str,
                  n_assign: int | None = None) -> DataFrame:
    """(vec_id, v, <cell_col>): each vector of `e` assigned by cosine
    to its nearest row of the broadcast `cells` matrix (IVF centroids,
    HNSW sample nodes, SemDeDup clusters), one matmul per Arrow batch.
    n_assign=None keeps the single argmax cell; an int soft-assigns a
    vector to its n_assign nearest cells, one row per cell."""
    import numpy as np
    import pandas as pd

    bc = e.sparkSession.sparkContext.broadcast(cells)

    def assign(batches):
        cm = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf["v"].to_numpy())
            sims = (m / np.linalg.norm(m, axis=1, keepdims=True)) @ cm.T
            if n_assign is None:
                top = np.argmax(sims, axis=1)[:, None]
            else:
                top = np.argsort(-sims, axis=1)[:, :n_assign]
            # a matrix with fewer than n_assign rows gives fewer cells
            rows = np.repeat(np.arange(len(pdf)), top.shape[1])
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy()[rows],
                "v": pdf["v"].to_numpy()[rows],
                cell_col: top.ravel(),
            })

    return e.mapInPandas(
        assign, schema=f"vec_id long, v array<double>, {cell_col} int")


def _probed_scores(assigned: DataFrame, cell_col: str, q_ids, q_mat,
                   probes) -> DataFrame:
    """(query_id, neighbor_id, sim) for every pair of a query and a
    vector in a cell it probes — `probes` is a boolean (Q, n_cells)
    mask over `assigned`'s `cell_col` — excluding the query itself.
    One broadcast query matmul per Arrow batch."""
    import numpy as np
    import pandas as pd

    bc = assigned.sparkSession.sparkContext.broadcast((q_ids, q_mat, probes))

    def score(batches):
        ids, qm, pr = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            n_ids = pdf["vec_id"].to_numpy()
            m = np.stack(pdf["v"].to_numpy())
            sims = (m / np.linalg.norm(m, axis=1, keepdims=True)) @ qm.T
            qi, ni = np.nonzero(pr[:, pdf[cell_col].to_numpy()]
                                & (ids[:, None] != n_ids[None, :]))
            yield pd.DataFrame({"query_id": ids[qi],
                                "neighbor_id": n_ids[ni],
                                "sim": sims[ni, qi]})

    return assigned.mapInPandas(
        score, schema="query_id long, neighbor_id long, sim double")


def _top_k(scored: DataFrame, k: int, by: str = "sim") -> DataFrame:
    """Per-query top-k of (query_id, neighbor_id, <by>) rows, ranked by
    (by desc, neighbor_id asc): (query_id, neighbor_id, cos_sim, rank),
    with `by` rounded to the 6-decimal output convention as cos_sim."""
    w = Window.partitionBy("query_id").orderBy(F.desc(by), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round(by, 6).alias("cos_sim"), "rank")
    )


def _pq_adc():
    """The PQ encode + ADC step that the PQ scans run per Arrow batch:
    adc(z, codebooks, cb_sq, lut) encodes each row of z (B, m_sub,
    dsub) as its nearest codeword per subspace (argmin ||x - c||² =
    argmin |c|² - 2x·c) and sums the queries' lookup-table entries for
    those codes into (B, Q) scores."""
    import numpy as np

    def adc(z, cb, cb_sq, lut):
        out = np.zeros((len(z), len(lut)))
        for mi in range(z.shape[1]):
            codes = np.argmin(
                cb_sq[mi][None, :] - 2.0 * (z[:, mi, :] @ cb[mi].T), axis=1)
            out += lut[:, mi, codes].T               # (B, Q)
        return out

    return adc


def cosine_topk(emb: DataFrame, n_queries: int = N_QUERIES,
                k: int = TOP_K,
                sim_ceiling: float | None = None,
                memo: dict | None = None) -> DataFrame:
    """Brute-force exact top-k neighbors for each query vector.

    The (tiny) query matrix is broadcast as numpy and each corpus
    Arrow batch does ONE matmul against it — the block-product shape
    that scales linearly with the corpus. Final top-k is a per-query
    window over the scored pairs (Q×N rows, already small).

    `sim_ceiling` drops candidates whose ROUNDED (6-decimal, the
    output convention) similarity reaches the cap BEFORE the top-k
    pick — the hard-negative mining form (exclude near-duplicates,
    keep the hardest non-duplicates); rounding the comparison keeps
    the boundary engine-portable."""
    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    e = emb.select("vec_id", _as_double("embedding").alias("v"))
    bc = spark.sparkContext.broadcast(_load_queries(e, n_queries, memo))

    def gen(batches):
        ids, qm = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            n_ids = pdf["vec_id"].to_numpy()
            nm = np.stack(pdf["v"].to_numpy())
            nm = nm / np.linalg.norm(nm, axis=1, keepdims=True)
            sims = nm @ qm.T                      # (batch, n_queries)
            qi = np.repeat(ids[None, :], len(n_ids), axis=0)
            ni = np.repeat(n_ids[:, None], len(ids), axis=1)
            mask = qi != ni
            yield pd.DataFrame(
                {
                    "query_id": qi[mask],
                    "neighbor_id": ni[mask],
                    "sim": sims[mask],
                }
            )

    scored = e.mapInPandas(gen, schema="query_id long, neighbor_id long, sim double")
    if sim_ceiling is not None:
        # filter on the ROUNDED sim (the same 6-decimal convention the
        # output uses): numpy's FMA matmul and the oracle's sequential
        # dot product can disagree in the last ulps, and an unrounded
        # knife-edge at the ceiling would admit a pair in one engine
        # and not the other
        scored = scored.filter(F.round(F.col("sim"), 6) < sim_ceiling)
    return _top_k(scored, k)


def _plane_signs(p: int, dim: int) -> list[float]:
    """The ±1 weights of hyperplane `p`: parity of xxhash64(plane, dim)
    — the SAME values the pre-r14 per-row expression computed
    (F.pmod(F.xxhash64(p, d), 2) * 2 - 1), evaluated ONCE on the
    driver via the pinned pure-Python replica (functions/xxh.py)
    instead of once per row × plane × dim in the interpreted HOF
    evaluator. Equality with F.xxhash64 is pinned by test."""
    from saurav_nayak_recipe_etl_project_spark.functions.xxh import (
        spark_xxhash64_ints,
    )

    return [float(2 * (spark_xxhash64_ints(p, d) & 1) - 1)
            for d in range(dim)]


def _bucket(v_col, n_planes: int = 8, dim: int = 64,
            plane_offset: int = 0) -> F.Column:
    """Random-hyperplane LSH bucket id: sign bit per plane, packed.

    Plane weights are ±1 derived from xxhash64(plane, dim) parity —
    fully deterministic, identical on every executor, nothing to
    broadcast or seed. `plane_offset` selects an independent plane set
    (multi-table LSH: OR-ing L tables lifts recall from p to
    1-(1-p)^L at L× candidate cost — the standard recall knob).

    The weights are data-independent, so they are evaluated at
    plan-build time (_plane_signs) and embedded as LITERAL arrays: the
    per-row work drops from 2×dim interpreted expression nodes per
    plane (xxhash64 + pmod + arithmetic) to one literal-array zip_with
    — same fold order, same float arithmetic, bit-identical buckets
    (r14 optimization; before/after measured in OPTIMIZATION_r14.md).
    """
    def plane_dot(p: int):
        signs = F.array(*[F.lit(w) for w in _plane_signs(p, dim)])
        return F.aggregate(
            F.zip_with(v_col, signs, lambda x, w: x * w),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    out = F.lit(0)
    for i in range(n_planes):
        out = out + F.when(
            plane_dot(plane_offset + i) > 0, F.lit(1 << i)
        ).otherwise(0)
    return out


def _bucket_array(v_col, n_planes: int = 8, n_tables: int = 1,
                  dim: int = 64) -> F.Column:
    """All `n_tables` LSH bucket ids as ONE array column — the same
    values `_bucket` computes per table, same per-plane fold order,
    bit-identical buckets — but expressed as HOF loops over a single
    constant-folded (n_tables·n_planes, dim) literal sign matrix
    instead of n_tables × n_planes unrolled fold chains. The unrolled
    form's ~2·tables·planes·dim expression NODES made the driver the
    bottleneck (analysis + AQE re-optimization of a 2000-literal tree
    per stage measured ~2.5 s/run on dedup_embedding at sf0.1, vs
    1.4 s of actual job time); this form is ~tables·planes× smaller.
    Per-row arithmetic is unchanged: zip_with/aggregate evaluate the
    identical sequence of multiply-adds per plane, and the bucket
    packing sums the identical when(dot>0, 1<<i) terms left-to-right.
    """
    signs = F.array(*[
        F.array(*[F.lit(w) for w in _plane_signs(p, dim)])
        for p in range(n_tables * n_planes)
    ])
    powers = F.array(*[F.lit(1 << i) for i in range(n_planes)])

    def dot(p_col):
        return F.aggregate(
            F.zip_with(v_col, F.element_at(signs, p_col + 1),
                       lambda x, w: x * w),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    return F.transform(
        F.sequence(F.lit(0), F.lit(n_tables - 1)),
        lambda t: F.aggregate(
            F.sequence(F.lit(0), F.lit(n_planes - 1)),
            F.lit(0),
            lambda acc, i: acc + F.when(
                dot(t * F.lit(n_planes) + i) > 0,
                F.element_at(powers, i + 1)).otherwise(F.lit(0)),
        ),
    )


def lsh_bucketed_topk(emb: DataFrame, n_queries: int = N_QUERIES,
                      k: int = TOP_K, n_planes: int = 4,
                      n_tables: int = 8) -> DataFrame:
    """Approximate top-k: exact scoring restricted to the query's
    hyperplane buckets across `n_tables` independent plane sets
    (multi-table OR lifts single-table recall p to 1-(1-p)^L).
    Candidates are deduped BEFORE cosine scoring, so each surviving
    pair is scored exactly once. Recall < 1 by design; scales by
    bucket count × tables."""
    e = emb.select("vec_id", _as_double("embedding").alias("v"))
    # one row per (vector, table) with that table's bucket id — ONE
    # corpus scan computing all tables' buckets, posexploded (the
    # pre-r14 8-branch union re-scanned the corpus once per table;
    # same rows, same values, 1 scan instead of n_tables). r15: the
    # bucket array comes from the COMPACT HOF form (_bucket_array —
    # bit-identical values, ~tables·planes× fewer expression nodes;
    # the unrolled tree made driver analysis/AQE re-optimization the
    # entry's dominant cost, measured on dedup_embedding).
    bucketed = e.select(
        "vec_id", "v",
        F.posexplode(
            _bucket_array(F.col("v"), n_planes, n_tables)
        ).alias("tbl", "bucket"),
    )
    queries = bucketed.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("tbl").alias("qtbl"),
        F.col("bucket").alias("qbucket"),
    )
    corpus = bucketed.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("nv"),
        "tbl",
        F.col("bucket").alias("nbucket"),
    )
    cand = (
        corpus.join(
            F.broadcast(queries),
            (F.col("qtbl") == F.col("tbl"))
            & (F.col("qbucket") == F.col("nbucket"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .select("query_id", "neighbor_id", "qv", "nv")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _top_k(
        cand.select("query_id", "neighbor_id", cosine("qv", "nv").alias("sim")),
        k)


def _probe_masks(q_mat, c_mat, list_sizes, scan_frac: float,
                 n_probe_min: int = 1):
    """Per-list probe budgeting: instead of a fixed list COUNT per
    query, probe each query's lists in descending q·centroid order
    until the cumulative list SIZE reaches `scan_frac` of the corpus.
    A fixed n_probe wastes budget on queries whose nearest lists are
    huge and starves queries whose neighborhood is split across many
    small lists — the classic skew failure of IVF on uneven lists.
    Returns a boolean (Q, n_lists) mask; driver cost is Q × n_lists
    (both bounded)."""
    import numpy as np

    n_total = max(int(list_sizes.sum()), 1)
    budget = scan_frac * n_total
    order = np.argsort(-(q_mat @ c_mat.T), axis=1)
    mask = np.zeros((len(q_mat), c_mat.shape[0]), dtype=bool)
    for qi in range(len(q_mat)):
        cum = 0
        for rank, li in enumerate(order[qi]):
            mask[qi, li] = True
            cum += int(list_sizes[li])
            if cum >= budget and rank + 1 >= n_probe_min:
                break
    return mask


def ivf_topk(emb: DataFrame, n_queries: int = N_QUERIES, k: int = TOP_K,
             n_lists: int = 16, scan_frac: float = 0.375,
             n_train: int = 2048, train_iters: int = 10,
             memo: dict | None = None) -> DataFrame:
    """IVF-style ANN: TRAINED coarse quantizer + budgeted probed search.

    Centroids come from deterministic driver-side k-means on a bounded
    hash sample (_train_coarse_centroids); each vector is assigned to
    its nearest centroid (one matmul per Arrow batch); a query scores
    only the lists its probe BUDGET covers (_probe_masks —
    `scan_frac` of the corpus, allocated per query by actual list
    sizes rather than a fixed list count). Scan cost drops by
    ~1/scan_frac; the inverted-list assignment is exactly how you'd
    shard a 100 TB vector table, and the list-size stats collected
    here are the (n_lists-row, bounded) index statistics a real
    deployment persists with the index.
    """
    e = emb.select("vec_id", _as_double("embedding").alias("v"))

    X = _memo_sample(memo, e, n_train)
    c_mat, list_sizes = _memo_get(
        memo, ("coarse", n_train, n_lists, train_iters),
        lambda: (lambda C: (C, _sample_list_sizes(X, C, n_lists)))(
            _train_coarse_centroids(X, n_lists, train_iters)))
    assigned = _assign_cells(e, c_mat, "list_id")
    q_ids, q_mat = _load_queries(e, n_queries, memo)
    probes = _probe_masks(q_mat, c_mat, list_sizes, scan_frac)
    return _top_k(_probed_scores(assigned, "list_id", q_ids, q_mat, probes), k)


def knn_label_accuracy(emb: DataFrame, k: int = KNN_K,
                       sample_n: int = KNN_SAMPLE_N) -> DataFrame:
    """Embedding-quality eval: leave-one-out kNN label prediction on a
    FIXED-SIZE deterministic query sample (the first sample_n vectors
    by md5(vec_id) — content-keyed, so stable under repartitioning and
    portable to the SQL oracle), majority vote with min-label tiebreak,
    one summary row.

    Scale shape: the sample is orderBy(hash).limit(n), which Spark
    executes as TakeOrderedAndProject — per-partition partial top-n,
    driver merges only n rows — so the collected/broadcast side is
    O(sample_n) REGARDLESS of corpus size (the round-3/4 flagged
    `% mod` sample grew linearly with the corpus). The full corpus
    streams through Arrow batches, each batch emitting a LOCAL top-k
    per query (partial reduction — safe because a global top-k element
    is a local top-k element of its batch). The global window then
    reduces #batches·Q·k rows, so neither the driver nor any task ever
    holds the corpus."""
    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    e = emb.select("vec_id", "label", _as_double("embedding").alias("v"))
    qsnap = (
        e.orderBy(F.md5(F.col("vec_id").cast("string")), F.asc("vec_id"))
        .limit(sample_n)
        .toPandas()
    )
    q_ids = qsnap["vec_id"].to_numpy()
    q_labels = qsnap["label"].to_numpy()
    q_mat = np.stack(qsnap["v"].to_numpy())
    q_mat = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((q_ids, q_labels, q_mat))

    def gen(batches):
        ids, labels, qm = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            n_ids = pdf["vec_id"].to_numpy()
            n_lab = pdf["label"].to_numpy()
            m = np.stack(pdf["v"].to_numpy())
            mn = m / np.linalg.norm(m, axis=1, keepdims=True)
            sims = mn @ qm.T                        # (batch, Q)
            out = []
            for qi in range(len(ids)):
                s = sims[:, qi].copy()
                s[n_ids == ids[qi]] = -np.inf       # leave-one-out
                # local top-k by (sim desc, neighbor_id asc)
                idx = np.lexsort((n_ids, -s))[:k]
                idx = idx[np.isfinite(s[idx])]
                out.append(pd.DataFrame(
                    {
                        "query_id": np.full(len(idx), ids[qi]),
                        "actual": np.full(len(idx), labels[qi]),
                        "neighbor_id": n_ids[idx],
                        "n_label": n_lab[idx],
                        "sim": s[idx],
                    }
                ))
            if out:
                yield pd.concat(out, ignore_index=True)

    cand = e.mapInPandas(
        gen,
        schema="query_id long, actual int, neighbor_id long, "
               "n_label int, sim double",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    topk = cand.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    votes = topk.groupBy("query_id", "actual", "n_label").agg(
        F.count("*").alias("c")
    )
    wq = Window.partitionBy("query_id")
    pred = (
        votes.withColumn("cmax", F.max("c").over(wq))
        .filter(F.col("c") == F.col("cmax"))
        .groupBy("query_id", "actual")
        .agg(F.min("n_label").alias("predicted"))
    )
    return pred.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("actual") == F.col("predicted"), 1).otherwise(0))
        .cast("long").alias("n_correct"),
        F.round(
            F.sum(F.when(F.col("actual") == F.col("predicted"), 1).otherwise(0))
            / F.count("*"), 6
        ).alias("accuracy"),
    )


def ann_knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out kNN label-prediction accuracy on a deterministic
    query sample (corpus streams; only the sample is broadcast)."""
    return knn_label_accuracy(load_table(spark, "embeddings", sf_dir))


def _hash_sample(e: DataFrame, n: int):
    """Bounded deterministic training sample: smallest xxhash64(vec_id)
    wins — content-keyed, so identical under repartitioning, and
    executed as TakeOrderedAndProject (per-partition partial top-n;
    only n rows ever reach the driver regardless of corpus size).
    Returns row-normalized (n, dim) float64."""
    import numpy as np

    samp = (
        e.withColumn("_h", F.xxhash64("vec_id"))
        .orderBy("_h").limit(n)
        .toPandas()
    )
    X = np.stack(samp["v"].to_numpy())
    return X / np.linalg.norm(X, axis=1, keepdims=True)


def _memo_get(memo: dict | None, key: tuple, fn):
    """Within-one-query reuse of IDENTICAL driver-side computations
    across the ANN methods recall_at_k composes (r15: each method used
    to run its own sample/queries Spark job and k-means training even
    when the inputs were the same). The cache key carries every
    parameter the computation depends on, so only bit-identical work
    is ever shared; a standalone method call (memo=None) computes
    exactly what it always did. The memo lives and dies within one
    query build — nothing persists across runs."""
    if memo is None:
        return fn()
    if key not in memo:
        memo[key] = fn()
    return memo[key]


def _memo_sample(memo: dict | None, e: DataFrame, n: int):
    """_hash_sample through the memo, with prefix reuse: the n smallest
    hash-ranked rows are the first n of any larger sample (same global
    _h order), so hnsw's 1024-row sample slices out of the 2048-row
    one instead of running a second TakeOrdered job."""
    if memo is not None:
        for (kind, m), X in list(memo.items()):
            if kind == "sample" and m >= n:
                return X[:n]
    return _memo_get(memo, ("sample", n), lambda: _hash_sample(e, n))


def _kmeans(pts, k: int, iters: int):
    """Deterministic driver-side Lloyd: first-k init, fixed iteration
    count, numpy sums — no RNG, bit-stable for a given sample."""
    import numpy as np

    C = pts[:k].copy()
    for _ in range(iters):
        d = ((pts[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        assign = d.argmin(1)
        for j in range(k):
            mask = assign == j
            if mask.any():
                C[j] = pts[mask].mean(0)
    return C


def _train_coarse_centroids(X, n_lists: int, iters: int = 10):
    """Trained coarse quantizer for IVF/IVFPQ: k-means on the bounded
    hash sample instead of n_lists raw corpus vectors. Random corpus
    vectors make wildly uneven lists (the round-5 recall limiter:
    ivf 0.56 at sf0.1); trained centroids tile the actual density, so
    a fixed probe budget covers far more of each query's true
    neighborhood. O(n_train) driver cost at any corpus size;
    centroids are re-normalized (cosine-space assignment)."""
    import numpy as np

    C = _kmeans(X, n_lists, iters)
    nrm = np.linalg.norm(C, axis=1, keepdims=True)
    nrm[nrm == 0] = 1.0
    return C / nrm


def _sample_list_sizes(X, c_mat, n_lists: int):
    """List-size ESTIMATES from the training sample's coarse
    assignment — the index statistics the probe budget needs, at zero
    extra corpus passes (the sample is already on the driver). A
    production index build would persist exact per-list counts with
    the index; sample proportions are an unbiased stand-in and only
    steer budget allocation, never correctness."""
    import numpy as np

    assign = np.argmax(X @ c_mat.T, axis=1)
    sizes = np.zeros(n_lists, dtype=np.int64)
    uniq, cnt = np.unique(assign, return_counts=True)
    sizes[uniq] = cnt
    return sizes


def _opq_rotation(X, m_sub: int):
    """OPQ-style eigenvalue-allocation rotation (the parametric OPQ of
    Ge et al., CVPR'13): eigendecompose the sample covariance, then
    greedily assign eigen-directions to subspaces balancing the
    log-variance product, so every PQ subspace carries comparable
    information. Correlated input dims are exactly where plain PQ
    loses recall — half its codebooks end up modeling noise.
    Deterministic: fixed sample -> fixed covariance -> eigh; greedy
    tie-break by bucket index. Returns an orthonormal (dim, dim) R;
    rotated coords are x @ R, and (x@R)·(y@R) = x·y, so ADC in
    rotated space approximates the original dot product."""
    import numpy as np

    cov = X.T @ X / len(X)
    w, V = np.linalg.eigh(cov)
    order = np.argsort(-w)
    dim = X.shape[1]
    dsub = dim // m_sub
    buckets: list[list[int]] = [[] for _ in range(m_sub)]
    logs = [0.0] * m_sub
    for idx in order:
        open_b = [b for b in range(m_sub) if len(buckets[b]) < dsub]
        b = min(open_b, key=lambda bb: (logs[bb], bb))
        buckets[b].append(int(idx))
        logs[b] += float(np.log(max(w[idx], 1e-12)))
    perm = [i for b in buckets for i in b]
    return V[:, perm]


def _train_pq_codebooks_from(X, m_sub: int, k_codes: int, iters: int):
    """Per-subspace k-means codebooks from an (n, dim) training matrix
    (already rotated if OPQ is in play). Standard PQ recipe: codebook
    quality depends on the distribution, not the corpus size, so the
    driver cost is O(n_train) no matter how many vectors the table
    holds."""
    import numpy as np

    n, dim = X.shape
    if dim % m_sub:
        raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")
    dsub = dim // m_sub
    Xs = X.reshape(n, m_sub, dsub)
    return np.stack(
        [_kmeans(Xs[:, mi, :], k_codes, iters) for mi in range(m_sub)]
    )  # (m_sub, k_codes, dsub)


def pq_topk(emb: DataFrame, n_queries: int = N_QUERIES, k: int = TOP_K,
            m_sub: int = 8, k_codes: int = 64, n_train: int = 2048,
            train_iters: int = 10, shortlist: int = 100,
            memo: dict | None = None) -> DataFrame:
    """PQ (product-quantization) ANN with exact re-rank: each
    normalized vector is split into `m_sub` subspaces and encoded as
    the nearest of `k_codes` trained codebook entries per subspace —
    64 float64 dims become 8 one-byte codes, a ~64× memory
    compression, which is what makes a 100 TB vector table fit an ANN
    serving tier. Search is the standard two-stage production shape:
    (1) ADC (asymmetric distance computation — per-query lookup table
    of subspace dot products, summed per code) prunes the corpus to a
    `shortlist` per query; (2) exact cosine re-ranks only the
    shortlist. No full-vector math on the corpus side after encoding.

    Scale shape: codebooks train on a bounded sample (see
    _train_pq_codebooks_from); only (Q × shortlist) candidate rows
    reach the re-rank join (broadcast); the corpus streams through
    Arrow batches emitting local shortlists (partial-reduction
    argument as cosine_topk). An OPQ-style rotation (_opq_rotation)
    balances variance across subspaces before the split — encode and
    ADC both happen in rotated coordinates, which is similarity-
    preserving because R is orthonormal. Deterministic throughout;
    recall floor vs the exact top-k is pinned through the
    `ann_recall_at_k` bounds oracle and tests/test_similarity.py."""
    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    e = emb.select("vec_id", _as_double("embedding").alias("v"))
    X = _memo_sample(memo, e, n_train)
    R, codebooks = _memo_get(
        memo, ("pq_train", n_train, m_sub, k_codes, train_iters),
        lambda: (lambda rot: (rot, _train_pq_codebooks_from(
            X @ rot, m_sub, k_codes, train_iters)))(_opq_rotation(X, m_sub)))
    cb_sq = (codebooks ** 2).sum(axis=2)          # (m_sub, k_codes)
    dsub = codebooks.shape[2]

    q_ids, q_mat = _load_queries(e, n_queries, memo)
    # ADC lookup table (Q, m_sub, k_codes): rotated query subvector ·
    # codebook — q·x̂ = (qR)·(x̂R) since R is orthonormal
    qz = q_mat @ R
    lut = np.einsum(
        "qmd,mkd->qmk", qz.reshape(len(q_ids), m_sub, dsub), codebooks
    )
    bc = spark.sparkContext.broadcast((q_ids, lut, codebooks, cb_sq, R))
    adc = _pq_adc()

    def adc_scan(batches):
        ids, lt, cb, cbsq, rot = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            n_ids = pdf["vec_id"].to_numpy()
            m = np.stack(pdf["v"].to_numpy())
            mn = m / np.linalg.norm(m, axis=1, keepdims=True)
            sims = adc((mn @ rot).reshape(len(n_ids), m_sub, dsub),
                       cb, cbsq, lt)
            out = []
            for qi in range(len(ids)):
                s = sims[:, qi].copy()
                s[n_ids == ids[qi]] = -np.inf
                idx = np.lexsort((n_ids, -s))[:shortlist]
                idx = idx[np.isfinite(s[idx])]
                out.append(pd.DataFrame({
                    "query_id": np.full(len(idx), ids[qi]),
                    "neighbor_id": n_ids[idx],
                    "adc": s[idx],
                }))
            if out:
                yield pd.concat(out, ignore_index=True)

    cand = e.mapInPandas(
        adc_scan, schema="query_id long, neighbor_id long, adc double"
    )
    short = _top_k(cand, shortlist, "adc").select("query_id", "neighbor_id")
    return _exact_rerank(e, short, q_ids, q_mat, k)


def _exact_rerank(e: DataFrame, short: DataFrame, q_ids, q_mat,
                  k: int) -> DataFrame:
    """Exact cosine re-rank of a tiny (Q × shortlist) candidate set:
    broadcast the shortlist against the corpus (semi-sized join),
    broadcast the Q query vectors, cosine in JVM column algebra — no
    Python in this stage."""
    spark = e.sparkSession
    qv = local_frame(
        spark,
        [(int(i), [float(x) for x in q_mat[j]])
         for j, i in enumerate(q_ids)],
        "query_id long, qv array<double>",
    )
    nb = e.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv"))
    rer = (
        nb.join(F.broadcast(short), "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select("query_id", "neighbor_id", cosine(F.col("qv"), F.col("nv")).alias("sim"))
    )
    return _top_k(rer, k)


def ivfpq_topk(emb: DataFrame, n_queries: int = N_QUERIES, k: int = TOP_K,
               n_lists: int = 16, scan_frac: float = 0.5, m_sub: int = 8,
               k_codes: int = 64, n_train: int = 2048,
               train_iters: int = 10, shortlist: int = 300,
               memo: dict | None = None) -> DataFrame:
    """IVF+PQ composition — the FAISS-IVFPQ serving shape and the full
    100 TB story in one operator: the IVF coarse quantizer SHARDS the
    corpus (each vector lives in one inverted list; a query touches
    only the lists its scan_frac probe budget covers, cutting scan
    cost ~1/scan_frac)
    while PQ COMPRESSES it (each vector's residual from its list
    centroid is stored as m_sub codes). Search: per query, ADC over
    residual codebooks within probed lists, approx sim = q·c_list +
    q·residual̂ (the q·c_list term is a per-(query, list) constant);
    shortlist → exact cosine re-rank.

    Residual encoding matters: residuals are centered near zero, so
    the shared codebooks spend their 64 codes on the deviation from
    the list centroid instead of on corpus-global structure — the
    classic IVFPQ accuracy win over PQ-on-raw-vectors. All driver-side
    state is bounded (n_lists centroids, sample-trained codebooks,
    Q-sized LUTs); determinism as everywhere (hash sample, first-k
    init, id tiebreaks)."""
    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    e = emb.select("vec_id", _as_double("embedding").alias("v"))

    # coarse quantizer: trained on the bounded hash sample (shared
    # recipe with ivf_topk — uneven random-vector lists were the
    # round-5 recall limiter)
    X = _memo_sample(memo, e, n_train)
    c_mat, list_sizes = _memo_get(
        memo, ("coarse", n_train, n_lists, train_iters),
        lambda: (lambda C: (C, _sample_list_sizes(X, C, n_lists)))(
            _train_coarse_centroids(X, n_lists, train_iters)))

    # residual codebooks trained driver-side on the same sample, in
    # OPQ-rotated coordinates (rotation trained on the residual
    # distribution — residuals, not raw vectors, are what PQ encodes
    # here)
    dim = X.shape[1]
    if dim % m_sub:
        raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")
    dsub = dim // m_sub

    def _train_residual():
        res = X - c_mat[np.argmax(X @ c_mat.T, axis=1)]
        rot = _opq_rotation(res, m_sub)
        return rot, _train_pq_codebooks_from(res @ rot, m_sub, k_codes,
                                             train_iters)

    R, codebooks = _memo_get(
        memo, ("ivfpq_train", n_train, n_lists, train_iters, m_sub, k_codes),
        _train_residual)
    cb_sq = (codebooks ** 2).sum(axis=2)

    q_ids, q_mat = _load_queries(e, n_queries, memo)
    q_cent = q_mat @ c_mat.T                      # (Q, n_lists): q·c_l
    probes = _probe_masks(q_mat, c_mat, list_sizes, scan_frac)
    # rotated-space LUT: q·r̂ = (qR)·(r̂R) since R is orthonormal
    lut = np.einsum(
        "qmd,mkd->qmk", (q_mat @ R).reshape(len(q_ids), m_sub, dsub),
        codebooks,
    )
    bc = spark.sparkContext.broadcast(
        (q_ids, q_cent, probes, lut, c_mat, codebooks, cb_sq, R)
    )
    adc = _pq_adc()

    def scan(batches):
        ids, qc, pr, lt, cm, cb, cbsq, rot = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            n_ids = pdf["vec_id"].to_numpy()
            m = np.stack(pdf["v"].to_numpy())
            mn = m / np.linalg.norm(m, axis=1, keepdims=True)
            lists = np.argmax(mn @ cm.T, axis=1)          # (B,)
            r = ((mn - cm[lists]) @ rot).reshape(len(n_ids), m_sub, dsub)
            q_res = adc(r, cb, cbsq, lt)                  # q·residual̂
            out = []
            for qi in range(len(ids)):
                probe_mask = pr[qi, lists] & (n_ids != ids[qi])
                if not probe_mask.any():
                    continue
                s = q_res[probe_mask, qi] + qc[qi, lists[probe_mask]]
                sub_ids = n_ids[probe_mask]
                idx = np.lexsort((sub_ids, -s))[:shortlist]
                out.append(pd.DataFrame({
                    "query_id": np.full(len(idx), ids[qi]),
                    "neighbor_id": sub_ids[idx],
                    "adc": s[idx],
                }))
            if out:
                yield pd.concat(out, ignore_index=True)

    cand = e.mapInPandas(
        scan, schema="query_id long, neighbor_id long, adc double"
    )
    short = _top_k(cand, shortlist, "adc").select("query_id", "neighbor_id")
    return _exact_rerank(e, short, q_ids, q_mat, k)


def _build_nsw(X, m_edges: int = 8):
    """Deterministic single-layer navigable-small-world graph over the
    bounded training sample (the routing half of HNSW, Malkov &
    Yashunin '16, minus the level hierarchy — at n_train ~1e3 one
    layer routes in the same handful of hops the hierarchy buys at
    1e9). Insertion order IS the hash-sample order (content-keyed,
    stable); each new node links bidirectionally to its m_edges
    nearest predecessors; adjacency is pruned to the 2*m_edges best
    by (sim desc, id asc) — everything argsort/lexsort, no RNG.
    O(n_train^2) dot products ON THE DRIVER against the bounded
    sample only; the corpus never enters the build."""
    import numpy as np

    n = len(X)
    nbrs: list[set] = [set() for _ in range(n)]
    for i in range(1, n):
        sims = X[:i] @ X[i]
        cand = np.lexsort((np.arange(i), -sims))[:m_edges]
        for j in cand:
            nbrs[i].add(int(j))
            nbrs[int(j)].add(i)
    adj = []
    for i in range(n):
        u = np.array(sorted(nbrs[i]), dtype=np.int64)
        if len(u) > 2 * m_edges:
            sims = X[u] @ X[i]
            keep = np.lexsort((u, -sims))[: 2 * m_edges]
            u = np.sort(u[keep])
        adj.append(u)
    return adj


def _node_levels(n: int, m_edges: int, l_max: int = 4):
    """Deterministic HNSW level per sample node: the paper's
    floor(-ln(u)·mL) with mL = 1/ln(M), but u drawn from a Knuth
    multiplicative hash of the node index instead of an RNG — the
    hash sample is content-ordered, so levels are reproducible across
    runs, engines, and partitionings. Expected layer sizes follow the
    geometric 1/M decay (n=1024, M=8: ~128 at level>=1, ~16 at >=2)."""
    import math

    import numpy as np

    m_l = 1.0 / math.log(m_edges)
    idx = np.arange(n, dtype=np.uint64)
    h = (idx * np.uint64(2654435761)) & np.uint64(0xFFFFFFFF)
    u = (h.astype(np.float64) + 0.5) / 2.0 ** 32
    return np.minimum((-np.log(u) * m_l).astype(np.int64), l_max)


def _build_nsw_over(X, nodes, m_edges: int = 8):
    """The _build_nsw insertion (greedy link to m nearest predecessors,
    prune to 2m best) restricted to a node SUBSET — one HNSW layer.
    Returns {node_id: sorted np.array of neighbor ids}."""
    import numpy as np

    nbrs: dict[int, set] = {int(v): set() for v in nodes}
    for pos in range(1, len(nodes)):
        i = int(nodes[pos])
        prev = nodes[:pos]
        sims = X[prev] @ X[i]
        cand = np.lexsort((prev, -sims))[:m_edges]
        for j in prev[cand]:
            nbrs[i].add(int(j))
            nbrs[int(j)].add(i)
    adj = {}
    for i, s in nbrs.items():
        u = np.array(sorted(s), dtype=np.int64)
        if len(u) > 2 * m_edges:
            sims = X[u] @ X[i]
            keep = np.lexsort((u, -sims))[: 2 * m_edges]
            u = np.sort(u[keep])
        adj[i] = u
    return adj


def _build_hnsw(X, m_edges: int = 8):
    """Multi-layer HNSW over the bounded sample (Malkov & Yashunin '16,
    the full hierarchy this time): geometric deterministic levels
    (_node_levels), one NSW layer per level over the nodes reaching
    it, entry = the highest-level node (id tie-break). Level-0 is
    returned as a dense list (every node lives there) so _beam_search
    consumes it unchanged; upper layers are {id: neighbors} dicts.
    Still O(Σ_l |layer_l|²) driver-side dot products over the SAMPLE
    only — the hierarchy costs ~1/(M−1) extra build work and buys
    O(log n) routing hops at large n_train, where the single-layer
    greedy start degrades."""
    import numpy as np

    n = len(X)
    levels = _node_levels(n, m_edges)
    top = int(levels.max())
    layers = []
    for lv in range(top + 1):
        nodes = np.where(levels >= lv)[0]
        layers.append(_build_nsw_over(X, nodes, m_edges))
    adj0 = [layers[0].get(i, np.empty(0, dtype=np.int64)) for i in range(n)]
    top_nodes = np.where(levels == top)[0]
    entry = int(top_nodes.min())
    return adj0, layers[1:], entry


def _hnsw_descend(upper_layers, X, q, entry: int) -> int:
    """Greedy descent through the upper HNSW layers: at each level hop
    to the best-improving neighbor ((sim desc, id asc) — deterministic)
    until a local maximum, then drop a level. Returns the level-0
    entry point for the beam search."""
    import numpy as np

    cur = entry
    for adj in reversed(upper_layers):
        while True:
            nb = adj.get(cur)
            if nb is None or not len(nb):
                break
            sims = X[nb] @ q
            best = nb[np.lexsort((nb, -sims))[0]]
            if X[best] @ q > X[cur] @ q:
                cur = int(best)
            else:
                break
    return cur


def _beam_search(adj, X, q, ef: int = 64, entry: int = 0):
    """Greedy best-first NSW search: expand the closest unexpanded
    node until no frontier node can beat the current ef-th best.
    Returns node ids, best-first (sim desc, id asc — deterministic).
    Visits O(ef * degree) nodes instead of all n_train — the routing
    payoff that grows with sample size."""
    import heapq

    import numpy as np

    s0 = float(X[entry] @ q)
    visited = {entry}
    frontier = [(-s0, entry)]            # max-heap on sim
    best: list = [(s0, -entry)]          # min-heap of top-ef (sim, -id)
    while frontier:
        neg_s, u = heapq.heappop(frontier)
        if len(best) >= ef and -neg_s < best[0][0]:
            break
        nb = [v for v in adj[u] if v not in visited]
        if not nb:
            continue
        visited.update(nb)
        sims = X[np.array(nb)] @ q
        for v, s in zip(nb, sims):
            s = float(s)
            if len(best) < ef or s > best[0][0]:
                heapq.heappush(best, (s, -int(v)))
                heapq.heappush(frontier, (-s, int(v)))
                if len(best) > ef:
                    heapq.heappop(best)
    return [-i for _, i in sorted(best, key=lambda t: (-t[0], -t[1]))]


def hnsw_topk(emb: DataFrame, n_queries: int = N_QUERIES, k: int = TOP_K,
              n_train: int = 1024, m_edges: int = 8, ef: int = 160,
              n_probe_cells: int = 128, n_assign: int = 3,
              memo: dict | None = None) -> DataFrame:
    """Graph-routed ANN (the HNSW serving shape): a MULTI-LAYER HNSW
    over the bounded hash sample (geometric deterministic levels,
    greedy descent through the upper layers to a level-0 entry, then
    the ef beam) routes each query to its n_probe_cells nearest sample
    nodes WITHOUT scanning all n_train of them; the corpus —
    partitioned into sample-node cells exactly like IVF lists, just
    ~64x finer — is scanned only inside the routed cells. Corpus vectors are SOFT-assigned to their n_assign nearest
    cells (the isotropic-embedding counterweight: a vector on a cell
    boundary is findable from either side — measured here it is what
    lifts sf0.1 recall 0.64 -> 0.96 at the same probe budget, cheaper
    than scanning 2x the cells). Expected scan fraction ~
    n_assign * n_probe_cells / n_train of the replicated table.

    Scale story: the graph + sample live on the driver and broadcast
    (n_train x dim doubles + adjacency — fixed cost, corpus-size
    independent); cell assignment is one matmul per Arrow batch; cell
    search is the same masked scan as IVF; replication factor is the
    explicit n_assign knob. At 100 TB you persist cell_id as a
    partition column and the probe prunes files. Everything
    deterministic: hash sample, lexsort edges, fixed entry node, id
    tie-breaks."""
    import numpy as np

    e = emb.select("vec_id", _as_double("embedding").alias("v"))

    X = _memo_sample(memo, e, n_train)
    adj, upper, graph_entry = _memo_get(
        memo, ("hnsw_graph", n_train, m_edges),
        lambda: _build_hnsw(X, m_edges))
    assigned = _assign_cells(e, X, "cell_id", n_assign)
    q_ids, q_mat = _load_queries(e, n_queries, memo)
    probes = np.zeros((len(q_mat), len(X)), dtype=bool)
    for qi in range(len(q_mat)):
        l0_entry = _hnsw_descend(upper, X, q_mat[qi], graph_entry)
        routed = _beam_search(adj, X, q_mat[qi], ef, entry=l0_entry)
        probes[qi, routed[:n_probe_cells]] = True
    scored = _probed_scores(
        assigned, "cell_id", q_ids, q_mat, probes
    ).dropDuplicates(["query_id", "neighbor_id"])  # soft-assign replicas
    return _top_k(scored, k)


def recall_at_k(emb: DataFrame, n_queries: int = N_QUERIES,
                k: int = TOP_K) -> DataFrame:
    """Quantified ANN quality: recall@k of each approximate path
    (LSH buckets, IVF, PQ, IVFPQ and HNSW) against the exact brute-force
    top-k — one row per method. Every input is deterministic
    (hash-derived planes/centroids, id tiebreaks), so the recall value
    is stable across runs and cluster shapes; tests pin a floor."""
    # the exact top-k is Q×k rows: materialize it ONCE and re-ship it
    # as a literal frame, so the brute-force corpus scan behind it
    # runs a single time instead of once per plan subtree referencing
    # it (the n_exact agg and the hits join each re-evaluated the
    # lineage before — r11 verdict item 6). Values are unchanged by
    # construction; only the recompute count drops.
    # shared training/query memo (r15): the five methods' hash-sample
    # jobs, query-vector collects, and identical-parameter k-means
    # trainings run ONCE per recall_at_k build instead of per method —
    # only computations with identical inputs share a memo key, so
    # every method's output is byte-identical to its standalone run
    memo: dict = {}
    exact_rows = [
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, n_queries, k, memo=memo)
        .select("query_id", "neighbor_id").collect()
    ]
    exact = local_frame(emb.sparkSession,
                        exact_rows, "query_id long, neighbor_id long")
    # one ordered name -> method table feeds both the union and the
    # literal method rows. The order is the memo's: ivf takes the
    # 2048-row sample that pq and ivfpq reuse and hnsw slices.
    methods = {
        "lsh_bucketed": lambda: lsh_bucketed_topk(emb, n_queries, k),
        "ivf": lambda: ivf_topk(emb, n_queries, k, memo=memo),
        "pq": lambda: pq_topk(emb, n_queries, k, memo=memo),
        "ivfpq": lambda: ivfpq_topk(emb, n_queries, k, memo=memo),
        "hnsw": lambda: hnsw_topk(emb, n_queries, k, memo=memo),
    }
    approx = reduce(DataFrame.unionByName, [
        fn().select("query_id", "neighbor_id").withColumn("method", F.lit(name))
        for name, fn in methods.items()
    ])
    hits = (
        approx.join(F.broadcast(exact), ["query_id", "neighbor_id"])
        .groupBy("method")
        .agg(F.count("*").alias("hits"))
    )
    # literal method rows — a method that returns ZERO candidates must
    # still report recall 0.0, not vanish from the output. A corpus
    # whose one vector is the query has no exact neighbours: its 0 hits
    # over max(n_exact, 1) read 0.0, not a division by zero.
    return (
        local_frame(emb.sparkSession, [(m,) for m in sorted(methods)],
                    "method string")
        .join(hits, "method", "left")
        .select(
            "method",
            F.round(F.coalesce(F.col("hits"), F.lit(0))
                    / F.lit(max(len(exact_rows), 1)), 6).alias("recall_at_k"),
        )
        .orderBy("method")
    )


# Recall floors for the bounds oracle, raised in round 6 after the
# trained-coarse-quantizer + probe-budget + OPQ upgrades. Measured
# across sf0.001/0.01/0.1: ivf 0.76-0.86 (was 0.56-0.62 with sampled
# centroids), ivfpq 0.90-0.94, pq 0.94-1.0 (n_train=2048 + OPQ
# rotation + wider shortlist), lsh 0.68-0.76 (unchanged path). Floors
# sit ~0.1 below every observed value at every SF while still catching
# a real recall collapse (plane/centroid/codebook change, candidate-gen
# bug, budget regression).
RECALL_FLOORS = {"ivf": 0.65, "ivfpq": 0.75, "lsh_bucketed": 0.6, "pq": 0.8,
                 "hnsw": 0.8}  # measured 0.96-1.0 (soft-assign 3, ef 160)


def ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the LSH-bucketed and IVF ANN paths vs exact top-k,
    emitted as per-method floor checks (bounds-oracle style, the
    approx_distinct_bounds pattern): `recall_ok` must be true for the
    constant-true SQL oracle to hash-match, so a recall drop below the
    pinned floor goes RED at the driver instead of invisible. Raw
    recall numbers: recall_at_k() (floors + determinism pinned in
    tests/test_similarity.py)."""
    r = recall_at_k(load_table(spark, "embeddings", sf_dir))
    floor = F.create_map(
        *[F.lit(x) for kv in sorted(RECALL_FLOORS.items()) for x in kv]
    )
    return r.select(
        "method",
        (F.col("recall_at_k") >= floor[F.col("method")]).alias("recall_ok"),
    )


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k neighbors for the demo query vectors."""
    return cosine_topk(load_table(spark, "embeddings", sf_dir))


HARD_NEG_CEIL = 0.3  # embedding_dup_pairs' near-dup tau (operators/dedup.py)


def ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for embedding/contrastive training: for
    each query vector, the top-k most-similar candidates whose cosine
    is BELOW the near-duplicate threshold (the same tau
    embedding_dup_pairs treats as duplicate) — the classic "hardest
    non-duplicate" negatives that make a contrastive batch
    informative, with the near-dups (false negatives that would
    poison the loss) excluded by construction.

    Same broadcast block-matmul scan as cosine_topk (linear in the
    corpus); the ceiling filter drops dup-range candidates BEFORE the
    per-query top-k window, so the pick is over the admissible set."""
    return cosine_topk(
        load_table(spark, "embeddings", sf_dir),
        sim_ceiling=HARD_NEG_CEIL,
    )


# Per-QUERY recall floors for the two candidate-generation paths:
# 0.2 = "every query must recover at least one of its exact top-5" —
# a real candidate-generation gate (a bucketing/probe bug typically
# zeroes individual queries long before it moves the mean, which
# ann_recall_at_k's per-method floors watch). Measured per-query
# minimum across sf0.001/0.01/0.1 is 0.4 for both methods, so the
# floor has one whole hit of margin per query.
PER_QUERY_RECALL_FLOOR = {"lsh_bucketed": 0.2, "ivf": 0.2, "hnsw": 0.4}


def _per_query_recall_ok(emb: DataFrame, approx: DataFrame,
                         floor: float) -> DataFrame:
    """(query_id, recall_ok) — per-query recall of `approx` against the
    exact top-k, compared to `floor`. The join/agg runs over Q×k rows
    (bounded); hash-verifiable against a constant-true oracle over the
    query ids."""
    exact = cosine_topk(emb).select("query_id", "neighbor_id")
    ap = (
        approx.select("query_id", "neighbor_id")
        .withColumn("_hit", F.lit(1))
    )
    return (
        exact.join(ap, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            (F.sum(F.coalesce(F.col("_hit"), F.lit(0))) / F.count("*"))
            .alias("recall")
        )
        .select("query_id", (F.col("recall") >= floor).alias("recall_ok"))
    )


def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH candidate generation, hash-verifiable (per-query
    bounds oracle): emits (query_id, recall_ok) where recall_ok is the
    query's recall vs the exact top-k compared to
    PER_QUERY_RECALL_FLOOR; the constant-true oracle goes RED at the
    driver if ANY query's bucketed candidates lose its whole exact
    neighborhood. Raw approximate top-k rows: lsh_bucketed_topk()
    (ranked-subset + recall behavior pinned in
    tests/test_similarity.py)."""
    emb = load_table(spark, "embeddings", sf_dir)
    return _per_query_recall_ok(
        emb, lsh_bucketed_topk(emb), PER_QUERY_RECALL_FLOOR["lsh_bucketed"]
    )


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probed search (trained coarse quantizer, budgeted probes),
    hash-verifiable (per-query bounds oracle): emits (query_id,
    recall_ok) vs PER_QUERY_RECALL_FLOOR — any query whose probed
    lists miss its whole exact top-k goes RED at the driver. Raw
    approximate top-k rows: ivf_topk() (behavior pinned in
    tests/test_similarity.py)."""
    emb = load_table(spark, "embeddings", sf_dir)
    return _per_query_recall_ok(
        emb, ivf_topk(emb), PER_QUERY_RECALL_FLOOR["ivf"]
    )


def ann_hnsw_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NSW-graph-routed ANN, hash-verifiable (per-query bounds oracle):
    emits (query_id, recall_ok) vs PER_QUERY_RECALL_FLOOR['hnsw'] —
    any query whose routed cells miss most of its exact top-k goes RED
    at the driver. Raw approximate top-k rows: hnsw_topk()."""
    emb = load_table(spark, "embeddings", sf_dir)
    return _per_query_recall_ok(
        emb, hnsw_topk(emb), PER_QUERY_RECALL_FLOOR["hnsw"]
    )


def _centroids(e: DataFrame, decimals: int = 6) -> DataFrame:
    """Per-label centroid vectors from (vec_id, label, v): one
    (label, dim) shuffle — posexplode + avg, map-side combined —
    yielding the TINY (c_label, c) table (n_labels rows, broadcast
    everywhere it is used). Dims are rounded so independently-averaged
    oracle centroids agree bit-for-bit."""
    dims = e.select("label", F.posexplode("v").alias("pos", "x"))
    cent = dims.groupBy("label", "pos").agg(F.avg("x").alias("m"))
    return (
        cent.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(
            F.col("label").alias("c_label"),
            F.transform("pm", lambda s: F.round(s["m"], decimals)).alias("c"),
        )
    )


def centroid_classify(emb: DataFrame, decimals: int = 6) -> DataFrame:
    """Nearest-centroid classifier over the embedding column: per-label
    centroids (_centroids), then every vector scored against the
    broadcast centroid table (the crossJoin is bounded by the label
    count, never corpus×corpus). Returns per-label n / n_correct /
    accuracy."""
    e = emb.select("vec_id", "label", _as_double("embedding").alias("v"))
    cvec = _centroids(e, decimals)
    scored = e.crossJoin(F.broadcast(cvec)).select(
        "vec_id",
        "label",
        "c_label",
        F.round(cosine(F.col("v"), F.col("c")), 6).alias("cos"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("c_label"))
    pred = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return pred.groupBy("label").agg(
        F.count("*").alias("n"),
        F.sum((F.col("label") == F.col("c_label")).cast("long")).alias("n_correct"),
        F.round(
            F.sum((F.col("label") == F.col("c_label")).cast("long")) / F.count("*"), 6
        ).alias("accuracy"),
    )


def ann_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label nearest-centroid classification accuracy."""
    return centroid_classify(load_table(spark, "embeddings", sf_dir))


def label_separation_report(emb: DataFrame, decimals: int = 6) -> DataFrame:
    """Embedding-space quality report per label (the silhouette-style
    eval an embedding pipeline runs before trusting labels for
    training): intra-label cohesion (mean member-to-own-centroid
    cosine), the most-confusable OTHER label (max centroid-centroid
    cosine, label tie-break), and the separation margin between them.
    A label whose margin goes negative is bleeding into its neighbor.

    All means are integer: per-member cosines are micro-rounded once
    and integer-summed (order-free), intra_micro = sum DIV n; the
    centroid-pair table is n_labels² rows, so the nearest-other pick
    is a bounded window. One corpus-sized join against the broadcast
    centroid table — never corpus × corpus."""
    e = emb.select("vec_id", "label", _as_double("embedding").alias("v"))
    cvec = _centroids(e, decimals)
    intra = (
        e.join(F.broadcast(cvec), e.label == cvec.c_label)
        .select(
            "label",
            F.round(cosine(F.col("v"), F.col("c")) * F.lit(1e6))
            .cast("long").alias("cos_micro"),
        )
        .groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.sum("cos_micro").alias("sum_micro"),
        )
        # explicit double floor, NOT integer DIV: Spark DIV truncates
        # toward zero while DuckDB // floors — they disagree on
        # negative sums, and a cosine mean can be negative
        .select(
            "label", "n",
            F.floor(F.col("sum_micro") / F.col("n")).alias("intra_micro"),
        )
    )
    a = cvec.select(F.col("c_label").alias("label"), F.col("c").alias("ca"))
    b = cvec.select(F.col("c_label").alias("other_label"),
                    F.col("c").alias("cb"))
    pairs = (
        a.crossJoin(F.broadcast(b))
        .where(F.col("label") != F.col("other_label"))
        .select(
            "label", "other_label",
            F.round(cosine(F.col("ca"), F.col("cb")) * F.lit(1e6))
            .cast("long").alias("inter_micro"),
        )
    )
    w = Window.partitionBy("label").orderBy(
        F.desc("inter_micro"), F.asc("other_label")
    )
    nearest = (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("label", F.col("other_label").alias("nearest_label"),
                "inter_micro")
    )
    return intra.join(nearest, "label").select(
        "label", "n", "intra_micro", "nearest_label", "inter_micro",
        (F.col("intra_micro") - F.col("inter_micro")).alias("margin_micro"),
    )


def embedding_label_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered embedding label-separation report."""
    return label_separation_report(load_table(spark, "embeddings", sf_dir))


MATRYOSHKA_DIMS = [8, 16, 32, 64]


def ann_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka dimension-truncation eval: exact top-5 recall when
    search uses only the first d dims (d = 8/16/32/64) vs the full
    64-dim exact top-5 — 'how many dims does retrieval actually need',
    the question that decides index memory (PQ compresses codes;
    truncation just drops tail dims, the MRL serving trade). The d=64
    row is a built-in control (self-comparison, recall exactly 1e6
    ppm).

    EXACTLY oracled, not bounds-gated: every stage is the
    deterministic brute-force scan (cosine_topk's broadcast-matmul
    mapInPandas per d — linear in the corpus, four passes), and the
    oracle replays the identical slicing, so recall values
    hash-verify. Recall is integer ppm over Q*K."""
    emb = load_table(spark, "embeddings", sf_dir)
    full = cosine_topk(emb).select("query_id", "neighbor_id")
    res = None
    for d in MATRYOSHKA_DIMS:
        tr = cosine_topk(
            emb.withColumn("embedding", F.slice("embedding", 1, d))
        )
        row = (
            tr.select("query_id", "neighbor_id")
            .join(full, ["query_id", "neighbor_id"])
            .agg(F.count("*").alias("hits"))
            .select(F.lit(d).alias("dims"), "hits")
        )
        res = row if res is None else res.unionByName(row)
    return res.select(
        "dims", "hits",
        F.expr(f"hits * 1000000 DIV {N_QUERIES * TOP_K}")
        .alias("recall_ppm"),
    ).orderBy("dims")


def _matryoshka_oracle() -> str:
    def topk(alias, vexpr):
        return f"""
        {alias} AS (
          SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
              ROW_NUMBER() OVER (
                PARTITION BY q.vec_id
                ORDER BY list_dot_product(q.{vexpr}, c.{vexpr}) /
                  (sqrt(list_dot_product(q.{vexpr}, q.{vexpr})) *
                   sqrt(list_dot_product(c.{vexpr}, c.{vexpr}))) DESC,
                  c.vec_id
              ) AS rnk
            FROM e q JOIN e c
              ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
          ) WHERE rnk <= {TOP_K}
        )"""

    ctes = ["e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
            topk("full_tk", "v")]
    selects = []
    for d in MATRYOSHKA_DIMS:
        ctes.append(topk(f"tk_{d}", f"v[1:{d}]"))
        selects.append(
            f"SELECT {d} AS dims, CAST(COUNT(*) AS BIGINT) AS hits "
            f"FROM tk_{d} t JOIN full_tk f USING (query_id, neighbor_id)"
        )
    u = "\n          UNION ALL\n          ".join(selects)
    return f"""
        WITH {','.join(ctes)},
        counts AS (
          {u}
        )
        SELECT dims, hits,
          CAST(hits * 1000000 // {N_QUERIES * TOP_K} AS BIGINT)
            AS recall_ppm
        FROM counts ORDER BY dims
    """


SIMILARITY_QUERIES = {
    "embedding_label_separation": embedding_label_separation,
    "ann_matryoshka_recall": ann_matryoshka_recall,
    "ann_nearest_centroid": ann_nearest_centroid,
    "ann_cosine_topk": ann_cosine_topk,
    "ann_hard_negatives": ann_hard_negatives,
    "ann_lsh_bucketed": ann_lsh_bucketed,
    "ann_ivf_topk": ann_ivf_topk,
    "ann_hnsw_topk": ann_hnsw_topk,
    "ann_knn_label_accuracy": ann_knn_label_accuracy,
    "ann_recall_at_k": ann_recall_at_k,
}

SIMILARITY_ORACLES = {
    "ann_matryoshka_recall": _matryoshka_oracle(),
    "embedding_label_separation": """
        WITH e AS (
          SELECT vec_id, label,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ),
        dims AS (
          SELECT label, unnest(range(1, len(v) + 1)) AS pos, unnest(v) AS x
          FROM e
        ),
        cent AS (
          SELECT label, pos, AVG(x) AS m FROM dims GROUP BY label, pos
        ),
        cvec AS (
          SELECT label AS c_label,
            list_transform(list(m ORDER BY pos), y -> round(y, 6)) AS c
          FROM cent GROUP BY label
        ),
        intra AS (
          SELECT e.label, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(FLOOR(CAST(SUM(CAST(ROUND(
              list_dot_product(e.v, cvec.c) /
                (sqrt(list_dot_product(e.v, e.v)) *
                 sqrt(list_dot_product(cvec.c, cvec.c))) * 1000000
            ) AS BIGINT)) AS DOUBLE) / COUNT(*)) AS BIGINT) AS intra_micro
          FROM e JOIN cvec ON e.label = cvec.c_label
          GROUP BY e.label
        ),
        pairs AS (
          SELECT a.c_label AS label, b.c_label AS other_label,
            CAST(ROUND(
              list_dot_product(a.c, b.c) /
                (sqrt(list_dot_product(a.c, a.c)) *
                 sqrt(list_dot_product(b.c, b.c))) * 1000000
            ) AS BIGINT) AS inter_micro
          FROM cvec a JOIN cvec b ON a.c_label <> b.c_label
        ),
        nearest AS (
          SELECT label, other_label AS nearest_label, inter_micro FROM (
            SELECT *, ROW_NUMBER() OVER (
              PARTITION BY label ORDER BY inter_micro DESC, other_label
            ) AS rn FROM pairs
          ) WHERE rn = 1
        )
        SELECT intra.label, n, intra_micro, nearest_label, inter_micro,
          CAST(intra_micro - inter_micro AS BIGINT) AS margin_micro
        FROM intra JOIN nearest ON intra.label = nearest.label
    """,
    "ann_nearest_centroid": """
        WITH e AS (
          SELECT vec_id, label,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ),
        dims AS (
          SELECT label, unnest(range(1, len(v) + 1)) AS pos, unnest(v) AS x
          FROM e
        ),
        cent AS (
          SELECT label, pos, AVG(x) AS m FROM dims GROUP BY label, pos
        ),
        cvec AS (
          SELECT label AS c_label,
            list_transform(list(m ORDER BY pos), y -> round(y, 6)) AS c
          FROM cent GROUP BY label
        ),
        scored AS (
          SELECT e.vec_id, e.label, cvec.c_label,
            ROUND(list_dot_product(e.v, cvec.c) /
              (sqrt(list_dot_product(e.v, e.v)) *
               sqrt(list_dot_product(cvec.c, cvec.c))), 6) AS cos
          FROM e CROSS JOIN cvec
        ),
        pred AS (
          SELECT vec_id, label, c_label FROM (
            SELECT vec_id, label, c_label,
              ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY cos DESC, c_label
              ) AS rn
            FROM scored
          ) WHERE rn = 1
        )
        SELECT label, COUNT(*) AS n,
          CAST(SUM(CASE WHEN label = c_label THEN 1 ELSE 0 END) AS BIGINT)
            AS n_correct,
          ROUND(SUM(CASE WHEN label = c_label THEN 1 ELSE 0 END) * 1.0
                / COUNT(*), 6) AS accuracy
        FROM pred GROUP BY label
    """,
    "ann_cosine_topk": f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
            list_dot_product(q.v, c.v) /
            (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))
              AS sim
          FROM e q JOIN e c ON q.vec_id < {N_QUERIES}
                           AND q.vec_id <> c.vec_id
        )
        SELECT query_id, neighbor_id, ROUND(sim, 6) AS cos_sim, rank FROM (
          SELECT query_id, neighbor_id, sim,
            ROW_NUMBER() OVER (
              PARTITION BY query_id ORDER BY sim DESC, neighbor_id
            ) AS rank
          FROM scored
        ) WHERE rank <= {TOP_K}
    """,
    "ann_hard_negatives": f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
            list_dot_product(q.v, c.v) /
            (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))
              AS sim
          FROM e q JOIN e c ON q.vec_id < {N_QUERIES}
                           AND q.vec_id <> c.vec_id
        )
        SELECT query_id, neighbor_id, ROUND(sim, 6) AS cos_sim, rank FROM (
          SELECT query_id, neighbor_id, sim,
            ROW_NUMBER() OVER (
              PARTITION BY query_id ORDER BY sim DESC, neighbor_id
            ) AS rank
          FROM scored WHERE ROUND(sim, 6) < {HARD_NEG_CEIL}
        ) WHERE rank <= {TOP_K}
    """,
    # ann_lsh_bucketed / ann_ivf_topk: per-query bounds oracles — one
    # constant-true row per demo query; the Spark side compares each
    # query's recall vs the exact top-k to PER_QUERY_RECALL_FLOOR, so
    # a single dead query hash-mismatches here.
    "ann_lsh_bucketed": f"""
        SELECT vec_id AS query_id, TRUE AS recall_ok
        FROM embeddings WHERE vec_id < {N_QUERIES}
    """,
    "ann_ivf_topk": f"""
        SELECT vec_id AS query_id, TRUE AS recall_ok
        FROM embeddings WHERE vec_id < {N_QUERIES}
    """,
    "ann_hnsw_topk": f"""
        SELECT vec_id AS query_id, TRUE AS recall_ok
        FROM embeddings WHERE vec_id < {N_QUERIES}
    """,
    # ann_recall_at_k: bounds oracle — constant-true per method; the
    # Spark side computes recall vs the exact top-k and compares to
    # RECALL_FLOORS, so any below-floor recall hash-mismatches here.
    "ann_recall_at_k": """
        SELECT 'hnsw' AS method, TRUE AS recall_ok
        UNION ALL
        SELECT 'ivf' AS method, TRUE AS recall_ok
        UNION ALL
        SELECT 'ivfpq' AS method, TRUE AS recall_ok
        UNION ALL
        SELECT 'lsh_bucketed' AS method, TRUE AS recall_ok
        UNION ALL
        SELECT 'pq' AS method, TRUE AS recall_ok
        ORDER BY method
    """,
    "ann_knn_label_accuracy": f"""
        WITH e AS (
          SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
        ),
        qs AS (
          SELECT vec_id, label, v FROM e
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
          LIMIT {KNN_SAMPLE_N}
        ),
        scored AS (
          SELECT a.vec_id AS q, a.label AS al, b.vec_id AS nb,
            b.label AS nl,
            list_dot_product(a.v, b.v) /
            (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
              AS sim
          FROM qs a JOIN e b ON a.vec_id <> b.vec_id
        ),
        top5 AS (
          SELECT q, al, nl FROM (
            SELECT q, al, nl,
              ROW_NUMBER() OVER (PARTITION BY q ORDER BY sim DESC, nb) AS rn
            FROM scored
          ) WHERE rn <= {KNN_K}
        ),
        votes AS (
          SELECT q, al, nl, COUNT(*) AS c,
            MAX(COUNT(*)) OVER (PARTITION BY q) AS cmax
          FROM top5 GROUP BY q, al, nl
        ),
        pred AS (
          SELECT q, al, MIN(nl) AS predicted
          FROM votes WHERE c = cmax GROUP BY q, al
        )
        SELECT COUNT(*) AS n,
          CAST(SUM(CASE WHEN al = predicted THEN 1 ELSE 0 END) AS BIGINT)
            AS n_correct,
          ROUND(SUM(CASE WHEN al = predicted THEN 1 ELSE 0 END) * 1.0
                / COUNT(*), 6) AS accuracy
        FROM pred
    """,
}
