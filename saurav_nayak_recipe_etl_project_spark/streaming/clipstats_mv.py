"""Incrementally-maintained clip-calibration stats (G28): the F71
per-dimension P1/P50/P99 + clipped-mass readout
(operators/linalg.py dim_clip_stats) kept always-current by
foreachBatch maintenance — the quantization-calibration dashboard a
100 TB embedding pipeline refreshes per drop, priced at O(batch·d)
instead of a corpus rescan.

The G26 split-of-labor: per-dimension EXACT percentiles are not
additive, but the (dim, micro-value) COUNTS under them are — so the
stream maintains only per-batch (dim, v, c) count partials (the G9
idiom: O(batch·d) written rows, replay-stable overwrite,
merge-on-read sum) and `clip_stats_from_counts` is the stateless
weighted rollup: the banded `with_grouped_rank` lane with `c` as the
cumulative weight, percentile = min v whose inclusive cumulative
count reaches rank ceil(q·n) — the weighted form of the batch entry's
row-ranked type-1 inverse CDF, provably equal on merged counts
(value at row-rank k == min v with cumulative value-count >= k).
State is value-distribution bounded (distinct micro values per dim,
never corpus-rows-sized after compaction), windows stay banded — no
corpus-sized window partitions.

The registered entry carries the F71 oracle VERBATIM: the streamed
stats must equal the one-shot batch readout value-for-value — one
hash proves per-batch count correctness, replay idempotency,
cross-batch additivity, and the weighted-rank rollup arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from saurav_nayak_recipe_etl_project_spark.operators.linalg import MICRO
from saurav_nayak_recipe_etl_project_spark.sources.catalog import load_table
from saurav_nayak_recipe_etl_project_spark.streaming import (
    drain,
    fold_batches,
    key_batches,
    read_drops,
    replay_batches,
)


def clipstats_process_batch(batch_emb: DataFrame, batch_id: int,
                            state_path: str) -> None:
    """One maintenance micro-batch: this batch's (dim, micro-value)
    counts, overwritten into a replay-stable partial partition.
    One explode + one partial-aggregated groupBy — O(batch·d)."""
    dims = batch_emb.select(
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * MICRO).cast("long"),
            )
        ).alias("dim", "v"),
    )
    counts = dims.groupBy("dim", "v").agg(F.count("*").alias("c"))
    counts.write.mode("overwrite").parquet(
        f"{state_path}/counts/batch_id={batch_id}"
    )


def read_clipstats_counts(spark: SparkSession,
                          state_path: str) -> DataFrame:
    """Merge-on-read: additive partials sum across batch partitions
    to one exact (dim, v, c) frame."""
    return (
        spark.read.option("basePath", f"{state_path}/counts")
        .parquet(f"{state_path}/counts")
        .groupBy("dim", "v")
        .agg(F.sum("c").alias("c"))
    )


def clip_stats_from_counts(cnt: DataFrame) -> DataFrame:
    """Stateless rollup from merged (dim, v, c) counts to the F71
    readout (dim, n, p01/p50/p99_micro, n_below, n_above). Weighted
    banded rank: `with_grouped_rank` over the counts frame with the
    count as the cumulative weight — the window partition is
    (dim, value-band), never a whole dimension; percentile q = min v
    whose inclusive cumulative count reaches (n·q + 99) DIV 100,
    integer-exact like the batch entry."""
    from saurav_nayak_recipe_etl_project_spark.functions.ranking import (
        derive_band_width,
        with_grouped_rank,
    )

    # defensively merge (the ranking lane needs a strict total order,
    # so (dim, v) must be unique) and materialize ONCE: four plan
    # branches consume this frame (width derivation, the ranked lane,
    # n_per, and the final clip rollup), and without the pin each
    # would re-run the partial-partition scan + sum (r12 review
    # finding). The frame is value-support-sized, not corpus-sized —
    # safe to pin.
    cnt = (cnt.groupBy("dim", "v").agg(F.sum("c").alias("c"))
           .localCheckpoint())
    width = derive_band_width(cnt, "v")
    ranked = with_grouped_rank(
        cnt,
        ["dim"],
        ["v"],
        bucket=F.floor(F.col("v") / F.lit(width)),
        cumsum_of="c",
        cumsum_col="cum",
    )
    n_per = cnt.groupBy("dim").agg(F.sum("c").alias("n"))
    aggs = [F.max("n").alias("n")]
    for q in (1, 50, 99):
        k = F.expr(f"(n * {q} + 99) DIV 100")
        aggs.append(
            F.min(F.when(F.col("cum") >= k, F.col("v")))
            .alias(f"p{q:02d}_micro")
        )
    pct = (
        ranked.join(F.broadcast(n_per), "dim")
        .groupBy("dim").agg(*aggs)
    )
    return (
        cnt.join(F.broadcast(pct), "dim")
        .groupBy("dim")
        .agg(
            F.max("n").alias("n"),
            F.max("p01_micro").alias("p01_micro"),
            F.max("p50_micro").alias("p50_micro"),
            F.max("p99_micro").alias("p99_micro"),
            F.sum(
                F.when(F.col("v") < F.col("p01_micro"), F.col("c"))
                .otherwise(F.lit(0))
            ).alias("n_below"),
            F.sum(
                F.when(F.col("v") > F.col("p99_micro"), F.col("c"))
                .otherwise(F.lit(0))
            ).alias("n_above"),
        )
        .select(
            F.col("dim").cast("int").alias("dim"),
            "n", "p01_micro", "p50_micro", "p99_micro",
            "n_below", "n_above",
        )
    )


CLIP_DRIFT_BAND = 100_000  # 0.1 in micro units — fixed, SQL-portable


def clipstats_drift(spark: SparkSession, state_path: str,
                    band: int = CLIP_DRIFT_BAND) -> DataFrame:
    """Embedding value-distribution drift alarm over the clip-stats
    MV (the G27 idea applied to the G28 state): per batch, the JS
    divergence (micro-nats) of that batch's value-band histogram from
    the all-batches corpus histogram — `drift_from_counts` (the G22
    engine) reused VERBATIM with batch_id as the day key and the
    fixed-width value band (v DIV 100000, i.e. 0.1 units — both
    engines truncate integer division toward zero) as the category.
    A drop whose embedding distribution shifted (new encoder version,
    pipeline bug upstream) piles mass into different bands and its
    js_micro jumps — caught from counts the ingest ALREADY maintains,
    no second corpus scan, O(batches × bands) arithmetic.

    Reads the per-batch partials, so it is a PRE-COMPACTION readout:
    compact_clipstats_state folds history into one partition, after
    which the alarm sees a single merged in-distribution batch (the
    same reset-by-maintenance semantics as the G29 rebuild)."""
    from saurav_nayak_recipe_etl_project_spark.streaming.drift import (
        drift_from_counts,
    )

    # ONE aggregation straight from the per-batch partials to the
    # (batch, band) grid — banding inside the groupBy key, no wasted
    # per-distinct-value intermediate (r13 review finding)
    cnt = (
        spark.read.option("basePath", f"{state_path}/counts")
        .parquet(f"{state_path}/counts")
        .groupBy(
            F.col("batch_id").cast("long").alias("d"),
            F.expr(f"v DIV {band}").alias("event_type"),
        )
        .agg(F.sum("c").alias("c"))
    )
    return drift_from_counts(cnt).select(
        F.col("d").alias("batch_id"),
        F.col("n_events").alias("n_values"),
        "js_micro", "js_nats",
    )


def stream_clip_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered drift-alarm entry, STRICT VALUE oracle: three
    vec_id-third batches through the real clip-stats maintenance —
    batch 0 deliberately replayed (partials must be replay-stable),
    batch 2 PLANTED with a +0.25 embedding shift (the new-encoder
    incident) — then the per-batch value-histogram JS readout. The
    oracle rebuilds the batch histograms analytically (same thirds,
    same shift, same micro rounding) and reruns the G22 integer JS
    arithmetic — one hash proves the per-batch counts, their replay
    idempotency, the fixed-band pooling, and the drift scalar; the
    planted batch separating (js_micro ≫ batches 0-1) is pinned in
    tests, not here (the oracle already hash-verifies the values)."""
    emb = load_table(spark, "embeddings", sf_dir)
    b0, b1, b2 = key_batches(emb, "vec_id", 3)
    shifted = b2.withColumn(
        "embedding",
        F.transform("embedding", lambda x: x.cast("double") + F.lit(0.25)),
    )
    state = replay_batches("stream_clip_drift_", clipstats_process_batch,
                           [b0, b1, shifted])
    return clipstats_drift(spark, state)


def compact_clipstats_state(spark: SparkSession, state_path: str) -> int:
    """Fold every partial-count partition into one batch dir with
    duplicates merged — state shrinks to the distinct (dim, v)
    support. Same quiesced-boundary contract as the other partial-
    count MVs (folding erases per-batch history, so a replay of an
    already-committed batch afterwards would double-count). Returns
    the number of partition dirs removed.

    Crash-safe (r12 review finding): the folded TOTALS must never
    coexist with the partials they fold — a read would silently
    double-count — so the fold is swapped in by `fold_batches`."""
    return fold_batches(
        spark, f"{state_path}/counts",
        lambda partials: partials.groupBy("dim", "v").agg(
            F.sum("c").alias("c")))


def run_clipstats_stream(spark: SparkSession, source_dir: str,
                         checkpoint_dir: str, state_path: str,
                         max_files_per_trigger: int | None = None) -> None:
    """Embedding drops → incrementally-maintained clip calibration."""
    emb = read_drops(spark, source_dir,
                     "vec_id long, embedding array<float>, label int",
                     max_files_per_trigger)
    drain(emb, checkpoint_dir,
          lambda batch_df, batch_id: clipstats_process_batch(
              batch_df, batch_id, state_path))


def stream_clip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered IVM entry, STRICT VALUE oracle (the F71 oracle
    VERBATIM): replays the embeddings table through
    `clipstats_process_batch` as two vec_id-split batches — batch 0
    deliberately replayed (the at-least-once idempotency contract,
    exercised every run) — then rolls the merged counts up to the
    calibration readout."""
    emb = load_table(spark, "embeddings", sf_dir)
    state = replay_batches("clipstats_mv_", clipstats_process_batch,
                           key_batches(emb, "vec_id", 2))
    return clip_stats_from_counts(read_clipstats_counts(spark, state))


# Analytic rebuild of the three batch histograms (same thirds, same
# planted +0.25 shift on the last third, same micro rounding and
# fixed 0.1-unit band — integer // truncates toward zero in both
# engines), then the G22 integer JS arithmetic verbatim.
_CLIP_DRIFT_ORACLE = f"""
    WITH bounds AS (
      SELECT MIN(vec_id) AS lo, MAX(vec_id) AS hi FROM embeddings
    ),
    cuts AS (
      SELECT lo + (hi - lo) // 3 AS c1,
             lo + 2 * (hi - lo) // 3 AS c2
      FROM bounds
    ),
    vals AS (
      SELECT
        CASE WHEN e.vec_id <= c.c1 THEN 0
             WHEN e.vec_id <= c.c2 THEN 1 ELSE 2 END AS d,
        CAST(round((CAST(embedding[i.i + 1] AS DOUBLE)
          + CASE WHEN e.vec_id > c.c2 THEN 0.25 ELSE 0 END)
          * {MICRO}) AS BIGINT) AS v
      FROM embeddings e
      CROSS JOIN cuts c,
        UNNEST(range(0, len(embedding))) AS i(i)
    ),
    cnt AS (
      SELECT d, v // {CLIP_DRIFT_BAND} AS event_type, COUNT(*) AS c
      FROM vals GROUP BY 1, 2
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
    SELECT CAST(d AS BIGINT) AS batch_id, CAST(nd AS BIGINT) AS n_values,
      CAST((sp // nd + sq // nn) // 2 AS BIGINT) AS js_micro,
      ROUND(CAST((sp // nd + sq // nn) // 2 AS BIGINT) / 1000000.0, 4)
        AS js_nats
    FROM agg
"""

CLIPSTATS_MV_QUERIES = {
    "stream_clip_stats": stream_clip_stats,
    "stream_clip_drift": stream_clip_drift,
}

# the F71 oracle reused verbatim: streamed MV == one-shot batch readout
from saurav_nayak_recipe_etl_project_spark.operators.linalg import (  # noqa: E402
    LINALG_ORACLES as _LINALG_ORACLES,
)

CLIPSTATS_MV_ORACLES = {
    "stream_clip_stats": _LINALG_ORACLES["embedding_dim_clip_stats"],
    "stream_clip_drift": _CLIP_DRIFT_ORACLE,
}
