"""Incrementally-maintained quality scorecard (G26): the F75
per-source rejection-reason dashboard (operators/text.py
source_quality_scorecard) kept always-current by foreachBatch
maintenance — the curation report a pipeline owner watches daily,
priced at O(drop) instead of a corpus rescan per refresh.

The G22/G23 split-of-labor pattern: `quality_reasons()` is a pure
per-document Column function, so the stream maintains ONLY the
additive (source, reason) document counts — one partial-count
partition per micro-batch in the G9 idiom (O(batch) written rows,
replay-stable overwrite, merge-on-read sum) — and the ppm rollup is
the stateless `scorecard_from_counts` shared with the batch-equality
test, so stream and batch cannot diverge on the share arithmetic.
State is CATALOG-bounded: sources × (≤6 reasons + _kept + _all) rows
per batch partition, compactable like every partial-count MV.

The registered entry carries the F75 oracle VERBATIM: the streamed
scorecard must equal the one-shot SQL scorecard value-for-value —
one hash proves per-batch count correctness, replay idempotency,
cross-batch additivity, and the rollup arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from saurav_nayak_recipe_etl_project_spark.operators.text import (
    quality_reasons,
)
from saurav_nayak_recipe_etl_project_spark.sources.catalog import load_table
from saurav_nayak_recipe_etl_project_spark.streaming import (
    drain,
    key_batches,
    read_drops,
    replay_batches,
)

_ALL = "_all"    # per-source total docs marker (internal, never emitted)
_KEPT = "_kept"  # zero-reason docs (emitted, matching F75)


def scorecard_process_batch(batch_docs: DataFrame, batch_id: int,
                            state_path: str) -> None:
    """One maintenance micro-batch: count this batch's (source,
    reason) flags — reasons, `_kept`, and the `_all` total — and
    overwrite the batch's replay-stable partial partition."""
    flagged = batch_docs.select(
        "source", quality_reasons().alias("reasons"))
    reason_rows = (
        flagged.where(F.col("reasons") != "")
        .select("source",
                F.explode(F.split("reasons", ",")).alias("reason"))
    )
    marker_rows = flagged.select(
        "source",
        F.when(F.col("reasons") == "", F.lit(_KEPT)).alias("reason"),
    ).select(
        "source",
        F.explode(F.array_compact(F.array(F.col("reason"),
                                          F.lit(_ALL)))).alias("reason"),
    )
    counts = (
        reason_rows.unionByName(marker_rows)
        .groupBy("source", "reason")
        .agg(F.count("*").alias("n_docs"))
    )
    counts.write.mode("overwrite").parquet(
        f"{state_path}/counts/batch_id={batch_id}"
    )


def read_scorecard_counts(spark: SparkSession,
                          state_path: str) -> DataFrame:
    """Merge-on-read: additive partials sum across batch partitions."""
    return (
        spark.read.option("basePath", f"{state_path}/counts")
        .parquet(f"{state_path}/counts")
        .groupBy("source", "reason")
        .agg(F.sum("n_docs").alias("n_docs"))
    )


def scorecard_from_counts(counts: DataFrame) -> DataFrame:
    """Stateless rollup from (source, reason, n_docs) counts —
    including `_all` rows — to the F75 report shape: truncating ppm
    of the source's docs, exact integers throughout (the same
    DECIMAL DIV expression as the batch entry).

    The `_kept` row is synthesized per source from the totals side
    (count coalesced to 0): a source whose EVERY document is flagged
    has no `_kept` count row in the MV, but the batch F75 entry (and
    its oracle) still reports (source, '_kept', 0) — without the
    synthesis the streamed scorecard would silently drop that row on
    a fully-rejected source."""
    totals = counts.where(F.col("reason") == _ALL).select(
        "source", F.col("n_docs").alias("source_docs"))
    kept = totals.select("source").join(
        counts.where(F.col("reason") == _KEPT), "source", "left"
    ).select(
        "source", F.lit(_KEPT).alias("reason"),
        F.coalesce("n_docs", F.lit(0)).alias("n_docs"),
    )
    rows = counts.where(
        ~F.col("reason").isin(_ALL, _KEPT)
    ).unionByName(kept)
    return (
        rows.join(F.broadcast(totals), "source")
        .select(
            "source", "reason", "n_docs", "source_docs",
            F.expr(
                "CAST(CAST(n_docs AS DECIMAL(38,0)) * 1000000"
                " DIV source_docs AS BIGINT)"
            ).alias("share_ppm"),
        )
    )


def run_scorecard_stream(spark: SparkSession, source_dir: str,
                         checkpoint_dir: str, state_path: str,
                         max_files_per_trigger: int | None = None
                         ) -> None:
    """Document drops → incrementally-maintained quality scorecard."""
    docs = read_drops(spark, source_dir,
                      "doc_id long, text string, lang string, "
                      "source string, n_chars long",
                      max_files_per_trigger)
    drain(docs, checkpoint_dir,
          lambda batch_df, batch_id: scorecard_process_batch(
              batch_df, batch_id, state_path))


def stream_quality_scorecard(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Registered IVM entry, STRICT VALUE oracle (the F75 oracle
    VERBATIM): replays the corpus through `scorecard_process_batch`
    as two doc_id-split batches — batch 0 deliberately replayed (the
    at-least-once idempotency contract, exercised every run) — then
    rolls the merged counts up to the scorecard."""
    docs = load_table(spark, "documents", sf_dir)
    state = replay_batches("scorecard_mv_", scorecard_process_batch,
                           key_batches(docs, "doc_id", 2))
    return scorecard_from_counts(read_scorecard_counts(spark, state))


SCORECARD_MV_QUERIES = {
    "stream_quality_scorecard": stream_quality_scorecard,
}

# the F75 oracle reused verbatim: streamed MV == one-shot scorecard
from saurav_nayak_recipe_etl_project_spark.operators.text import (  # noqa: E402
    TEXT_ORACLES as _TEXT_ORACLES,
)

SCORECARD_MV_ORACLES = {
    "stream_quality_scorecard": _TEXT_ORACLES["source_quality_scorecard"],
}
