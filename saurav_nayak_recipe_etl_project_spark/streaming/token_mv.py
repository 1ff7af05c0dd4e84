"""Streaming token-accounting MV: per-source document and BPE-ish
token counts maintained continuously from document drops — the
bookkeeping a training-data pipeline needs ALWAYS current, because the
source mixing weights (operators/text.py F69) are recomputed from it
every time a run is launched.

Split of labor (the drift_from_counts pattern, G22): the STREAM
maintains only the additive state — per-source (n_docs, tokens)
counts, a complete-mode aggregation whose state is SOURCE-CATALOG
bounded (one row per source, never corpus-sized) — and the tempered
mixing weights are a stateless rollup computed FROM those counts via
the SAME `mixture_from_counts` the batch entry uses. Stream and batch
therefore cannot diverge on the mixing arithmetic; the twin test only
has to pin the counts, and weight equality follows structurally.

Token counting is the same JVM-side regexp as the batch scan
(functions/text_fn.BPE_PIECE) — no Python in the stream's row path.

Reference scope: the reference's event-driven layer reloads tables on
file arrival (bigquery_loader_function/main.py:1-60) with no running
aggregates; continuous token accounting is part of the mandated
streaming extension.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from saurav_nayak_recipe_etl_project_spark.functions.text_fn import BPE_PIECE
from saurav_nayak_recipe_etl_project_spark.streaming import drain, read_drops

DOC_SCHEMA = "doc_id long, text string, lang string, source string"


def run_source_token_stream(spark: SparkSession, source_dir: str,
                            checkpoint_dir: str, query_name: str,
                            max_files_per_trigger: int | None = None,
                            ) -> None:
    """Drain the document drops currently landed (availableNow,
    exactly once) into a per-source counts MV named ``query_name``.

    State shape at 100 TB: the aggregation keys on `source` alone —
    state rows = |source catalog|, each an additive (count, sum)
    pair; a year of drops costs the same state as a day. Memory sink
    here (the test harness); production swaps a Delta/parquet MV —
    the counts frame contract is what downstream shares."""
    docs = read_drops(spark, source_dir, DOC_SCHEMA, max_files_per_trigger)
    counts = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(
            F.size(F.regexp_extract_all("text", F.lit(BPE_PIECE), 0))
            .cast("long")
        ).alias("tokens"),
    )
    drain(counts, checkpoint_dir, query_name, "complete")
