"""Single registry of every implemented query/operator (SURVEY.md §2).

QUERIES: name -> callable(spark, sf_dir) -> DataFrame
ORACLES: name -> equivalent DuckDB SQL (omitted for non-SQL-expressible
ops; the driver then records a rows-only check).
"""

from __future__ import annotations

from saurav_nayak_recipe_etl_project_spark.plans.analytics import (
    ANALYTICS_ORACLES,
    ANALYTICS_QUERIES,
)

QUERIES = {}
ORACLES = {}

QUERIES.update(ANALYTICS_QUERIES)
ORACLES.update(ANALYTICS_ORACLES)


def _register(queries: dict, oracles: dict) -> None:
    QUERIES.update(queries)
    ORACLES.update(oracles)


# The suites: each module registers its queries and oracles. An import
# error propagates, so a broken suite fails the registry import loudly.
def _load_suites() -> None:
    import importlib

    for mod, q_attr, o_attr in [
        ("saurav_nayak_recipe_etl_project_spark.operators.normalize", "NORMALIZE_QUERIES", "NORMALIZE_ORACLES"),
        ("saurav_nayak_recipe_etl_project_spark.operators.validation", "VALIDATION_QUERIES", "VALIDATION_ORACLES"),
        ("saurav_nayak_recipe_etl_project_spark.operators.dedup", "DEDUP_QUERIES", "DEDUP_ORACLES"),
        ("saurav_nayak_recipe_etl_project_spark.operators.linedup", "LINEDUP_QUERIES", "LINEDUP_ORACLES"),
        ("saurav_nayak_recipe_etl_project_spark.operators.corpus_audit", "CORPUS_AUDIT_QUERIES", "CORPUS_AUDIT_ORACLES"),
        ("saurav_nayak_recipe_etl_project_spark.operators.similarity", "SIMILARITY_QUERIES", "SIMILARITY_ORACLES"),
        ("saurav_nayak_recipe_etl_project_spark.operators.text", "TEXT_QUERIES", "TEXT_ORACLES"),
        ("saurav_nayak_recipe_etl_project_spark.operators.multimodal", "MULTIMODAL_QUERIES", "MULTIMODAL_ORACLES"),
        ("saurav_nayak_recipe_etl_project_spark.operators.asof", "ASOF_QUERIES", "ASOF_ORACLES"),
        ("saurav_nayak_recipe_etl_project_spark.operators.delta", "DELTA_QUERIES", "DELTA_ORACLES"),
        ("saurav_nayak_recipe_etl_project_spark.operators.rangejoin", "RANGEJOIN_QUERIES", "RANGEJOIN_ORACLES"),
        ("saurav_nayak_recipe_etl_project_spark.operators.topk", "TOPK_QUERIES", "TOPK_ORACLES"),
        ("saurav_nayak_recipe_etl_project_spark.operators.packing", "PACKING_QUERIES", "PACKING_ORACLES"),
        ("saurav_nayak_recipe_etl_project_spark.operators.retrieval", "RETRIEVAL_QUERIES", "RETRIEVAL_ORACLES"),
        ("saurav_nayak_recipe_etl_project_spark.operators.semdedup", "SEMDEDUP_QUERIES", "SEMDEDUP_ORACLES"),
        ("saurav_nayak_recipe_etl_project_spark.operators.vector_index", "VECTOR_INDEX_QUERIES", "VECTOR_INDEX_ORACLES"),
        ("saurav_nayak_recipe_etl_project_spark.operators.graph", "GRAPH_QUERIES", "GRAPH_ORACLES"),
        ("saurav_nayak_recipe_etl_project_spark.operators.fuzzy", "FUZZY_QUERIES", "FUZZY_ORACLES"),
        ("saurav_nayak_recipe_etl_project_spark.operators.skyline", "SKYLINE_QUERIES", "SKYLINE_ORACLES"),
        ("saurav_nayak_recipe_etl_project_spark.operators.privacy", "PRIVACY_QUERIES", "PRIVACY_ORACLES"),
        ("saurav_nayak_recipe_etl_project_spark.operators.linalg", "LINALG_QUERIES", "LINALG_ORACLES"),
        ("saurav_nayak_recipe_etl_project_spark.operators.kmeans", "KMEANS_QUERIES", "KMEANS_ORACLES"),
        ("saurav_nayak_recipe_etl_project_spark.pipelines", "PIPELINE_QUERIES", "PIPELINE_ORACLES"),
        ("saurav_nayak_recipe_etl_project_spark.plans.temporal", "TEMPORAL_QUERIES", "TEMPORAL_ORACLES"),
        ("saurav_nayak_recipe_etl_project_spark.plans.profiling", "PROFILING_QUERIES", "PROFILING_ORACLES"),
        ("saurav_nayak_recipe_etl_project_spark.plans.advanced", "ADVANCED_QUERIES", "ADVANCED_ORACLES"),
        ("saurav_nayak_recipe_etl_project_spark.plans.relational_ext", "RELATIONAL_EXT_QUERIES", "RELATIONAL_EXT_ORACLES"),
        ("saurav_nayak_recipe_etl_project_spark.plans.regression", "REGRESSION_QUERIES", "REGRESSION_ORACLES"),
        ("saurav_nayak_recipe_etl_project_spark.plans.twosample", "TWOSAMPLE_QUERIES", "TWOSAMPLE_ORACLES"),
        ("saurav_nayak_recipe_etl_project_spark.plans.sqlfeatures", "SQLFEATURES_QUERIES", "SQLFEATURES_ORACLES"),
        ("saurav_nayak_recipe_etl_project_spark.streaming.events", "STREAMING_QUERIES", "STREAMING_ORACLES"),
        ("saurav_nayak_recipe_etl_project_spark.streaming.sessions", "STREAMING_SESSION_QUERIES", "STREAMING_SESSION_ORACLES"),
        ("saurav_nayak_recipe_etl_project_spark.streaming.joins", "STREAM_JOIN_QUERIES", "STREAM_JOIN_ORACLES"),
        ("saurav_nayak_recipe_etl_project_spark.streaming.doc_dedup", "STREAM_DOC_DEDUP_QUERIES", "STREAM_DOC_DEDUP_ORACLES"),
        ("saurav_nayak_recipe_etl_project_spark.streaming.mv", "STREAM_MV_QUERIES", "STREAM_MV_ORACLES"),
        ("saurav_nayak_recipe_etl_project_spark.streaming.pair_mv", "STREAM_PAIR_MV_QUERIES", "STREAM_PAIR_MV_ORACLES"),
        ("saurav_nayak_recipe_etl_project_spark.streaming.ann_mv", "ANN_MV_QUERY_FNS", "ANN_MV_ORACLES"),
        ("saurav_nayak_recipe_etl_project_spark.sources.acid", "TXLOG_QUERIES", "TXLOG_ORACLES"),
        ("saurav_nayak_recipe_etl_project_spark.streaming.scorecard_mv", "SCORECARD_MV_QUERIES", "SCORECARD_MV_ORACLES"),
        ("saurav_nayak_recipe_etl_project_spark.streaming.drift", "STREAM_DRIFT_QUERIES", "STREAM_DRIFT_ORACLES"),
        ("saurav_nayak_recipe_etl_project_spark.streaming.clipstats_mv", "CLIPSTATS_MV_QUERIES", "CLIPSTATS_MV_ORACLES"),
    ]:
        m = importlib.import_module(mod)
        _register(getattr(m, q_attr, {}), getattr(m, o_attr, {}))


_load_suites()


# The driver oracles only the FIRST 50 registry entries per round.
# ROTATION POLICY (round 6 onward): each round's 50-entry window is
#   (1) every entry whose semantics, oracle, or load-bearing internals
#       changed this round (front-loaded — fresh external rows for
#       every change), then
#   (2) the STALEST entries first — ordered by the round each was last
#       externally verified in (computed from the CORRECTNESS_r*.json
#       union) — until the window is full.
# Round-14 window composition (executing the r13 verdict's CORRECTED
# stale list — its item 1 found the r13 planner's arithmetic dropped
# three r7-stale names; staleness recomputed here from the
# CORRECTNESS_r1-r13 union: r7x7, r8x50, r9x41, r10x48, r11x46,
# r12x41, r13x50):
#   (1) changed/new in round 14 (13): the six NEW ACID entries —
#       acid_orders_merge_dv (DV-writing MERGE: merge-on-read upserts,
#       zero data files removed on the matched side, witnessed),
#       acid_orders_rename (column mapping: metadata-only renames,
#       old files read under the new name, checkpoint survival,
#       stats-pruned read on the renamed column), acid_orders_
#       partitioned (hive-partitioned table, directory-level prune
#       witnessed from the actual scanned file list), acid_orders_
#       checks (the A20 constraint surface as a pass/violate/unknown
#       audit), acid_orders_optimize (bin-packing small-file
#       compaction: only sub-target files rewritten, big-file-
#       untouched witness), acid_orders_cdf_rows (the Delta CDF
#       _change_type vocabulary: full pre/post row images) — plus
#       the seven txlog/txsource-backed
#       entries whose
#       internals changed this round (written-bytes CHECK validation,
#       per-file bytes stats, colmap/partition plumbing in every
#       read/write path, columnar DV masking + byte pacing in the
#       DataSource): the six prior acid_* entries and txsource_mv;
#   (2) ALL SEVEN r7-stale entries (the corrected list — the three
#       the r13 notes missed lead): segment_revenue_trend,
#       segment_supplier_hhi, supplier_scorecard, text_lm_score,
#       text_type_token_ratio, weighted_sample_norep, zipf_slope;
#   (3) the r8 block, alphabetical — 13 + 7 + 30 = 50, so the cut
#       falls after region_nation_roster; the remaining 20 r8 names
#       (returned_vs_global, schema_map_orders, segment_decayed_value
#       .. vocab_coverage) lead round 15's fill, then the r9 block.
_DRIVER_PRIORITY = [
    # -- (1) changed/new in round 14 --
    "acid_orders_merge_dv",
    "acid_orders_rename",
    "acid_orders_partitioned",
    "acid_orders_checks",
    "acid_orders_optimize",
    "acid_orders_cdf_rows",
    "acid_orders_ledger",
    "acid_orders_merge",
    "acid_orders_cdf",
    "acid_orders_merge_delete",
    "acid_orders_restore",
    "acid_orders_dv",
    "txsource_mv",
    # -- (2) all seven r7-stale entries --
    "segment_revenue_trend",
    "segment_supplier_hhi",
    "supplier_scorecard",
    "text_lm_score",
    "text_type_token_ratio",
    "weighted_sample_norep",
    "zipf_slope",
    # -- (3) the r8 block, alphabetical; the 50-cut falls after
    #    schema_map_orders (entry 50) --
    "ann_hard_negatives",
    "asof_latest_view_30m",
    "attribution_credit",
    "bm25_search",
    "brand_triples",
    "copurchase_kcore",
    "customer_rfm",
    "customer_segments_orderby_all",
    "event_type_frequency_sketch",
    "funnel_three_step",
    "funnel_time_to_convert",
    "kmv_distinct_users",
    "kmv_user_overlap",
    "order_line_proration",
    "order_metrics_unpivot_nulls",
    "order_value_psi",
    "orderkey_gap_islands",
    "orders_groupby_all",
    "part_abc_classification",
    "part_name_near_collisions",
    "part_revenue_pareto",
    "part_revenue_rank",
    "parts_in_urgent_orders",
    "perplexity_buckets",
    "price_quantity_decile_heatmap",
    "priority_distribution",
    "q4_priority_with_big_items",
    "q7_volume_shipping",
    "quality_lm_spearman",
    "region_nation_roster",
]


def _reorder() -> None:
    """Mutate QUERIES in place so iteration follows _DRIVER_PRIORITY."""
    ordered = {n: QUERIES[n] for n in _DRIVER_PRIORITY if n in QUERIES}
    for name, fn in list(QUERIES.items()):
        ordered.setdefault(name, fn)
    QUERIES.clear()
    QUERIES.update(ordered)


_reorder()
