"""Every registered oracle-able query must hash-match its DuckDB oracle
(same harness the driver runs at sf0.01; here at sf0.001 for speed)."""

from __future__ import annotations

import os

import pytest

from saurav_nayak_recipe_etl_project_spark.registry import ORACLES, QUERIES
from tests.oracle import assert_matches_oracle

# The entries whose build runs Spark jobs (eager driver work: collected
# centroids, streaming drains, txlog writes, connected-components
# loops...). Every other entry builds a pure plan: `catalog.load_table`
# reads with the footer schema, so loading a table runs no job. An entry
# that stops doing work at build time comes off this list.
EAGER_BUILDS = frozenset({
    "acid_orders_cdf",
    "acid_orders_cdf_rows",
    "acid_orders_checks",
    "acid_orders_dv",
    "acid_orders_ledger",
    "acid_orders_merge",
    "acid_orders_merge_delete",
    "acid_orders_merge_dv",
    "acid_orders_optimize",
    "acid_orders_partitioned",
    "acid_orders_rename",
    "acid_orders_restore",
    "ann_cosine_topk",
    "ann_hard_negatives",
    "ann_hnsw_topk",
    "ann_index_partitioned_search",
    "ann_index_stream_batch",
    "ann_ivf_topk",
    "ann_knn_label_accuracy",
    "ann_lsh_bucketed",
    "ann_matryoshka_recall",
    "ann_recall_at_k",
    "copurchase_kcore",
    "copurchase_triangles",
    "corpus_release_pipeline",
    "customer_interpurchase_time",
    "customer_rfm",
    "dedup_clusters",
    "dedup_clusters_star",
    "dedup_keep_best",
    "dedup_semantic",
    "dedup_stream_lsh_batch",
    "diversity_sample_balanced",
    "doc_length_psi_by_source",
    "embedding_dim_clip_stats",
    "embedding_kmeans",
    "embedding_outliers_mad",
    "embedding_qc_pipeline",
    "event_anomalies_mad",
    "event_interarrival_disc",
    "event_value_percentiles_exact",
    "event_value_quartiles",
    "funnel_time_to_convert",
    "kmv_user_overlap",
    "monthly_order_value_percentiles",
    "order_value_ks_test",
    "order_value_median_mode",
    "order_value_psi",
    "order_value_trimmed_mean",
    "orderkey_gap_islands",
    "part_abc_classification",
    "part_name_entity_resolution",
    "part_pagerank",
    "part_price_size_skyline",
    "part_revenue_pareto",
    "perplexity_buckets",
    "price_quantity_decile_heatmap",
    "priority_value_mannwhitney",
    "quality_lm_spearman",
    "simhash_radius_audit",
    "split_leakage_repair",
    "stream_ann_drift",
    "stream_ann_index",
    "stream_ann_rebuild",
    "stream_clip_drift",
    "stream_clip_stats",
    "stream_dup_pairs",
    "stream_mv_user_stats",
    "stream_quality_scorecard",
    "tfidf_top_terms",
    "txsource_mv",
    "weighted_median_price",
})


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, sf_dir, registry_plans, name):
    df = registry_plans.build(name)
    assert_matches_oracle(df, ORACLES[name], sf_dir)


def test_build_jobs(registry_plans):
    """Only the entries on EAGER_BUILDS run Spark jobs while their plan
    is built, and each of them does."""
    eager = {n for n in QUERIES if registry_plans.get(n)[2]}
    assert sorted(eager - EAGER_BUILDS) == [], "builds that run jobs"
    assert sorted(EAGER_BUILDS - eager) == [], "pure builds listed as eager"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert len(df.columns) == 10


def test_all_queries_have_callable(spark):
    for name, fn in QUERIES.items():
        assert callable(fn), name
    # every suite registers or the import fails loudly: a whole suite
    # vanishing from the registry shows up here as a count drop
    assert len(QUERIES) == len(ORACLES) == 289


def test_query_index_doc_is_current():
    """docs/QUERIES.md is generated from the registry, so a changed
    entry or first docstring line must come with the regenerated file."""
    from saurav_nayak_recipe_etl_project_spark.plans.index import render

    path = os.path.join(os.path.dirname(__file__), "..", "docs", "QUERIES.md")
    with open(path, encoding="utf-8") as f:
        assert f.read() == render(), (
            "regenerate with "
            "`python -m saurav_nayak_recipe_etl_project_spark.plans.index`")


def test_harness_detects_mismatches(spark, sf_dir):
    """Meta-test: the comparator must FAIL on wrong values, wrong row
    counts, and wrong column names — otherwise every green above is
    vacuous."""
    df = QUERIES["priority_distribution"](spark, sf_dir)
    for bad_sql in (
        # wrong values
        "SELECT o_orderpriority, COUNT(*) + 1 AS cnt FROM orders GROUP BY 1",
        # wrong row count
        "SELECT o_orderpriority, COUNT(*) AS cnt FROM orders GROUP BY 1 LIMIT 2",
        # wrong column name
        "SELECT o_orderpriority, COUNT(*) AS wrong FROM orders GROUP BY 1",
    ):
        with pytest.raises(AssertionError):
            assert_matches_oracle(df, bad_sql, sf_dir)
