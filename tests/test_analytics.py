"""Every registered oracle-able query must hash-match its DuckDB oracle
(same harness the driver runs at sf0.01; here at sf0.001 for speed)."""

from __future__ import annotations

import os

import pytest

from saurav_nayak_recipe_etl_project_spark.registry import ORACLES, QUERIES
from tests.oracle import assert_matches_oracle


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, sf_dir, registry_plans, name):
    df = QUERIES[name](spark, sf_dir)
    registry_plans.record(name, df)
    assert_matches_oracle(df, ORACLES[name], sf_dir)


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
