"""Physical-plan audits: the 100 TB posture is only real if the plans
show it. Assert predicate pushdown, column pruning, broadcast joins,
and whole-stage codegen on the headline shapes."""

from __future__ import annotations

from saurav_nayak_recipe_etl_project_spark.registry import QUERIES


def _plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q6_predicates_pushed_to_scan(spark, sf_dir):
    plan = _plan(QUERIES["q6_forecast_revenue"](spark, sf_dir))
    assert "PushedFilters:" in plan
    # every filterable predicate reaches the parquet reader
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert any(
            col in line and "PushedFilters" in line
            for line in plan.splitlines()
        ), f"{col} not pushed:\n{plan}"


def test_top_parts_prunes_columns_and_broadcasts(spark, sf_dir):
    plan = _plan(QUERIES["top_parts"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # lineitem scan must read only the join key, not the 16-col row
    scan_lines = [
        line for line in plan.splitlines()
        if "ReadSchema" in line and "lineitem" not in line
    ]
    read_schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    li = next(s for s in read_schemas if "l_partkey" in s)
    assert "l_extendedprice" not in li and "l_comment" not in li
    pt = next(s for s in read_schemas if "p_name" in s)
    assert "p_retailprice" not in pt


def test_q5_broadcasts_all_dims(spark, sf_dir):
    plan = _plan(QUERIES["q5_local_supplier_volume"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_q1_map_side_combine_single_shuffle(spark, sf_dir):
    plan = _plan(QUERIES["q1_pricing_summary"](spark, sf_dir))
    import re

    assert "partial_sum" in plan          # map-side combine before shuffle
    # exactly one shuffle (formatted mode prints each node twice:
    # once in the tree, once as a "(n) Exchange" detail header)
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
    assert "BatchEvalPython" not in plan  # no Python in the hot path


def test_no_cartesian_products_anywhere(registry_plans):
    # returned_vs_global legitimately cross-joins two 1-row aggregates;
    # everything else must not.
    for name in QUERIES:
        if name in ("returned_vs_global", "view_purchase_funnel"):
            continue
        plan = registry_plans.get(name)[1]
        assert "CartesianProduct" not in plan, f"cartesian in {name}"
