"""End-to-end ETL: nested JSONL docs → star schema → lake + warehouse,
round-tripping the testdata exactly; corrupt docs quarantined not fatal."""

from __future__ import annotations

import pytest

from saurav_nayak_recipe_etl_project_spark import etl
from saurav_nayak_recipe_etl_project_spark.sources import sinks
from saurav_nayak_recipe_etl_project_spark.sources.catalog import load_table
from saurav_nayak_recipe_etl_project_spark.sources.documents import (
    export_interaction_documents,
    export_order_documents,
    export_user_documents,
    read_documents,
)
from tests.jobgroups import jobs_in_group

STAR_TABLES = ("orders", "order_items", "users", "interactions")


def test_document_etl_roundtrip(spark, sf_dir, tmp_path):
    src = tmp_path / "docs"
    export_order_documents(spark, sf_dir, str(src))

    counts = etl.run_document_etl(
        spark, str(src), str(tmp_path / "lake"), str(tmp_path / "wh")
    )
    n_orders = load_table(spark, "orders", sf_dir).count()
    n_items = load_table(spark, "lineitem", sf_dir).count()
    assert counts["orders"] == n_orders
    assert counts["order_items"] == n_items

    # warehouse truncate-load round-trip
    wh_orders = sinks.read_warehouse_table(spark, str(tmp_path / "wh" / "orders"))
    assert wh_orders.count() == n_orders
    # truncate semantics: second load does not duplicate
    sinks.load_warehouse_table(wh_orders, str(tmp_path / "wh" / "orders2"))
    sinks.load_warehouse_table(wh_orders, str(tmp_path / "wh" / "orders2"))
    assert sinks.read_warehouse_table(
        spark, str(tmp_path / "wh" / "orders2")
    ).count() == n_orders

    # csv lake is readable with headers
    lake = spark.read.option("header", "true").csv(str(tmp_path / "lake" / "orders"))
    assert lake.count() == n_orders
    assert set(lake.columns) == {"order_id", "user_id", "status", "total", "order_date"}


@pytest.fixture(scope="module")
def collections(spark, sf_dir, tmp_path_factory):
    """The three document collections, exported once for this module."""
    d = tmp_path_factory.mktemp("collections")
    export_user_documents(spark, sf_dir, str(d / "u"))
    export_order_documents(spark, sf_dir, str(d / "o"))
    export_interaction_documents(spark, sf_dir, str(d / "i"))
    return d


@pytest.fixture(scope="module")
def star_run(spark, collections, tmp_path_factory):
    """One run_full_star_etl: (output dir, counts, Spark jobs it ran)."""
    out = tmp_path_factory.mktemp("star")
    counts, jobs = jobs_in_group(spark, lambda: etl.run_full_star_etl(
        spark, str(collections / "u"), str(collections / "o"),
        str(collections / "i"), str(out / "lake"), str(out / "wh")))
    return out, counts, jobs


def test_full_star_etl(spark, sf_dir, star_run):
    out, counts, _ = star_run
    assert counts["users"] == load_table(spark, "customer", sf_dir).count()
    assert counts["orders"] == load_table(spark, "orders", sf_dir).count()
    assert counts["order_items"] == load_table(spark, "lineitem", sf_dir).count()
    assert counts["interactions"] == load_table(spark, "events", sf_dir).count()
    # all four tables land in both tiers
    for t in STAR_TABLES:
        assert (out / "lake" / t).exists()
        assert (out / "wh" / t).exists()


def test_corrupt_documents_quarantined(spark, tmp_path):
    p = tmp_path / "bad"
    p.mkdir()
    (p / "part-0.json").write_text(
        '{"order_id": 1, "user_id": 2, "status": "O", "total": 5.0, '
        '"order_date": "2024-01-01", "items": [{"line": 1, "part_id": 7, '
        '"quantity": 2.0}]}\n'
        "this is not json\n"
    )
    # Spark requires caching before querying _corrupt_record alone
    docs = read_documents(spark, str(p)).cache()
    assert docs.filter(docs._corrupt_record.isNotNull()).count() == 1
    tables = etl.normalize_documents(docs)
    assert tables["orders"].count() == 1
    assert tables["order_items"].count() == 1


def test_lake_equals_committed_warehouse(spark, star_run):
    """The lake is written from the warehouse: read back with the
    warehouse table's schema, every lake table holds the same rows in
    the same column order."""
    out, counts, _ = star_run
    for t in STAR_TABLES:
        wh = sinks.read_warehouse_table(spark, str(out / "wh" / t))
        lake = (spark.read.schema(wh.schema).option("header", "true")
                .csv(str(out / "lake" / t)))
        header = spark.read.option("header", "true").csv(
            str(out / "lake" / t)).columns
        assert header == wh.columns, t
        assert wh.count() == counts[t], t
        assert lake.exceptAll(wh).count() == 0, t
        assert wh.exceptAll(lake).count() == 0, t


def test_etl_parses_each_table_once(spark, collections, star_run, tmp_path):
    """Two Spark jobs per table (warehouse write, lake write): the row
    counts come from the warehouse write and the lake's parquet read
    runs no schema-inference job. Exact pins, so jobs that escape the
    job group fail too."""
    assert star_run[2] == 2 * len(STAR_TABLES)
    counts, jobs = jobs_in_group(spark, lambda: etl.run_document_etl(
        spark, str(collections / "o"), str(tmp_path / "lake"),
        str(tmp_path / "wh")))
    assert counts == {k: star_run[1][k] for k in ("orders", "order_items")}
    assert jobs == 4


def test_all_malformed_collection_counts_zero(spark, collections, tmp_path):
    """A collection with no good document still loads both tiers and
    its observed row count is 0 (the count of an empty write)."""
    bad = tmp_path / "u"
    bad.mkdir()
    (bad / "part-0.json").write_text("not json\n{\"user_id\": \n")
    counts = etl.run_full_star_etl(
        spark, str(bad), str(collections / "o"), str(collections / "i"),
        str(tmp_path / "lake"), str(tmp_path / "wh"))
    assert counts["users"] == 0
    assert counts["orders"] > 0
    for tier in ("lake", "wh"):
        assert (tmp_path / tier / "users" / "_SUCCESS").exists()
    assert sinks.read_warehouse_table(
        spark, str(tmp_path / "wh" / "users")).count() == 0
