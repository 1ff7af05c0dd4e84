"""The catalog reads parquet with the schema from the file footer
(`catalog.parquet_schema`), so a plan build runs no Spark job. That
schema must be exactly the one Spark infers for the same path: the
10 tables at every scale factor, a multi-file directory, and one file
per storage case the mapping distinguishes."""

from __future__ import annotations

import decimal
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import LongType, TimestampType

from saurav_nayak_recipe_etl_project_spark.sources import catalog, sinks
from tests.conftest import SF_DIR
from tests.jobgroups import jobs_in_group

SF_DIRS = [os.path.join(os.path.dirname(SF_DIR), sf)
           for sf in ("sf0.001", "sf0.01", "sf0.1")]


@pytest.fixture
def nanos_as_long(spark):
    """A bare read of TIMESTAMP(NANOS) fails unless Spark reads it as
    long, the rule the events loader sets."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def _inferred(spark, path):
    return spark.read.parquet(path).schema


@pytest.mark.parametrize("sf_dir", SF_DIRS)
@pytest.mark.parametrize("name", catalog.TABLES)
def test_footer_schema_equals_inferred(spark, nanos_as_long, sf_dir, name):
    path = os.path.join(sf_dir, f"{name}.parquet")
    assert catalog.parquet_schema(path) == _inferred(spark, path)


@pytest.mark.parametrize("name", catalog.TABLES)
def test_load_table_runs_no_job(spark, sf_dir, name):
    df, jobs = jobs_in_group(spark, lambda: catalog.load_table(spark, name, sf_dir))
    assert jobs == 0
    assert df.columns[:len(catalog.EXPECTED_COLUMNS[name])] == \
        catalog.EXPECTED_COLUMNS[name]


def test_multi_file_directory(spark, sf_dir, tmp_path):
    """perfbench's layout: `<name>.parquet/part-*.parquet`, written by
    pyarrow; files Spark skips (`_`/`.`-prefixed) are skipped here too,
    even when they sort first."""
    tbl = pq.read_table(os.path.join(sf_dir, "lineitem.parquet"))
    layout = tmp_path / "layout"
    dest = layout / "lineitem.parquet"
    dest.mkdir(parents=True)
    step = -(-tbl.num_rows // 3)
    for i in range(3):
        pq.write_table(tbl.slice(i * step, step),
                       str(dest / f"part-{i:05d}.parquet"))
    (dest / "_SUCCESS").write_bytes(b"")
    (dest / ".part-00000.parquet.crc").write_bytes(b"\0")
    assert catalog.parquet_schema(str(dest)) == _inferred(spark, str(dest))
    df, jobs = jobs_in_group(
        spark, lambda: catalog.load_table(spark, "lineitem", str(layout)))
    assert jobs == 0
    assert df.count() == tbl.num_rows


def test_storage_cases(spark, nanos_as_long, tmp_path):
    """INT96, UTC-adjusted and naive µs, TIMESTAMP(NANOS) (long under
    nanosAsLong), list<float>, decimal, nested timestamps, unsigned
    integers of every width, and a non-nullable arrow field (Spark
    reads every field as nullable)."""
    tbl = pa.table({
        "tz_us": pa.array([1, None], pa.timestamp("us", tz="UTC")),
        "naive_ms": pa.array([1, 2], pa.timestamp("ms")),
        "ns": pa.array([1, 2], pa.timestamp("ns")),
        "vec": pa.array([[1.0, 2.0], None], pa.list_(pa.float32())),
        "amount": pa.array([decimal.Decimal("1.23"), None],
                           pa.decimal128(10, 2)),
        "nested": pa.array([{"k": 1, "at": 5}, None], pa.struct(
            [("k", pa.int32()), ("at", pa.timestamp("us"))])),
        "required": pa.array([1, 2], pa.int64()),
        **{f"u{bits}": pa.array([1, None], getattr(pa, f"uint{bits}")())
           for bits in (8, 16, 32, 64)},
    })
    tbl = tbl.cast(tbl.schema.set(
        6, pa.field("required", pa.int64(), nullable=False)))
    cases = {"arrow.parquet": {},
             "int96.parquet": {"use_deprecated_int96_timestamps": True}}
    for name, kw in cases.items():
        path = str(tmp_path / name)
        pq.write_table(tbl, path, **kw)
        assert catalog.parquet_schema(path) == _inferred(spark, path), name
    # the same arrow type, told apart by its parquet storage
    ns = {name: catalog.parquet_schema(str(tmp_path / name))["ns"].dataType
          for name in cases}
    assert ns == {"arrow.parquet": LongType(), "int96.parquet": TimestampType()}


def test_spark_written_schema(spark, tmp_path):
    """A footer written by Spark carries Spark's own schema: field
    metadata and NTZ vs instant timestamps come back as Spark infers."""
    path = str(tmp_path / "spark")
    spark.sql(
        "SELECT 1 AS k, CAST('x' AS VARCHAR(5)) AS v, array(1.0D) AS a, "
        "TIMESTAMP_NTZ'2020-01-01 00:00:00' AS ntz, "
        "TIMESTAMP'2020-01-01 00:00:00' AS ltz"
    ).write.parquet(path)
    assert catalog.parquet_schema(path) == _inferred(spark, path)
    df, jobs = jobs_in_group(spark,
                             lambda: sinks.read_warehouse_table(spark, path))
    assert jobs == 0 and df.schema == _inferred(spark, path)


def test_nanos_events_load_through_footer_schema(spark, sf_dir, tmp_path):
    """events stored as TIMESTAMP(NANOS) load as bigint and normalize
    to the same NTZ instants as the µs file."""
    ev = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    i = ev.schema.get_field_index("ts")
    pq.write_table(ev.set_column(i, "ts", ev["ts"].cast(pa.timestamp("ns"))),
                   str(tmp_path / "events.parquet"), coerce_timestamps=None)
    assert catalog.event_ts_is_nanos(str(tmp_path / "events.parquet"))
    got, jobs = jobs_in_group(
        spark, lambda: catalog.load_table(spark, "events", str(tmp_path)))
    assert jobs == 0
    want = catalog.load_table(spark, "events", sf_dir)
    assert got.schema == want.schema
    assert got.exceptAll(want).count() == 0 == want.exceptAll(got).count()


def test_no_data_file_raises_sparks_error(spark, tmp_path):
    from pyspark.errors import AnalysisException

    (tmp_path / "empty").mkdir()
    (tmp_path / "empty" / "_SUCCESS").write_bytes(b"")
    assert catalog.parquet_schema(str(tmp_path / "empty")) is None
    with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
        catalog.read_parquet(spark, str(tmp_path / "empty"))
