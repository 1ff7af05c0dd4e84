"""Table catalog over the driver testdata parquet files.

Mirrors the reference's fixed 5-table star schema catalog
(reference schema/*.json, output/*.csv) generalized to the testdata's
TPC-H-ish schema. Loaders are lazy parquet scans, so Catalyst keeps
full pushdown/pruning ability — no eager caching, no collect. Each scan
is given the schema read from the parquet footer on the driver
(`parquet_schema`), so building a plan runs no Spark job: a bare
`spark.read.parquet` runs one schema-inference job per call.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    DataType,
    DecimalType,
    IntegerType,
    IntegralType,
    LongType,
    MapType,
    ShortType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough (even at 100 TB total scale, dims stay
# orders of magnitude below facts) that broadcast joins are the right
# default physical strategy.
DIM_TABLES = frozenset({"region", "nation", "customer", "supplier", "part"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        return _load_events(spark, sf_dir)
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """`spark.read.parquet(path)` with the schema taken from the
    footer, so it runs no schema-inference job. A path with no data
    file is read bare, which raises Spark's own error for it."""
    schema = parquet_schema(path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


# the key under which Spark's parquet writer stores its own schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
# Spark's type for each unsigned integer width, which arrow's
# conversion does not map
_UNSIGNED = {8: ShortType(), 16: IntegerType(), 32: LongType(),
             64: DecimalType(20, 0)}


def parquet_schema(path: str) -> StructType | None:
    """The schema Spark infers for the parquet file or directory at
    `path` (None when it holds no data file), from one driver-side
    footer read of the first data file in Spark's order — the file
    Spark's own inference reads when schemas are not merged:

    - a footer written by Spark holds Spark's schema: take it;
    - otherwise map the arrow schema: a naive timestamp is
      timestamp_ntz, a UTC-adjusted one and INT96 are timestamp,
      INT64 TIMESTAMP(NANOS) is bigint (Spark reads it so under
      `nanosAsLong`, the events rule), an unsigned integer is the
      next wider signed type (decimal(20,0) for 64 bits);
    - every field is nullable, as Spark makes every file-source field.

    A pure function of the file: nothing is cached on the path."""
    import pyarrow.parquet as pq

    data_file = _first_data_file(path)
    if data_file is None:
        return None
    pf = pq.ParquetFile(data_file)
    spark_schema = (pf.metadata.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if spark_schema is not None:
        return _nullable(StructType.fromJson(json.loads(spark_schema)))
    leaves = iter([pf.schema.column(i) for i in range(len(pf.schema))])
    return StructType([StructField(f.name, _spark_type(f.type, leaves))
                       for f in pf.schema_arrow])


def _first_data_file(path: str) -> str | None:
    """`path` itself when it is a file, else the first file under it
    that Spark reads as data (names starting with `_` or `.` are not),
    taking the least full path as Spark orders the files; None when
    there is none."""
    if os.path.isfile(path):
        return path
    data = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        data += [os.path.join(root, f) for f in files
                 if not f.startswith(("_", "."))]
    return min(data, default=None)


def _spark_type(at, leaves) -> DataType:
    """Spark's type for arrow type `at`, consuming the parquet leaf
    columns it spans from `leaves` (depth-first, the order both
    schemas list them in): a leaf's timestamp type follows its
    physical storage, which the arrow type does not always show."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_type

    if pa.types.is_struct(at):
        return StructType([StructField(f.name, _spark_type(f.type, leaves))
                           for f in at])
    if pa.types.is_map(at):
        return MapType(_spark_type(at.key_type, leaves),
                       _spark_type(at.item_type, leaves))
    if (pa.types.is_list(at) or pa.types.is_large_list(at)
            or pa.types.is_fixed_size_list(at)):
        return ArrayType(_spark_type(at.value_type, leaves))
    col = next(leaves)
    if col.physical_type == "INT96":
        return TimestampType()
    logical = json.loads(col.logical_type.to_json())
    if logical["Type"] == "Timestamp":
        if logical["timeUnit"] == "nanoseconds":
            return LongType()
        return TimestampType() if logical["isAdjustedToUTC"] else TimestampNTZType()
    if pa.types.is_unsigned_integer(at):
        return _UNSIGNED[at.bit_width]
    return from_arrow_type(at, prefer_timestamp_ntz=True)


def _nullable(dt: DataType) -> DataType:
    """`dt` with every field, array element and map value nullable."""
    if isinstance(dt, StructType):
        return StructType([StructField(f.name, _nullable(f.dataType), True,
                                       f.metadata) for f in dt])
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType))
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType))
    return dt


def event_ts_is_nanos(path: str) -> bool:
    """True when the parquet at `path` (file or directory of files)
    stores `ts` as TIMESTAMP(NANOS) or a raw int64 — either way Spark
    surfaces it as long (under nanosAsLong) holding epoch-nanoseconds.
    One driver-side footer read, O(1) regardless of data volume; this
    is the single source of truth for the storage unit so the batch
    catalog and the streaming reader can never diverge on it."""
    import glob

    def _is_nanos(one: str) -> bool:
        # Classify by what SPARK will surface (parquet_schema), not
        # what pyarrow reads: only INT64 TIMESTAMP(NANOS) and raw
        # integer epochs arrive as integers under nanosAsLong. Legacy
        # INT96 timestamps read as timestamp[ns] in pyarrow too, but
        # Spark decodes them as proper timestamps — grouping them with
        # ns here would both misclassify the file and falsely flag a
        # µs+INT96 dir as mixed-unit.
        return isinstance(parquet_schema(one)["ts"].dataType, IntegralType)

    if os.path.isdir(path):
        files = sorted(
            glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        )
        if not files:
            # Empty stream source: assume modern µs timestamps (the
            # testdata default); a ns drop into an initially-empty dir
            # is re-probed by callers per run, not cached.
            return False
        # A streaming source gets a FIXED schema from this probe, so a
        # dir holding both units would silently misread whichever unit
        # the probe didn't pick. Footer reads are cheap (metadata-only,
        # driver-side, no row data) — check every file and fail loudly
        # on a mixed-unit source instead of misreading half of it.
        units = {f: _is_nanos(f) for f in files}
        distinct = set(units.values())
        if len(distinct) > 1:
            ns = [f for f, v in units.items() if v]
            us = [f for f, v in units.items() if not v]
            raise ValueError(
                "mixed ts storage units in one source dir (a fixed-schema "
                f"stream cannot read both): ns-unit files e.g. {ns[:3]}, "
                f"µs-unit files e.g. {us[:3]} — split the source by unit "
                "or rewrite one side"
            )
        return distinct.pop()
    return _is_nanos(path)


def normalize_event_ts(df: DataFrame, instant: bool = False) -> DataFrame:
    """Shared batch/stream event-time normalization. Whatever the
    storage unit (`ts` read as epoch-ns long, or a proper µs parquet
    timestamp), emit a timestamp column:

    - instant=False → TIMESTAMP_NTZ, bit-exact vs the DuckDB oracle
      (integer ns→µs division, no floating point).
    - instant=True → TIMESTAMP (instant), required for watermarks;
      with the UTC session timezone (session.py) the two render
      identically, so stream output matches the batch twin.
    """
    from pyspark.sql import functions as F

    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        if instant:
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df.withColumn(
            "ts",
            F.expr("timestampadd(MICROSECOND, ts div 1000, "
                   "TIMESTAMP_NTZ '1970-01-01 00:00:00')"),
        )
    if instant and ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unit-robust events loader: reads, then branches on the dtype the
    footer gives `ts` (bigint for TIMESTAMP(NANOS)) via
    normalize_event_ts."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, os.path.join(sf_dir, "events.parquet"))
    return normalize_event_ts(df)


def load_all(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: load_table(spark, name, sf_dir) for name in TABLES}


# Expected column contracts. The reference lists "Schema Rigidity" as
# a limitation (README §7: silent breakage if the source schema
# drifts); here drift is an explicit, checkable contract instead.
EXPECTED_COLUMNS = {
    "region": ["r_regionkey", "r_name"],
    "nation": ["n_nationkey", "n_name", "n_regionkey"],
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    "supplier": ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    "part": ["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"],
    "orders": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                 "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_linestatus", "l_shipdate"],
    "events": ["event_id", "ts", "user_id", "event_type", "value", "props"],
    "documents": ["doc_id", "text", "lang", "source", "n_chars"],
    "embeddings": ["vec_id", "embedding", "label"],
}


def check_catalog_contracts(spark: SparkSession,
                            sf_dir: str = DEFAULT_SF_DIR) -> dict[str, list[str]]:
    """Schema-drift check: per table, the columns missing vs the
    contract (empty dict == everything matches). Run it at pipeline
    start so drift fails loudly up front, not deep in a query."""
    problems: dict[str, list[str]] = {}
    for name, expected in EXPECTED_COLUMNS.items():
        have = set(load_table(spark, name, sf_dir).columns)
        missing = [c for c in expected if c not in have]
        if missing:
            problems[name] = missing
    return problems


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register all tables as temp views so plans/ can use spark.sql too."""
    for name in TABLES:
        load_table(spark, name, sf_dir).createOrReplaceTempView(name)
