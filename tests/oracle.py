"""DuckDB cross-check harness mirroring the driver's correctness gate:
run the Spark query and the oracle SQL on the same parquet, then compare
row count, column names, column TYPE CLASSES, and order-insensitive values.

Type awareness matters: DuckDB's SUM over integers returns HUGEINT while
Spark returns bigint. Both print identically through str(), so a
stringified comparison is blind to the width drift the driver's value
hash detects (this exact gap produced the round-3 red rows for
q12_priority_by_linestatus and weekly_active_breakdown). Here every
column type is mapped to a canonical class and HUGEINT is its own class
that no Spark type maps to, so an un-cast HUGEINT oracle fails locally
before it ever reaches the driver.
"""

from __future__ import annotations

import math

import duckdb

# Canonical type classes. Spark and DuckDB names both map into this
# space; a query/oracle pair must agree per column. HUGEINT (int128)
# deliberately maps to its own class — Spark cannot produce it, so any
# oracle emitting it is a bug (cast to BIGINT in the oracle SQL).
_DUCK_CLASS = {
    "TINYINT": "int",
    "SMALLINT": "int",
    "INTEGER": "int",
    "BIGINT": "int",
    "UTINYINT": "int",
    "USMALLINT": "int",
    "UINTEGER": "int",
    "UBIGINT": "int128",
    "HUGEINT": "int128",
    "UHUGEINT": "int128",
    "FLOAT": "float",
    "DOUBLE": "float",
    "VARCHAR": "str",
    "BOOLEAN": "bool",
    "DATE": "date",
    "TIMESTAMP": "timestamp",
    "TIMESTAMP WITH TIME ZONE": "timestamp",
    "TIME": "time",
    "BLOB": "binary",
    "INTERVAL": "interval",
}

_SPARK_CLASS = {
    "tinyint": "int",
    "smallint": "int",
    "int": "int",
    "integer": "int",
    "bigint": "int",
    "long": "int",
    "float": "float",
    "double": "float",
    "string": "str",
    "boolean": "bool",
    "date": "date",
    "timestamp": "timestamp",
    "timestamp_ntz": "timestamp",
    "binary": "binary",
}


def _duck_type_class(t: str) -> str:
    t = str(t).upper()
    if t.startswith("DECIMAL"):
        return "decimal"
    if t.endswith("[]") or t.startswith("STRUCT") or t.startswith("MAP"):
        return "nested"
    if t in _DUCK_CLASS:
        return _DUCK_CLASS[t]
    # TIMESTAMP_S / TIMESTAMP_MS / TIMESTAMP_NS and tz variants: all
    # second-or-finer instants — same class as TIMESTAMP (an oracle
    # reading ns-precision parquet must not spuriously mismatch).
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    return t.lower()


def _spark_type_class(t: str) -> str:
    t = t.lower()
    if t.startswith("decimal"):
        return "decimal"
    if t.startswith(("array", "struct", "map")):
        return "nested"
    return _SPARK_CLASS.get(t, t)


def run_oracle(sql: str, sf_dir: str):
    con = duckdb.connect()
    try:
        for name in (
            "region nation customer supplier part orders lineitem events "
            "documents embeddings".split()
        ):
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
            )
        rel = con.sql(sql)
        return rel.columns, [str(t) for t in rel.types], rel.fetchall()
    finally:
        con.close()


def _norm(v, float_digits: int = 9):
    # Value normalization carries a python-type tag so an int-valued and a
    # float-valued column never compare equal even when they print alike
    # (3 vs 3.0 both reach "3" through naive str()). float_digits drops to
    # 6 for float32 columns: 9 significant digits exceeds float32
    # precision (~7) and would manufacture false mismatches.
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:NaN"
        return f"f:{v:.{float_digits}g}"
    if isinstance(v, int):
        return f"i:{v}"
    return f"o:{v}"


def assert_matches_oracle(spark_df, sql: str, sf_dir: str):
    """Assert the query matches the oracle; return its collected Rows,
    so a caller checking further laws on the result need not build and
    run the query again."""
    cols, duck_types, oracle_rows = run_oracle(sql, sf_dir)
    oracle_cols = [c.lower() for c in cols]

    spark_cols = [c.lower() for c in spark_df.columns]
    spark_types = dict(
        (c.lower(), t) for c, t in spark_df.dtypes
    )
    collected = spark_df.collect()
    spark_rows = [tuple(r) for r in collected]

    # Duplicate output names would silently collapse the dicts/index
    # lookups below into comparing the wrong (or the same) column twice.
    assert len(set(spark_cols)) == len(spark_cols), (
        f"duplicate Spark output columns: {spark_cols}"
    )
    assert len(set(oracle_cols)) == len(oracle_cols), (
        f"duplicate oracle output columns: {oracle_cols}"
    )

    assert sorted(spark_cols) == sorted(oracle_cols), (
        f"columns differ: spark={spark_cols} oracle={oracle_cols}"
    )

    # Column type-class agreement (the driver's hash is type-sensitive;
    # this is the local proxy for it).
    duck_class = dict(zip(oracle_cols, (_duck_type_class(t) for t in duck_types)))
    mismatched_types = []
    for c in spark_cols:
        sc = _spark_type_class(spark_types[c])
        oc = duck_class[c]
        if sc != oc:
            mismatched_types.append((c, spark_types[c], sc, oc))
    assert not mismatched_types, (
        "column type classes differ (cast the oracle expression — e.g. "
        "DuckDB SUM(int) yields HUGEINT, cast it to BIGINT): "
        f"{mismatched_types}"
    )

    assert len(spark_rows) == len(oracle_rows), (
        f"row count differs: spark={len(spark_rows)} oracle={len(oracle_rows)}"
    )

    s_idx = [spark_cols.index(c) for c in sorted(spark_cols)]
    o_idx = [oracle_cols.index(c) for c in sorted(oracle_cols)]
    # float32 on either side → compare at float32-safe precision
    duck_by_col = dict(zip(oracle_cols, duck_types))
    digits = [
        6
        if (spark_types[c] == "float" or str(duck_by_col[c]).upper() == "FLOAT")
        else 9
        for c in sorted(spark_cols)
    ]
    s_vals = sorted(
        tuple(_norm(r[i], d) for i, d in zip(s_idx, digits)) for r in spark_rows
    )
    o_vals = sorted(
        tuple(_norm(r[i], d) for i, d in zip(o_idx, digits)) for r in oracle_rows
    )
    mism = [
        (a, b) for a, b in zip(s_vals, o_vals) if a != b
    ]
    assert s_vals == o_vals, f"values differ; first mismatches: {mism[:5]}"
    return collected
