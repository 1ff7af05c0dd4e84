"""Small frames for the txlog tests, built through Arrow.

createDataFrame on a Python row list splits the rows into one Python
task per core; the same rows built from pandas through Arrow are one
local scan, which makes a one-row append about 5x cheaper (0.16 s
against 0.8 s on 4 cores). Appends commit the same number of files
either way. A MERGE whose source is built through Arrow can commit a
different number of files than one fed the same rows as a row list;
the three merges where that happens keep a row-list source, so every
commit in the txlog tests adds and removes as many files as before."""

from __future__ import annotations

from saurav_nayak_recipe_etl_project_spark.functions.localframe import (
    local_frame,
)


def tx_df(spark, rows, schema="k long, s string"):
    return local_frame(spark, rows, schema)


def tx_rows(df):
    """The collected rows as sorted tuples."""
    return sorted(tuple(r) for r in df.collect())
