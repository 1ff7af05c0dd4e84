"""G20 — streaming state introspection: the statestore data source
must read back a stateful aggregation's resident state exactly equal
to the batch twin, `batchId` time travel must reproduce the state as
of an earlier micro-batch, and state-metadata must catalog the
operator."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F

from saurav_nayak_recipe_etl_project_spark.sources.catalog import load_table
from saurav_nayak_recipe_etl_project_spark.streaming import drain
from saurav_nayak_recipe_etl_project_spark.streaming.events import (
    read_event_stream,
)
from saurav_nayak_recipe_etl_project_spark.streaming.state_reader import (
    read_query_state,
    read_state_metadata,
)

_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]


def _run_count_stream(spark, src, ckpt, name):
    counts = read_event_stream(spark, str(src)).groupBy("user_id").count()
    drain(counts, str(ckpt), name, "complete")


def test_state_reader_matches_batch_twin(spark, sf_dir, tmp_path):
    ev = load_table(spark, "events", sf_dir)
    half = ev.agg(F.expr("timestampadd(DAY, 7, min(ts))").alias("c")) \
        .collect()[0]["c"]
    b1 = ev.where(F.col("ts") < F.lit(half)).select(*_COLS).toPandas()
    b2 = ev.where(F.col("ts") >= F.lit(half)).select(*_COLS).toPandas()
    assert len(b1) and len(b2)
    src = tmp_path / "drops"
    src.mkdir()
    pq.write_table(pa.Table.from_pandas(b1), str(src / "b1.parquet"))
    ckpt = tmp_path / "ckpt"

    # batch 0: first file only
    _run_count_stream(spark, src, ckpt, "state_probe_1")
    pq.write_table(pa.Table.from_pandas(b2), str(src / "b2.parquet"))
    _run_count_stream(spark, src, ckpt, "state_probe_2")

    # latest state == full-corpus batch twin
    got = {
        (r["user_id"], r["count"])
        for r in read_query_state(spark, str(ckpt)).collect()
    }
    want = {
        (r["user_id"], r["n"])
        for r in ev.groupBy("user_id").agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want

    # time travel: state as of batch 0 == first-file-only twin
    got0 = {
        (r["user_id"], r["count"])
        for r in read_query_state(spark, str(ckpt), batch_id=0).collect()
    }
    want0 = {
        (r["user_id"], r["n"])
        for r in ev.where(F.col("ts") < F.lit(half))
        .groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert got0 == want0 and got0 != got

    # metadata catalogs the aggregation operator and its batch range
    meta = read_state_metadata(spark, str(ckpt)).collect()
    assert any(r["operatorId"] == 0 for r in meta)
    assert any(r["maxBatchId"] >= 1 for r in meta)
