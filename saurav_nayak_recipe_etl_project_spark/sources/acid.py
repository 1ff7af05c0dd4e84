"""The registered `acid_orders_*` entries: twelve scripted lives of an
orders table on the txlog table format (sources/txlog.py), each with a
DuckDB oracle that recomputes its readout straight from `orders`.

Every harness writes into `cachereg.scratch_dir(<key>)`, so building an
entry again removes the previous build's table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from saurav_nayak_recipe_etl_project_spark.functions.cachereg import scratch_dir
from saurav_nayak_recipe_etl_project_spark.sources.catalog import load_table
from saurav_nayak_recipe_etl_project_spark.sources.txlog import (
    check_audit,
    latest_version,
    read_table,
    snapshot_files,
    tx_append,
    tx_changes,
    tx_changes_rows,
    tx_checkpoint,
    tx_clean_log,
    tx_compact,
    tx_delete_where,
    tx_merge,
    tx_optimize,
    tx_rename_column,
    tx_restore,
    tx_set_check,
)


# --- registered verification gate -------------------------------------
#
# Each acid_* harness scripts a short life of an orders table and emits
# a readout that its oracle recomputes straight from `orders`. The
# helpers below are the blocks those scripts share; the oracle SQL
# states each scenario on its own.

def _orders_table(spark: SparkSession, sf_dir: str, key: str
                  ) -> tuple[DataFrame, str, int, int]:
    """(orders' key, status and price; a fresh table directory for the
    entry `key`; the lowest and highest order key, read in one job —
    0 and 0 when orders is empty)."""
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice")
    lo, hi = orders.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    return orders, scratch_dir(key), lo or 0, hi or 0


def _cents(price: str = "o_totalprice") -> tuple:
    """The readout aggregate: n_orders and the price total in integer
    cents (exact against the oracle at cent boundaries)."""
    return (F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col(price) * 100).cast("long"))
            .alias("total_cents"))


def _files_at(table: str) -> list[list[str]]:
    """The sorted live file list of every version of `table`."""
    return [sorted(snapshot_files(table, v))
            for v in range(latest_version(table) + 1)]


def _per_version(spark: SparkSession, table: str, extra=lambda v: [],
                 by: tuple = ()) -> DataFrame:
    """Time-travel to every version and union one readout per version:
    (version, *by, n_orders, total_cents, *extra(version)). The price
    is read under the name the version's schema gives it."""
    out = None
    for v in range(latest_version(table) + 1):
        snap = read_table(spark, table, version=v)
        price = "price_usd" if "price_usd" in snap.columns \
            else "o_totalprice"
        row = snap.groupBy(*by).agg(*_cents(price)).select(
            F.lit(v).cast("long").alias("version"), *by,
            "n_orders", "total_cents", *extra(v))
        out = row if out is None else out.unionByName(row)
    return out


def _append_halves(orders: DataFrame, table: str, mid: int,
                   stats: list[str]) -> None:
    """Commit the keys at or below `mid`, then the rest, 4 files each."""
    k = F.col("o_orderkey")
    tx_append(orders.filter(k <= mid).repartition(4), table, stats)
    tx_append(orders.filter(k > mid).repartition(4), table, stats)


def _append_clustered(orders: DataFrame, table: str) -> None:
    """Commit orders as 8 key-range-clustered files with key stats."""
    tx_append(orders.repartitionByRange(8, "o_orderkey")
              .sortWithinPartitions("o_orderkey"), table, ["o_orderkey"])


def _reinserts(orders: DataFrame, hi: int) -> DataFrame:
    """Every 13th key re-inserted beyond the key space as 'N'."""
    k = F.col("o_orderkey")
    return orders.filter(k % 13 == 0).select(
        (k + hi + 1).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"), "o_totalprice")


def _clause_batch(orders: DataFrame, hi: int) -> DataFrame:
    """The full MERGE clause set: %5 keys arrive 'D'; %7 keys (not %5)
    arrive 'U' at double price; %11 keys (not %5/%7) arrive with a NULL
    status at triple price; plus the %13 re-inserts."""
    k, price = F.col("o_orderkey"), F.col("o_totalprice")
    return orders.filter((k % 5 == 0) | (k % 7 == 0) | (k % 11 == 0)).select(
        "o_orderkey",
        F.when(k % 5 == 0, F.lit("D"))
        .when(k % 7 == 0, F.lit("U"))
        .otherwise(F.lit(None).cast("string")).alias("o_orderstatus"),
        F.when(k % 5 == 0, price)
        .when(k % 7 == 0, price * 2)
        .otherwise(price * 3).alias("o_totalprice"),
    ).unionByName(_reinserts(orders, hi))


def _upserted(spark: SparkSession, sf_dir: str, key: str) -> str:
    """An orders table committed range-clustered, then MERGEd with the
    upsert batch: every 7th key set to 'U' at double price, plus the
    %13 re-inserts."""
    orders, table, _, hi = _orders_table(spark, sf_dir, key)
    _append_clustered(orders, table)
    updates = orders.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey", F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") * 2).alias("o_totalprice"))
    tx_merge(spark, table, updates.unionByName(_reinserts(orders, hi)),
             "o_orderkey", ["o_orderkey"])
    return table


def acid_orders_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered entry, STRICT VALUE oracle: scripts a 4-commit life
    of an orders table — append lower half, append upper half,
    stats-pruned DELETE of filled orders, compact — then time-travels
    to EVERY version and emits (version, n_orders, total_cents). The
    oracle recomputes each snapshot straight from the orders table, so
    one hash proves log replay, O(delta) append, file-granular delete
    (including that stats pruning never drops a matching file),
    compaction invariance, and time travel."""
    orders, table, lo, hi = _orders_table(spark, sf_dir, "txlog_orders_")
    stats = ["o_orderkey", "o_orderstatus"]
    _append_halves(orders, table, (lo + hi) // 2, stats)
    tx_delete_where(spark, table, ("o_orderstatus", "=", "F"), stats)
    tx_compact(spark, table, 1, stats)
    return _per_version(spark, table)


_ACID_ORACLE = """
WITH m AS (
  SELECT (MIN(o_orderkey) + MAX(o_orderkey)) // 2 AS mid FROM orders
),
c AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
)
SELECT CAST(0 AS BIGINT) AS version,
       COUNT(*) AS n_orders, CAST(SUM(cents) AS BIGINT) AS total_cents
FROM c, m WHERE o_orderkey <= mid
UNION ALL
SELECT 1, COUNT(*), CAST(SUM(cents) AS BIGINT) FROM c
UNION ALL
SELECT 2, COUNT(*), CAST(SUM(cents) AS BIGINT)
FROM c WHERE o_orderstatus <> 'F'
UNION ALL
SELECT 3, COUNT(*), CAST(SUM(cents) AS BIGINT)
FROM c WHERE o_orderstatus <> 'F'
"""

def acid_orders_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered MERGE entry, STRICT VALUE oracle: load orders into
    the tx table (range-clustered files, key stats), MERGE an upsert
    batch — every 7th key's totalprice doubled with status 'U', every
    13th key re-inserted beyond the key space with status 'N' — then
    report the merged snapshot per status. The oracle rebuilds the
    merged table as base-anti-source ∪ source in SQL, so one hash
    proves replace-not-duplicate semantics, insert placement, the
    file-granular rewrite's survivor arithmetic, and that the coarse
    stats prune never skipped a matched file."""
    table = _upserted(spark, sf_dir, "txlog_merge_")
    return read_table(spark, table).groupBy("o_orderstatus").agg(*_cents())


_MERGE_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
),
mx AS (SELECT MAX(o_orderkey) AS hi FROM orders),
src AS (
  SELECT o_orderkey, 'U' AS o_orderstatus,
         o_totalprice * 2 AS o_totalprice
  FROM base WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey + hi + 1, 'N', o_totalprice
  FROM base, mx WHERE o_orderkey % 13 = 0
),
merged AS (
  SELECT * FROM base
  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
  UNION ALL
  SELECT * FROM src
)
SELECT o_orderstatus, COUNT(*) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM merged GROUP BY o_orderstatus
"""

def acid_orders_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered CDF entry, STRICT VALUE oracle: append orders, MERGE
    the acid_orders_merge upsert batch, DELETE the remaining open
    ('O') orders, then ask `tx_changes` what happened between version
    0 and version 2. The oracle classifies every key analytically —
    %7 keys were updated (changed), non-%7 'O' rows were deleted
    (removed), %13 re-keyed rows were inserted (added), everything
    else must be ABSENT — so one hash proves the touched-file diff
    reads exactly the churn: any unchanged row leaking in (or a
    changed one hashing out) reds the driver."""
    table = _upserted(spark, sf_dir, "txlog_cdf_")
    tx_delete_where(spark, table, ("o_orderstatus", "=", "O"),
                    ["o_orderkey"])
    return tx_changes(spark, table, 0, 2, "o_orderkey",
                      ["o_orderstatus", "o_totalprice"])


_CDF_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus FROM orders
),
mx AS (SELECT MAX(o_orderkey) AS hi FROM orders)
SELECT o_orderkey, 'changed' AS change_type
FROM base WHERE o_orderkey % 7 = 0
UNION ALL
SELECT o_orderkey, 'removed'
FROM base WHERE o_orderkey % 7 <> 0 AND o_orderstatus = 'O'
UNION ALL
SELECT o_orderkey + hi + 1, 'added'
FROM base, mx WHERE o_orderkey % 13 = 0
"""

def acid_orders_cdf_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered CDF-with-images entry, STRICT VALUE oracle (r14 —
    the Delta `_change_type` vocabulary): the acid_orders_cdf scenario
    (append → MERGE upserts+inserts → DELETE the open orders), read
    back through `tx_changes_rows(0, 2)` — every changed row with its
    FULL image: %7 keys emit BOTH update_preimage (original
    status/price) and update_postimage ('U' at double price), non-%7
    open orders emit delete rows with their original values, %13
    re-keyed rows emit insert images, and every untouched-or-rewritten
    row must be ABSENT (survivor rewrites compare struct-equal). The
    oracle states all four image classes analytically — a wrong value
    in ANY image, a missing pre/post pair, or churn leaking through
    hash-mismatches."""
    table = _upserted(spark, sf_dir, "txlog_cdfrows_")
    tx_delete_where(spark, table, ("o_orderstatus", "=", "O"),
                    ["o_orderkey"])
    return tx_changes_rows(spark, table, 0, 2, "o_orderkey").select(
        "o_orderkey", "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.col("_change_type").alias("change_type"))


_CDF_ROWS_ORACLE = """
WITH mx AS (SELECT MAX(o_orderkey) AS hi FROM orders),
base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
)
SELECT o_orderkey, o_orderstatus,
       CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
       'update_preimage' AS change_type
FROM base WHERE o_orderkey % 7 = 0
UNION ALL
SELECT o_orderkey, 'U',
       CAST(round(o_totalprice * 2 * 100) AS BIGINT),
       'update_postimage'
FROM base WHERE o_orderkey % 7 = 0
UNION ALL
SELECT o_orderkey, o_orderstatus,
       CAST(round(o_totalprice * 100) AS BIGINT), 'delete'
FROM base WHERE o_orderkey % 7 <> 0 AND o_orderstatus = 'O'
UNION ALL
SELECT o_orderkey + hi + 1, 'N',
       CAST(round(o_totalprice * 100) AS BIGINT), 'insert'
FROM base, mx WHERE o_orderkey % 13 = 0
"""


MERGE_DELETE_UPDATE_BELOW = 150000.0  # conditional-update price gate


def acid_orders_merge_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered MERGE-with-clauses entry, STRICT VALUE oracle: load
    orders into the tx table through a CHECKPOINTED log (append,
    tx_checkpoint, tx_clean_log — so the read path under the merge is
    the checkpoint+tail form), then MERGE a source with the full Delta
    clause set: every 5th key arrives status 'D' (WHEN MATCHED AND
    status='D' THEN DELETE), every 7th key (not %5) arrives 'U' at
    double price (conditional UPDATE: only when the source price is
    below MERGE_DELETE_UPDATE_BELOW — the rest retain the TARGET row),
    every 11th key (not %5/%7) arrives with NULL status at triple
    price (the delete condition evaluates NULL → must NOT fire — the
    tx_delete_where NULL lesson, pinned at the driver), and every 13th
    key re-inserts beyond the key space as 'N'. The oracle rebuilds
    the merged table clause-by-clause in SQL; the NULL-status group in
    the output hashes the NULL-safety, and the kept-target rows hash
    the conditional-update fall-through."""
    orders, table, _, hi = _orders_table(spark, sf_dir, "txlog_mergedel_")
    _append_clustered(orders, table)
    tx_checkpoint(table)
    tx_clean_log(table)  # merge must read through the checkpoint
    tx_merge(
        spark, table, _clause_batch(orders, hi), "o_orderkey", ["o_orderkey"],
        matched_delete=("o_orderstatus", "=", "D"),
        matched_update_condition=(
            "o_totalprice", "<", MERGE_DELETE_UPDATE_BELOW),
    )
    return read_table(spark, table).groupBy("o_orderstatus").agg(*_cents())


_MERGE_DELETE_ORACLE = f"""
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
),
mx AS (SELECT MAX(o_orderkey) AS hi FROM orders),
src AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 5 = 0 THEN 'D'
              WHEN o_orderkey % 7 = 0 THEN 'U'
              ELSE NULL END AS s_status,
         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice
              WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2
              ELSE o_totalprice * 3 END AS s_price
  FROM base
  WHERE o_orderkey % 5 = 0 OR o_orderkey % 7 = 0 OR o_orderkey % 11 = 0
  UNION ALL
  SELECT o_orderkey + hi + 1, 'N', o_totalprice
  FROM base, mx WHERE o_orderkey % 13 = 0
),
flags AS (
  SELECT s.o_orderkey, s.s_status, s.s_price,
         (b.o_orderkey IS NOT NULL) AS matched,
         COALESCE(s.s_status = 'D', FALSE) AS del_f,
         COALESCE(s.s_price < {MERGE_DELETE_UPDATE_BELOW}, FALSE) AS upd_f
  FROM src s LEFT JOIN base b ON b.o_orderkey = s.o_orderkey
),
merged AS (
  SELECT b.o_orderkey, b.o_orderstatus, b.o_totalprice
  FROM base b LEFT JOIN flags f ON f.o_orderkey = b.o_orderkey
  WHERE f.o_orderkey IS NULL OR (NOT f.del_f AND NOT f.upd_f)
  UNION ALL
  SELECT o_orderkey, s_status, s_price FROM flags
  WHERE (NOT matched) OR (NOT del_f AND upd_f)
)
SELECT o_orderstatus, COUNT(*) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM merged GROUP BY o_orderstatus
"""

def acid_orders_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered RESTORE entry, STRICT VALUE oracle: append lower
    half, append upper half, DELETE the filled orders, then RESTORE
    to the pre-delete version — and time-travel to every version of
    the 4-commit life. The oracle states the restore's contract
    analytically (version 3 must equal version 1 exactly), so one
    hash proves the metadata-only rollback rebuilt the old live set,
    the restored schema read works, and nothing else moved."""
    orders, table, lo, hi = _orders_table(spark, sf_dir, "txlog_restore_")
    stats = ["o_orderkey", "o_orderstatus"]
    _append_halves(orders, table, (lo + hi) // 2, stats)
    tx_delete_where(spark, table, ("o_orderstatus", "=", "F"), stats)
    v = tx_restore(table, 1)
    assert v == 3
    return _per_version(spark, table)


_RESTORE_ORACLE = """
WITH m AS (
  SELECT (MIN(o_orderkey) + MAX(o_orderkey)) // 2 AS mid FROM orders
),
c AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
)
SELECT CAST(0 AS BIGINT) AS version,
       COUNT(*) AS n_orders, CAST(SUM(cents) AS BIGINT) AS total_cents
FROM c, m WHERE o_orderkey <= mid
UNION ALL
SELECT 1, COUNT(*), CAST(SUM(cents) AS BIGINT) FROM c
UNION ALL
SELECT 2, COUNT(*), CAST(SUM(cents) AS BIGINT)
FROM c WHERE o_orderstatus <> 'F'
UNION ALL
SELECT 3, COUNT(*), CAST(SUM(cents) AS BIGINT) FROM c
"""

def acid_orders_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered entry, STRICT VALUE oracle — deletion vectors
    end-to-end: append lower/upper halves, DV-delete filled orders
    (zero files rewritten), a SECOND DV-delete of a key range
    (vectors ACCUMULATE on the same files), then compact (folds the
    DVs away). Emits per version (version, n_orders, total_cents,
    metadata_only) where metadata_only is the driver-observed "this
    commit changed NO data file" witness — the oracle hard-codes the
    expected booleans, so a DV delete that ever rewrites a file (or a
    compact that doesn't) hash-mismatches, alongside any value error
    in the merge-on-read row masking, DV accumulation, time travel
    across DV versions, or the compaction fold."""
    orders, table, lo, hi = _orders_table(spark, sf_dir, "txlog_dv_")
    stats = ["o_orderkey", "o_orderstatus"]
    _append_halves(orders, table, (lo + hi) // 2, stats)
    tx_delete_where(spark, table, ("o_orderstatus", "=", "F"), stats,
                    deletion_vectors=True)
    tx_delete_where(spark, table, ("o_orderkey", "<=", lo + (hi - lo) // 4),
                    stats, deletion_vectors=True)
    tx_compact(spark, table, 1, stats)
    files_at = [[f for f in fs if not f.split("/")[1].startswith("dv-")]
                for fs in _files_at(table)]
    return _per_version(spark, table, lambda v: [F.lit(
        v > 0 and files_at[v] == files_at[v - 1]).alias("metadata_only")])


_DV_ORACLE = """
WITH m AS (
  SELECT (MIN(o_orderkey) + MAX(o_orderkey)) // 2 AS mid,
         MIN(o_orderkey) + (MAX(o_orderkey) - MIN(o_orderkey)) // 4 AS q
  FROM orders
),
c AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
)
SELECT CAST(0 AS BIGINT) AS version, COUNT(*) AS n_orders,
       CAST(SUM(cents) AS BIGINT) AS total_cents,
       FALSE AS metadata_only
FROM c, m WHERE o_orderkey <= mid
UNION ALL
SELECT 1, COUNT(*), CAST(SUM(cents) AS BIGINT), FALSE FROM c
UNION ALL
SELECT 2, COUNT(*), CAST(SUM(cents) AS BIGINT), TRUE
FROM c WHERE o_orderstatus <> 'F'
UNION ALL
SELECT 3, COUNT(*), CAST(SUM(cents) AS BIGINT), TRUE
FROM c, m WHERE o_orderstatus <> 'F' AND o_orderkey > q
UNION ALL
SELECT 4, COUNT(*), CAST(SUM(cents) AS BIGINT), FALSE
FROM c, m WHERE o_orderstatus <> 'F' AND o_orderkey > q
"""


def acid_orders_merge_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered DV-MERGE entry, STRICT VALUE oracle — merge-on-read
    upserts end-to-end (r13 verdict item 2): append orders
    (range-clustered files), then TWO deletion-vector MERGEs — first
    the full clause set (%5 keys arrive 'D' → WHEN MATCHED DELETE;
    %7 keys (not %5) arrive 'U' at double price → update; %11 keys
    (not %5/%7) arrive with NULL status at triple price — NULL must
    not fire the delete clause but the unconditional update does; %13
    keys re-insert beyond the key space as 'N'), then a plain DV
    upsert (%3 keys → 'X' at quadruple price) so vectors ACCUMULATE
    on the same files — and finally a compact that folds every DV
    away. Emits per (version, status): counts, integer cents, and
    `prev_files_preserved` — the driver-observed witness that the
    merge commits removed ZERO data files (every file of version v-1
    still live at v; hard-coded TRUE for both merges and FALSE for
    the compact in the oracle, so a DV merge that ever rewrites a
    file on the matched side hash-mismatches)."""
    orders, table, _, hi = _orders_table(spark, sf_dir, "txlog_mergedv_")
    _append_clustered(orders, table)
    tx_merge(spark, table, _clause_batch(orders, hi), "o_orderkey",
             ["o_orderkey"], matched_delete=("o_orderstatus", "=", "D"),
             deletion_vectors=True)
    src2 = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey", F.lit("X").alias("o_orderstatus"),
        (F.col("o_totalprice") * 4).alias("o_totalprice"))
    tx_merge(spark, table, src2, "o_orderkey", ["o_orderkey"],
             deletion_vectors=True)
    tx_compact(spark, table, 1, ["o_orderkey"])
    files_at = _files_at(table)
    return _per_version(spark, table, lambda v: [F.lit(
        v > 0 and set(files_at[v - 1]) <= set(files_at[v])
    ).alias("prev_files_preserved")], by=("o_orderstatus",))


_MERGE_DV_ORACLE = """
WITH mx AS (SELECT MAX(o_orderkey) AS hi FROM orders),
base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
),
src1 AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 5 = 0 THEN 'D'
              WHEN o_orderkey % 7 = 0 THEN 'U'
              ELSE NULL END AS o_orderstatus,
         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice
              WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2
              ELSE o_totalprice * 3 END AS o_totalprice
  FROM base
  WHERE o_orderkey % 5 = 0 OR o_orderkey % 7 = 0 OR o_orderkey % 11 = 0
  UNION ALL
  SELECT o_orderkey + hi + 1, 'N', o_totalprice
  FROM base, mx WHERE o_orderkey % 13 = 0
),
m1 AS (
  SELECT b.o_orderkey, b.o_orderstatus, b.o_totalprice
  FROM base b
  WHERE b.o_orderkey NOT IN (SELECT o_orderkey FROM src1)
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM src1
  WHERE o_orderstatus IS DISTINCT FROM 'D'
),
src2 AS (
  SELECT o_orderkey, 'X' AS o_orderstatus,
         o_totalprice * 4 AS o_totalprice
  FROM base WHERE o_orderkey % 3 = 0
),
m2 AS (
  SELECT * FROM m1
  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src2)
  UNION ALL
  SELECT * FROM src2
),
v0 AS (SELECT * FROM base),
agg AS (
  SELECT CAST(0 AS BIGINT) AS version, o_orderstatus,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS total_cents,
         FALSE AS prev_files_preserved
  FROM v0 GROUP BY o_orderstatus
  UNION ALL
  SELECT 1, o_orderstatus, COUNT(*),
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT),
         TRUE
  FROM m1 GROUP BY o_orderstatus
  UNION ALL
  SELECT 2, o_orderstatus, COUNT(*),
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT),
         TRUE
  FROM m2 GROUP BY o_orderstatus
  UNION ALL
  SELECT 3, o_orderstatus, COUNT(*),
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT),
         FALSE
  FROM m2 GROUP BY o_orderstatus
)
SELECT * FROM agg
"""


def acid_orders_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered COLUMN-RENAME entry, STRICT VALUE oracle — column
    mapping end-to-end (r13 verdict item 3): append the lower half of
    orders, RENAME o_totalprice → price_usd (one metadata-only
    commit), append the upper half UNDER THE NEW NAME (files keep
    writing the physical name), then checkpoint + clean the log (the
    mapping must survive via the checkpoint footer) and read back
    every version plus a stats-pruned `where=` on the RENAMED column.
    Emits (version, n_orders, total_cents, metadata_only): the cents
    always come through the price column under whatever name the
    version's contract gives it — a broken mapping NULL-backfills the
    renamed column and the totals hash-mismatch; the rename version's
    hard-coded metadata_only=TRUE witnesses zero files touched; the
    version-99 row is the pruned post-clean read (colmap resolved
    from the checkpoint, stats keyed by the physical name)."""
    orders, table, lo, hi = _orders_table(spark, sf_dir, "txlog_rename_")
    mid = (lo + hi) // 2
    tx_append(orders.filter(F.col("o_orderkey") <= mid)
              .repartition(4), table, ["o_orderkey", "o_totalprice"])
    tx_rename_column(table, "o_totalprice", "price_usd")
    tx_append(orders.filter(F.col("o_orderkey") > mid)
              .withColumnRenamed("o_totalprice", "price_usd")
              .repartition(4), table, ["o_orderkey", "price_usd"])
    files_at = _files_at(table)
    out = _per_version(spark, table, lambda v: [F.lit(
        v > 0 and files_at[v] == files_at[v - 1]).alias("metadata_only")])
    # the version reads above are planned (files resolved) pre-clean;
    # the pruned read below must resolve colmap + stats THROUGH the
    # checkpoint — the survival witness
    tx_checkpoint(table)
    tx_clean_log(table)
    pruned = read_table(spark, table, where=("o_orderkey", ">", mid)).agg(
        *_cents("price_usd"),
    ).select(F.lit(99).cast("long").alias("version"),
             "n_orders", "total_cents",
             F.lit(True).alias("metadata_only"))
    return out.unionByName(pruned)


_RENAME_ORACLE = """
WITH m AS (
  SELECT (MIN(o_orderkey) + MAX(o_orderkey)) // 2 AS mid FROM orders
),
c AS (
  SELECT o_orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
)
SELECT CAST(0 AS BIGINT) AS version,
       COUNT(*) AS n_orders, CAST(SUM(cents) AS BIGINT) AS total_cents,
       FALSE AS metadata_only
FROM c, m WHERE o_orderkey <= mid
UNION ALL
SELECT 1, COUNT(*), CAST(SUM(cents) AS BIGINT), TRUE
FROM c, m WHERE o_orderkey <= mid
UNION ALL
SELECT 2, COUNT(*), CAST(SUM(cents) AS BIGINT), FALSE FROM c
UNION ALL
SELECT 99, COUNT(*), CAST(SUM(cents) AS BIGINT), TRUE
FROM c, m WHERE o_orderkey > mid
"""


def acid_orders_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered PARTITIONED-TABLE entry, STRICT VALUE oracle (r13
    verdict item 4): create an orders table hive-partitioned by
    o_orderstatus (partition values typed in the log), append both
    halves, then read it three ways — full (per-status rollup proves
    the partition column re-materializes from the directory names), a
    partition-pruned `where=` (the witness column pins, from the
    ACTUAL scanned file list, that a partition predicate never touches
    another partition's files AND scanned strictly fewer files than
    live), and a stats-range read WITHIN partitions. A DV delete in
    between proves merge-on-read works on the nested layout. The
    pruned read runs after checkpoint+clean (the spec survives via the
    checkpoint footer)."""
    orders, table, lo, hi = _orders_table(spark, sf_dir, "txlog_part_")
    mid, q = (lo + hi) // 2, lo + (hi - lo) // 4
    tx_append(orders.filter(F.col("o_orderkey") <= mid)
              .repartition(2), table, ["o_orderkey"],
              partition_by=["o_orderstatus"])
    tx_append(orders.filter(F.col("o_orderkey") > mid)
              .repartition(2), table, ["o_orderkey"])
    # merge-on-read on the nested layout: DV the low quarter
    tx_delete_where(spark, table, ("o_orderkey", "<=", q),
                    ["o_orderkey"], deletion_vectors=True)
    tx_checkpoint(table)
    tx_clean_log(table)
    full = read_table(spark, table).groupBy("o_orderstatus").agg(
        *_cents(),
    ).select(F.concat(F.lit("full:"), F.col("o_orderstatus")).alias("grp"),
             "n_orders", "total_cents",
             F.lit(False).alias("scan_pruned"))

    def _data_files(df):  # inputFiles also lists the DV anti-join side
        return [f for f in df.inputFiles() if "/data/dv-" not in f]

    pr = read_table(spark, table, where=("o_orderstatus", "=", "F"))
    pfiles = _data_files(pr)
    pruned_ok = (len(pfiles) > 0
                 and all("o_orderstatus=F/" in f for f in pfiles)
                 and len(pfiles) < len(snapshot_files(table)))
    pruned = pr.agg(*_cents()).select(
        F.lit("pruned:F").alias("grp"), "n_orders", "total_cents",
        F.lit(pruned_ok).alias("scan_pruned"))
    rg = read_table(spark, table, where=("o_orderkey", ">", mid))
    range_ok = 0 < len(_data_files(rg)) < len(snapshot_files(table))
    ranged = rg.agg(*_cents()).select(
        F.lit("range").alias("grp"), "n_orders", "total_cents",
        F.lit(range_ok).alias("scan_pruned"))
    return full.unionByName(pruned).unionByName(ranged)


_PARTITIONED_ORACLE = """
WITH m AS (
  SELECT (MIN(o_orderkey) + MAX(o_orderkey)) // 2 AS mid,
         MIN(o_orderkey) + (MAX(o_orderkey) - MIN(o_orderkey)) // 4 AS q
  FROM orders
),
c AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders, m WHERE o_orderkey > q
)
SELECT 'full:' || o_orderstatus AS grp, COUNT(*) AS n_orders,
       CAST(SUM(cents) AS BIGINT) AS total_cents,
       FALSE AS scan_pruned
FROM c GROUP BY o_orderstatus
UNION ALL
SELECT 'pruned:F', COUNT(*), CAST(SUM(cents) AS BIGINT), TRUE
FROM c WHERE o_orderstatus = 'F'
UNION ALL
SELECT 'range', COUNT(*), CAST(SUM(cents) AS BIGINT), TRUE
FROM c, m WHERE o_orderkey > mid
"""


def acid_orders_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered CHECK-AUDIT entry, STRICT VALUE oracle (r13 verdict
    item 7 — the A20 constraint surface made one-SQL-observable):
    append the lower half of orders, evolve with the upper half
    carrying a NEW `o_priority_flag` column (lower-half rows are NULL
    there — the three-valued-logic lane), record three constraints
    (all must validate the existing data to be recordable), then emit
    the `check_audit` readout. One hash pins the per-constraint
    pass/violate/unknown counts: n_unknown must equal exactly the
    pre-evolution row count for the flag constraint (NULL passes the
    write contract but is counted separately), and every committed
    table must audit n_violate = 0."""
    orders, table, lo, hi = _orders_table(spark, sf_dir, "txlog_checks_")
    mid = (lo + hi) // 2
    tx_append(orders.filter(F.col("o_orderkey") <= mid)
              .repartition(4), table, ["o_orderkey"])
    tx_append(orders.filter(F.col("o_orderkey") > mid)
              .withColumn("o_priority_flag",
                          (F.col("o_orderkey") % 3).cast("int"))
              .repartition(4), table, ["o_orderkey"],
              allow_schema_evolution=True)
    tx_set_check(spark, table, "totalprice_pos",
                 ("o_totalprice", ">", 0.0))
    tx_set_check(spark, table, "flag_nonneg",
                 ("o_priority_flag", ">=", 0))
    tx_set_check(spark, table, "orderkey_min",
                 ("o_orderkey", ">=", int(lo)))
    return check_audit(spark, table)


_CHECKS_ORACLE = """
WITH m AS (
  SELECT (MIN(o_orderkey) + MAX(o_orderkey)) // 2 AS mid,
         MIN(o_orderkey) AS lo
  FROM orders
),
t AS (
  SELECT o_orderkey, o_totalprice,
         CASE WHEN o_orderkey > mid
              THEN CAST(o_orderkey % 3 AS INTEGER) END AS flag
  FROM orders, m
)
SELECT 'flag_nonneg' AS constraint_name, 'o_priority_flag' AS col,
       '>=' AS op, '0' AS value_str,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN flag >= 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pass,
       CAST(0 AS BIGINT) AS n_violate,
       CAST(SUM(CASE WHEN flag IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unknown
FROM t
UNION ALL
SELECT 'orderkey_min', 'o_orderkey', '>=',
       CAST((SELECT lo FROM m) AS VARCHAR),
       COUNT(*), COUNT(*), 0, 0
FROM t
UNION ALL
SELECT 'totalprice_pos', 'o_totalprice', '>', '0.0',
       COUNT(*), COUNT(*), 0, 0
FROM t
"""


def acid_orders_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered OPTIMIZE entry, STRICT VALUE oracle (r14 — the
    bin-packing small-file compaction): append 60% of orders as ONE
    big file, then three small incremental slices (the nightly-drop
    shape that accretes small files), DV-delete a key range (the
    vector rides on a small file), then `tx_optimize` with the big
    file's size as the target — ONLY the small files (and the DV) may
    be packed. Emits per version (version, n_orders, total_cents,
    big_untouched): the final row's hard-coded big_untouched=TRUE
    witnesses that the pack left the at-target file alone AND shrank
    the file count — an optimize that rewrites the big file (or packs
    nothing) hash-mismatches, alongside any value error in the pack's
    DV fold."""
    orders, table, lo, hi = _orders_table(spark, sf_dir, "txlog_opt_")
    b0 = lo + (hi - lo) * 6 // 10
    c1 = b0 + (hi - b0) // 3
    c2 = b0 + 2 * (hi - b0) // 3
    e = c2 + (hi - c2) // 2
    k = F.col("o_orderkey")
    tx_append(orders.filter(k <= b0).repartition(1), table,
              ["o_orderkey"])
    tx_append(orders.filter((k > b0) & (k <= c1)).repartition(1),
              table, ["o_orderkey"])
    tx_append(orders.filter((k > c1) & (k <= c2)).repartition(1),
              table, ["o_orderkey"])
    tx_append(orders.filter(k > c2).repartition(1), table,
              ["o_orderkey"])
    tx_delete_where(spark, table, ("o_orderkey", ">", e),
                    ["o_orderkey"], deletion_vectors=True)
    live0 = snapshot_files(table, 0)
    big_file = next(iter(live0))
    big_bytes = live0[big_file]["bytes"]
    tx_optimize(spark, table, target_file_bytes=big_bytes,
                stats_cols=["o_orderkey"])
    files_at = _files_at(table)
    last = len(files_at) - 1
    return _per_version(spark, table, lambda v: [F.lit(
        v == last and big_file in files_at[v]
        and len(files_at[v]) < len(files_at[v - 1])
    ).alias("big_untouched")])


_OPTIMIZE_ORACLE = """
WITH m AS (
  SELECT MIN(o_orderkey) AS lo, MAX(o_orderkey) AS hi FROM orders
),
b AS (
  SELECT lo, hi,
         lo + (hi - lo) * 6 // 10 AS b0
  FROM m
),
b2 AS (
  SELECT *, b0 + (hi - b0) // 3 AS c1,
         b0 + 2 * (hi - b0) // 3 AS c2
  FROM b
),
b3 AS (
  SELECT *, c2 + (hi - c2) // 2 AS e FROM b2
),
c AS (
  SELECT o_orderkey AS k,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
)
SELECT CAST(0 AS BIGINT) AS version, COUNT(*) AS n_orders,
       CAST(SUM(cents) AS BIGINT) AS total_cents,
       FALSE AS big_untouched
FROM c, b3 WHERE k <= b0
UNION ALL
SELECT 1, COUNT(*), CAST(SUM(cents) AS BIGINT), FALSE
FROM c, b3 WHERE k <= c1
UNION ALL
SELECT 2, COUNT(*), CAST(SUM(cents) AS BIGINT), FALSE
FROM c, b3 WHERE k <= c2
UNION ALL
SELECT 3, COUNT(*), CAST(SUM(cents) AS BIGINT), FALSE FROM c
UNION ALL
SELECT 4, COUNT(*), CAST(SUM(cents) AS BIGINT), FALSE
FROM c, b3 WHERE k <= e
UNION ALL
SELECT 5, COUNT(*), CAST(SUM(cents) AS BIGINT), TRUE
FROM c, b3 WHERE k <= e
"""


TXLOG_QUERIES = {
    "acid_orders_ledger": acid_orders_ledger,
    "acid_orders_dv": acid_orders_dv,
    "acid_orders_merge": acid_orders_merge,
    "acid_orders_merge_dv": acid_orders_merge_dv,
    "acid_orders_rename": acid_orders_rename,
    "acid_orders_partitioned": acid_orders_partitioned,
    "acid_orders_checks": acid_orders_checks,
    "acid_orders_optimize": acid_orders_optimize,
    "acid_orders_cdf": acid_orders_cdf,
    "acid_orders_cdf_rows": acid_orders_cdf_rows,
    "acid_orders_merge_delete": acid_orders_merge_delete,
    "acid_orders_restore": acid_orders_restore,
}
TXLOG_ORACLES = {
    "acid_orders_ledger": _ACID_ORACLE,
    "acid_orders_dv": _DV_ORACLE,
    "acid_orders_merge": _MERGE_ORACLE,
    "acid_orders_merge_dv": _MERGE_DV_ORACLE,
    "acid_orders_rename": _RENAME_ORACLE,
    "acid_orders_partitioned": _PARTITIONED_ORACLE,
    "acid_orders_checks": _CHECKS_ORACLE,
    "acid_orders_optimize": _OPTIMIZE_ORACLE,
    "acid_orders_cdf": _CDF_ORACLE,
    "acid_orders_cdf_rows": _CDF_ROWS_ORACLE,
    "acid_orders_merge_delete": _MERGE_DELETE_ORACLE,
    "acid_orders_restore": _RESTORE_ORACLE,
}
