"""Generator of the engine's ten-table input corpus.

Builds the TPC-H-ish star schema the catalog reads (region, nation,
customer, supplier, part, orders, lineitem) plus the events, documents
and embeddings side tables, with the same column names, arrow types and
row counts per scale factor as the engine's reference test data
(sf0.1: 150k orders, 600k lineitems, 15k customers, 100k events), and
fitted to its value distributions: key domains, value ranges and
category sets, lines per order, date spans, and the shapes of the
event values, document texts and embeddings. `compare_inputs.py`
checks the fit against a copy of the reference data.

The corpus is drawn from one fixed seed (`DATA_SEED`), so every run
reads the same tables; the benchmark's `--seed` varies only what the
client does with them. Each table is written as an
N-file layout (`<name>.parquet/part-*.parquet`) so Spark scans get real
task parallelism and, when the DuckDB oracle needs them, once more as a
single file (the oracle reads `<name>.parquet` as a file).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table at scale factor 1.
ROWS_AT_SF1 = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
FAN_OUT = frozenset(
    {"lineitem", "orders", "events", "documents", "embeddings",
     "customer", "part"})

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.1475, 0.41, 0.1475, 0.1475, 0.1475]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
DUP_SHARE = 0.05  # documents that repeat an earlier one's text plus " dup"
DATA_SEED = 42

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)
_ORDER_DAYS = 2405  # 1995-01-01 .. 2001-08-01
_SHIP_DAYS = 2500  # 1995-01-02 .. 2001-11-04


def table_rows(sf: float) -> dict[str, int]:
    rows = {name: max(1, int(round(n * sf))) for name, n in ROWS_AT_SF1.items()}
    rows["region"], rows["nation"] = 5, 25
    return rows


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _region(r, rows):
    return pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })


def _nation(r, rows):
    return pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })


def _customer(r, rows):
    n = rows["customer"]
    return pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": r.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _cents(r, -999.99, 9999.99, n),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n)],
    })


def _supplier(r, rows):
    n = rows["supplier"]
    return pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": r.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _cents(r, -999.99, 9999.99, n),
    })


def _part(r, rows):
    n = rows["part"]
    keys = np.arange(n, dtype=np.int64)
    names = np.char.add(np.char.add(
        np.array(PART_ADJ)[r.integers(0, len(PART_ADJ), n)], " "),
        np.array(PART_NOUN)[r.integers(0, len(PART_NOUN), n)])
    return pa.table({
        "p_partkey": keys,
        "p_name": names,
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n).astype(str)),
        "p_type": np.array(PART_TYPES)[r.integers(0, len(PART_TYPES), n)],
        "p_size": r.integers(1, 51, n).astype(np.int32),
        "p_retailprice": 900.0 + (keys % 1000) / 10.0,
    })


def _orders(r, rows):
    n = rows["orders"]
    day = r.integers(0, _ORDER_DAYS, n)
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": r.integers(0, rows["customer"], n),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n)],
        "o_totalprice": _cents(r, 1000.0, 500000.0, n),
        "o_orderdate": _ts(_EPOCH_1995 + day * _DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n)],
    })


def _lineitem(r, rows):
    """Lines land on random orders (some orders get none), in no key
    order; line numbers and ship dates are drawn apart from the order."""
    n = rows["lineitem"]
    return pa.table({
        "l_orderkey": r.integers(0, rows["orders"], n),
        "l_partkey": r.integers(0, rows["part"], n),
        "l_suppkey": r.integers(0, rows["supplier"], n),
        "l_linenumber": r.integers(1, 8, n).astype(np.int32),
        "l_quantity": r.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _cents(r, 900.0, 105000.0, n),
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n)],
        "l_shipdate": _ts(_EPOCH_1995 + r.integers(1, _SHIP_DAYS, n) * _DAY_US),
    })


def _events(r, rows):
    n = rows["events"]
    ts = np.sort(r.integers(0, 30 * _DAY_US, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(_EPOCH_2024 + ts),
        "user_id": r.integers(0, max(1, rows["customer"] // 10), n),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n)],
        "value": np.round(r.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
    })


def _documents(r, rows):
    n = rows["documents"]
    vocab = np.array(WORDS)
    texts = [" ".join(vocab[r.integers(0, len(WORDS), k)])
             for k in r.integers(10, 100, n)]
    dups = r.choice(np.arange(1, n), int(n * DUP_SHARE), replace=False)
    for i in np.sort(dups):
        texts[i] = texts[r.integers(0, i)] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": np.array(LANGS)[r.choice(len(LANGS), n, p=LANG_P)],
        "source": np.char.add("src", (ids % 20).astype(str)),
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })


def _embeddings(r, rows):
    n = rows["embeddings"]
    vecs = r.standard_normal((n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel()), 64).cast(pa.list_(pa.float32())),
        "label": r.integers(0, 10, n).astype(np.int32),
    })


_BUILDERS = {
    "region": _region, "nation": _nation, "customer": _customer,
    "supplier": _supplier, "part": _part, "orders": _orders,
    "lineitem": _lineitem, "events": _events, "documents": _documents,
    "embeddings": _embeddings,
}
TABLES = tuple(_BUILDERS)


def build_tables(sf: float, names=TABLES) -> dict[str, pa.Table]:
    """The named tables as arrow tables. Each table draws from its own
    stream of `DATA_SEED`, so a table is the same whichever others are
    built with it."""
    rows = table_rows(sf)
    return {name: build(np.random.default_rng([DATA_SEED, i]), rows)
            for i, (name, build) in enumerate(_BUILDERS.items()) if name in names}


def write_corpus(tables: dict[str, pa.Table], layout_dir: str,
                 oracle_dir: str | None = None, n_files: int = 8) -> None:
    """Write the multi-file layout and, given `oracle_dir`, the
    single-file copy."""
    for name, tbl in tables.items():
        if oracle_dir is not None:
            os.makedirs(oracle_dir, exist_ok=True)
            pq.write_table(tbl, os.path.join(oracle_dir, f"{name}.parquet"))
        parts = n_files if name in FAN_OUT else 1
        dest = os.path.join(layout_dir, f"{name}.parquet")
        os.makedirs(dest, exist_ok=True)
        step = -(-tbl.num_rows // parts)
        for i in range(parts):
            path = os.path.join(dest, f"part-{i:05d}.parquet")
            pq.write_table(tbl.slice(i * step, step), path)
