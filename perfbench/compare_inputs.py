"""Compare the generated input corpus with reference data.

    python3 perfbench/compare_inputs.py --reference DIR [--seconds 20] [--seed 1] [--rounds 4]

DIR holds the reference tables as `<name>.parquet` at sf0.1. Prints, as
markdown:

1. per table and column, the row count, min, max, distinct count and
   mean of the generated (`datagen.py`) and the reference table, and
   the lines-per-order distribution;
2. per workload, `--rounds` runs of `run.py` on each corpus, alternating
   which corpus runs first, seeds `--seed`, `--seed`+1, ...: every op's
   median latency and, for queries, its output rows.

Run it from the root of a checkout, like `run.py`.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import datagen

HERE = os.path.dirname(os.path.abspath(__file__))


def _fmt(v) -> str:
    if isinstance(v, float):
        return f"{v:.6g}"
    return str(v)[:24]


def column_stats(col: pa.ChunkedArray) -> dict:
    if pa.types.is_list(col.type):
        return {"min": "", "max": "", "distinct": "", "mean": ""}
    if pa.types.is_timestamp(col.type):
        col = col.cast(pa.int64()).cast(pa.timestamp(col.type.unit))
    mm = pc.min_max(col)
    numeric = pa.types.is_integer(col.type) or pa.types.is_floating(col.type)
    return {"min": mm["min"].as_py(), "max": mm["max"].as_py(),
            "distinct": pc.count_distinct(col).as_py(),
            "mean": pc.mean(col).as_py() if numeric else ""}


def lines_per_order(li: pa.Table, n_orders: int) -> str:
    counts = np.bincount(li.column("l_orderkey").to_numpy(), minlength=n_orders)
    q = np.percentile(counts, [10, 50, 90])
    return (f"p10/p50/p90 {q[0]:.0f}/{q[1]:.0f}/{q[2]:.0f}, max {counts.max()}, "
            f"orders without lines {int((counts == 0).sum())}")


def profile(reference: str) -> None:
    gen = datagen.build_tables(0.1)
    print("| table | column | rows | min | max | distinct | mean |")
    print("| --- | --- | --- | --- | --- | --- | --- |")
    for name, g in gen.items():
        r = pq.read_table(os.path.join(reference, f"{name}.parquet"))
        if not r.schema.remove_metadata().equals(g.schema.remove_metadata()):
            print(f"| {name} | schema differs: {r.schema} vs {g.schema} | | | | | |")
        for col in g.column_names:
            gs, rs = column_stats(g.column(col)), column_stats(r.column(col))
            cells = [f"{_fmt(gs[k])} / {_fmt(rs[k])}" for k in
                     ("min", "max", "distinct", "mean")]
            print(f"| {name} | {col} | {g.num_rows} / {r.num_rows} | "
                  + " | ".join(cells) + " |")
    r_li = pq.read_table(os.path.join(reference, "lineitem.parquet"))
    n = gen["orders"].num_rows
    print(f"\nLines per order (generated / reference): "
          f"{lines_per_order(gen['lineitem'], n)} / {lines_per_order(r_li, n)}\n")


def run_ops(workload: str, seed: int, seconds: float, inputs: str | None) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    if inputs:
        cmd += ["--inputs", inputs]
    proc = subprocess.run(cmd, capture_output=True, text=True, check=False)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(f"{workload} on {inputs or 'generated'} exited "
                           f"{proc.returncode}")
    records = [json.loads(x) for x in lines]
    if not records[-1]["correct"]:
        raise RuntimeError(f"{workload} on {inputs or 'generated'}: a failed op")
    ops = next(r["ops"] for r in records if "ops" in r)
    return {"ops": ops, "metrics": records[-1]["metrics"]}


def compare_ops(reference: str, seed: int, seconds: float, rounds: int) -> None:
    """Runs each corpus `rounds` times per workload, alternating which
    goes first, and reports the median over the rounds."""
    med = statistics.median
    print("| workload | op | ops timed (gen / ref) | median s (gen / ref) "
          "| gen ÷ ref | output rows (gen / ref) |")
    print("| --- | --- | --- | --- | --- | --- |")
    for wl in ("analytics_mix", "etl_txlog"):
        runs = {None: [], reference: []}
        for i in range(rounds):
            for inputs in ((None, reference) if i % 2 == 0 else (reference, None)):
                runs[inputs].append(run_ops(wl, seed + i, seconds, inputs))
        g, r = runs[None], runs[reference]
        for label in g[0]["ops"]:
            gs, rs = med(x["ops"][label]["median_s"] for x in g), \
                med(x["ops"][label]["median_s"] for x in r)
            rows = g[0]["ops"][label]["rows"]
            rows = "" if rows is None else f"{rows} / {r[0]['ops'][label]['rows']}"
            print(f"| {wl} | {label} | {sum(x['ops'][label]['n'] for x in g)} / "
                  f"{sum(x['ops'][label]['n'] for x in r)} | {gs:.3f} / {rs:.3f} | "
                  f"{gs / rs:.2f} | {rows} |")
        for m in ("ops_per_s", "setup_s"):
            gv = med(x["metrics"][m]["value"] for x in g)
            rv = med(x["metrics"][m]["value"] for x in r)
            print(f"| {wl} | **{m}** | | {gv:.3f} / {rv:.3f} | {gv / rv:.2f} | |")


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--reference", required=True)
    p.add_argument("--seconds", type=float, default=20)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--rounds", type=int, default=4,
                   help="runs per corpus and workload, alternating the order")
    args = p.parse_args()
    reference = os.path.abspath(args.reference)
    profile(reference)
    compare_ops(reference, args.seed, args.seconds, args.rounds)
    return 0


if __name__ == "__main__":
    sys.exit(main())
