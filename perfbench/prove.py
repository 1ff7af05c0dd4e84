"""Repeat the benchmark over seeds and summarise its spread.

    python3 perfbench/prove.py --seeds 1-10 [--workloads analytics_mix] \
        [--trace-seed 11] [--baseline earlier.json] --out perfbench/results/set1.json

Runs `run.py` once per (workload, seed), one run at a time, from the
current directory (a checkout). For each workload and end-to-end metric
it records the ten values, their median and quartiles
(`statistics.quantiles(values, n=4)`) and the spread: the distance
between the quartiles as a share of the median. With `--trace-seed` it
also makes one traced run per workload and reports the tracing
overhead (traced `trace.ops_per_s` against the untraced median
`ops_per_s`) and how much of the traced mean op latency the layer self
times account for. With `--baseline` it reports, per metric, how much
worse this set's median is than the baseline set's.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

from run import SPAN_METRICS

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds_arg(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t = time.time()
    proc = subprocess.run(cmd, capture_output=True, text=True, check=False)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}")
    records = [json.loads(x) for x in lines]
    result = records[-1]
    cond = next((r for r in records if "run_conditions" in r), {})
    window = next((r for r in records if "ops" in r), {})
    return {"seed": seed, "trace": trace, "process_s": time.time() - t,
            "run_conditions": cond.get("run_conditions"),
            "window": window, **result}


def summarise(values: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"values": values, "median": statistics.median(values),
            "q1": q1, "q3": q3, "spread": (q3 - q1) / statistics.median(values)}


def main() -> int:
    bench = json.load(open("BENCHMARK.json", encoding="utf-8"))
    p = argparse.ArgumentParser()
    p.add_argument("--seeds", type=seeds_arg, required=True)
    p.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    p.add_argument("--trace-seed", type=int)
    p.add_argument("--baseline", help="an earlier --out file; adds each "
                   "metric's median shift against it")
    p.add_argument("--out", required=True)
    args = p.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    base = (json.load(open(args.baseline, encoding="utf-8"))["workloads"]
            if args.baseline else {})
    seconds = bench["run_seconds"]
    out = {"seconds": seconds, "seeds": args.seeds, "workloads": {}}
    for wl in args.workloads.split(","):
        runs = []
        for seed in args.seeds:
            r = run_once(wl, seed, seconds, 0)
            print(f"{wl} seed {seed}: {r['process_s']:.0f}s "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
                  + f" cycles {[round(c, 2) for c in r['window'].get('cycle_s', [])]}",
                  file=sys.stderr, flush=True)
            runs.append(r)
        summary = {}
        for name in bounds:
            s = summarise([r["metrics"][name]["value"] for r in runs])
            s["bound"] = bounds[name]
            s["within_third_of_bound"] = s["spread"] < bounds[name] / 3
            if wl in base:
                # positive = worse than the baseline set
                ref = base[wl]["metrics"][name]["median"]
                shift = (s["median"] - ref) / ref
                s["worse_than_baseline"] = shift if better[name] == "lower" else -shift
            summary[name] = s
        entry = {"runs": runs, "metrics": summary,
                 "all_correct": all(r["correct"] for r in runs),
                 "process_s": summarise([r["process_s"] for r in runs])}
        if args.trace_seed is not None:
            tr = run_once(wl, args.trace_seed, seconds, 1)
            traced = tr["metrics"]["trace.ops_per_s"]["value"]
            untraced = summary["ops_per_s"]["median"]
            m = {k: v["value"] for k, v in tr["metrics"].items()}
            layers = sum(m[k] for k in SPAN_METRICS.values())
            entry["traced_run"] = tr
            entry["tracing_overhead"] = {
                "traced_ops_per_s": traced, "untraced_median_ops_per_s": untraced,
                "overhead": 1 - traced / untraced}
            entry["layer_accounting"] = {
                "op_mean_s": m["trace.op_mean_s"], "sum_of_self_s": layers,
                "engine_layers_share": (layers - m["bench.self_s"]) / m["trace.op_mean_s"],
                "benchmark_share": m["bench.self_s"] / m["trace.op_mean_s"]}
        out["workloads"][wl] = entry
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w", encoding="utf-8") as f:
            json.dump(out, f, indent=1)
    for wl, e in out["workloads"].items():
        for name, s in e["metrics"].items():
            shift = s.get("worse_than_baseline")
            print(f"{wl:16s} {name:12s} median {s['median']:.4g} "
                  f"spread {s['spread']:.3f} (bound {s['bound']})"
                  + (f" worse than baseline by {shift:+.3f}" if shift is not None else ""),
                  file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
