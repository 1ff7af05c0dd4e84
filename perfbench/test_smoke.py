"""sf0.001 smoke test of the benchmark itself.

    python3 -m pytest perfbench/test_smoke.py -q

Checks that every workload prints every metric BENCHMARK.json names,
with its unit, in both modes; that an injected wrong output is counted
as a failed op; and that the command fails without printing a result
where the engine is absent.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8"))
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def bench(cwd: str, workload: str, trace: int, *extra: str) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace), "--sf", "0.001", *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=300, check=False)


def result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    return out


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_prints_with_its_unit(workload, trace, tmp_path):
    spans = tmp_path / "spans.jsonl"
    out = result(bench(ROOT, workload, trace, "--spans", str(spans)))
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    named = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in named}
    for m in out["metrics"].values():
        assert isinstance(m["value"], (int, float))
    if not trace:
        assert all(m["value"] > 0 for m in out["metrics"].values())
        assert not spans.exists()
        return
    recs = [json.loads(x) for x in spans.read_text().splitlines()]
    assert {"op", "name", "parent", "start", "end"} <= set(recs[0])
    roots = [r for r in recs if r["parent"] is None]
    assert {r["name"] for r in roots} == {"op"}
    assert len({r["op"] for r in roots}) == len(roots)


def test_injected_wrong_output_is_a_failed_op():
    out = result(bench(ROOT, "etl_txlog", 0, "--inject-wrong-op", "7"))
    assert out["failed"] == 1
    assert out["correct"] is False


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in BENCH["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = bench(str(tmp_path), WORKLOADS[0], 0)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
