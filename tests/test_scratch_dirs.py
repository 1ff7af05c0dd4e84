"""Scratch directories of registered entries: one live directory per
entry key, none left once the process has exited."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
from concurrent.futures import ThreadPoolExecutor

from saurav_nayak_recipe_etl_project_spark.functions import cachereg
from saurav_nayak_recipe_etl_project_spark.registry import ORACLES, QUERIES
from tests.oracle import assert_matches_oracle

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_scratch_dir_keeps_one_per_key_and_the_exit_hook_removes_it(
        tmp_path):
    """Spark-free, in a child process with a private TMPDIR, so the
    real exit hook runs."""
    code = (
        "import os\n"
        "from saurav_nayak_recipe_etl_project_spark.functions.cachereg "
        "import scratch_dir\n"
        "a = scratch_dir('k_')\n"
        "open(os.path.join(a, 'f'), 'w').close()\n"
        "b = scratch_dir('k_')\n"
        "print(sorted(os.listdir(os.path.dirname(b))) == "
        "[os.path.basename(b)], os.path.isdir(b))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True,
        text=True, check=True, env={**os.environ, "TMPDIR": str(tmp_path)})
    assert out.stdout.split() == ["True", "True"], out
    assert os.listdir(tmp_path) == []


def test_scratch_dir_keeps_one_per_key_under_concurrent_builds(
        tmp_path, monkeypatch):
    """16 threads over 4 keys: an unlocked pop-then-record would orphan
    a directory the registry no longer names."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(cachereg, "_SCRATCH", {})
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(16) as ex:
            futures = [ex.submit(cachereg.scratch_dir, f"k{i % 4}_")
                       for i in range(400)]
            for f in futures:
                f.result(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    live = cachereg._SCRATCH
    assert len(live) == 4
    assert sorted(os.listdir(tmp_path)) == sorted(
        os.path.basename(p) for p in live.values())


def test_rebuilt_entry_removes_its_previous_scratch_dir(spark, sf_dir):
    name = "acid_orders_checks"
    QUERIES[name](spark, sf_dir).collect()
    first = cachereg._SCRATCH["txlog_checks_"]
    df = QUERIES[name](spark, sf_dir)
    second = cachereg._SCRATCH["txlog_checks_"]
    assert second != first
    assert not os.path.exists(first) and os.path.isdir(second)
    assert_matches_oracle(df, ORACLES[name], sf_dir)
