"""Min-of-N mini-bench for a few registry entries.

Usage:
    python tools/minibench.py q1 q2 ...       # min-of-5 each
    python tools/minibench.py --iters 7 q1 q2

Timing uses the noop sink (guide §1.4) on the same multi-file sf dir
the real bench times.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import prepare_multifile  # noqa: E402
from saurav_nayak_recipe_etl_project_spark.registry import QUERIES  # noqa: E402
from saurav_nayak_recipe_etl_project_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    iters = 5
    names = []
    i = 0
    while i < len(args):
        if args[i] == "--iters":
            iters = int(args[i + 1]); i += 2
        else:
            names.append(args[i]); i += 1
    spark = get_spark(app_name="minibench")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf_dir = prepare_multifile(spark, sf_dir)
    print(f"# load_avg {os.getloadavg()[0]:.2f}  sf_dir {sf_dir}")
    for name in names:
        fn = QUERIES[name]
        runs: list[float] = []
        # one untimed warm run (codegen compile, footers)
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        for _ in range(iters):
            spark.sparkContext.setJobDescription(name)
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
            spark.sparkContext.setJobDescription(None)
        print(f"{name}: min {min(runs):.3f}s median "
              f"{statistics.median(runs):.3f}s  ({len(runs)} runs)")


if __name__ == "__main__":
    main()
