"""Closed-loop benchmark of the engine's three uses, run from a checkout.

    python3 perfbench/run.py --workload analytics_mix --seed 1 --seconds 10 --trace 0

One client issues one op at a time through the engine's public functions
and checks every op's output. The inputs are generated first, untimed.
Set-up (session start, workload preparation, warm-up) is timed apart
from the measured window, which runs whole cycles of ops until
`--seconds` have passed. The last line of standard
output is one JSON object: `correct`, `attempted`, `failed`, `metrics`.
With `--trace 0` the metrics are the end-to-end ones in BENCHMARK.json;
with `--trace 1` spans wrap the engine's public functions, the Spark
event log is on, and the metrics are the per-layer ones.

Everything the run writes (inputs, outputs, TMPDIR, Spark local and
event-log directories) lives in one directory under
`.perfbench_work/` in the checkout, removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

import datagen
import spans

PACKAGE = "saurav_nayak_recipe_etl_project_spark"

# (module, attribute, span name) wrapped in a traced run
TRACE_TARGETS = [
    (f"{PACKAGE}.sources.catalog", "load_table", "catalog.load"),
    (f"{PACKAGE}.sources.documents", "read_documents", "documents.read"),
    (f"{PACKAGE}.sources.sinks", "write_csv_lake", "sinks.csv_write"),
    (f"{PACKAGE}.sources.sinks", "load_warehouse_table", "sinks.warehouse_write"),
    (f"{PACKAGE}.etl", "run_full_star_etl", "etl"),
    (f"{PACKAGE}.sources.txlog", "tx_append", "txlog.append"),
    (f"{PACKAGE}.sources.txlog", "tx_delete_where", "txlog.delete"),
    (f"{PACKAGE}.sources.txlog", "tx_merge", "txlog.merge"),
    (f"{PACKAGE}.sources.txlog", "tx_compact", "txlog.compact"),
    (f"{PACKAGE}.sources.txlog", "tx_checkpoint", "txlog.checkpoint"),
    (f"{PACKAGE}.sources.txlog", "read_table", "txlog.read"),
]
# span name -> per-layer metric holding its self time per op
SPAN_METRICS = {
    "op": "bench.self_s",
    "catalog.load": "catalog.load_s",
    "plans.build": "plans.build_s",
    "plans.materialize": "plans.materialize_s",
    "documents.read": "documents.read_s",
    "sinks.csv_write": "sinks.csv_write_s",
    "sinks.warehouse_write": "sinks.warehouse_write_s",
    "etl": "etl.self_s",
    "txlog.append": "txlog.append_s",
    "txlog.delete": "txlog.delete_s",
    "txlog.merge": "txlog.merge_s",
    "txlog.compact": "txlog.compact_s",
    "txlog.checkpoint": "txlog.checkpoint_s",
    "txlog.read": "txlog.read_s",
}


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["analytics_mix", "etl_txlog"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--sf", type=float, default=0.1,
                   help="input scale factor (0.1: 150k orders)")
    p.add_argument("--inputs", metavar="DIR",
                   help="read the input tables from DIR/<name>.parquet instead "
                        "of generating them (to compare the generated corpus "
                        "with reference data)")
    p.add_argument("--spans", metavar="PATH",
                   help="with --trace 1, also write the spans (JSON lines) here")
    p.add_argument("--inject-wrong-op", type=int, default=0, metavar="K",
                   help="corrupt the output of the K-th timed op (1-based), "
                        "to check that a wrong output is counted as failed")
    return p.parse_args(argv)


def checkout_root() -> str:
    """The checkout the benchmark runs in: the working directory, which
    must hold the engine package and its oracle harness."""
    root = os.getcwd()
    for rel in (f"{PACKAGE}/__init__.py", "tests/oracle.py"):
        if not os.path.isfile(os.path.join(root, rel)):
            raise FileNotFoundError(
                f"{rel} not found under {root}: run from a checkout of the engine")
    return root


def configure_env(run_dir: str, trace: bool) -> None:
    """Point every scratch location of the engine, Spark and the JVM
    into the run directory; must run before pyspark starts the JVM."""
    for sub in ("tmp", "local", "eventlog", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
            # Spark 4 writes zstd otherwise, which the standard library cannot read
            "spark.eventLog.compress": "false",
        })
    args = []
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    args += ["--driver-java-options", f"-Djava.io.tmpdir={tmp}", "pyspark-shell"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args)


@dataclass
class Ctx:
    spark: object
    run_dir: str
    layout_dir: str
    oracle_dir: str
    rng: object
    tables: dict
    rows: dict


@dataclass
class Runner:
    """Runs, times and checks ops; in a traced window also records spans
    and per-op engine counts."""
    spark: object
    inject_op: int = 0
    tracer: object = None
    tracing: bool = False
    timed: bool = False
    attempted: int = 0
    failed: int = 0
    conflicts: int = 0
    passed: int = 0  # timed ops whose output was checked correct
    # timed ops' (label, latency, output rows or None)
    samples: list = field(default_factory=list)
    timed_ops: list = field(default_factory=list)
    per_op: dict = field(default_factory=dict)
    totals: dict = field(default_factory=dict)
    # warm-up may issue ops from several threads; timed ops are sequential
    lock: threading.Lock = field(default_factory=threading.Lock)

    @property
    def latencies(self) -> list:
        return [wall for _, wall, _ in self.samples]

    def span(self, name: str):
        return self.tracer.span(name) if self.tracing else contextlib.nullcontext()

    def add(self, key: str, value: float) -> None:
        self.totals[key] = self.totals.get(key, 0) + value

    def op(self, label: str, fn, check) -> bool:
        with self.lock:
            self.attempted += 1
            op_id = self.attempted
        sc = self.spark.sparkContext
        if self.tracing:
            sc.setJobGroup(spans.job_group(op_id), label)
            self.tracer.op_id = op_id
        failed = False
        t0 = time.perf_counter()
        try:
            with self.span("op"):
                out = fn()
        except Exception as e:  # an op that raises is a failed op; keep going
            traceback.print_exc()
            failed = True
            if type(e).__name__ == "TxConflict":
                with self.lock:
                    self.conflicts += 1
        wall = time.perf_counter() - t0
        if self.timed:
            self.timed_ops.append(op_id)
            if len(self.timed_ops) == self.inject_op and not failed:
                out = ("injected wrong output", out)
        if not failed:
            try:
                failed = not check(out)
            except Exception:  # a check that cannot pass is a wrong output
                traceback.print_exc()
                failed = True
        if failed:
            with self.lock:
                self.failed += 1
            print(f"op {op_id} ({label}) failed", file=sys.stderr)
        if self.timed:
            self.passed += not failed
            rows = None if failed else getattr(out, "rows", None)
            self.samples.append((label, wall, None if rows is None else len(rows)))
        if self.tracing:
            rec = spans.tracker_counts(sc, spans.job_group(op_id))
            rec["wall"] = wall
            rec["persisted_rdds"] = sc._jsc.getPersistentRDDs().size()
            self.per_op[op_id] = rec
        return not failed


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def run_conditions(spark, root: str) -> dict:
    jvm = spark._jvm
    return {
        "loadavg_1m_at_start": os.getloadavg()[0],
        "nproc": len(os.sched_getaffinity(0)),
        "spark_master": spark.sparkContext.master,
        "driver_memory": spark.conf.get("spark.driver.memory", "default"),
        "spark_version": spark.version,
        "java_version": jvm.java.lang.System.getProperty("java.version"),
        "python_version": sys.version.split()[0],
        "commit": source_commit(root),
    }


def source_commit(root: str) -> str:
    """The git commit when the checkout is a repository, else a digest
    of the engine's source files."""
    if os.path.isdir(os.path.join(root, ".git")):
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, check=False)
        if out.returncode == 0:
            return out.stdout.strip()
    h = hashlib.sha1()
    for dirpath, dirs, files in sorted(os.walk(os.path.join(root, PACKAGE))):
        dirs.sort()
        for n in sorted(files):
            if n.endswith(".py"):
                with open(os.path.join(dirpath, n), "rb") as f:
                    h.update(n.encode() + f.read())
    return "src-" + h.hexdigest()[:12]


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM process pyspark started."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def cpu_times(pids) -> dict:
    """Machine-wide CPU ticks from /proc/stat, and those of `pids`."""
    with open("/proc/stat", encoding="ascii") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, idle, iowait, irq, softirq, steal = v[:8]
    own = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat", encoding="ascii") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        own += int(fields[11]) + int(fields[12])  # utime, stime
    return {"busy": user + nice + system + irq + softirq, "steal": steal,
            "iowait": iowait, "own": own, "total": sum(v[:8])}


def count_dirs(path: str) -> int:
    return sum(1 for e in os.scandir(path) if e.is_dir())


def build_inputs(args, cls, run_dir: str) -> dict:
    """Generate (or read, with --inputs) the workload's input tables and
    write them as the engine's multi-file layout and the oracle's copy."""
    import pyarrow.parquet as pq

    if args.inputs:
        tables = {n: pq.read_table(os.path.join(args.inputs, f"{n}.parquet"))
                  for n in cls.tables}
    else:
        tables = datagen.build_tables(args.sf, cls.tables)
    datagen.write_corpus(tables, os.path.join(run_dir, "layout"),
                         os.path.join(run_dir, "oracle") if cls.oracle else None)
    return tables


def op_stats(samples: list) -> dict:
    """Per op label: count, median latency and output rows."""
    by: dict = {}
    for label, wall, rows in samples:
        e = by.setdefault(label, {"n": 0, "walls": [], "rows": rows})
        e["n"] += 1
        e["walls"].append(wall)
    return {k: {"n": e["n"], "median_s": statistics.median(e["walls"]),
                "rows": e["rows"]} for k, e in sorted(by.items())}


def run(args, root: str, run_dir: str, report) -> dict:
    import numpy as np

    # imports the engine, so only once the checkout is on sys.path
    from workloads import ANALYTICS_QUERIES, WORKLOADS

    from saurav_nayak_recipe_etl_project_spark.registry import QUERIES
    from saurav_nayak_recipe_etl_project_spark.session import get_spark

    cls = WORKLOADS[args.workload]
    # the inputs are the benchmark's own; they are built before set-up
    # is timed
    t = time.perf_counter()
    tables = build_inputs(args, cls, run_dir)
    # flush the inputs now, so their writeback does not land in the timing
    os.sync()
    print(f"inputs: {time.perf_counter() - t:.2f}s", file=sys.stderr)
    t_setup = time.perf_counter()
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t_setup
    try:
        report({"run_conditions": run_conditions(spark, root),
                "workload": args.workload, "seed": args.seed,
                "seconds": args.seconds, "trace": args.trace, "sf": args.sf,
                "inputs": args.inputs or "generated"})
        ctx = Ctx(spark, run_dir, os.path.join(run_dir, "layout"),
                  os.path.join(run_dir, "oracle"),
                  np.random.default_rng([args.seed, 1]), tables,
                  {n: t.num_rows for n, t in tables.items()})
        runner = Runner(spark, args.inject_wrong_op)
        wl = cls(ctx)
        t = time.perf_counter()
        wl.prepare(runner)
        wl.warm(runner)
        t_prep = time.perf_counter() - t
        setup_s = time.perf_counter() - t_setup
        print(f"setup: session {session_s:.2f}s, prepare+warm {t_prep:.2f}s",
              file=sys.stderr)

        tmp = os.environ["TMPDIR"]
        if args.trace:
            runner.tracer = spans.Tracer()
            undo = spans.install(runner.tracer, TRACE_TARGETS)
            undo += spans.wrap_dict(runner.tracer, QUERIES, ANALYTICS_QUERIES,
                                    "plans.build")
            runner.tracing = True
            tx_v0 = wl.txlog.version if wl.txlog else None
        dirs0 = count_dirs(tmp)
        runner.timed = True
        pids = (os.getpid(), spark._jvm.java.lang.ProcessHandle.current().pid())
        cpu0 = cpu_times(pids)
        t0 = time.perf_counter()
        cycles = []
        while True:
            t = time.perf_counter()
            wl.cycle(runner)
            cycles.append(time.perf_counter() - t)
            if time.perf_counter() - t0 >= args.seconds:
                break
        wall = time.perf_counter() - t0
        cpu1 = cpu_times(pids)
        runner.timed = runner.tracing = False
        lat = runner.latencies
        # the host's CPU shares over the window; busy minus own is other work
        host = {k: (cpu1[k] - cpu0[k]) / max(1, cpu1["total"] - cpu0["total"])
                for k in ("busy", "own", "steal", "iowait")}
        print(f"timed: {len(lat)} ops in {wall:.2f}s, host {host}", file=sys.stderr)
        report({"ops": op_stats(runner.samples), "cycle_s": cycles,
                "window_host_cpu": host})
        metrics = {
            "ops_per_s": (runner.passed / wall, "1/s"),
            "setup_s": (setup_s, "s"),
        }
        if args.trace:
            spans.uninstall(undo)
            metrics = per_layer(runner, wl, session_s, wall,
                                (count_dirs(tmp) - dirs0) / len(lat), tx_v0)
            metrics["peak_rss_mb"] = (jvm_peak_rss_mb(spark), "MB")
    finally:
        stop_session(spark)
    if args.trace:
        metrics.update(engine_metrics(runner, os.path.join(run_dir, "eventlog")))
        if args.spans:
            runner.tracer.dump(args.spans)
    return {"correct": runner.failed == 0, "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def per_layer(runner, wl, session_s: float, wall: float, dirs_left: float,
              tx_v0) -> dict:
    from saurav_nayak_recipe_etl_project_spark.sources import txlog

    ops = runner.timed_ops
    n = len(ops)
    self_s = runner.tracer.self_times(set(ops))
    out = {name: (self_s.get(span, 0.0) / n, "s")
           for span, name in SPAN_METRICS.items()}
    tot = runner.totals
    commits = {"adds": 0, "removes": 0, "dvs": 0}
    if tx_v0 is not None:
        for h in txlog.history(wl.txlog.table):
            if h["version"] > tx_v0:
                for k in commits:
                    commits[k] += h[k]
    written = tot.get("sinks.bytes_written", 0) + tot.get("txlog.bytes_written", 0)
    read = tot.get("documents.input_bytes", 0) + tot.get("txlog.input_bytes", 0)
    out.update({
        "session.start_s": (session_s, "s"),
        "documents.input_bytes": (tot.get("documents.input_bytes", 0) / n, "bytes"),
        "sinks.bytes_written": (tot.get("sinks.bytes_written", 0) / n, "bytes"),
        "sinks.files_written": (tot.get("sinks.files_written", 0) / n, "count"),
        "txlog.bytes_written": (tot.get("txlog.bytes_written", 0) / n, "bytes"),
        "txlog.files_added": (commits["adds"] / n, "count"),
        "txlog.files_removed": (commits["removes"] / n, "count"),
        "txlog.dv_files": (commits["dvs"] / n, "count"),
        "txlog.conflicts": (runner.conflicts, "count"),
        "write_bytes_per_input_byte": (written / read if read else 0.0, "ratio"),
        "cachereg.persisted_rdds": (
            statistics.mean(runner.per_op[i]["persisted_rdds"] for i in ops),
            "count"),
        "tmp.dirs_left": (dirs_left, "count"),
        "trace.ops_per_s": (n / wall, "1/s"),
        "trace.op_mean_s": (statistics.mean(runner.latencies), "s"),
        "op_p50_s": (statistics.median(runner.latencies), "s"),
    })
    for k in ("jobs", "stages", "tasks", "failed_tasks"):
        out[f"spark.{k}"] = (statistics.mean(runner.per_op[i][k] for i in ops), "count")
    return out


def engine_metrics(runner, log_dir: str) -> dict:
    groups = spans.EventLog(log_dir).per_group()
    ops = runner.timed_ops
    n = len(ops)

    def total(key):
        return sum(groups.get(spans.job_group(i), {}).get(key, 0.0) for i in ops)

    busy = total("job_busy_s")
    walls = sum(runner.per_op[i]["wall"] for i in ops)
    return {
        "spark.job_busy_s": (busy / n, "s"),
        "spark.driver_gap_s": ((walls - busy) / n, "s"),
        "spark.executor_cpu_s": (total("executor_cpu_s") / n, "s"),
        "spark.gc_s": (total("gc_s") / n, "s"),
        "spark.shuffle_write_bytes": (total("shuffle_write_bytes") / n, "bytes"),
        "spark.spill_bytes": (total("spill_bytes") / n, "bytes"),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # Spark, the JVM and libraries print to fd 1; keep the real stdout for
    # the records and send everything else to stderr.
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)

    def report(rec: dict) -> None:
        out.write(json.dumps(rec) + "\n")
        out.flush()

    try:
        root = checkout_root()
    except FileNotFoundError as e:
        print(e, file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work")
    run_dir = os.path.join(work, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        configure_env(run_dir, bool(args.trace))
        result = run(args, root, run_dir, report)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):  # another run still uses it
            os.rmdir(work)
    report(result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
