"""Traced-run instrumentation, kept entirely outside the engine.

- `Tracer` records spans (name, start, end, parent, op id) in memory.
- `install` wraps public engine functions with spans, rebinding every
  module attribute that holds the original, so a name imported with
  `from x import f` is traced as well as `x.f` itself.
- `EventLog` reads the Spark event log (uncompressed JSON lines) after
  the session stops and sums job, stage and task metrics per op, keyed
  by the job group each op runs under.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

PACKAGE = "saurav_nayak_recipe_etl_project_spark"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "op": self.op_id, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def self_times(self, ops: set[int]) -> dict[str, float]:
        """Per span name, the summed duration minus the time covered by
        direct children (children never overlap: one client thread)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["op"] in ops:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["op"] in ops:
                out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def install(tracer: Tracer, targets: list[tuple[str, str, str]]) -> list:
    """Wrap `module.attr` as span `name` for each target, and rebind the
    wrapper wherever a loaded engine module holds the same function.
    Returns undo records for `uninstall`."""
    undo = []
    for mod_name, attr, name in targets:
        orig = getattr(sys.modules[mod_name], attr)
        wrapped = tracer.wrap(name, orig)
        for mname, mod in list(sys.modules.items()):
            if not mname.startswith(PACKAGE) or mod is None:
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, key, wrapped)
                    undo.append((mod, key, orig))
    return undo


def wrap_dict(tracer: Tracer, table: dict, keys, name: str) -> list:
    undo = []
    for k in keys:
        undo.append((table, k, table[k]))
        table[k] = tracer.wrap(name, table[k])
    return undo


def uninstall(undo: list) -> None:
    for holder, key, orig in reversed(undo):
        if isinstance(holder, dict):
            holder[key] = orig
        else:
            setattr(holder, key, orig)


def job_group(op_id: int) -> str:
    return f"perfbench-op-{op_id}"


def tracker_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages, tasks and failed tasks the status tracker holds
    for one job group."""
    st = sc.statusTracker()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            stage = st.getStageInfo(sid)
            if stage is None:
                continue
            out["stages"] += 1
            out["tasks"] += stage.numTasks
            out["failed_tasks"] += stage.numFailedTasks
    return out


class EventLog:
    """Per-job-group sums from a finished application's event log."""

    def __init__(self, log_dir: str) -> None:
        # Spark 4 rolls the log by default: a directory of
        # events_<n>_<app> files; a single plain file otherwise
        apps = glob.glob(os.path.join(log_dir, "*"))
        if len(apps) != 1:
            raise RuntimeError(f"expected one application log in {log_dir}, "
                               f"found {len(apps)}")
        if os.path.isdir(apps[0]):
            files = sorted(glob.glob(os.path.join(apps[0], "events_*")),
                           key=lambda p: int(os.path.basename(p).split("_")[1]))
        else:
            files = apps
        self.group_of_job: dict[int, str] = {}
        self.job_span: dict[int, list[int]] = {}
        self.job_of_stage: dict[int, int] = {}
        self.tasks: list[tuple[int, dict]] = []
        for path in files:
            with open(path, encoding="utf-8") as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            props = e.get("Properties") or {}
            self.group_of_job[jid] = props.get("spark.jobGroup.id")
            self.job_span[jid] = [e["Submission Time"], e["Submission Time"]]
            for sid in e.get("Stage IDs", []):
                self.job_of_stage.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            span = self.job_span.get(e["Job ID"])
            if span is not None:
                span[1] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            self.tasks.append((e["Stage ID"], e.get("Task Metrics") or {}))

    def per_group(self) -> dict[str, dict[str, float]]:
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        intervals: dict[str, list[tuple[int, int]]] = defaultdict(list)
        for jid, group in self.group_of_job.items():
            if group is not None:
                intervals[group].append(tuple(self.job_span[jid]))
        for group, spans in intervals.items():
            out[group]["job_busy_s"] = _union_ms(spans) / 1000.0
        for sid, m in self.tasks:
            group = self.group_of_job.get(self.job_of_stage.get(sid))
            if group is None:
                continue
            g = out[group]
            g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}
                                         ).get("Shuffle Bytes Written", 0)
            g["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                 + m.get("Disk Bytes Spilled", 0))
        return out


def _union_ms(spans) -> float:
    total, end = 0, None
    for a, b in sorted(spans):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
