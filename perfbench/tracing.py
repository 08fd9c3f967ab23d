"""Spans around the benchmark's calls into the program, plus the Spark
observation surfaces that attribute work to them.

Every run records spans in memory (name, start, end, parent, request id)
and asks Spark's status tracker how many jobs each span's job group ran.
Streaming calls run their jobs under the stream's own job group, so their
jobs are found by time instead: a traced run also writes Spark's local
event log, and ``EventLog`` parses it after the session stops and assigns
every job (and its stages, tasks and task metrics) and every SQL
execution's driver metrics to the innermost span that was open when it
was submitted. The benchmark is a single closed-loop client, so exactly
one span chain is open at any moment.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def rebind(self, spark) -> None:
        """Follow a restarted session."""
        self.sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, request: str | None = None):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": request if request is not None else (parent or {}).get("request"),
        }
        self.spans.append(rec)
        group = f"perfbench-{rec['id']}"
        self.sc.setJobGroup(group, name)
        self._stack.append(rec)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur"]
            self._stack.pop()
            rec["jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(group))
            if parent is not None:
                self.sc.setJobGroup(f"perfbench-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def children(self, span_id: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span_id]

    def descendants(self, span_id: int) -> list[dict]:
        out, todo = [], [span_id]
        while todo:
            kids = self.children(todo.pop())
            out += kids
            todo += [k["id"] for k in kids]
        return out

    def self_time_summary(self) -> dict[str, dict]:
        """Per span name: count, total and self seconds (duration minus the
        part covered by child spans)."""
        kids: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and "dur" in s:
                kids[s["parent"]] += s["dur"]
        out: dict[str, dict] = {}
        for s in self.spans:
            if "dur" not in s:
                continue
            agg = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            agg["count"] += 1
            agg["total_s"] += s["dur"]
            agg["self_s"] += s["dur"] - kids[s["id"]]
        return out


_TASK_KEYS = ("executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_bytes",
              "shuffle_read_bytes", "spill_bytes", "input_bytes", "input_records")


class EventLog:
    """Work per span from a Spark event log (uncompressed, one app)."""

    def __init__(self, log_dir: str, tracer: Tracer) -> None:
        self.tracer = tracer
        self._spans = [s for s in tracer.spans if "end" in s]
        self.by_span: dict[int, dict] = defaultdict(lambda: defaultdict(float))
        paths = [p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
                 if os.path.isfile(p)]
        if len(paths) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
        self._parse(paths[0])

    def _owner(self, t_ms: float, group: str | None) -> int | None:
        if group and group.startswith("perfbench-"):
            return int(group.split("-", 1)[1])
        t = t_ms / 1000.0
        best = None
        for s in self._spans:
            if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
                best = s
        return best["id"] if best else None

    def _parse(self, path: str) -> None:
        stage_owner: dict[int, int] = {}
        accum_names: dict[int, str] = {}
        exec_owner: dict[int, int] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    owner = self._owner(ev["Submission Time"], props.get("spark.jobGroup.id"))
                    if owner is None:
                        continue
                    self.by_span[owner]["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_owner.setdefault(sid, owner)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    owner = stage_owner.get(info["Stage ID"])
                    if owner is not None and "Completion Time" in info:
                        self.by_span[owner]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    owner = stage_owner.get(ev["Stage ID"])
                    metrics = ev.get("Task Metrics")
                    if owner is None or not metrics:
                        continue
                    agg = self.by_span[owner]
                    agg["tasks"] += 1
                    agg["executor_run_s"] += metrics["Executor Run Time"] / 1e3
                    agg["executor_cpu_s"] += metrics["Executor CPU Time"] / 1e9
                    agg["gc_s"] += metrics["JVM GC Time"] / 1e3
                    agg["spill_bytes"] += (metrics["Memory Bytes Spilled"]
                                           + metrics["Disk Bytes Spilled"])
                    sr = metrics["Shuffle Read Metrics"]
                    agg["shuffle_read_bytes"] += (sr["Remote Bytes Read"]
                                                  + sr["Local Bytes Read"])
                    agg["shuffle_write_bytes"] += metrics["Shuffle Write Metrics"][
                        "Shuffle Bytes Written"]
                    agg["input_bytes"] += metrics["Input Metrics"]["Bytes Read"]
                    agg["input_records"] += metrics["Input Metrics"]["Records Read"]
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                        "SparkListenerSQLAdaptiveExecutionUpdate"):
                    _plan_accums(ev["sparkPlanInfo"], accum_names)
                    if kind.endswith("SparkListenerSQLExecutionStart"):
                        owner = self._owner(ev["time"], None)
                        if owner is not None:
                            exec_owner[ev["executionId"]] = owner
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    owner = exec_owner.get(ev["executionId"])
                    if owner is None:
                        continue
                    for acc_id, value in ev["accumUpdates"]:
                        if accum_names.get(acc_id) == "number of files read":
                            self.by_span[owner]["files_read"] += value

    def totals(self, span_ids) -> dict[str, float]:
        """Summed work of the given spans (no double counting: each job
        belongs to exactly one span)."""
        out: dict[str, float] = defaultdict(float)
        for sid in span_ids:
            for k, v in self.by_span.get(sid, {}).items():
                out[k] += v
        for k in ("jobs", "stages", "tasks", "files_read") + _TASK_KEYS:
            out.setdefault(k, 0.0)
        return out

    def subtree(self, span_id: int) -> dict[str, float]:
        ids = [span_id] + [s["id"] for s in self.tracer.descendants(span_id)]
        return self.totals(ids)


def _plan_accums(info: dict, out: dict[int, str]) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in info.get("children", []):
        _plan_accums(child, out)
