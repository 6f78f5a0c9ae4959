"""Spans around the program's public functions, and Spark engine
numbers attributed to them.

A span records name, start, end, parent and run id.  Spans stay in
memory and are summarised when the run ends.  Each span sets a Spark
job group, so the jobs it triggers can be found in the Spark event log
and their executor-side numbers charged to it.

Tracing is installed only for a traced run (``--trace 1``); the
end-to-end metrics come from untraced runs.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager

GROUP_PREFIX = "perfbench-span-"


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clipped(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    """Intervals cut to [lo, hi], empty ones dropped."""
    out = []
    for s, e in intervals:
        s, e = max(s, lo), min(e, hi)
        if e > s:
            out.append((s, e))
    return out


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of it that its direct
    child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp["parent"] is not None:
            children.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    return {
        sp["id"]: (sp["end"] - sp["start"])
        - union_length(clipped(children.get(sp["id"], []), sp["start"], sp["end"]))
        for sp in spans
    }


class Tracer:
    """Collects spans; ``sc`` (a SparkContext) enables job groups."""

    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _set_group(self, span: dict | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(
                "spark.jobGroup.id",
                None if span is None else f"{GROUP_PREFIX}{span['id']}",
            )

    @contextmanager
    def span(self, name: str, **tags):
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": len(self.spans),
            "name": name,
            "parent": None if parent is None else parent["id"],
            "run": self.run_id,
            "tags": tags,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            self._set_group(parent)

    def traced(self, name: str, fn, tag=None):
        """``fn`` run inside a span; ``tag(args, kwargs)`` returns extra
        span tags."""

        @functools.wraps(fn)
        def inner(*args, **kwargs):
            with self.span(name, **(tag(args, kwargs) if tag else {})):
                return fn(*args, **kwargs)

        return inner

    def wrap(self, owner, attr: str, name: str, tag=None) -> None:
        """Replace ``owner.attr`` with a version that runs inside a span."""
        setattr(owner, attr, self.traced(name, getattr(owner, attr), tag))


# -- Spark event log --------------------------------------------------

_WANTED = (
    "SparkListenerJobStart",
    "SparkListenerJobEnd",
    "SparkListenerStageCompleted",
    "SparkListenerTaskEnd",
)


def read_event_log(log_dir: str) -> dict[int, dict]:
    """Job id -> {start, end, group, stages, tasks, and summed task
    metrics}, from the uncompressed JSON event log(s) under
    ``log_dir``."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    files = []
    for dirpath, _, names in os.walk(log_dir):
        files += [os.path.join(dirpath, n) for n in names if n.startswith("events_") or n.startswith("local-")]
    for path in sorted(files):
        with open(path) as f:
            for line in f:
                head = line[:60]
                if not any(w + '"' in head for w in _WANTED):
                    continue
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    j = jobs[e["Job ID"]] = {
                        "id": e["Job ID"],
                        "start": e["Submission Time"] / 1000.0,
                        "end": None,
                        "group": props.get("spark.jobGroup.id"),
                        "stages": 0,
                        "single_task_stages": 0,
                        "tasks": 0,
                        "run_s": 0.0,
                        "cpu_s": 0.0,
                        "gc_s": 0.0,
                        "shuffle_read_bytes": 0,
                        "shuffle_write_bytes": 0,
                        "input_bytes": 0,
                        "output_bytes": 0,
                    }
                    for sid in e.get("Stage IDs", []):
                        stage_job[sid] = e["Job ID"]
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    j = jobs.get(stage_job.get(si["Stage ID"]))
                    if j is not None and si.get("Submission Time") is not None:
                        j["stages"] += 1
                        j["single_task_stages"] += si["Number of Tasks"] == 1
                else:
                    j = jobs.get(stage_job.get(e["Stage ID"]))
                    m = e.get("Task Metrics")
                    if j is None or not m:
                        continue
                    j["tasks"] += 1
                    j["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    j["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    j["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    sr = m.get("Shuffle Read Metrics") or {}
                    j["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    j["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    j["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    j["output_bytes"] += (m.get("Output Metrics") or {}).get(
                        "Bytes Written", 0
                    )
    return {k: v for k, v in jobs.items() if v["end"] is not None}


SUMMED = (
    "stages",
    "single_task_stages",
    "tasks",
    "run_s",
    "cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "input_bytes",
    "output_bytes",
)


def engine_totals(jobs, lo: float, hi: float) -> dict:
    """Summed job numbers for jobs submitted in [lo, hi], plus the
    seconds of that window in which no job was running (driver-only
    time)."""
    sel = [j for j in jobs if lo <= j["start"] <= hi]
    out = {k: sum(j[k] for j in sel) for k in SUMMED}
    out["jobs"] = len(sel)
    busy = union_length(clipped([(j["start"], j["end"]) for j in sel], lo, hi))
    out["driver_only_s"] = (hi - lo) - busy
    return out


def jobs_by_span(jobs: dict[int, dict]) -> dict[int, list[dict]]:
    out: dict[int, list[dict]] = {}
    for j in jobs.values():
        g = j["group"] or ""
        if g.startswith(GROUP_PREFIX):
            out.setdefault(int(g[len(GROUP_PREFIX):]), []).append(j)
    return out


def codegen_totals(spark) -> tuple[int, float]:
    """(classes compiled, approx. seconds compiling) from Spark's
    process-wide CodegenMetrics histogram (count x reservoir mean)."""
    h = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    n = int(h.getCount())
    return n, n * float(h.getSnapshot().getMean()) / 1000.0
