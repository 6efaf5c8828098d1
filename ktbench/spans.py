"""Spans and counters recorded by the benchmark around its calls into the engine.

Nothing here reaches inside the engine: spans wrap the benchmark's own
calls, job/stage/task counts come from ``SparkContext.statusTracker()``
per job group, shuffle and spill bytes and the physical plans of each SQL
execution come from the Spark event log (written in traced runs only, and
readable only after the context stops), and streaming phases come from a
``StreamingQueryListener``.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql.streaming import StreamingQueryListener

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools"))
from plan_shape import shape_counts  # noqa: E402

PYTHON_NODE = re.compile(
    r"[+:]- (?:\*\(\d+\) )?(?:ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas"
    r"|FlatMapCoGroupsInPandas|MapInPandas|MapInArrow|AggregateInPandas"
    r"|WindowInPandas|FlatMapGroupsInPandasWithState|PythonMapInArrow)"
)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    run_id: str


class Timer:
    """Elapsed seconds of a ``with`` block, read after it exits."""

    s = 0.0


class Trace:
    """In-memory span list; records only when enabled, always times."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str, parent: str | None = None):
        t = Timer()
        t0 = time.time()
        try:
            yield t
        finally:
            t1 = time.time()
            t.s = t1 - t0
            if self.enabled:
                self.spans.append(Span(name, t0, t1, parent, self.run_id))

    def add(self, name: str, start: float, end: float, parent: str | None = None) -> None:
        if self.enabled:
            self.spans.append(Span(name, start, end, parent, self.run_id))

    def coverage(self, names: set[str], lo: float, hi: float) -> float:
        """Share of [lo, hi] covered by the union of the named spans."""
        covered = _union_length(
            (max(s.start, lo), min(s.end, hi))
            for s in self.spans
            if s.name in names and s.end > lo and s.start < hi
        )
        return covered / (hi - lo) if hi > lo else 0.0


def _union_length(intervals) -> float:
    """Total length of the union of (start, end) intervals."""
    total, lo, hi = 0.0, None, None
    for a, b in sorted(intervals):
        if hi is None or a > hi:
            if hi is not None:
                total += hi - lo
            lo, hi = a, b
        else:
            hi = max(hi, b)
    if hi is not None:
        total += hi - lo
    return total


def group_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages run, tasks run) of one job group, from the status tracker."""
    st = sc.statusTracker()
    stages: set[int] = set()
    job_ids = st.getJobIdsForGroup(group)
    for j in job_ids:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    ran, tasks = 0, 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None and info.numCompletedTasks > 0:
            ran += 1
            tasks += info.numCompletedTasks
    return len(job_ids), ran, tasks


def job_floor_ms(spark, n: int = 15) -> float:
    """Median wall time of a trivial one-task SQL job: the per-job floor."""
    df = spark.range(0, 1, 1, 1)
    df.collect()
    ts = []
    for _ in range(n):
        t0 = time.perf_counter()
        df.collect()
        ts.append((time.perf_counter() - t0) * 1e3)
    ts.sort()
    return ts[len(ts) // 2]


@dataclass
class GroupRecord:
    jobs: int = 0
    exec_ms: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    exchanges: int = 0
    python_nodes: int = 0
    intervals: list = field(default_factory=list)


def _event_files(log_dir: str, app_id: str) -> list[str]:
    for name in os.listdir(log_dir):
        if app_id not in name:
            continue
        p = os.path.join(log_dir, name)
        if os.path.isdir(p):  # rolling layout: eventlog_v2_<app>/events_<n>_<app>
            files = [f for f in os.listdir(p) if f.startswith("events_")]
            files.sort(key=lambda f: int(f.split("_")[1]))
            return [os.path.join(p, f) for f in files]
        return [p]
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")


def read_event_log(log_dir: str, app_id: str) -> dict[str, GroupRecord]:
    """Per job group: jobs, union of job wall time, shuffle-write and spill
    bytes, and Exchange / Python-node counts over its SQL executions' plans."""
    job_group: dict[int, str] = {}
    job_exec: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    plans: dict[str, str] = {}
    recs: dict[str, GroupRecord] = {}
    for path in _event_files(log_dir, app_id):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id")
                    if g is None:
                        continue
                    j = ev["Job ID"]
                    job_group[j] = g
                    job_start[j] = ev["Submission Time"]
                    if "spark.sql.execution.id" in props:
                        job_exec[j] = props["spark.sql.execution.id"]
                    for s in ev.get("Stage IDs", []):
                        stage_group.setdefault(s, g)
                elif kind == "SparkListenerJobEnd":
                    j = ev["Job ID"]
                    if j in job_group:
                        r = recs.setdefault(job_group[j], GroupRecord())
                        r.jobs += 1
                        r.intervals.append((job_start[j], ev["Completion Time"]))
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if g is None or not m:
                        continue
                    r = recs.setdefault(g, GroupRecord())
                    r.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    r.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    plans[str(ev["executionId"])] = ev.get("physicalPlanDescription", "")
    for g, r in recs.items():
        r.exec_ms = _union_length(r.intervals)
        for e in {job_exec[j] for j, jg in job_group.items() if jg == g and j in job_exec}:
            plan = plans.get(str(e), "")
            r.exchanges += shape_counts(plan)["exchanges"]
            r.python_nodes += len(PYTHON_NODE.findall(plan))
    return recs


def _epoch_seconds(ts: str) -> float:
    return (
        datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


class ProgressListener(StreamingQueryListener):
    """Keeps every StreamingQueryProgress (``recentProgress`` is bounded)."""

    def __init__(self):
        self.progress: dict[int, tuple[float, dict, int]] = {}

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.progress[p.batchId] = (_epoch_seconds(p.timestamp), dict(p.durationMs), p.numInputRows)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def wait_for(self, batch_id: int, timeout: float = 5.0) -> None:
        deadline = time.time() + timeout
        while batch_id not in self.progress and time.time() < deadline:
            time.sleep(0.05)
