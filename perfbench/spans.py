"""In-memory span tracer with per-span Spark counts.

Spans are recorded from the benchmark's side, around calls into the
program's public functions. Each span runs its Spark jobs under its own
job group, so Spark's local status store can attribute stages, tasks,
shuffle bytes and spill to it. Spans are kept in memory and written out
by the caller when the run ends.
"""

from __future__ import annotations

import itertools
import statistics
import time
from contextlib import contextmanager

from py4j.protocol import Py4JError

SPARK_COUNTS = ["stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
                "spill_bytes", "failed_tasks"]


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[dict] = []
        self._trace = None

    def new_trace(self, trace_id: str) -> None:
        self._trace = trace_id

    @contextmanager
    def span(self, name: str):
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        group = f"perfbench-{sid}"
        rec = {"id": sid, "name": name, "trace": self._trace,
               "parent": parent["id"] if parent else None}
        self._stack.append(rec)
        self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"perfbench-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            rec.update(self._spark_counts(group))
            self.spans.append(rec)

    def _spark_counts(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jobs = list(tracker.getJobIdsForGroup(group))
        out = dict.fromkeys(SPARK_COUNTS, 0)
        out["jobs"] = len(jobs)
        task_ms: list[float] = []
        heaviest = -1
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for stage_id in (info.stageIds if info else ()):
                try:
                    sd = store.lastStageAttempt(stage_id)
                except Py4JError:  # skipped stage: no attempt ran
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["failed_tasks"] += sd.numFailedTasks()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                if sd.executorRunTime() > heaviest:
                    heaviest = sd.executorRunTime()
                    task_ms = _task_durations(store, stage_id, sd.attemptId(), sd.numTasks())
        if len(task_ms) > 1:
            out["task_skew"] = max(task_ms) / max(statistics.median(task_ms), 1.0)
        return out


def _task_durations(store, stage_id: int, attempt: int, n: int) -> list[float]:
    tasks = store.taskList(stage_id, attempt, n)
    out = []
    for i in range(tasks.size()):
        d = tasks.apply(i).duration()
        if d.isDefined():
            out.append(float(d.get()))
    return out


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name: duration minus the time its child spans cover."""
    child: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + (s["end"] - s["start"])
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child.get(s["id"], 0.0)
    return out


def totals(spans: list[dict], name: str) -> dict:
    """Summed duration and Spark counts of every span called ``name``."""
    sel = [s for s in spans if s["name"] == name]
    out = {"s": sum(s["end"] - s["start"] for s in sel), "jobs": sum(s["jobs"] for s in sel)}
    for k in SPARK_COUNTS:
        out[k] = sum(s[k] for s in sel)
    return out


def below_roots(spans: list[dict], roots) -> dict[str, dict[str, float]]:
    """Per root span name: the summed duration of each span name directly
    below a root of that name."""
    names = {s["id"]: s["name"] for s in spans if s["name"] in roots}
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        if s["parent"] in names:
            layers = out.setdefault(names[s["parent"]], {})
            layers[s["name"]] = layers.get(s["name"], 0.0) + (s["end"] - s["start"])
    return out
