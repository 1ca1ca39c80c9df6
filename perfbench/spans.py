"""Spans recorded by the benchmark around its calls into each layer, and
the Spark status-store counters read for a job group.

Spans live in memory: name, start, end and the index of the enclosing
span. A span's self time is its duration minus the part of it that its
child spans cover.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager
from dataclasses import dataclass

from metrics import union_length


@dataclass
class Span:
    name: str
    start: float
    end: float | None
    parent: int | None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), None, parent))
        self._open.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self._open.pop()
            self.spans[idx].end = time.perf_counter()

    def duration(self, idx: int) -> float:
        s = self.spans[idx]
        return s.end - s.start

    def self_time(self, idx: int) -> float:
        s = self.spans[idx]
        children = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in self.spans
            if c.parent == idx
        ]
        return self.duration(idx) - union_length(children)

    def find(self, name: str, within: int | None = None) -> list[int]:
        """Indices of spans called ``name``, optionally only those nested
        (at any depth) inside span ``within``."""
        out = []
        for i, s in enumerate(self.spans):
            if s.name != name:
                continue
            if within is None or self._inside(i, within):
                out.append(i)
        return out

    def _inside(self, idx: int, ancestor: int) -> bool:
        p = self.spans[idx].parent
        while p is not None:
            if p == ancestor:
                return True
            p = self.spans[p].parent
        return False

    def self_seconds(self, name: str, within: int | None = None) -> float:
        return sum(self.self_time(i) for i in self.find(name, within))


# --- Spark status-store counters --------------------------------------------

COUNTER_FIELDS = (
    "jobs", "stages", "skipped_stages", "tasks", "failed_tasks",
    "run_ms", "cpu_ns", "gc_ms", "input_bytes", "output_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_mem_bytes",
    "spill_disk_bytes", "job_seconds",
)


def empty_counters() -> dict[str, float]:
    return dict.fromkeys(COUNTER_FIELDS, 0)


def add_counters(into: dict[str, float], other: dict[str, float]) -> None:
    for k in COUNTER_FIELDS:
        into[k] += other[k]


class StatusStore:
    """Reads per-job-group counters from Spark's in-process status store,
    which is populated with the UI disabled."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._jvm = sc._jvm
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def group_counters(self, group: str) -> dict[str, float]:
        self._jsc.listenerBus().waitUntilEmpty()
        out = empty_counters()
        spans = []
        for job_id in self._sc.statusTracker().getJobIdsForGroup(group):
            job = self._store.job(job_id)
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            stage_ids = job.stageIds()
            for i in range(stage_ids.length()):
                self._add_stage(out, stage_ids.apply(i))
        out["job_seconds"] = union_length(spans)
        return out

    def _add_stage(self, out: dict[str, float], stage_id: int) -> None:
        attempts = self._store.stageData(
            stage_id, False, self._jvm.java.util.ArrayList(), False, self._no_quantiles
        )
        for a in range(attempts.length()):
            sd = attempts.apply(a)
            if sd.status().toString() == "SKIPPED":
                out["skipped_stages"] += 1
                continue
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["failed_tasks"] += sd.numFailedTasks()
            out["run_ms"] += sd.executorRunTime()
            out["cpu_ns"] += sd.executorCpuTime()
            out["gc_ms"] += sd.jvmGcTime()
            out["input_bytes"] += sd.inputBytes()
            out["output_bytes"] += sd.outputBytes()
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_mem_bytes"] += sd.memoryBytesSpilled()
            out["spill_disk_bytes"] += sd.diskBytesSpilled()


# operator name at the head of a plan-tree line, after the tree drawing
# and any whole-stage-codegen marker such as "*(2) "
_PLAN_OP = re.compile(r"^[\s+\-:|]*(?:\*\(\d+\)\s*)?(\w+)", re.M)


def plan_counts(df) -> dict[str, int]:
    """Exchange / sort-merge-join / broadcast-hash-join operators in the
    executed physical plan (the final plan when AQE re-planned it)."""
    text = df._jdf.queryExecution().executedPlan().toString()
    if "== Final Plan ==" in text:
        text = text.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    ops = [m.group(1) for m in _PLAN_OP.finditer(text)]
    return {
        "exchanges": sum(op in ("Exchange", "BroadcastExchange") for op in ops),
        "smj": sum(op == "SortMergeJoin" for op in ops),
        "bhj": sum(op == "BroadcastHashJoin" for op in ops),
    }
