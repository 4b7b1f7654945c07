"""Spans recorded around the calls the benchmark makes into each layer,
plus Spark's own job/stage/task counters joined to them by job group.

Spans are kept in memory and written to the run's trace file at the
end. Each span has a name, start and end (epoch seconds), the id of its
parent span and an op id shared by every span of one operation. A span opened on a thread
with no open span of its own (a streaming ``foreachBatch`` callback)
takes the innermost open span of the thread that created the tracer as
its parent, so commits nest under the stream op that caused them.
"""

from __future__ import annotations

import contextlib
import itertools
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stacks: dict[int, list[dict]] = defaultdict(list)
        self._main = threading.get_ident()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        stack = self._stacks[threading.get_ident()]
        parent = stack[-1] if stack else self._main_open()
        span = {
            "id": next(self._ids),
            "name": name,
            "op": op or (parent["op"] if parent else name),
            "parent": parent["id"] if parent else None,
            "start": time.time(),
        }
        stack.append(span)
        try:
            yield span
        finally:
            span["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(span)

    def _main_open(self) -> dict | None:
        stack = self._stacks.get(self._main)
        return stack[-1] if stack else None

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a spanned call until ``restore``.
        An integer return value is kept on the span as ``result``."""
        original = getattr(owner, attr)

        def spanned(*args, **kwargs):
            with self.span(name) as span:
                result = original(*args, **kwargs)
                if isinstance(result, int):
                    span["result"] = result
                return result

        setattr(owner, attr, spanned)
        self._patched.append((owner, attr, original))

    def restore(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)


def maybe_span(tracer: Tracer | None, name: str, op: str | None = None):
    """``tracer.span``, or nothing when the run is not traced."""
    return tracer.span(name, op=op) if tracer is not None else contextlib.nullcontext()


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out = {}
    for s in spans:
        covered = 0.0
        reach = s["start"]
        for c in sorted(children[s["id"]], key=lambda c: c["start"]):
            lo, hi = max(c["start"], reach), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                reach = hi
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def layer_totals(spans: list[dict]) -> dict[str, dict[str, float]]:
    """Per span name: call count, total seconds and total self seconds."""
    selfs = self_times(spans)
    out: dict[str, dict[str, float]] = defaultdict(lambda: {"calls": 0, "s": 0.0, "self_s": 0.0})
    for s in spans:
        t = out[s["name"]]
        t["calls"] += 1
        t["s"] += s["end"] - s["start"]
        t["self_s"] += selfs[s["id"]]
    return dict(out)


def _opt(scala_option):
    return scala_option.get() if scala_option.isDefined() else None


def spark_jobs(spark, groups: set[str]) -> list[dict]:
    """Jobs of the given job groups with their stage counters, read from
    Spark's live status store (the data the UI would show; no UI runs)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        group = _opt(j.jobGroup())
        if group not in groups:
            continue
        stages = []
        ids = j.stageIds()
        for k in range(ids.size()):
            attempts = store.stageData(ids.apply(k), False, None, False, None)
            for m in range(attempts.size()):
                s = attempts.apply(m)
                if s.status().toString() == "SKIPPED":
                    continue
                stages.append(
                    {
                        "id": s.stageId(),
                        "tasks": s.numCompleteTasks() + s.numFailedTasks(),
                        "run_ms": s.executorRunTime(),
                        "cpu_ns": s.executorCpuTime(),
                        "gc_ms": s.jvmGcTime(),
                        "shuffle_read": s.shuffleReadBytes(),
                        "shuffle_write": s.shuffleWriteBytes(),
                        "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                        "input": s.inputBytes(),
                    }
                )
        submitted = _opt(j.submissionTime())
        out.append(
            {
                "job": j.jobId(),
                "group": group,
                "submitted": submitted.getTime() / 1000 if submitted is not None else None,
                "stages": stages,
            }
        )
    return out


def sql_plan_seconds(spark, jobs: list[dict]) -> float:
    """Sum over SQL executions of the given jobs of the time from the
    execution's start to its first job: Catalyst planning and any
    driver-side work before the first task is scheduled."""
    submitted = {j["job"]: j["submitted"] for j in jobs if j["submitted"] is not None}
    store = spark._jsparkSession.sharedState().statusStore()
    executions = store.executionsList()
    total = 0.0
    for i in range(executions.size()):
        e = executions.apply(i)
        keys = e.jobs().keys().toList()
        firsts = [
            submitted[keys.apply(k)]
            for k in range(keys.size())
            if keys.apply(k) in submitted
        ]
        if firsts:
            total += max(0.0, min(firsts) - e.submissionTime() / 1000)
    return total


def exec_counters(spark, jobs: list[dict]) -> dict[str, float]:
    """The ``exec.*`` per-layer counters over the given jobs."""
    stages = {s["id"]: s for j in jobs for s in j["stages"]}.values()
    return {
        "exec.plan_s": sql_plan_seconds(spark, jobs),
        "exec.jobs": len(jobs),
        "exec.stages": len(stages),
        "exec.tasks": sum(s["tasks"] for s in stages),
        "exec.executor_run_s": sum(s["run_ms"] for s in stages) / 1e3,
        "exec.executor_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "exec.gc_s": sum(s["gc_ms"] for s in stages) / 1e3,
        "exec.shuffle_read_bytes": sum(s["shuffle_read"] for s in stages),
        "exec.shuffle_write_bytes": sum(s["shuffle_write"] for s in stages),
        "exec.spill_bytes": sum(s["spill"] for s in stages),
        "exec.input_bytes": sum(s["input"] for s in stages),
    }


def jobs_within(jobs: list[dict], spans: list[dict]) -> int:
    """Jobs submitted while one of ``spans`` was open in the job's op."""
    n = 0
    for j in jobs:
        t = j["submitted"]
        if t is not None and any(
            s["op"] == j["group"] and s["start"] <= t <= s["end"] for s in spans
        ):
            n += 1
    return n
