"""Spans recorded from the benchmark's side, and Spark's own counters
read back from its status store.

A span is opened around a call into one of the program's layers. While
it is open, the span's id rides on the calling thread as a Spark job
tag, so every job that thread submits carries it; a job therefore
belongs to the innermost span open on its thread when it was submitted.
Call sites cannot stand in for this: a noop ``save`` records
``NativeMethodAccessorImpl.java:0`` as its call site.

Nothing here submits a Spark job. ``SparkStatus`` reads the live status
store (jobs, stages, tasks) through Jackson, the serializer Spark's own
REST API uses, and the workloads assert that the job count does not
move while they collect.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager

from stats import covered_length, median, self_times

TAG_PREFIX = "perfbench-span-"


class Tracer:
    """Records spans in memory; writes nothing until the run ends.

    ``enabled`` is checked when a span opens, so a workload can switch
    tracing per operation and compare traced with untraced operations
    inside one run (the tracing overhead).
    """

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = self._next
            self._next += 1
        if self.sc is not None:
            if parent is not None:
                self.sc.removeJobTag(TAG_PREFIX + str(parent))
            self.sc.addJobTag(TAG_PREFIX + str(sid))
        stack.append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            end = time.time()
            stack.pop()
            if self.sc is not None:
                self.sc.removeJobTag(TAG_PREFIX + str(sid))
                if parent is not None:
                    self.sc.addJobTag(TAG_PREFIX + str(parent))
            rec = {
                "id": sid,
                "name": name,
                "start": start,
                "end": end,
                "parent": parent,
                "op": op,
                "thread": threading.get_ident(),
            }
            rec.update(attrs)
            with self._lock:
                self.spans.append(rec)

    def wrap(self, name: str, fn, **attrs):
        """``fn`` with every call inside a span called ``name``."""

        def wrapped(*args, **kwargs):
            with self.span(name, **attrs):
                return fn(*args, **kwargs)

        wrapped.__wrapped__ = fn
        return wrapped

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def subtree(self, span: dict) -> list[int]:
        """Ids of ``span`` and every span opened inside it."""
        kids: dict[int, list[int]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s["id"])
        out, todo = [], [span["id"]]
        while todo:
            sid = todo.pop()
            out.append(sid)
            todo += kids.get(sid, [])
        return out

    def dump(self, path: str) -> None:
        """Write every span, with its self time, as one JSON list."""
        own = self_times(self.spans)
        with open(path, "w", encoding="utf-8") as f:
            json.dump([dict(s, self_s=own[s["id"]]) for s in self.spans], f)


class SparkStatus:
    """Read-only view of the live status store."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._gw = sc._gateway
        jvm = sc._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_mod, "MODULE$"))

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def job_count(self) -> int:
        return self._store.jobsList(None).size()

    def jobs(self) -> list[dict]:
        return self._json(self._store.jobsList(None))

    def stages(self) -> dict[int, dict]:
        quantiles = self._gw.new_array(self._gw.jvm.double, 0)
        out = {}
        for st in self._json(self._store.stageList(None, False, False, quantiles, None)):
            st.pop("details", None)
            st.pop("description", None)
            if st["attemptId"] == 0 or st["stageId"] not in out:
                out[st["stageId"]] = st
        return out

    def task_durations(self, stage_id: int, attempt: int = 0) -> list[int]:
        tasks = self._json(self._store.taskList(stage_id, attempt, 100000))
        return [t["duration"] for t in tasks if t.get("duration") is not None]


def jobs_by_span(jobs: list[dict]) -> dict[int, list[dict]]:
    """Jobs grouped by the span id carried in their tags."""
    out: dict[int, list[dict]] = {}
    for j in jobs:
        for tag in j.get("jobTags") or []:
            if tag.startswith(TAG_PREFIX):
                out.setdefault(int(tag[len(TAG_PREFIX):]), []).append(j)
    return out


def account(jobs: list[dict], stages: dict[int, dict], wall_s: float, slots: int, status=None) -> dict:
    """Spark-layer counters for one operation: the jobs it submitted and
    the stages those jobs ran. Skipped stages (reused shuffle output)
    ran no tasks and are not counted."""
    ran = {}
    for j in jobs:
        for sid in j.get("stageIds") or []:
            st = stages.get(sid)
            if st is not None and st.get("status") != "SKIPPED":
                ran[sid] = st
    run_ms = sum(s.get("executorRunTime", 0) for s in ran.values())
    intervals = []
    longest = None
    for s in ran.values():
        a = s.get("firstTaskLaunchedTime") or s.get("submissionTime")
        b = s.get("completionTime")
        if a is not None and b is not None:
            intervals.append((a / 1000.0, b / 1000.0))
            if longest is None or b - a > longest[0]:
                longest = (b - a, s["stageId"], s.get("attemptId", 0))
    skew = 1.0
    if status is not None and longest is not None:
        durs = status.task_durations(longest[1], longest[2])
        med = median(durs)
        if med > 0:
            skew = max(durs) / med
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(ran),
        "spark.tasks": sum(s.get("numCompleteTasks", 0) + s.get("numFailedTasks", 0) for s in ran.values()),
        "spark.executor_run_s": run_ms / 1000.0,
        "spark.executor_cpu_s": sum(s.get("executorCpuTime", 0) for s in ran.values()) / 1e9,
        "spark.gc_s": sum(s.get("jvmGcTime", 0) for s in ran.values()) / 1000.0,
        "spark.shuffle_read_bytes": sum(s.get("shuffleReadBytes", 0) for s in ran.values()),
        "spark.shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in ran.values()),
        "spark.spill_bytes": sum(
            s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in ran.values()
        ),
        "io.input_bytes": sum(s.get("inputBytes", 0) for s in ran.values()),
        "io.input_rows": sum(s.get("inputRecords", 0) for s in ran.values()),
        "spark.slot_util": (run_ms / 1000.0) / (wall_s * slots) if wall_s > 0 else 0.0,
        "spark.sched_floor_s": max(0.0, wall_s - covered_length(intervals)),
        "spark.task_skew": skew,
    }


SPARK_KEYS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.gc_s",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "io.input_bytes",
    "io.input_rows",
    "spark.slot_util",
    "spark.sched_floor_s",
    "spark.task_skew",
)


def account_spans(tracer: Tracer, status: SparkStatus, spans: list[dict], slots: int) -> list[dict]:
    """``account`` for each span, over the jobs of its whole subtree."""
    jobs = jobs_by_span(status.jobs())
    stages = status.stages()
    return [
        account(
            [j for sid in tracer.subtree(s) for j in jobs.get(sid, [])],
            stages,
            s["end"] - s["start"],
            slots,
            status,
        )
        for s in spans
    ]


def per_op(accounts: list[dict]) -> dict:
    """Per-operation figures: medians over operations. Counts of a
    deterministic program repeat exactly from run to run."""
    return {k: median(a[k] for a in accounts) for k in SPARK_KEYS}
