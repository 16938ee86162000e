"""Span recording and Spark event-log attribution for the traced run.

Spans are recorded from the benchmark's side only: `Tracer.wrap` replaces a
module attribute with a wrapper that opens a span around each call, so every
call that goes through the module (the benchmark's own calls and the
program's internal `module.function(...)` calls) is recorded. Nothing under
the program's package is edited.

Each span sets the Spark job group to its own id while it is innermost, so
the event log ties every batch Spark job to the span that launched it.
Micro-batch jobs run under the query's own job group and carry
`streaming.sql.batchId`; the innermost span that records that `batch_id`
and was open when a job was submitted claims it.
"""

from __future__ import annotations

import functools
import json
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

ENGINE_COUNTS = (
    "spark_jobs", "spark_stages", "spark_tasks", "task_cpu_s", "gc_s",
    "shuffle_write_mb", "spill_mb", "task_skew",
)


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.enabled = False
        self.spans: list[dict] = []
        self.own_s = 0.0  # time spent recording spans and setting job groups
        self._local = threading.local()
        self._main_stack: list[str] = []
        self._patched: list[tuple[object, str, object]] = []
        # span times are perf_counter(); the event log stamps epoch ms
        self.epoch_offset = time.time() - time.perf_counter()

    def _stack(self) -> list[str]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span_id: str | None) -> None:
        sc = self.spark.sparkContext
        if span_id is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(span_id, span_id)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        # a span opened on a callback thread (a foreachBatch function) hangs
        # under whatever the main thread is running at the time
        stack = self._stack()
        main = self._main_stack
        parent = stack[-1] if stack else (main[-1] if main else None)
        rec = {"id": f"s{len(self.spans)}", "name": name, "parent": parent,
               "start": t0, "end": None, **attrs}
        self.spans.append(rec)
        stack.append(rec["id"])
        is_main = threading.current_thread() is threading.main_thread()
        if is_main:
            self._set_group(rec["id"])
        self.own_s += time.perf_counter() - t0
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            rec["end"] = t1
            stack.pop()
            if is_main:
                self._set_group(stack[-1] if stack else None)
            self.own_s += time.perf_counter() - t1

    def wrap(self, module, attr: str, name: str | None = None):
        """Record a span around every call of `module.attr`, named after the
        module path below the package unless `name` is given."""
        orig = getattr(module, attr)
        label = name or f"{module.__name__.split('.', 1)[-1]}.{attr}"

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(label):
                return orig(*args, **kwargs)

        setattr(module, attr, wrapper)
        self._patched.append((module, attr, orig))

    def wrap_batch_runner(self, module, attr: str, name: str, batch_name: str):
        """Like `wrap`, for a `run(stream, fn, ...)` foreachBatch runner:
        each micro-batch of `fn` is also a span, named `batch_name`, that
        records its batch id."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(stream, fn, *args, **kwargs):
            def batch(batch_df, batch_id):
                with self.span(batch_name, batch_id=batch_id):
                    return fn(batch_df, batch_id)

            with self.span(name):
                return orig(stream, batch, *args, **kwargs)

        setattr(module, attr, wrapper)
        self._patched.append((module, attr, orig))

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()


def self_times(spans: list[dict]) -> dict[str, float]:
    """Span id -> duration minus the part of it covered by child spans."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cursor = 0.0, s["start"]
        for a, b in sorted(children[s["id"]]):
            a, b = max(a, cursor), min(b, s["end"])
            if b > a:
                covered += b - a
                cursor = b
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def read_event_log(path: str) -> dict:
    """Jobs, stages and tasks from one uncompressed Spark event log."""
    jobs, stages, tasks = {}, {}, defaultdict(list)
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "batch_id": props.get("streaming.sql.batchId"),
                    "stages": ev.get("Stage IDs", []),
                    "submitted_ms": ev.get("Submission Time", 0),
                }
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                stages[info["Stage ID"]] = (
                    (info.get("Completion Time") or 0)
                    - (info.get("Submission Time") or 0)
                )
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                info = ev.get("Task Info") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks[ev["Stage ID"]].append({
                    "ms": (info.get("Finish Time") or 0) - (info.get("Launch Time") or 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shuffle_b": sw.get("Shuffle Bytes Written", 0),
                    "spill_b": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                })
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def attribute_jobs(spans: list[dict], log: dict, epoch_offset: float) -> dict[str, list[int]]:
    """Span id -> Spark job ids it launched itself (innermost span)."""
    batch_spans = [s for s in spans if "batch_id" in s]
    ids = {s["id"] for s in spans}
    owned = defaultdict(list)
    for job_id, job in log["jobs"].items():
        owner = None
        if job["batch_id"] is not None:
            t = job["submitted_ms"] / 1e3 - epoch_offset
            open_then = [s for s in batch_spans
                         if str(s["batch_id"]) == str(job["batch_id"])
                         and s["start"] <= t <= s["end"]]
            if open_then:
                owner = max(open_then, key=lambda s: s["start"])["id"]
        if owner is None and job["group"] in ids:
            owner = job["group"]
        if owner is not None:
            owned[owner].append(job_id)
    return owned


def engine_counts(job_ids: list[int], log: dict) -> dict[str, float]:
    """The ENGINE_COUNTS of a set of Spark jobs."""
    stage_ids = sorted({sid for j in job_ids for sid in log["jobs"][j]["stages"]
                        if sid in log["tasks"]})
    tasks = [t for sid in stage_ids for t in log["tasks"][sid]]
    skew = 0.0
    if stage_ids:
        longest = max(stage_ids, key=lambda sid: log["stages"].get(sid, 0))
        times = [t["ms"] for t in log["tasks"][longest]]
        med = statistics.median(times)
        skew = max(times) / med if med > 0 else 1.0
    return {
        "spark_jobs": len(job_ids),
        "spark_stages": len(stage_ids),
        "spark_tasks": len(tasks),
        "task_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
        "shuffle_write_mb": sum(t["shuffle_b"] for t in tasks) / 2**20,
        "spill_mb": sum(t["spill_b"] for t in tasks) / 2**20,
        "task_skew": skew,
    }


def descendants(spans: list[dict]) -> dict[str, list[str]]:
    """Span id -> itself plus every span below it."""
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s["id"])
    out = {}
    for s in spans:
        todo, seen = [s["id"]], []
        while todo:
            cur = todo.pop()
            seen.append(cur)
            todo.extend(kids[cur])
        out[s["id"]] = seen
    return out
