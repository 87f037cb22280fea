"""Spans recorded from outside the library.

A :class:`Tracer` keeps spans in memory (name, kind, start, end,
parent).  :func:`instrument` wraps the public ``transform`` method of
every ``Component`` subclass and the public ``load_table`` / ``spread``
functions, so each call opens a span.  Every span runs its Spark jobs
under its own job group; :meth:`Tracer.attach_spark` reads Spark's
in-process status store (readable with the UI off) and hangs each job,
and each stage it ran, under the span whose group started it.

Self time is a span's duration minus the part of it covered by its
child spans.  Nothing here runs unless a traced run asks for it: an
untraced run never imports this module.
"""

from __future__ import annotations

import functools
import itertools
import json
import statistics
import sys
import time
from contextlib import contextmanager

_GROUP = "pb"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.enabled = False
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        jvm = self.sc._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self._store = self.sc._jsc.sc().statusStore()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self._seen_jobs: set[int] = set()

    @contextmanager
    def span(self, kind: str, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": next(self._ids),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "kind": kind,
            "name": name,
            "start": time.time(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(f"{_GROUP}{rec['id']}", f"{kind}:{name}")
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                top = self._stack[-1]
                self.sc.setJobGroup(f"{_GROUP}{top['id']}", f"{top['kind']}:{top['name']}")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def add(self, kind: str, name: str, start: float, end: float, parent=None, **attrs) -> dict:
        rec = {"id": next(self._ids), "parent": parent, "kind": kind,
               "name": name, "start": start, "end": end, **attrs}
        self.spans.append(rec)
        return rec

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def attach_spark(self) -> None:
        """Add a span for every Spark job started under one of this
        tracer's job groups since the last call, and under each job a
        span per stage it ran, carrying the stage's task metrics."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        jobs = [j for j in self._json(self._store.jobsList(None))
                if j["jobId"] not in self._seen_jobs
                and (j.get("jobGroup") or "").startswith(_GROUP)
                and j.get("completionTime")]
        if not jobs:
            return
        stages = {}
        for s in self._json(self._store.stageList(None, False, False, self._no_quantiles, None)):
            if s["status"] in ("COMPLETE", "FAILED") and s.get("completionTime"):
                stages.setdefault(s["stageId"], s)
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            self._seen_jobs.add(j["jobId"])
            job = self.add(
                "job", f"job{j['jobId']}", j["submissionTime"] / 1e3,
                j["completionTime"] / 1e3, parent=int(j["jobGroup"][len(_GROUP):]),
                failed_tasks=j.get("numFailedTasks", 0),
            )
            for sid in j["stageIds"]:
                s = stages.pop(sid, None)
                if s is None:
                    continue  # skipped, or already counted under an earlier job
                self.add(
                    "stage", f"stage{sid}", s["submissionTime"] / 1e3,
                    s["completionTime"] / 1e3, parent=job["id"],
                    stage_id=sid, attempt=s["attemptId"], tasks=s["numTasks"],
                    failed_tasks=s["numFailedTasks"],
                    run_s=s["executorRunTime"] / 1e3,
                    cpu_s=s["executorCpuTime"] / 1e9,
                    gc_s=s["jvmGcTime"] / 1e3,
                    shuffle_read_bytes=s["shuffleReadBytes"],
                    shuffle_write_bytes=s["shuffleWriteBytes"],
                    spill_bytes=s["memoryBytesSpilled"] + s["diskBytesSpilled"],
                )

    def task_skew(self, stage: dict) -> float:
        """Slowest over median task duration of one stage."""
        tasks = self._json(self._store.taskList(stage["stage_id"], stage["attempt"], 1 << 20))
        durations = [t["duration"] for t in tasks if t.get("duration")]
        if not durations:
            return 1.0
        med = statistics.median(durations)
        return max(durations) / med if med > 0 else 1.0


def _wrapped(tracer: Tracer, kind: str, name: str, fn):
    @functools.wraps(fn)
    def call(*args, **kwargs):
        with tracer.span(kind, name):
            return fn(*args, **kwargs)

    return call


def instrument(tracer: Tracer, component_base, functions: dict[str, tuple[str, object]]) -> None:
    """Wrap ``transform`` on every subclass of ``component_base`` (span
    kind ``op``) and rebind each ``functions`` entry, ``{name: (kind,
    fn)}``, wherever a loaded module holds it."""
    todo, seen = list(component_base.__subclasses__()), set()
    while todo:
        cls = todo.pop()
        if cls in seen:
            continue
        seen.add(cls)
        todo.extend(cls.__subclasses__())
        if "transform" in cls.__dict__:
            cls.transform = _wrapped(tracer, "op", cls.__name__, cls.__dict__["transform"])
    for attr, (kind, fn) in functions.items():
        wrapped = _wrapped(tracer, kind, attr, fn)
        for mod in list(sys.modules.values()):
            # by identity, so aliases (``spread as _spread``) are wrapped too
            for name, value in list(getattr(mod, "__dict__", {}).items()):
                if value is fn:
                    setattr(mod, name, wrapped)


# -- span arithmetic -------------------------------------------------------


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class SpanTree:
    def __init__(self, spans: list[dict]):
        self.children: dict[int, list[dict]] = {}
        for s in spans:
            self.children.setdefault(s["parent"], []).append(s)

    def descendants(self, span: dict, kind: str | None = None):
        todo = list(self.children.get(span["id"], ()))
        while todo:
            s = todo.pop()
            todo.extend(self.children.get(s["id"], ()))
            if kind is None or s["kind"] == kind:
                yield s

    def self_s(self, span: dict) -> float:
        kids = [(c["start"], c["end"]) for c in self.children.get(span["id"], ())]
        return (span["end"] - span["start"]) - covered(kids, span["start"], span["end"])


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def layer_metrics(tracer: Tracer, pass_span: dict) -> dict[str, float]:
    """Per-layer totals over one traced batch pass."""
    tree = SpanTree(tracer.spans)
    m: dict[str, float] = {}

    def add(key, value):
        m[key] = m.get(key, 0.0) + value

    for b in tree.descendants(pass_span, "build"):
        jobs = list(tree.descendants(b, "job"))
        add("build.wall_s", _dur(b))
        add("build.jobs", len(jobs))
        add("build.stages", sum(1 for _ in tree.descendants(b, "stage")))
        add("build.eager_s", covered([(j["start"], j["end"]) for j in jobs], b["start"], b["end"]))
    m["build.self_s"] = m.get("build.wall_s", 0.0) - m.get("build.eager_s", 0.0)
    for o in tree.descendants(pass_span, "op"):
        add(f"op.{o['name']}.self_s", tree.self_s(o))
        add(f"op.{o['name']}.jobs", sum(1 for c in tree.children.get(o["id"], ()) if c["kind"] == "job"))
    for s in tree.descendants(pass_span, "io"):
        add(f"io.{s['name']}_s", _dur(s))
        add(f"io.{s['name']}_calls", 1)
    longest = None
    for e in tree.descendants(pass_span, "exec"):
        add("exec.wall_s", _dur(e))
        add("exec.jobs", sum(1 for _ in tree.descendants(e, "job")))
        for st in tree.descendants(e, "stage"):
            add("exec.stages", 1)
            add("exec.tasks", st["tasks"])
            add("exec.executor_run_s", st["run_s"])
            add("exec.executor_cpu_s", st["cpu_s"])
            add("exec.gc_s", st["gc_s"])
            add("exec.shuffle_read_bytes", st["shuffle_read_bytes"])
            add("exec.shuffle_write_bytes", st["shuffle_write_bytes"])
            add("exec.spill_bytes", st["spill_bytes"])
            add("exec.failed_tasks", st["failed_tasks"])
            if longest is None or st["run_s"] > longest["run_s"]:
                longest = st
    if longest is not None:
        m["exec.task_skew"] = tracer.task_skew(longest)
    for c in tree.descendants(pass_span, "cache"):
        add("cache.release_s", _dur(c))
    return m
