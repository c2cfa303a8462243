"""Span tracing from the benchmark's side of each layer boundary.

A :class:`Tracer` records spans (name, start, end, parent, op) in
memory and writes them out once, at exit. Entering a span also sets a
Spark job group of the same name, so every Spark job the layer starts
is tagged with it; leaving the span reads that group's new jobs from
Spark's status store and adds their engine counters to the layer.
Spans only exist in traced runs: with ``enabled=False`` every method is
a no-op, so untraced timings carry no tracing code.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# engine counters read per layer (v1.StageData accessors → metric)
STAGE_COUNTERS = {
    "executorCpuTime": ("executor_cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "inputBytes": ("input_bytes", 1),
    "inputRecords": ("input_rows", 1),
    "outputBytes": ("output_bytes", 1),
}


def layer_of(span_name: str) -> str:
    """The layer a span belongs to: its first two dotted components
    (``pipelines.motogp.teams`` → ``pipelines.motogp``), or the first
    alone for the ``session``, ``sources`` and ``query`` spans."""
    head = span_name.split(".")
    if head[0] in ("session", "sources", "query"):
        return head[0]
    return ".".join(head[:2])


class Tracer:
    def __init__(self, spark, enabled: bool, slots: int):
        self.enabled = enabled
        self.slots = slots
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._spark = spark
        self._seen_jobs: set[int] = set()
        self._seen_stages: set[tuple[int, int]] = set()
        self.op = None  # id shared by the spans of one op

    def bind(self, spark) -> None:
        """Point the tracer at the session once it has started."""
        self._spark = spark

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield {}
            return
        # the session span opens before there is a context to tag
        sc = self._spark.sparkContext if self._spark is not None else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op": self.op,
            "start": time.perf_counter(),
            "child_s": 0.0,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if sc is not None:
            sc.setJobGroup(name, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            dur = rec["end"] - rec["start"]
            # spans nest and run on one thread, so children never overlap
            rec["self_s"] = dur - rec.pop("child_s")
            if self._stack:
                self._stack[-1]["child_s"] += dur
            if sc is None:
                rec["spark"] = {}
            else:
                self._collect(rec)
                if self._stack:
                    top = self._stack[-1]["name"]
                    sc.setJobGroup(top, top)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def _collect(self, rec: dict) -> None:
        """Add the engine counters of the span's new jobs to its layer.
        Waits for the listener bus first: the status store is fed
        asynchronously, so a job that just returned may not be in it."""
        sc = self._spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = [
            j for j in sc.statusTracker().getJobIdsForGroup(rec["name"])
            if j not in self._seen_jobs
        ]
        self._seen_jobs.update(jobs)
        c = {"jobs": len(jobs), "tasks": 0, "run_s": 0.0}
        for j in jobs:
            stage_ids = store.job(j).stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # skipped stage: never ran
                    continue
                key = (sid, st.attemptId())
                if key in self._seen_stages:
                    continue
                self._seen_stages.add(key)
                c["tasks"] += st.numCompleteTasks()
                c["run_s"] += st.executorRunTime() / 1e3
                for acc, (name, scale) in STAGE_COUNTERS.items():
                    c[name] = c.get(name, 0) + getattr(st, acc)() * scale
        # time the layer's own jobs left the slots idle or queued
        c["wait_s"] = max(0.0, rec["self_s"] - c.pop("run_s") / self.slots)
        rec["spark"] = c

    # -- reading ------------------------------------------------------------

    def per_op(self, match, value) -> list[float]:
        """``value(span)`` summed per op over the spans ``match``
        accepts; one entry per op that has such a span."""
        by_op: dict = defaultdict(float)
        for s in self.spans:
            if match(s):
                by_op[s["op"]] += value(s)
        return list(by_op.values())

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=0)


class UdfMeter:
    """A pandas UDF that wraps another's Python function and adds the
    rows it scores and the seconds it spends to two accumulators, so
    traced runs can count work done inside the Python workers."""

    def __init__(self, spark, fn, return_type):
        from pyspark.sql import functions as F

        sc = spark.sparkContext
        rows, secs = sc.accumulator(0), sc.accumulator(0.0)
        self._rows, self._secs = rows, secs

        def metered(*cols):
            t = time.perf_counter()
            out = fn(*cols)
            rows.add(len(cols[0]))
            secs.add(time.perf_counter() - t)
            return out

        self.udf = F.pandas_udf(metered, return_type)

    def value(self) -> tuple[int, float]:
        return self._rows.value, self._secs.value
