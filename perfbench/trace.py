"""In-memory span tracer for the benchmark's traced run.

Spans are recorded from the benchmark's own code: either around a block
(``Tracer.span``) or by wrapping a public method on one object instance
(``Tracer.wrap``), so calls the product makes internally through that
instance (``StreamingReplay`` → ``engine.apply_batch`` →
``table.merge_cdc``) nest under their caller. Nothing inside the product
changes. Spans stay in memory and are written once, at exit.

A span opened with ``jobs=True`` also tags the Spark jobs it launches
with its own job group, and counts those jobs, their tasks and failed
tasks through ``SparkContext.statusTracker()`` when it closes.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_JOB_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, run_id: str, enabled: bool, spark=None):
        self.run_id = run_id
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        # reductions skip spans that started before this (a warm-up)
        self.since = 0.0
        self.counts: dict[str, list[float]] = defaultdict(list)
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    # ---------- recording ----------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, jobs: bool = False, **attrs):
        if not self.enabled:
            yield {}
            return
        sid = next(self._ids)
        stack = self._stack()
        rec = {
            "name": name,
            "id": sid,
            "parent": stack[-1] if stack else None,
            "run_id": self.run_id,
            "attrs": dict(attrs),
        }
        prev_group = None
        sc = self.spark.sparkContext if (jobs and self.spark) else None
        if sc is not None:
            prev_group = sc.getLocalProperty(_JOB_GROUP)
            sc.setLocalProperty(_JOB_GROUP, f"{self.run_id}-{sid}")
        stack.append(sid)
        rec["start"] = time.time()
        try:
            yield rec["attrs"]
        finally:
            rec["end"] = time.time()
            stack.pop()
            if sc is not None:
                sc.setLocalProperty(_JOB_GROUP, prev_group)
                rec["attrs"].update(self._job_counts(f"{self.run_id}-{sid}"))
            with self._lock:
                self.spans.append(rec)

    def _job_counts(self, group: str) -> dict:
        tracker = self.spark.sparkContext.statusTracker()
        jobs = tasks = failed = 0
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for st in info.stageIds:
                si = tracker.getStageInfo(st)
                if si is not None:
                    tasks += si.numTasks
                    failed += si.numFailedTasks
        return {"spark_jobs": jobs, "spark_tasks": tasks, "spark_failed": failed}

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name].append(float(value))

    def wrap(self, obj, method: str, name: str, jobs: bool = False, on_result=None):
        """Replace ``obj.method`` (on this instance only) with a traced
        call. ``on_result(attrs, result)`` may add counts to the span."""
        if not self.enabled:
            return
        inner = getattr(obj, method)

        @functools.wraps(inner)
        def traced(*args, **kwargs):
            with self.span(name, jobs=jobs) as attrs:
                out = inner(*args, **kwargs)
                if on_result is not None:
                    on_result(attrs, out)
                return out

        setattr(obj, method, traced)

    # ---------- reduction ----------

    def measured(self) -> list[dict]:
        return [s for s in self.spans if s["start"] >= self.since]

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.measured() if s["name"] == name]

    def attr_values(self, name: str, key: str) -> list[float]:
        return [
            float(s["attrs"][key])
            for s in self.measured()
            if s["name"] == name and key in s["attrs"]
        ]

    def self_durations(self, name: str) -> list[float]:
        """Self time of each span called ``name``: its duration minus the
        part of its interval that its children cover (children of one
        span run on the caller's thread, so they do not overlap)."""
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s)
        return [
            (s["end"] - s["start"])
            - sum(
                min(c["end"], s["end"]) - max(c["start"], s["start"])
                for c in kids[s["id"]]
            )
            for s in self.measured()
            if s["name"] == name
        ]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name."""
        return {n: sum(self.self_durations(n)) for n in {s["name"] for s in self.spans}}

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")
