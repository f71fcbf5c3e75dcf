"""Spans around the benchmark's calls into ``osm_search_spark``.

A span is a name, a layer, an operation id, a parent, and start/end times.
While a span is open its Spark jobs run under a job group of their own, so
the jobs a call started can be read back from the public status tracker.
Spans stay in memory; ``finish`` attaches job, stage and SQL metrics to
each of them once, after the measured work is over.

With tracing off every span is a no-op and no job group is set.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

from . import jvm


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.missing: dict[str, str] = {}
        self._stack: list[dict] = []
        self._sc = None
        self.t0 = time.perf_counter()

    def bind(self, spark) -> None:
        self._spark = spark
        self._sc = spark.sparkContext

    def add(self, name: str, layer: str, start: float, end: float, **attrs) -> None:
        """Record a top-level span that was timed before spans could open
        (the Spark session start)."""
        if self.enabled:
            self.spans.append(dict(
                id=len(self.spans), name=name, layer=layer, op=None,
                parent=None, start=start - self.t0, end=end - self.t0,
                group=None, attrs=attrs,
            ))

    @contextmanager
    def span(self, name: str, layer: str, op=None, on: bool = True):
        """Open a span; with tracing off, or ``on`` false, only a scratch
        dict is yielded so callers can write ``attrs`` unconditionally."""
        if not (self.enabled and on):
            yield {"attrs": {}}
            return
        sp = dict(
            id=len(self.spans), name=name, layer=layer, op=op,
            parent=self._stack[-1]["id"] if self._stack else None,
            start=time.perf_counter() - self.t0, end=None,
            group=f"perfbench-{len(self.spans)}", attrs={},
        )
        self.spans.append(sp)
        self._stack.append(sp)
        if self._sc is not None:
            self._sc.setJobGroup(sp["group"], name)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter() - self.t0
            self._stack.pop()
            if self._sc is not None:
                if self._stack:
                    self._sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                    self._sc.setLocalProperty("spark.job.description", None)

    def note_missing(self, metric: str, reason: str | None) -> None:
        if reason:
            self.missing.setdefault(metric, reason)

    def finish(self) -> None:
        """Attach to every span its duration, self time, own jobs, stages and
        stage metrics (not those of its children)."""
        if not self.enabled:
            return
        _, why = jvm.drain_listener_bus(self._sc)
        if why:
            # without the drain the last jobs may not be in the store yet
            time.sleep(2.0)
        tracker = self._sc.statusTracker()
        children: dict[int, list[dict]] = {}
        for sp in self.spans:
            if sp["parent"] is not None:
                children.setdefault(sp["parent"], []).append(sp)
        for sp in self.spans:
            sp["dur"] = sp["end"] - sp["start"]
            sp["self"] = sp["dur"] - sum(c["end"] - c["start"] for c in children.get(sp["id"], []))
            jobs = sorted(tracker.getJobIdsForGroup(sp["group"])) if sp["group"] else []
            stages = []
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stages.extend(int(s) for s in info.stageIds)
            sp["jobs"] = jobs
            sp["stages"] = stages
            sp["stage_metrics"] = None
            if stages:
                sp["stage_metrics"], why = jvm.stage_metrics(self._sc, stages)
                self.note_missing("stage_metrics", why)

    def subtree(self, sp: dict) -> list[dict]:
        """``sp`` and every span nested in it."""
        out, todo = [], [sp["id"]]
        while todo:
            pid = todo.pop()
            for s in self.spans:
                if s["id"] == pid:
                    out.append(s)
                elif s["parent"] == pid:
                    todo.append(s["id"])
        return out

    def jobs_of(self, sp: dict) -> list[int]:
        return [j for s in self.subtree(sp) for j in s["jobs"]]

    def stage_sum(self, sp: dict, key: str) -> float | None:
        """Sum of one stage metric over ``sp`` and its nested spans."""
        vals = [s["stage_metrics"][key] for s in self.subtree(sp) if s["stage_metrics"]]
        if not vals and self.jobs_of(sp):
            return None
        return float(sum(vals))

    def sql(self, sp: dict) -> list:
        """SQL plan-node metrics of the executions run inside ``sp``."""
        rows, why = jvm.sql_node_metrics(self._spark, self.jobs_of(sp))
        self.note_missing("sql_metrics", why)
        return rows or []

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def coverage(self) -> float:
        """Share of the traced wall time (session start to the last span's
        end) that the top-level spans account for."""
        top = [s for s in self.spans if s["parent"] is None]
        if not top:
            return 0.0
        wall = max(s["end"] for s in top) - min(s["start"] for s in top)
        return sum(s["end"] - s["start"] for s in top) / wall if wall > 0 else 0.0

    def dump(self) -> list[dict]:
        keep = ("id", "name", "layer", "op", "parent", "start", "end", "dur",
                "self", "jobs", "stage_metrics", "attrs")
        return [{k: s.get(k) for k in keep} for s in self.spans]


def dir_bytes(path: str) -> int:
    """Bytes under ``path``: what a write left on disk."""
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)
