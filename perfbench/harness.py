"""Shared pieces of the benchmark: the stderr timeline, the result a part
returns, and the in-memory span tracer for the traced run.

A span records name, start, end, parent and run id. Each span also tags the
Spark jobs it launches with a job group, so the Spark status store can
attribute tasks, shuffle bytes and spills to the innermost open span.
Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import sys
import time
import urllib.error
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

T0 = time.perf_counter()


def log(msg: str) -> None:
    """Timeline on stderr, in seconds since the process started."""
    print(f"perfbench [{time.perf_counter() - T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


@dataclass
class Result:
    """What one part of a workload measured. ``e2e`` holds its share of the
    end-to-end metrics, ``named`` the same figures under the part's own
    names, ``facts`` whatever its per-layer metrics need, ``overhead_s`` the
    traced minus the untraced time of the unit it repeats."""

    e2e: dict
    named: dict
    facts: dict = field(default_factory=dict)
    overhead_s: float = 0.0


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    job_ids: list[int] = field(default_factory=list)
    spark: dict = field(default_factory=dict)
    self_s: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class NullTracer:
    """Untraced runs: ``span`` costs one context-manager entry and records
    nothing, so end-to-end timings are not perturbed."""

    enabled = False

    @contextmanager
    def span(self, name: str):
        yield


class Tracer:
    enabled = True

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{self.run_id}:{span.span_id}", span.name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            name=name,
            span_id=len(self.spans),
            parent=parent.span_id if parent else None,
            run_id=self.run_id,
            start=time.perf_counter(),
        )
        self.spans.append(s)
        self._stack.append(s)
        self._group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._group(parent)

    # -- end of run -------------------------------------------------------

    def finish(self) -> None:
        """Self times, job ids and per-span Spark stage metrics."""
        tracker = self.sc.statusTracker()
        for s in self.spans:
            child = sum(
                c.duration for c in self.spans if c.parent == s.span_id
            )
            s.self_s = s.duration - child
            s.job_ids = sorted(
                tracker.getJobIdsForGroup(f"{self.run_id}:{s.span_id}")
            )
        rest = _SparkRest(self.sc)
        for s in self.spans:
            s.spark = rest.span_metrics(s.job_ids)

    def self_time(self, name: str) -> float:
        return sum(s.self_s for s in self.spans if s.name == name)

    def spark_totals(self, names: set[str] | None = None) -> dict:
        picked = [s for s in self.spans if names is None or s.name in names]
        stages = [st for s in picked for st in s.spark.get("stages", [])]
        heaviest = max(stages, key=lambda st: st["run_ms"], default=None)
        return {
            "shuffle_write_bytes": sum(st["shuffle_write"] for st in stages),
            "spill_bytes": sum(st["spill"] for st in stages),
            "tasks": sum(st["tasks"] for st in stages),
            "task_skew": heaviest["skew"] if heaviest else 1.0,
            "jobs": sum(len(s.job_ids) for s in picked),
        }

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            fh.write(json.dumps(extra) + "\n")
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


class _SparkRest:
    """Reads stage metrics from the Spark UI's REST API (the traced run
    enables the UI; untraced runs keep it off)."""

    def __init__(self, sc):
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.tracker = sc.statusTracker()

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.load(r)

    def span_metrics(self, job_ids: list[int]) -> dict:
        stages = []
        for jid in job_ids:
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = self._stage(sid)
                if st is not None:
                    stages.append(st)
        return {"stages": stages}

    def _stage(self, sid: int) -> dict | None:
        # The status store is fed asynchronously by the listener bus; a
        # stage that just finished may not be visible for a moment.
        for _ in range(20):
            try:
                attempts = self._get(f"/stages/{sid}")
            except urllib.error.HTTPError:
                attempts = []
            done = [a for a in attempts if a.get("status") == "COMPLETE"]
            if done or any(a.get("status") == "SKIPPED" for a in attempts):
                break
            time.sleep(0.1)
        if not done:
            return None
        a = done[0]
        skew = 1.0
        if a["numCompleteTasks"] > 1:
            try:
                q = self._get(
                    f"/stages/{sid}/{a['attemptId']}/taskSummary"
                    "?quantiles=0.5,1.0"
                )
                med, mx = q["executorRunTime"]
                skew = mx / med if med > 0 else 1.0
            except (urllib.error.HTTPError, KeyError, ValueError):
                pass
        return {
            "stage_id": sid,
            "tasks": a["numCompleteTasks"],
            "run_ms": a["executorRunTime"],
            "shuffle_write": a["shuffleWriteBytes"],
            "spill": a["memoryBytesSpilled"] + a["diskBytesSpilled"],
            "skew": skew,
        }
