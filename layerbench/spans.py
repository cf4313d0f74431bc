"""Spans around layer calls, each with its own Spark job group, and the
per-group task metrics read back from Spark's status REST API."""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from urllib.parse import urlparse


@dataclass
class Span:
    name: str
    run_id: str
    parent: str | None
    group: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans of one traced run. Spans stay in memory until ``dump``."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            name=name,
            run_id=self.run_id,
            parent=parent.name if parent else None,
            group=f"{self.run_id}/{name}",
            start=time.perf_counter(),
        )
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(sp)
            self.sc.setJobGroup(parent.group if parent else f"{self.run_id}/untraced", "")

    def by_name(self, name: str) -> Span:
        return next(s for s in self.spans if s.name == name)

    def dump(self, fh) -> None:
        for s in self.spans:
            fh.write(json.dumps({**asdict(s), "wall_s": s.wall_s}) + "\n")


class StatusApi:
    """Spark's status REST API (``/api/v1/applications/<id>/...``)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._bus = sc._jsc.sc().listenerBus()
        port = urlparse(sc.uiWebUrl).port
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self.tracker = sc.statusTracker()

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def group_metrics(self, groups: list[str], timeout_s: float = 10.0) -> dict[str, dict]:
        """Summed stage metrics per job group, once the status store holds
        every job of those groups in a final state."""
        # the status store fills from the listener bus; drain it first
        self._bus.waitUntilEmpty(int(timeout_s * 1e3))
        want = {g: set(self.tracker.getJobIdsForGroup(g)) for g in groups}
        want_ids = set().union(*want.values())
        deadline = time.monotonic() + timeout_s
        while True:
            jobs = {j["jobId"]: j for j in self._get("/jobs") if j["jobId"] in want_ids}
            done = len(jobs) == len(want_ids) and all(
                j["status"] in ("SUCCEEDED", "FAILED") for j in jobs.values()
            )
            if done or time.monotonic() > deadline:
                break
            time.sleep(0.1)
        stages = {(s["stageId"], s["attemptId"]): s for s in self._get("/stages")}
        out = {}
        for g, ids in want.items():
            stage_ids = {sid for j in ids if j in jobs for sid in jobs[j]["stageIds"]}
            run = [s for (sid, _), s in stages.items() if sid in stage_ids and s["status"] == "COMPLETE"]
            max_task_ms = 0.0
            for s in run:
                summary = self._get(f"/stages/{s['stageId']}/{s['attemptId']}/taskSummary?quantiles=1.0")
                max_task_ms = max(max_task_ms, summary["executorRunTime"][0])
            out[g] = {
                "jobs": len(ids),
                "stages": len(run),
                "tasks": sum(s["numCompleteTasks"] for s in run),
                "task_s": sum(s["executorRunTime"] for s in run) / 1e3,
                "cpu_s": sum(s["executorCpuTime"] for s in run) / 1e9,
                "gc_s": sum(s["jvmGcTime"] for s in run) / 1e3,
                "shuffle_bytes": sum(s["shuffleWriteBytes"] for s in run),
                "max_task_s": max_task_ms / 1e3,
            }
        return out
