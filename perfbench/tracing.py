"""Spans recorded from outside the program, plus Spark's per-stage metrics.

A span wraps one call into a layer's public function. It records name,
start, end, parent and trace id, and tags every Spark job the call
starts with ``sparkContext.setJobGroup(<span id>)``, so the per-stage
task metrics Spark's REST API reports (run time, GC, shuffle, spill)
can be charged to the span that caused them. Spans stay in memory and
are written out once, when the benchmark ends.
"""

from __future__ import annotations

import itertools
import json
import time
import urllib.request
from contextlib import contextmanager

_JOB_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.trace_id = ""
        self._stack: list[dict] = []
        self._ids = itertools.count()

    def start_trace(self, trace_id: str) -> None:
        self.trace_id = trace_id

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        span = {
            "id": f"{self.trace_id}/{next(self._ids)}",
            "name": name,
            "trace": self.trace_id,
            "parent": parent["id"] if parent else None,
        }
        self._stack.append(span)
        self.sc.setJobGroup(span["id"], name)
        span["start"] = time.perf_counter()
        try:
            yield span
        finally:
            span["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["id"], parent["name"])
            else:
                self.sc.setLocalProperty(_JOB_GROUP, None)
            self.spans.append(span)

    def trace_spans(self, trace_id: str) -> list[dict]:
        return [s for s in self.spans if s["trace"] == trace_id]

    @staticmethod
    def self_time(span: dict, spans: list[dict]) -> float:
        """Span duration minus the part its child spans cover."""
        children = sum(s["end"] - s["start"] for s in spans if s["parent"] == span["id"])
        return span["end"] - span["start"] - children

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


class StageMetrics:
    """Per-job-group totals from Spark's monitoring REST API."""

    FIELDS = (
        "executorRunTime",
        "jvmGcTime",
        "shuffleWriteBytes",
        "memoryBytesSpilled",
        "diskBytesSpilled",
    )

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl.rstrip('/')}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as resp:
            return json.load(resp)

    def by_group(self, groups: set[str], timeout_s: float = 5.0) -> dict[str, dict]:
        """Totals per job group. Waits until the status store has every
        job of these groups finished (its listener runs asynchronously)."""
        deadline = time.monotonic() + timeout_s
        while True:
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") in groups]
            stages = {
                (s["stageId"], s["attemptId"]): s for s in self._get("/stages")
            }
            done = all(j["status"] != "RUNNING" for j in jobs) and all(
                stages.get((sid, 0), {}).get("status") != "ACTIVE"
                for j in jobs
                for sid in j["stageIds"]
            )
            if done or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        out: dict[str, dict] = {g: {"jobs": 0, "stages": 0, **dict.fromkeys(self.FIELDS, 0)} for g in groups}
        seen: set[tuple[int, int]] = set()
        for j in jobs:
            acc = out[j["jobGroup"]]
            acc["jobs"] += 1
            for key, s in stages.items():
                if key[0] in j["stageIds"] and key not in seen and s["status"] == "COMPLETE":
                    seen.add(key)
                    acc["stages"] += 1
                    for f in self.FIELDS:
                        acc[f] += s.get(f, 0)
        return out
