"""Span tracing for the benchmark's traced run.

A span wraps one call from the benchmark into a public engine function.
Spans are kept in memory (name, start, end, parent, run id) and written
once, when the run ends. Each span is attributed the Spark jobs whose ids
were handed out while it was open -- the benchmark is one closed-loop
client, so every job in that id range was caused by the call, including
jobs submitted from the engine's own helper threads. Job, stage and task
figures come from Spark's status REST API, read when the span closes:
a per-span diff, so ``spark.ui.retainedJobs``/``retainedStages`` can
never evict a record before it is read.

Tracing costs driver time (a listener-bus flush and two REST reads per
span). The tracer times its own bookkeeping, and the run reports it as
the tracing overhead: traced wall time minus what the same calls take
untraced.
"""

from __future__ import annotations

import contextlib
import json
import time
import urllib.parse
import urllib.request
from datetime import datetime, timezone

SPAN_FIELDS = ("jobs", "job_s", "gap_s", "task_s", "shuffle_mb")


def _epoch(stamp: str | None) -> float | None:
    """REST timestamps look like ``2026-10-17T08:59:18.609GMT``."""
    if not stamp:
        return None
    return datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=timezone.utc
    ).timestamp()


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class NullTracer:
    """Tracing off: spans cost nothing."""

    def span(self, name: str):
        return contextlib.nullcontext()


class Tracer:
    def __init__(self, spark, run_id: str):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        port = urllib.parse.urlparse(sc.uiWebUrl).port
        self._api = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0
        t = time.perf_counter()
        self._get("/jobs")  # the UI's first request is slow; keep it out of spans
        self.overhead_s += time.perf_counter() - t

    def _get(self, path: str):
        with urllib.request.urlopen(self._api + path, timeout=30) as r:
            return json.load(r)

    def _next_job(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    @contextlib.contextmanager
    def span(self, name: str):
        t = time.perf_counter()
        rec = {
            "name": name,
            "run_id": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "first_job": self._next_job(),
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        self.overhead_s += time.perf_counter() - t
        rec["start"] = time.time()
        try:
            yield
        finally:
            rec["end"] = time.time()
            t = time.perf_counter()
            self._stack.pop()
            rec["end_job"] = self._next_job()
            self._attribute(rec)
            self.overhead_s += time.perf_counter() - t

    def _attribute(self, rec: dict) -> None:
        """Fill the span's job/stage figures from the REST API."""
        ids = range(rec["first_job"], rec["end_job"])
        wall = rec["end"] - rec["start"]
        rec.update(jobs=len(ids), job_s=0.0, gap_s=wall, task_s=0.0, shuffle_mb=0.0)
        if not ids:
            return
        # the status store is fed asynchronously: drain the listener bus
        # so every job of the span is recorded before reading it
        self._sc.listenerBus().waitUntilEmpty()
        jobs = [j for j in self._get("/jobs") if j["jobId"] in ids]
        spans = []
        stage_ids = set()
        for j in jobs:
            lo, hi = _epoch(j.get("submissionTime")), _epoch(j.get("completionTime"))
            if lo is not None and hi is not None:
                spans.append((max(lo, rec["start"]), min(hi, rec["end"])))
            stage_ids.update(j.get("stageIds", []))
        job_s = _union_s([(lo, hi) for lo, hi in spans if hi > lo])
        task_ms = shuffle_b = 0
        # a stage id listed by a job may have run in an earlier span (a
        # skipped, reused stage): count only stages submitted in this one
        for s in self._get("/stages"):
            sub = _epoch(s.get("submissionTime"))
            if s["stageId"] in stage_ids and sub is not None and sub >= rec["start"] - 0.001:
                task_ms += s.get("executorRunTime", 0)
                shuffle_b += s.get("shuffleWriteBytes", 0)
        rec.update(
            job_s=job_s,
            gap_s=max(0.0, wall - job_s),
            task_s=task_ms / 1000.0,
            shuffle_mb=shuffle_b / 1e6,
        )

    def summary(self, names) -> dict[str, float]:
        """Per span name: calls, and the mean per call of each field."""
        out: dict[str, float] = {}
        for name in names:
            recs = [r for r in self.spans if r["name"] == name]
            out[f"{name}.calls"] = len(recs)
            for f in SPAN_FIELDS:
                out[f"{name}.{f}"] = (
                    sum(r[f] for r in recs) / len(recs) if recs else 0.0
                )
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)
