"""Spans around layer calls, and the Spark work each span caused.

A span is opened by the harness around one call into a layer. With
tracing on, every span tags the Spark jobs it submits through
``setJobGroup`` (the innermost open span wins), and at the end of the
run the job and stage records of the local Spark UI are read back and
attributed to spans. With tracing off, ``NullTracer`` records nothing
and never touches Spark.
"""

from __future__ import annotations

import calendar
import json
import socket
import time
import urllib.request
from contextlib import contextmanager

STAGE_SUMS = {
    "spark.tasks": "numTasks",
    "spark.executor_run_ms": "executorRunTime",
    "spark.executor_cpu_ms": "executorCpuTime",
    "spark.shuffle_read_bytes": "shuffleReadBytes",
    "spark.shuffle_write_bytes": "shuffleWriteBytes",
    "spark.result_bytes": "resultSize",
}


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class Span:
    __slots__ = ("sid", "name", "parent", "start", "end")

    def __init__(self, sid: int, name: str, parent: int | None):
        self.sid, self.name, self.parent = sid, name, parent
        self.start = self.end = 0.0


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name: str):
        yield None


class Tracer:
    """Records spans in memory; ``collect`` joins them with the Spark
    UI's job and stage records once the run is over."""

    enabled = True

    def __init__(self, sc, ui_port: int):
        self.sc = sc
        self.ui = f"http://127.0.0.1:{ui_port}/api/v1/applications/{sc.applicationId}"
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.children: dict[int, list[int]] = {}
        self.self_s = 0.0  # time spent in the tracer's own bookkeeping
        self.jobs_by_group: dict[str, list[dict]] = {}
        self.stages: dict[int, list[dict]] = {}
        self.execution_of_job: dict[int, int] = {}

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        parent = self.stack[-1].sid if self.stack else None
        sp = Span(len(self.spans), name, parent)
        self.spans.append(sp)
        if parent is not None:
            self.children.setdefault(parent, []).append(sp.sid)
        self.stack.append(sp)
        self.sc.setJobGroup(f"span-{sp.sid}", name)
        sp.start = time.perf_counter()
        self.self_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self.stack.pop()
            if self.stack:
                top = self.stack[-1]
                self.sc.setJobGroup(f"span-{top.sid}", top.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.self_s += time.perf_counter() - sp.end

    # -- Spark UI records ---------------------------------------------
    def _get(self, path: str):
        with urllib.request.urlopen(self.ui + path, timeout=30) as r:
            return json.load(r)

    def collect(self, timeout_s: float = 30.0) -> None:
        """Read every job and stage record, waiting for the UI's event
        queue to catch up with the jobs the driver already finished."""
        deadline = time.monotonic() + timeout_s
        last = None
        while True:
            jobs = self._get("/jobs")
            stages = self._get("/stages")
            key = (len(jobs), len(stages), sum(j["status"] == "RUNNING" for j in jobs))
            settled = key == last and key[2] == 0
            if settled or time.monotonic() > deadline:
                break
            last = key
            time.sleep(0.3)
        self.jobs_by_group = {}
        for j in jobs:
            self.jobs_by_group.setdefault(j.get("jobGroup"), []).append(j)
        self.stages = {}
        for st in stages:
            if st.get("status") in ("COMPLETE", "FAILED"):
                self.stages.setdefault(st["stageId"], []).append(st)
        # a DataFrame action is one SQL execution; with adaptive query
        # execution on, it submits one job per shuffle map stage besides
        # its result job, so jobs overcount actions
        self.execution_of_job = {
            j: ex["id"]
            for ex in self._get("/sql?details=false&offset=0&length=1000000")
            for key in ("successJobIds", "failedJobIds", "runningJobIds")
            for j in ex.get(key, [])
        }

    # -- attribution ---------------------------------------------------
    def descendants(self, sp: Span) -> list[int]:
        out, todo = [], [sp.sid]
        while todo:
            sid = todo.pop()
            out.append(sid)
            todo.extend(self.children.get(sid, []))
        return out

    def spark_counters(self, sp: Span) -> dict[str, float]:
        """Job, stage and task counters of every job a span (or a span
        nested in it) submitted, plus the span's driver time: its wall
        time minus the time any of those stages was running."""
        jobs = [j for sid in self.descendants(sp) for j in self.jobs_by_group.get(f"span-{sid}", [])]
        stage_ids = {sid for j in jobs for sid in j.get("stageIds", [])}
        stages = [st for sid in stage_ids for st in self.stages.get(sid, [])]
        out = {
            "spark.jobs": float(len(jobs)),
            "spark.actions": float(len({self.execution_of_job.get(j["jobId"], -1 - j["jobId"]) for j in jobs})),
            "spark.stages": float(len(stages)),
        }
        for name, field in STAGE_SUMS.items():
            out[name] = float(sum(s.get(field, 0) or 0 for s in stages))
        out["spark.executor_cpu_ms"] /= 1e6  # the UI reports nanoseconds
        out["spark.spill_bytes"] = float(
            sum((s.get("memoryBytesSpilled") or 0) + (s.get("diskBytesSpilled") or 0) for s in stages)
        )
        busy = _union_ms(
            [(_epoch_ms(s.get("submissionTime")), _epoch_ms(s.get("completionTime"))) for s in stages]
        )
        wall_ms = (sp.end - sp.start) * 1e3
        out["spark.driver_ms"] = max(0.0, wall_ms - busy)
        return out

    def dump(self, path: str) -> None:
        rows = [
            {
                "id": s.sid,
                "name": s.name,
                "parent": s.parent,
                "start_s": round(s.start, 6),
                "dur_ms": round((s.end - s.start) * 1e3, 4),
            }
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"spans": rows}, f)


def _epoch_ms(ts: str | None) -> float | None:
    """'2026-01-02T03:04:05.678GMT' -> epoch milliseconds."""
    if not ts:
        return None
    base, _, frac = ts.replace("GMT", "").partition(".")
    secs = calendar.timegm(time.strptime(base, "%Y-%m-%dT%H:%M:%S"))
    return secs * 1e3 + float(f"0.{frac or 0}") * 1e3


def _union_ms(intervals) -> float:
    iv = sorted((a, b) for a, b in intervals if a is not None and b is not None and b >= a)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
