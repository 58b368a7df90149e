"""Spans around calls into the program's layers, and Spark event-log
attribution of jobs, stages and tasks to those spans.

Spans are recorded from the benchmark's side only: :meth:`Tracer.patch`
wraps a public function or method of the program for the duration of
the traced phase, and the benchmark's own calls are wrapped with
:meth:`Tracer.span`. Spark jobs are attributed to the innermost span
whose wall-clock window contains the job's submission time. Job groups
are not used, because jobs submitted from the program's own worker
threads do not inherit the caller's group.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


class Span:
    __slots__ = ("name", "start", "end", "parent", "depth", "attrs")

    def __init__(self, name, start, parent, depth):
        self.name, self.start, self.parent, self.depth = (
            name, start, parent, depth)
        self.end = None
        self.attrs = {}

    @property
    def seconds(self) -> float:
        return (self.end - self.start) / 1000.0


class Tracer:
    """In-memory spans with wall-clock bounds in epoch milliseconds, the
    clock Spark's event log uses."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.time() * 1000.0, parent, len(self._stack))
        self._stack.append(s)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time() * 1000.0
            self.spans.append(s)

    def patch(self, owner, attr: str, name: str, on_result=None):
        """Wrap ``owner.attr`` in a span until :meth:`restore`."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapped(*args, **kwargs):
            with tracer.span(name) as s:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(s, out)
                return out

        wrapped.__wrapped__ = orig
        setattr(owner, attr, wrapped)
        self._patched.append((owner, attr, orig))

    def restore(self):
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


# -- Spark event log --------------------------------------------------------

def read_event_log(log_dir: str) -> dict:
    """Jobs (with their stages' tasks) and stage retries from the event
    log of the one application logged under ``log_dir`` (plain or
    rolling layout)."""
    jobs, stage_job, tasks, retries = {}, {}, [], 0
    paths = sorted(os.path.join(d, fn) for d, _, fns in os.walk(log_dir)
                   for fn in fns if not fn.startswith((".", "appstatus")))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {"submit": ev["Submission Time"],
                                 "end": ev["Submission Time"], "tasks": []}
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerStageSubmitted":
                    if ev["Stage Info"].get("Stage Attempt ID", 0) > 0:
                        retries += 1
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
    for ev in tasks:
        jid = stage_job.get(ev["Stage ID"])
        if jid is not None:
            jobs[jid]["tasks"].append(_task_metrics(ev))
    return {"jobs": list(jobs.values()), "stage_retries": retries}


def _task_metrics(ev: dict) -> dict:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    run_ms = m.get("Executor Run Time", 0)
    overhead_ms = (m.get("Executor Deserialize Time", 0)
                   + m.get("Result Serialization Time", 0))
    duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    getting = info.get("Getting Result Time", 0)
    fetch_ms = (info.get("Finish Time", 0) - getting) if getting else 0
    shuffle_r = m.get("Shuffle Read Metrics", {})
    shuffle_w = m.get("Shuffle Write Metrics", {})
    return {
        "failed": bool(info.get("Failed")),
        "run_s": run_ms / 1000.0,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
        "input_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
        "shuffle_bytes": (shuffle_w.get("Shuffle Bytes Written", 0)
                          + shuffle_r.get("Remote Bytes Read", 0)
                          + shuffle_r.get("Local Bytes Read", 0)),
        # the Spark UI's definition of scheduler delay
        "sched_s": max(0, duration - run_ms - overhead_ms - fetch_ms) / 1000.0,
    }


def attribute_jobs(spans: list[Span], jobs: list[dict]) -> None:
    """Attach each job to the innermost span whose window holds its
    submission time (``span.attrs['jobs']``)."""
    for s in spans:
        s.attrs.setdefault("jobs", [])
    ordered = sorted(spans, key=lambda s: (s.start, -s.end))
    for job in jobs:
        best = None
        for s in ordered:
            if s.start > job["submit"]:
                break
            if s.end >= job["submit"] and (best is None
                                            or s.depth > best.depth):
                best = s
        if best is not None:
            best.attrs["jobs"].append(job)


def inclusive_jobs(span: Span, spans: list[Span]) -> list[dict]:
    """Jobs of ``span`` and of every span nested inside it."""
    out = list(span.attrs.get("jobs", []))
    for s in spans:
        p = s.parent
        while p is not None and p is not span:
            p = p.parent
        if p is span:
            out.extend(s.attrs.get("jobs", []))
    return out


def job_totals(jobs: list[dict]) -> dict:
    tasks = [t for j in jobs for t in j["tasks"]]
    return {
        "jobs": len(jobs),
        "tasks": len(tasks),
        "executor_run_s": sum(t["run_s"] for t in tasks),
        "executor_cpu_s": sum(t["cpu_s"] for t in tasks),
        "gc_s": sum(t["gc_s"] for t in tasks),
        "input_bytes": sum(t["input_bytes"] for t in tasks),
        "shuffle_bytes": sum(t["shuffle_bytes"] for t in tasks),
        "scheduler_delay_s": sum(t["sched_s"] for t in tasks),
    }


def job_covered_s(span: Span, jobs: list[dict]) -> float:
    """Seconds of ``span``'s window during which at least one of its
    jobs was running."""
    iv = sorted((max(j["submit"], span.start), min(j["end"], span.end))
                for j in jobs)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered / 1000.0


def layer_stats(tracer: Tracer, name: str) -> dict:
    """Per-call figures of one layer's spans: median wall seconds and
    median driver seconds (wall time not covered by the span's jobs),
    and per-call means of its Spark work, nested spans included."""
    spans = tracer.named(name)
    if not spans:
        return {}
    jobs = [inclusive_jobs(s, tracer.spans) for s in spans]
    per_call = [job_totals(j) for j in jobs]
    out = {k: sum(p[k] for p in per_call) / len(spans) for k in per_call[0]}
    out["wall_s"] = statistics.median(s.seconds for s in spans)
    out["driver_s"] = statistics.median(
        s.seconds - job_covered_s(s, j) for s, j in zip(spans, jobs))
    return out
