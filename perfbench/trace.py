"""Traced-run instruments: function spans, Spark event-log totals and
streaming progress.

Spans are taken by wrapping public functions of the package where their
callers look them up (module attributes and class attributes), so the
package itself is not modified.  Each span records name, start, end,
parent and op id; self time is the span's duration minus its children.
Spark's own event log (JSON lines, uncompressed) is parsed after the
session stops and its jobs are attributed to ops by job group, or by
submission time for jobs started on the streaming thread.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Collects spans while ``enabled``; a disabled tracer costs one
    attribute check per op and patches nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.op_id: str | None = None
        # seconds the instrument itself added to the traced pass: hook
        # work, job-group calls and the extra physical-planning call
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "op": self.op_id, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counters[name] += n

    def wrap(self, owner, attr: str, name: str, before=None) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper.  ``before``
        (optional) is called with the call's arguments and may return an
        ``after(result)`` callback."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            t = time.perf_counter()
            after = before(*args, **kwargs) if before else None
            tracer.overhead_s += time.perf_counter() - t
            with tracer.span(name):
                out = orig(*args, **kwargs)
            if after:
                t = time.perf_counter()
                after(out)
                tracer.overhead_s += time.perf_counter() - t
            return out

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- summaries ---------------------------------------------------------

    def totals(self) -> dict[str, float]:
        """Inclusive seconds per span name; a span nested inside a span of
        the same name is not counted twice."""
        out: dict[str, float] = defaultdict(float)
        for rec in self.spans:
            p, nested = rec["parent"], False
            while p is not None:
                if self.spans[p]["name"] == rec["name"]:
                    nested = True
                    break
                p = self.spans[p]["parent"]
            if not nested and rec["end"] is not None:
                out[rec["name"]] += rec["end"] - rec["start"]
        return out

    def self_times(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for rec in self.spans:
            if rec["end"] is not None:
                out[rec["name"]] += rec["end"] - rec["start"]
        for rec in self.spans:
            if rec["parent"] is not None and rec["end"] is not None:
                out[self.spans[rec["parent"]]["name"]] -= rec["end"] - rec["start"]
        return out

    def intervals(self, name: str) -> list[tuple[float, float]]:
        return [(r["start"], r["end"]) for r in self.spans
                if r["name"] == name and r["end"] is not None]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "counters": self.counters}, fh)


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
}

_TASK_FIELDS = {
    "tasks": lambda m: 1,
    "executor_run_s": lambda m: m.get("Executor Run Time", 0) / 1e3,
    "executor_cpu_s": lambda m: m.get("Executor CPU Time", 0) / 1e9,
    "jvm_gc_s": lambda m: m.get("JVM GC Time", 0) / 1e3,
    "shuffle_write_bytes": lambda m: m.get("Shuffle Write Metrics", {}).get(
        "Shuffle Bytes Written", 0),
    "shuffle_read_bytes": lambda m: sum(
        m.get("Shuffle Read Metrics", {}).get(k, 0)
        for k in ("Remote Bytes Read", "Local Bytes Read")),
    "spill_bytes": lambda m: m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
    "input_bytes": lambda m: m.get("Input Metrics", {}).get("Bytes Read", 0),
    "output_bytes": lambda m: m.get("Output Metrics", {}).get("Bytes Written", 0),
    "output_records": lambda m: m.get("Output Metrics", {}).get("Records Written", 0),
}
SPARK_FIELDS = ("jobs", "stages", *_TASK_FIELDS)


def read_event_log(log_dir: str) -> list[dict]:
    """Jobs with their submission time (epoch s), job group and summed
    task metrics."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*", "events_*"))
                       + glob.glob(os.path.join(log_dir, "local-*"))):
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerJobStart"' not in line and '"SparkListenerTaskEnd"' not in line:
                    continue
                e = json.loads(line)
                if e["Event"] == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    job = {"time": e["Submission Time"] / 1e3,
                           "group": props.get("spark.jobGroup.id"),
                           "jobs": 1, "stages": len(e.get("Stage IDs", []))}
                    job.update({k: 0 for k in _TASK_FIELDS})
                    jobs[e["Job ID"]] = job
                    for sid in e.get("Stage IDs", []):
                        stage_job[sid] = e["Job ID"]
                elif e["Event"] == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(e["Stage ID"], -1))
                    metrics = e.get("Task Metrics") or {}
                    if job is not None:
                        for k, f in _TASK_FIELDS.items():
                            job[k] += f(metrics)
    return list(jobs.values())


def sum_jobs(jobs: list[dict]) -> dict[str, float]:
    return {k: float(sum(j[k] for j in jobs)) for k in SPARK_FIELDS}


def jobs_within(jobs: list[dict], intervals: list[tuple[float, float]]) -> list[dict]:
    return [j for j in jobs if any(a <= j["time"] <= b for a, b in intervals)]


# --------------------------------------------------------------------------
# Streaming progress
# --------------------------------------------------------------------------

STREAM_PHASES = ("triggerExecution", "addBatch", "queryPlanning", "walCommit",
                 "latestOffset")


def progress_batches(query) -> list[dict]:
    """Per-micro-batch rows and phase durations from ``recentProgress``
    (batches that read no input are skipped)."""
    out = []
    for p in query.recentProgress:
        if not p.numInputRows:
            continue
        d = p.durationMs or {}
        out.append({"batch": p.batchId, "rows": p.numInputRows,
                    **{k: d.get(k, 0) for k in STREAM_PHASES}})
    return out
