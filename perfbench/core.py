"""Pass/op bookkeeping shared by the workloads.

A *pass* is one execution of a workload's fixed op sequence.  Its wall
time runs from the first op to the last, minus the time spent in
``untimed()`` blocks (output checks and output-size scans), so glue code
between ops counts but verification does not.  An op that raises is
recorded as failed and the pass goes on.
"""

from __future__ import annotations

import math
import os
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class OpRecord:
    name: str
    latency_s: float
    ok: bool = True
    rows_in: int = 0
    error: str = ""


@dataclass
class Op:
    """Handle a workload fills in while the op runs."""

    name: str
    ok: bool = True
    rows_in: int = 0


def dir_files(roots: list[str]) -> dict[str, int]:
    """Data files under ``roots`` keyed by (path, mtime) -> size."""
    out: dict[str, int] = {}
    for root in roots:
        for base, _, names in os.walk(root):
            for n in names:
                if n.endswith(".crc"):
                    continue
                p = os.path.join(base, n)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                out[f"{p}@{st.st_mtime_ns}"] = st.st_size
    return out


class Pass:
    def __init__(self, label: str, spark, tracer, out_roots: list[str]) -> None:
        self.label = label
        self.spark = spark
        self.tracer = tracer
        self.out_roots = out_roots
        self.ops: list[OpRecord] = []
        self.checks_failed: list[str] = []
        self._paused = 0.0
        self._created: dict[str, int] = {}
        self._t0 = time.perf_counter()
        self._t_end: float | None = None
        self.epoch = (time.time(), time.time())  # wall-clock span, for the event log
        self.final_bytes = 0

    @contextmanager
    def untimed(self):
        t = time.perf_counter()
        try:
            yield
        finally:
            self._paused += time.perf_counter() - t

    @contextmanager
    def op(self, name: str, rows_in: int = 0):
        handle = Op(name, rows_in=rows_in)
        tr = self.tracer
        op_id = f"{self.label}:{len(self.ops)}:{name}"
        t, paused = time.perf_counter(), self._paused
        if tr.enabled:
            tr.op_id = op_id
            self.spark.sparkContext.setJobGroup(op_id, name)
            tr.overhead_s += time.perf_counter() - t
        err = ""
        try:
            with tr.span("op"):
                yield handle
        except Exception as exc:  # noqa: BLE001 - a failed op is data, not a crash
            handle.ok = False
            err = f"{type(exc).__name__}: {(str(exc).splitlines() or [''])[0][:300]}"
            print(f"[{op_id}] failed: {err}", file=sys.stderr)
            traceback.print_exc(limit=3, file=sys.stderr)
        if tr.enabled:
            t_end = time.perf_counter()
            tr.op_id = None
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            tr.overhead_s += time.perf_counter() - t_end
        latency = time.perf_counter() - t - (self._paused - paused)  # checks excluded
        self.ops.append(OpRecord(name, latency, handle.ok, handle.rows_in, err))
        with self.untimed():
            self.scan_outputs()

    def record(self, name: str, latency_s: float, ok: bool, rows_in: int = 0) -> None:
        """An op timed elsewhere (a streaming micro-batch)."""
        self.ops.append(OpRecord(name, latency_s, ok, rows_in))

    def check(self, what: str, ok: bool) -> bool:
        if not ok:
            self.checks_failed.append(what)
            print(f"[{self.label}] check failed: {what}", file=sys.stderr)
        return ok

    def scan_outputs(self) -> None:
        self._created.update(dir_files(self.out_roots))

    def finish(self) -> None:
        self._t_end = time.perf_counter()
        self.epoch = (self.epoch[0], time.time())
        self.scan_outputs()
        self.final_bytes = sum(dir_files(self.out_roots).values())

    @property
    def wall_s(self) -> float:
        end = self._t_end if self._t_end is not None else time.perf_counter()
        return end - self._t0 - self._paused

    @property
    def created_bytes(self) -> int:
        return sum(self._created.values())

    @property
    def rows_in(self) -> int:
        return sum(o.rows_in for o in self.ops)


def tail(latencies: list[float]) -> tuple[float, int, float]:
    """Highest whole percentile with at least 10 ops beyond it (floored at
    the median when a run has fewer than 20 ops).  Returns (percentile,
    ops beyond it, value)."""
    n = len(latencies)
    pct = max(50, math.floor(100 * (1 - 10 / n))) if n else 50
    xs = sorted(latencies)
    idx = min(n - 1, max(0, math.ceil(pct / 100 * n) - 1))
    return pct, n - idx - 1, xs[idx]


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def vm_hwm_mb(pid: int | str = "self") -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")

