"""Measurement helpers: percentiles, spans with self times, Spark
counters read from outside the engine, and process peak memory."""

from __future__ import annotations

import math
import time
from contextlib import contextmanager
from dataclasses import dataclass

#: tail percentiles tried from the highest down; a tail is reported
#: only where at least MIN_BEYOND samples lie beyond it
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile, ``q`` in [0, 1]."""
    v = sorted(values)
    if not v:
        raise ValueError("no samples")
    pos = q * (len(v) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def samples_beyond(n: int, pct: float) -> int:
    """Samples strictly above the ``pct`` percentile of ``n`` samples."""
    return n - math.ceil(n * pct / 100.0 - 1e-9)


def tail(values) -> tuple[float, float] | None:
    """(percentile, value) of the highest ladder percentile with at
    least MIN_BEYOND samples beyond it, or None when too few samples."""
    n = len(values)
    for pct in TAIL_LADDER:
        if samples_beyond(n, pct) >= MIN_BEYOND:
            return pct, quantile(values, pct / 100.0)
    return None


# ---------------------------------------------------------------------------
# spans


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → duration minus the part of its interval covered by
    its direct children (overlapping children counted once)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        iv = sorted((max(c.start, s.start), min(c.end, s.end))
                    for c in kids.get(s.id, ()))
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in iv:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = s.duration - covered
    return out


class Tracer:
    """In-memory span recorder. Each span sets its own Spark job group
    (when a SparkContext is attached) so jobs carry the span's name."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setJobGroup("perfbench", "perfbench")
        else:
            self.sc.setJobGroup(f"perfbench-{span.id}",
                                f"{span.name} op={span.op}")

    @contextmanager
    def span(self, name: str, op: int | None = None):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = parent.op
        s = Span(len(self.spans), name, parent.id if parent else None, op,
                 time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def to_json(self) -> list[dict]:
        st = self_times(self.spans)
        return [{"id": s.id, "name": s.name, "parent": s.parent, "op": s.op,
                 "start": s.start, "end": s.end, "self": st[s.id]}
                for s in self.spans]


# ---------------------------------------------------------------------------
# Spark counters, read from the application status store


class SparkCounters:
    """Job/stage/task counters for the jobs a call launched, read from
    ``statusStore()`` after the listener bus drains. Jobs are
    attributed by id: everything newer than the watermark taken before
    the call (the benchmark is one closed-loop client)."""

    def __init__(self, sc):
        self.sc = sc
        jsc = sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()

    def watermark(self) -> int:
        """Id of the newest job so far (-1 when none)."""
        self.bus.waitUntilEmpty()
        jobs = self.store.jobsList(None)  # newest first
        return int(jobs.apply(0).jobId()) if jobs.size() else -1

    def since(self, mark: int) -> dict:
        """Counters summed over the jobs newer than ``mark``."""
        self.bus.waitUntilEmpty()
        jobs = self.store.jobsList(None)
        stage_ids: set[int] = set()
        n_jobs = 0
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if int(j.jobId()) <= mark:
                break
            n_jobs += 1
            sids = j.stageIds()
            stage_ids.update(int(sids.apply(k)) for k in range(sids.size()))
        stages = []
        for sid in sorted(stage_ids):
            s = self.store.lastStageAttempt(sid)
            if s.status().toString() == "SKIPPED":
                continue
            stages.append({
                "id": sid, "attempt": int(s.attemptId()),
                "tasks": int(s.numCompleteTasks()) + int(s.numFailedTasks()),
                "failed_tasks": int(s.numFailedTasks()),
                "input_bytes": int(s.inputBytes()),
                "shuffle_read_bytes": int(s.shuffleReadBytes()),
                "shuffle_write_bytes": int(s.shuffleWriteBytes()),
                "cpu_ns": int(s.executorCpuTime()),
                "run_ms": int(s.executorRunTime()),
            })
        out = aggregate_stages(stages)
        out["jobs"] = n_jobs
        heavy = max(stages, key=lambda r: r["run_ms"], default=None)
        out["task_skew"] = self._skew(heavy) if heavy else 1.0
        return out

    def _skew(self, stage: dict) -> float:
        """max ÷ median task run time of one stage attempt."""
        gw = self.sc._gateway
        qs = gw.new_array(gw.jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        summ = self.store.taskSummary(stage["id"], stage["attempt"], qs)
        if not summ.isDefined():
            return 1.0
        rt = summ.get().executorRunTime()
        med, mx = float(rt.apply(0)), float(rt.apply(1))
        return mx / med if med > 0 else 1.0


def aggregate_stages(stages: list[dict]) -> dict:
    """Sum per-stage counters into one record (times in seconds)."""
    return {
        "stages": len(stages),
        "tasks": sum(s["tasks"] for s in stages),
        "failed_tasks": sum(s["failed_tasks"] for s in stages),
        "input_bytes": sum(s["input_bytes"] for s in stages),
        "shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in stages),
        "shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
        "executor_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "executor_run_s": sum(s["run_ms"] for s in stages) / 1e3,
    }


# ---------------------------------------------------------------------------
# memory


def peak_rss_mb(pid: int | str = "self") -> float:
    """VmHWM of a process, in MB (0.0 where /proc is unavailable)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0
