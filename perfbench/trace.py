"""Spans around library calls, and the Spark event-log reader that
attributes jobs to them.

Each span sets the Spark job description to its name
(``<layer>.<call>``) and a ``perfbench.span`` local property to its id,
so every job the call launches carries both into the event log. The
reader turns those jobs into per-span engine metrics; a span's driver
gap is its wall time minus the union of its jobs' intervals.
"""

from __future__ import annotations

import glob
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Iterator

SPAN_PROPERTY = "perfbench.span"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int
    start: float
    end: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory. A tracer starts disabled; disabled, it
    records nothing and sets no job descriptions."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op = -1

    def _label(self, span: Span | None) -> None:
        self.sc.setJobDescription(span.name if span else None)
        self.sc.setLocalProperty(SPAN_PROPERTY, str(span.id) if span else None)

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, self.op,
                 time.time())
        self.spans.append(s)
        self._stack.append(s)
        self._label(s)
        try:
            yield
        finally:
            s.end = time.time()
            self._stack.pop()
            self._label(parent)


# ----------------------------------------------------------------------
# event log
# ----------------------------------------------------------------------
@dataclass
class Job:
    id: int
    span: int | None
    start: float
    end: float = 0.0
    stages: list[int] = field(default_factory=list)


@dataclass
class StageAgg:
    tasks: int = 0
    executor_cpu_s: float = 0.0
    executor_run_s: float = 0.0
    scheduler_delay_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0
    input_mb: float = 0.0
    output_mb: float = 0.0
    python_sent_mb: float = 0.0
    python_received_mb: float = 0.0


#: SQL metrics of the Python-evaluating operators (UDFs), by name
_PYTHON_ACCUMULABLES = {
    "data sent to Python workers": "python_sent_mb",
    "data returned from Python workers": "python_received_mb",
}


def read_event_log(log_dir: str) -> tuple[dict[int, Job], dict[int, StageAgg]]:
    """Parse the (uncompressed) event log of the one application that
    wrote into ``log_dir``."""
    jobs: dict[int, Job] = {}
    stages: dict[int, StageAgg] = {}
    paths = [p for p in glob.glob(f"{log_dir}/*") if not p.endswith(".inprogress")]
    if not paths:
        raise FileNotFoundError(f"no completed event log in {log_dir}")
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                span = props.get(SPAN_PROPERTY)
                jobs[ev["Job ID"]] = Job(
                    ev["Job ID"],
                    int(span) if span is not None else None,
                    ev["Submission Time"] / 1000.0,
                    stages=list(ev["Stage IDs"]),
                )
            elif kind == "SparkListenerJobEnd":
                job = jobs.get(ev["Job ID"])
                if job is not None:
                    job.end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                _add_task(stages.setdefault(ev["Stage ID"], StageAgg()), ev)
    return jobs, stages


def _add_task(agg: StageAgg, ev: dict) -> None:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    agg.tasks += 1
    run_ms = m.get("Executor Run Time", 0)
    agg.executor_run_s += run_ms / 1e3
    agg.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
    agg.gc_s += m.get("JVM GC Time", 0) / 1e3
    duration_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    agg.scheduler_delay_s += max(
        0,
        duration_ms
        - run_ms
        - m.get("Executor Deserialize Time", 0)
        - m.get("Result Serialization Time", 0),
    ) / 1e3
    sw = m.get("Shuffle Write Metrics") or {}
    agg.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / 1e6
    sr = m.get("Shuffle Read Metrics") or {}
    agg.shuffle_read_mb += (
        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    ) / 1e6
    agg.spill_mb += (
        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    ) / 1e6
    agg.input_mb += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / 1e6
    agg.output_mb += (m.get("Output Metrics") or {}).get("Bytes Written", 0) / 1e6
    for acc in info.get("Accumulables") or []:
        name = _PYTHON_ACCUMULABLES.get(acc.get("Name"))
        if name is not None:
            setattr(agg, name, getattr(agg, name) + int(acc.get("Update", 0)) / 1e6)


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def engine_metrics(
    jobs: dict[int, Job], stages: dict[int, StageAgg], span_ids: set[int],
    lo: float, hi: float,
) -> dict[str, float]:
    """``spark.*`` metrics of the jobs launched under
    ``span_ids``, over the wall interval ``[lo, hi]``."""
    mine = [j for j in jobs.values() if j.span in span_ids]
    aggs = [stages[s] for j in mine for s in j.stages if s in stages]
    job_s = union_length([(j.start, j.end) for j in mine], lo, hi)
    out = {
        "spark.jobs": float(len(mine)),
        "spark.stages": float(len(aggs)),
        "spark.tasks": float(sum(a.tasks for a in aggs)),
        "spark.single_task_stages": float(sum(1 for a in aggs if a.tasks == 1)),
        "spark.job_s": job_s,
        "spark.driver_gap_s": max(0.0, (hi - lo) - job_s),
        "spark.executor_cpu_s": sum(a.executor_cpu_s for a in aggs),
        "spark.executor_run_s": sum(a.executor_run_s for a in aggs),
        "spark.scheduler_delay_s": sum(a.scheduler_delay_s for a in aggs),
        "spark.gc_s": sum(a.gc_s for a in aggs),
        "spark.shuffle_write_mb": sum(a.shuffle_write_mb for a in aggs),
        "spark.shuffle_read_mb": sum(a.shuffle_read_mb for a in aggs),
        "spark.spill_mb": sum(a.spill_mb for a in aggs),
        "spark.input_mb": sum(a.input_mb for a in aggs),
        "spark.output_mb": sum(a.output_mb for a in aggs),
        "python.bytes_sent_mb": sum(a.python_sent_mb for a in aggs),
        "python.bytes_received_mb": sum(a.python_received_mb for a in aggs),
    }
    out["_input_scans"] = float(sum(1 for a in aggs if a.input_mb > 0))
    return out


def subtree(spans: list[Span], root: int) -> set[int]:
    """Ids of ``root`` and all its descendants."""
    ids = {root}
    for s in spans:  # spans are recorded parent-first
        if s.parent in ids:
            ids.add(s.id)
    return ids


def self_times(spans: list[Span]) -> dict[int, float]:
    """A span's duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.wall - union_length(kids.get(s.id, []), s.start, s.end)
        for s in spans
    }
