"""Spans recorded by the benchmark around its calls into each engine layer.

A span has a name (the layer), a label (the query), a parent, and epoch
start and end times. Spans of one run share a run id and stay in memory
until the run ends. ``build`` and ``exec`` spans also set the Spark job
group ``<run id>|<span id>``, so the jobs they launch can be found in the
event log; jobs from threads the engine starts itself carry no group and are
matched by time instead (see :func:`attach_jobs`).

Nothing here changes the engine: ``catalog.load_table`` is wrapped from
outside, under every name the engine's modules imported it as.
"""

from __future__ import annotations

import functools
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import eventlog
import procstat


@dataclass
class Span:
    span_id: int
    parent: int | None
    name: str
    label: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans while ``enabled``; when disabled every span is a no-op
    yielding ``None``, so the untraced code path does no extra work."""

    def __init__(self, run_id: str, spark=None, jvm_pid: int | None = None):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = spark.sparkContext if spark is not None else None
        self._jvm_pid = jvm_pid

    def _group(self, span: Span | None) -> None:
        if self._sc is None:
            return
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(f"{self.run_id}|{span.span_id}", f"{span.name} {span.label}")

    def _cpu(self) -> dict[str, float]:
        """Driver Python, JVM and Python-worker CPU seconds right now."""
        out = {"driver_py_cpu_s": procstat.cpu_s("self")}
        if self._jvm_pid is not None:
            out["jvm_cpu_s"] = procstat.cpu_s(self._jvm_pid)
            workers = [
                p for p in procstat.descendants(self._jvm_pid)
                if procstat.comm(p).startswith("python")
            ]
            out["pyworker_cpu_s"] = procstat.tree_cpu_s(workers)
        return out

    @contextmanager
    def span(self, name: str, label: str = "", cpu: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        span = Span(
            span_id=len(self.spans),
            parent=parent.span_id if parent else None,
            name=name,
            label=label,
            start=0.0,
            attrs=dict(attrs),
        )
        self.spans.append(span)
        self._stack.append(span)
        sets_group = name in ("build", "exec")
        if sets_group:
            self._group(span)
        cpu0 = self._cpu() if cpu else None
        span.start = time.time()
        try:
            yield span
        finally:
            span.end = time.time()
            if cpu0 is not None:
                cpu1 = self._cpu()
                span.attrs.update({k: cpu1[k] - cpu0[k] for k in cpu1})
            self._stack.remove(span)  # engine threads may interleave
            if sets_group:
                nearest = next((s for s in reversed(self._stack) if s.name in ("build", "exec")), None)
                self._group(nearest)

    def wrap_load_table(self) -> None:
        """Record a ``catalog`` span around every ``load_table`` call, under
        each name the engine's modules bound it to."""
        from big_data_toolkit_spark import catalog

        original = catalog.load_table

        @functools.wraps(original)
        def traced(spark, sf_dir, name):
            with self.span("catalog", name):
                return original(spark, sf_dir, name)

        for mod in list(sys.modules.values()):
            modname = getattr(mod, "__name__", "")
            if modname.startswith("big_data_toolkit_spark") or modname == "__spark_entry__":
                if getattr(mod, "load_table", None) is original:
                    mod.load_table = traced


def attach_jobs(spans: list[Span], jobs: dict[int, eventlog.Job], run_id: str) -> dict[int, list[eventlog.Job]]:
    """Jobs per ``build``/``exec`` span id: by job group when the job has
    this run's group, else the innermost such span whose interval holds the
    job's submission time. Jobs outside every span are left out."""
    phases = {s.span_id: s for s in spans if s.name in ("build", "exec")}
    out: dict[int, list[eventlog.Job]] = {sid: [] for sid in phases}
    prefix = run_id + "|"
    for job in jobs.values():
        sid = None
        if job.group and job.group.startswith(prefix):
            sid = int(job.group[len(prefix):])
            if sid not in phases:
                sid = None
        if sid is None:
            holders = [s for s in phases.values() if s.start <= job.start <= s.end]
            if holders:
                sid = max(holders, key=lambda s: s.start).span_id
        if sid is not None:
            out[sid].append(job)
    return out


def phase_numbers(span: Span, jobs: list[eventlog.Job]) -> dict[str, float]:
    """One phase's wall, job counts, task counters and driver gap. The
    driver gap is the wall time no job of the phase covered."""
    intervals = [(j.start, j.end) for j in jobs]
    covered = eventlog.union_s(intervals, span.start, span.end)
    out = {
        "s": span.dur,
        "jobs": float(len(jobs)),
        "stages": float(sum(len(j.stages_run) for j in jobs)),
        "tasks": float(sum(j.tasks for j in jobs)),
        "driver_gap_s": span.dur - covered,
        "job_union_s": eventlog.union_s(intervals),
    }
    for name in eventlog.COUNTERS:
        out[name] = sum(j.counters[name] for j in jobs)
    return out


def self_check(spans: list[Span], numbers: dict[int, dict[str, float]], tol: float = 0.10, slack_s: float = 0.025) -> list[str]:
    """Consistency checks on a traced run; returns the misses.

    * ``build`` + ``exec`` is within ``tol`` of each query's wall;
    * in each phase the union of its jobs (unclipped) plus the driver gap
      is within ``tol`` of the phase wall, i.e. no job attributed to the
      phase ran outside it;
    * every ``catalog`` span nests inside a ``build`` span.

    ``slack_s`` absorbs the event log's millisecond timestamps on phases of
    a few milliseconds."""
    by_id = {s.span_id: s for s in spans}
    misses = []
    for s in spans:
        if s.name == "query":
            kids = [k for k in spans if k.parent == s.span_id and k.name in ("build", "exec")]
            inner = sum(k.dur for k in kids)
            if abs(s.dur - inner) > tol * s.dur + slack_s:
                misses.append(f"{s.label}: build+exec {inner:.3f}s vs query {s.dur:.3f}s")
        elif s.name in ("build", "exec") and s.span_id in numbers:
            n = numbers[s.span_id]
            total = n["job_union_s"] + n["driver_gap_s"]
            if abs(total - s.dur) > tol * s.dur + slack_s:
                misses.append(f"{s.label} {s.name}: jobs+gap {total:.3f}s vs wall {s.dur:.3f}s")
        elif s.name == "catalog":
            parent = by_id.get(s.parent)
            if parent is None or parent.name != "build" or not (parent.start <= s.start and s.end <= parent.end):
                misses.append(f"catalog {s.label} not inside a build span")
    return misses
