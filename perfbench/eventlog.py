"""Fold Spark's JSON event log and streaming progress into per-job numbers.

The event log (``spark.eventLog.enabled``) holds one JSON object per line.
Four event kinds matter here:

* ``SparkListenerJobStart``: job id, submission time, stage ids, and the
  job's local properties, among them ``spark.jobGroup.id`` (the group the
  benchmark sets around each call) and, for streaming jobs,
  ``streaming.sql.batchId``;
* ``SparkListenerJobEnd``: completion time;
* ``SparkListenerTaskEnd``: one task's metrics, keyed by its stage;
* ``SparkListenerStageCompleted``: used only to count stages that ran.

Times in the log are epoch milliseconds from the JVM's wall clock, the same
clock as Python's ``time.time()``, which is what lets spans and jobs be
joined by time when a job carries no group.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field

# Counters summed over a job's tasks: name -> path into "Task Metrics".
_TASK_COUNTERS = {
    "executor_run_s": (("Executor Run Time",), 1e-3),
    "executor_cpu_s": (("Executor CPU Time",), 1e-9),
    "gc_s": (("JVM GC Time",), 1e-3),
    "input_bytes": (("Input Metrics", "Bytes Read"), 1),
    "shuffle_read_bytes": (
        ("Shuffle Read Metrics", "Remote Bytes Read"),
        ("Shuffle Read Metrics", "Local Bytes Read"),
        1,
    ),
    "shuffle_write_bytes": (("Shuffle Write Metrics", "Shuffle Bytes Written"), 1),
    "spill_bytes": (("Memory Bytes Spilled",), ("Disk Bytes Spilled",), 1),
}
COUNTERS = tuple(_TASK_COUNTERS)


@dataclass
class Job:
    job_id: int
    start: float  # epoch seconds
    end: float | None = None
    group: str | None = None
    batch_id: str | None = None
    stages: set[int] = field(default_factory=set)
    stages_run: set[int] = field(default_factory=set)
    tasks: int = 0
    counters: dict[str, float] = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0.0))


def read_events(path: str) -> list[dict]:
    """Events of one application log: a single file, or a rolling log
    directory (``eventlog_v2_<app>``, Spark's default since 4.0) whose
    ``events_<n>_<app>`` files are read in ``n`` order."""
    if os.path.isdir(path):
        parts = [f for f in os.listdir(path) if f.startswith("events_")]
        files = [os.path.join(path, f) for f in sorted(parts, key=lambda f: int(f.split("_")[1]))]
    else:
        files = [path]
    events = []
    for name in files:
        with open(name) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _dig(metrics: dict, path: tuple[str, ...]) -> float:
    node = metrics
    for key in path:
        node = node.get(key, {}) if isinstance(node, dict) else {}
    return float(node) if isinstance(node, (int, float)) else 0.0


def fold_jobs(events: list[dict]) -> dict[int, Job]:
    """Jobs by id with their task counters summed. A stage listed by more
    than one job (a reused shuffle) is charged to the first job that lists
    it; only that job can have run its tasks."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(
                job_id=ev["Job ID"],
                start=ev["Submission Time"] / 1000.0,
                group=props.get("spark.jobGroup.id"),
                batch_id=props.get("streaming.sql.batchId"),
                stages=set(ev.get("Stage IDs", ())),
            )
            jobs[job.job_id] = job
            for sid in job.stages:
                stage_job.setdefault(sid, job.job_id)
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job.end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev["Stage ID"], -1))
            if job is None:
                continue
            job.tasks += 1
            job.stages_run.add(ev["Stage ID"])
            metrics = ev.get("Task Metrics") or {}
            for name, spec in _TASK_COUNTERS.items():
                *paths, scale = spec
                job.counters[name] += scale * sum(_dig(metrics, p) for p in paths)
    for job in jobs.values():
        if job.end is None:  # log cut short: the job ran at least to its start
            job.end = job.start
    return jobs


def union_s(intervals: list[tuple[float, float]], lo: float | None = None, hi: float | None = None) -> float:
    """Length of the union of ``intervals``, each clipped to ``[lo, hi]``
    when bounds are given."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(clipped):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def fold_progress(progress: list[dict]) -> dict:
    """Per-replay numbers from ``StreamingQuery.recentProgress`` (each entry
    as a dict): batches that read input, each one's ``triggerExecution``,
    the medians of ``addBatch``, of the difference between the two and of
    the state commit time, and the state store's size after the last
    batch."""
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    if not batches:
        raise ValueError("no micro-batch read any input")

    def p50(values):
        return float(statistics.median(values))

    trigger = [p["durationMs"].get("triggerExecution", 0) for p in batches]
    add = [p["durationMs"].get("addBatch", 0) for p in batches]
    ops = [p.get("stateOperators") or [{}] for p in batches]
    last = ops[-1][0]
    return {
        "batches": float(len(batches)),
        "add_batch_ms_p50": p50(add),
        "overhead_ms_p50": p50([t - a for t, a in zip(trigger, add)]),
        "state_commit_ms_p50": p50([o[0].get("commitTimeMs", 0) for o in ops]),
        "state_rows": float(last.get("numRowsTotal", 0)),
        "state_mem_bytes": float(last.get("memoryUsedBytes", 0)),
        "trigger_ms": trigger,
    }
