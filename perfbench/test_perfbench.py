"""Tests of the benchmark's own parts that need no Spark session.

    python3 -m pytest perfbench -q

``fixtures/eventlog_v2_local-test`` is a trimmed event log recorded from
Spark 4.1 on ``local[2]``: two batch phases under the job groups ``run|0``
(jobs 0-1) and ``run|1`` (jobs 2-4), then a two-batch ``stream_trending``
replay (jobs 5-6, streaming job group, ``streaming.sql.batchId`` 0 and 1).
``fixtures/progress.json`` is that replay's ``recentProgress``.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import procstat  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS, cut_points, pass_order  # noqa: E402

FIXTURES = os.path.join(HERE, "fixtures")


@pytest.fixture(scope="module")
def jobs():
    return eventlog.fold_jobs(eventlog.read_events(os.path.join(FIXTURES, "eventlog_v2_local-test")))


def test_event_log_jobs_groups_and_batches(jobs):
    assert sorted(jobs) == list(range(7))
    assert [jobs[i].group for i in range(5)] == ["run|0"] * 2 + ["run|1"] * 3
    assert [jobs[i].batch_id for i in range(7)] == [None] * 5 + ["0", "1"]
    assert all(j.end >= j.start for j in jobs.values())


def test_event_log_stages_tasks_and_counters(jobs):
    # job 1 lists the map stage it reuses (1, skipped) and its result stage
    assert sorted(jobs[1].stages) == [1, 2]
    assert sorted(jobs[1].stages_run) == [2]
    assert [jobs[i].tasks for i in range(7)] == [2, 1, 2, 2, 1, 3, 3]
    assert sum(len(j.stages_run) for j in jobs.values()) == 9
    # a shuffle's bytes are written by one job and read by the next
    assert jobs[0].counters["shuffle_write_bytes"] == jobs[1].counters["shuffle_read_bytes"] == 266
    assert jobs[2].counters["shuffle_write_bytes"] == jobs[3].counters["shuffle_read_bytes"] == 6331
    assert jobs[0].counters["executor_run_s"] == pytest.approx(0.556)
    assert jobs[0].counters["executor_cpu_s"] == pytest.approx(0.265169, abs=1e-6)
    assert jobs[0].counters["gc_s"] == pytest.approx(0.038)
    assert jobs[5].counters["input_bytes"] == 3310
    assert sum(j.counters["spill_bytes"] for j in jobs.values()) == 0


def test_recent_progress_folding():
    with open(os.path.join(FIXTURES, "progress.json")) as fh:
        folded = eventlog.fold_progress(json.load(fh))
    assert folded["batches"] == 2
    assert folded["trigger_ms"] == [4247, 954]
    assert folded["add_batch_ms_p50"] == (3456 + 736) / 2
    assert folded["overhead_ms_p50"] == ((4247 - 3456) + (954 - 736)) / 2
    assert folded["state_commit_ms_p50"] == (129 + 118) / 2
    assert folded["state_rows"] == 5
    assert folded["state_mem_bytes"] == 2816  # after the last batch


def test_recent_progress_without_input_is_an_error():
    with pytest.raises(ValueError):
        eventlog.fold_progress([{"numInputRows": 0, "durationMs": {}}])


def test_union_clips_and_merges():
    assert eventlog.union_s([(0, 2), (1, 3), (5, 6)]) == 4
    assert eventlog.union_s([(0, 2), (1, 3), (5, 6)], lo=1, hi=5.5) == 2.5
    assert eventlog.union_s([]) == 0


def _span(sid, name, start, end, parent=None, label="q"):
    return tracing.Span(span_id=sid, parent=parent, name=name, label=label, start=start, end=end)


def test_jobs_attach_by_group_then_by_time(jobs):
    t0 = min(j.start for j in jobs.values()) - 0.01
    t_end = max(j.end for j in jobs.values()) + 0.01
    t_mid = (jobs[4].end + jobs[5].start) / 2
    spans = [
        _span(0, "build", t0, t_mid),
        _span(1, "exec", t0, t_mid),  # overlaps 0 on purpose: groups decide
        _span(2, "exec", t_mid, t_end, label="replay"),
    ]
    got = tracing.attach_jobs(spans, jobs, "run")
    assert [j.job_id for j in got[0]] == [0, 1]
    assert [j.job_id for j in got[1]] == [2, 3, 4]
    assert [j.job_id for j in got[2]] == [5, 6]  # streaming group: by time


def test_phase_numbers_and_self_check(jobs):
    first, last = jobs[0], jobs[1]
    build = _span(1, "build", first.start - 0.1, last.end + 0.1, parent=0)
    query = _span(0, "query", build.start - 0.001, build.end + 0.001)
    catalog = _span(2, "catalog", build.start, build.start + 0.05, parent=1, label="lineitem")
    n = tracing.phase_numbers(build, [first, last])
    covered = eventlog.union_s([(first.start, first.end), (last.start, last.end)])
    assert n["jobs"] == 2 and n["stages"] == 2 and n["tasks"] == 3
    assert n["driver_gap_s"] == pytest.approx(build.dur - covered)
    assert n["shuffle_write_bytes"] == 266
    assert tracing.self_check([query, build, catalog], {1: n}) == []

    stray = _span(3, "catalog", build.end + 1, build.end + 2, parent=1)
    late = tracing.phase_numbers(_span(4, "exec", first.start, first.start + 0.01, parent=0), [first])
    slow = _span(5, "query", 0, 10, label="slow")  # its phases cover 1 of 10 s
    misses = tracing.self_check(
        [query, build, stray, _span(4, "exec", 0, 0.01, parent=0), slow, _span(6, "build", 0, 1, parent=5)],
        {1: n, 4: late},
    )
    assert any("catalog" in m for m in misses)
    assert any("jobs+gap" in m for m in misses)
    assert any(m.startswith("slow: build+exec") for m in misses)


def test_proc_cpu_reader_counts_own_and_reaped_children():
    before = procstat.cpu_s("self")
    end = time.process_time() + 0.3
    while time.process_time() < end:
        pass
    assert procstat.cpu_s("self") - before >= 0.25

    reaped_before = procstat.cpu_s("self", children=True) - procstat.cpu_s("self")
    burn = "import time\nend = time.process_time() + 0.3\nwhile time.process_time() < end: pass"
    child = subprocess.Popen([sys.executable, "-c", burn + "\ntime.sleep(30)"])
    try:
        deadline = time.time() + 20
        while procstat.cpu_s(child.pid) < 0.25 and time.time() < deadline:
            time.sleep(0.05)
        assert child.pid in procstat.descendants(os.getpid())
        assert procstat.tree_cpu_s([child.pid]) >= 0.25
        assert procstat.comm(child.pid).startswith("python")
    finally:
        child.kill()
        child.wait(timeout=10)
    subprocess.run([sys.executable, "-c", burn], check=True, timeout=30)
    reaped = procstat.cpu_s("self", children=True) - procstat.cpu_s("self")
    assert reaped - reaped_before >= 0.25


def test_proc_start_time_and_peak_rss():
    assert 0 <= time.time() - procstat.start_epoch() < 3600
    assert procstat.hwm_mb("self") > 1


def test_seeded_order_keeps_writers_ahead_of_readers():
    wl = WORKLOADS["batch_mix"]
    orders = set()
    for seed in range(40):
        order = pass_order(wl, random.Random(seed))
        assert sorted(order) == sorted([*wl.queries, *wl.writers])
        for writer, readers in wl.writers.items():
            assert order.index(writer) < min(order.index(r) for r in readers)
        orders.add(tuple(order))
    assert len(orders) > 10
    assert pass_order(wl, random.Random(7)) == pass_order(wl, random.Random(7))


def test_cut_points_are_seeded_and_keep_batches_large():
    for seed in range(40):
        cuts = cut_points(100_000, 4, random.Random(seed))
        sizes = [b - a for a, b in zip([0, *cuts], [*cuts, 100_000])]
        assert min(sizes) >= 100_000 / 4 / 2 - 1
    assert cut_points(1000, 3, random.Random(1)) == cut_points(1000, 3, random.Random(1))


def test_benchmark_json_lists_what_run_prints():
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
