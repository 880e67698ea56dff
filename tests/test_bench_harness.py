"""Guards on bench.py: the per-round perf evidence must survive one broken
query (round 3 lost its entire bench to a single unhandled failure)."""

from __future__ import annotations

import bench


def test_time_queries_isolates_failures(spark):
    calls = []

    def ok(s, sf_dir):
        calls.append("ok")
        return s.range(5)

    def broken(s, sf_dir):
        raise RuntimeError("synthetic breakage")

    def ok2(s, sf_dir):
        calls.append("ok2")
        return s.range(3)

    timings, errors = bench.time_queries(
        spark, "unused", {"a": ok, "boom": broken, "b": ok2}
    )
    assert set(timings) == {"a", "b"}
    assert all(v >= 0 for v in timings.values())
    assert set(errors) == {"boom"}
    assert "RuntimeError" in errors["boom"]
    # queries after the failure still ran
    assert "ok2" in calls


def test_headline_covers_baseline_subset():
    missing = bench.BASELINE_QUERIES - set(bench.HEADLINE)
    assert not missing, f"baseline queries missing from HEADLINE: {missing}"


def test_headline_names_are_registry_or_bench_only():
    from big_data_toolkit_spark.plans import materialize
    from big_data_toolkit_spark.registry import queries

    registry = queries()
    assert not set(materialize.BENCH_ONLY) & set(registry)
    unknown = [
        n for n in bench.HEADLINE
        if n not in registry and n not in materialize.BENCH_ONLY
    ]
    assert not unknown, f"bench lines outside the registry: {unknown}"
    assert set(registry) - set(bench.HEADLINE) == {bench.BENCH_EXCLUDED}


def test_baseline_retrials_medians(spark, monkeypatch):
    """The governing subset numbers are interleaved-trial medians: the
    sweep value is trial 1, retrials append, and one slow outlier trial
    cannot dominate the reported number."""
    monkeypatch.setattr(bench, "BASELINE_QUERIES", frozenset({"a", "b"}))

    def mk(name):
        def fn(s, sf_dir):
            return s.range(2)

        return fn

    headline = {"a": mk("a"), "b": mk("b"), "tail": mk("tail")}
    sweep = {"a": 10.0, "b": 0.2, "tail": 0.3}
    medians, trials, retrial_errors = bench.baseline_retrials(
        spark, "unused", headline, sweep, n_trials=3
    )
    assert set(medians) == {"a", "b"}  # tail queries are never retried
    assert len(trials["a"]) == 3 and trials["a"][0] == 10.0
    # real retrials of s.range(2) run in far under 10 s, so the median
    # must have rejected the synthetic 10 s sweep outlier
    assert medians["a"] < 10.0
    assert medians["a"] == sorted(trials["a"])[1]
    assert retrial_errors == {}  # clean retrials record no degradation


def test_baseline_retrials_skips_sweep_errors(spark):
    """A query that errored in the sweep has no timing row — retrials
    must not resurrect it (its error row is the evidence)."""

    def fn(s, sf_dir):
        return s.range(1)

    medians, trials, retrial_errors = bench.baseline_retrials(
        spark, "unused", {"q1": fn}, {}, n_trials=3
    )
    assert medians == {} and trials == {} and retrial_errors == {}


def test_retrial_failures_are_recorded(spark, monkeypatch):
    """ADVICE r12: a retrial crash must not silently pass off a degraded
    trial series as a full median — the failure lands in retrial_errors
    while the earlier trials are kept."""
    monkeypatch.setattr(bench, "BASELINE_QUERIES", frozenset({"flaky"}))
    calls = {"n": 0}

    def flaky(s, sf_dir):
        calls["n"] += 1
        raise RuntimeError("synthetic retrial breakage")

    medians, trials, retrial_errors = bench.baseline_retrials(
        spark, "unused", {"flaky": flaky}, {"flaky": 1.0}, n_trials=3
    )
    assert trials["flaky"] == [1.0]  # sweep value kept, retrials crashed
    assert medians["flaky"] == 1.0
    assert "RuntimeError" in retrial_errors["flaky"]
    assert calls["n"] == 2  # both retrial passes attempted


def test_flag_tail_lines_protocol():
    """r12 verdict item 1: only non-baseline lines that exceed BOTH the
    ratio and the absolute floor against a recorded prior are flagged."""
    sweep = {
        "q1_count_shipped": 9.0,  # baseline member — never flagged
        "slow": 3.0,        # 3x prior, +2.0s  -> flagged
        "tiny": 0.06,       # 3x prior but +0.04s, under floor -> noise
        "steady": 1.01,     # ~1x prior -> clean
        "brand_new": 5.0,   # no prior -> nothing to compare
    }
    prior = {
        "q1_count_shipped": 1.0, "slow": 1.0, "tiny": 0.02, "steady": 1.0
    }
    flagged = bench.flag_tail_lines(sweep, prior)
    assert flagged == {"slow": 3.0}


def test_load_prior_timings_degrades_to_empty(tmp_path):
    """First run / truncated file must mean 'no flags', never a crash."""
    assert bench.load_prior_timings(str(tmp_path / "missing.json")) == {}
    bad = tmp_path / "bad.json"
    bad.write_text("{not json")
    assert bench.load_prior_timings(str(bad)) == {}
    ok = tmp_path / "ok.json"
    ok.write_text('{"queries": {"a": 1.5, "b": "err"}}')
    assert bench.load_prior_timings(str(ok)) == {"a": 1.5}
