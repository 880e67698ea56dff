"""The iterative-loop primitive in ``plans/iterate.py``.

The steps here are shuffle-free over tiny frames, so every materialized
round is exactly one Spark job and the cadence can be pinned by job count.
"""

from __future__ import annotations

import ast
import pathlib

import pytest
from pyspark.sql import functions as F

from big_data_toolkit_spark.plans.iterate import checkpoint, iterate
from tests.conftest import count_jobs

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "big_data_toolkit_spark"


def _countdown(probes):
    """v' = max(v - 1, 0); probed rounds also carry the previous v."""

    def step(df, probed):
        probes.append(probed)
        cols = ["id", F.greatest(F.col("v") - 1, F.lit(0)).alias("v")]
        if probed:
            cols.append(F.col("v").alias("_prev"))
        return df.select(*cols)

    return step


def _changed():
    return [F.sum((F.col("v") != F.col("_prev")).cast("long")).alias("chg")]


def test_cadence_materializes_every_nth_and_last_round(spark):
    probes = []
    start = spark.range(4).select("id", F.col("id").alias("v"))
    out, jobs = count_jobs(
        spark,
        "iterate-cadence",
        lambda: iterate(
            start, _countdown(probes), rounds=5, every=2, what="cadence"
        ),
    )
    assert probes == [False, True, False, True, True]
    assert jobs == 3  # rounds 2, 4 and 5: one checkpoint job each
    assert sorted(r["v"] for r in out.collect()) == [0, 0, 0, 0]


def test_stop_fires_on_first_observed_fixpoint(spark):
    # v = 0, 1, 2, 3 changes 3, 2, 1, then 0 labels: round 4 is the first
    # fixpoint. With every=1 that is 4 jobs; with every=2 the probe at
    # round 2 sees changes and the one at round 4 sees none.
    for every, probed in ((1, [True] * 4), (2, [False, True, False, True])):
        probes = []
        start = spark.range(4).select("id", F.col("id").alias("v"))
        out, jobs = count_jobs(
            spark,
            f"iterate-stop-{every}",
            lambda: iterate(
                start,
                _countdown(probes),
                rounds=10,
                every=every,
                observe=_changed(),
                stop=lambda _prev, cur: not cur.metrics["chg"],
                what="stop",
            ),
        )
        assert probes == probed
        assert jobs == len(probed) // every
        assert out.columns == ["id", "v"]  # the probe's ``_prev`` is dropped
        assert sorted(r["v"] for r in out.collect()) == [0, 0, 0, 0]


def test_checkpointed_start_is_the_first_baseline(spark):
    """A start from ``checkpoint`` rides its metrics on its own job, and
    the first ``stop`` compares against them: an identity step stops after
    one round, two jobs in all."""
    count = [F.count(F.lit(1)).alias("n")]
    seen = []

    def stop(prev, cur):
        seen.append((prev.metrics["n"], cur.metrics["n"]))
        return prev.metrics["n"] == cur.metrics["n"]

    _, jobs = count_jobs(
        spark,
        "iterate-start",
        lambda: iterate(
            checkpoint(spark.range(3), count),
            lambda df, _probed: df.where(F.col("id") >= 0),
            rounds=5,
            observe=count,
            stop=stop,
            must_converge=True,
            what="start",
        ),
    )
    assert seen == [(3, 3)]
    assert jobs == 2


def test_must_converge_raises_on_exhaustion(spark):
    start = spark.range(4).select("id", F.col("id").alias("v"))
    for rounds in (0, 2):
        with pytest.raises(RuntimeError, match="countdown did not converge"):
            iterate(
                start,
                _countdown([]),
                rounds=rounds,
                observe=_changed(),
                stop=lambda _prev, cur: not cur.metrics["chg"],
                must_converge=True,
                what="countdown",
            )


def _constructs_observation(tree: ast.AST) -> bool:
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name == "Observation":
                return True
    return False


def test_observation_is_constructed_only_in_iterate():
    """Loop control lives in ``plans/iterate.py``: a loop elsewhere that
    builds its own ``Observation`` is copying the probe pattern instead of
    calling ``iterate``."""
    found = {
        str(p.relative_to(PACKAGE))
        for p in PACKAGE.rglob("*.py")
        if _constructs_observation(ast.parse(p.read_text()))
    }
    assert found == {"plans/iterate.py"}
