"""Iterative DataFrame loops: when to materialize a round and when to stop.

The reference runs each iteration as its own Hadoop job and round-trips the
state through HDFS (``a4/RunPersonalizedPageRankBasic.java:108-161``). Here
each round is an ordinary DataFrame plan built by the caller's ``step``, so
Catalyst plans it like any query. The part that is not declarative lives in
this module, once:

* **Materialize.** Every ``every``-th round, and the last one, ends in an
  eager ``localCheckpoint``. That caps the lineage (round N would otherwise
  nest N joins, and planning cost compounds) and means the returned frame
  never drags the loop's inputs along.
* **Observe.** ``observe``'s aggregates ride that checkpoint's job through
  one ``Observation`` (a CollectMetrics node over the rows being written
  anyway), so a convergence probe costs no extra job.
* **Stop.** ``stop(prev, cur)`` decides on the two latest probes.
* **Fail loud.** With ``must_converge``, running out of rounds raises
  instead of returning a state that is not a fixpoint.

This is the only module that constructs an ``Observation``
(``tests/test_iterate.py`` checks it).
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, Observation


class Probe(NamedTuple):
    """A materialized loop state and what was observed while writing it
    (``None`` when nothing was observed)."""

    state: DataFrame
    metrics: dict | None


def _materialize(df: DataFrame, observe: list[Column] | None, columns: list) -> Probe:
    if not observe:
        return Probe(df.localCheckpoint(), None)
    obs = Observation()
    # The select drops the columns a probed step added only for the
    # observation (the closure's and LPA's ``_prev``): the state keeps the
    # schema it started with.
    state = df.observe(obs, *observe).select(*columns).localCheckpoint()
    return Probe(state, obs.get)


def checkpoint(df: DataFrame, observe: list[Column]) -> Probe:
    """Eager ``localCheckpoint`` of ``df`` with ``observe``'s aggregates on
    the same job: a loop's starting state, when its first ``stop`` needs a
    baseline to compare against. Pass the result to ``iterate``."""
    return _materialize(df, observe, df.columns)


def iterate(
    start: DataFrame | Probe,
    step: Callable[[DataFrame, bool], DataFrame],
    *,
    rounds: int,
    every: int = 1,
    observe: list[Column] | None = None,
    stop: Callable[[Probe | None, Probe], bool] | None = None,
    must_converge: bool = False,
    what: str,
) -> DataFrame:
    """Run ``state = step(state, probed)`` up to ``rounds`` times.

    Round r (from 1) is *probed* when r is a multiple of ``every`` or the
    last round. ``step`` is told so before it builds the round, because a
    probed round may carry extra columns for ``observe``. A probed round is
    materialized with ``observe``'s aggregates riding the same job, and then
    ``stop(prev, cur)`` is asked whether to return: ``cur`` is this round's
    ``Probe``, ``prev`` the previous one (the ``start`` probe when ``start``
    came from ``checkpoint``, else ``None`` on the first).

    With ``must_converge``, running out of rounds before ``stop`` holds
    raises ``RuntimeError`` naming ``what``.
    """
    prev = start if isinstance(start, Probe) else None
    state = start if prev is None else start.state
    columns = state.columns if observe else []
    for r in range(1, rounds + 1):
        probed = r % every == 0 or r == rounds
        state = step(state, probed)
        if not probed:
            continue
        cur = _materialize(state, observe, columns)
        if stop is not None and stop(prev, cur):
            return cur.state
        prev, state = cur, cur.state
    if must_converge:
        # Refuse to hand back a state that is not a fixpoint.
        raise RuntimeError(f"{what} did not converge within {rounds} rounds")
    return state
