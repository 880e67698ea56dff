#!/usr/bin/env python
"""Same-session interleaved-trials adjudicator.

When a bench line regresses vs the previous run with untouched plans,
the question is "real plan regression or machine/bench drift?". Answer it
by measuring the SAME plans in one session, interleaved so no query
systematically absorbs warmup or cache-state cost:

  Phase A: bench.py's exact burn-in (2 untimed rounds over the 5 shared
           plan shapes), so steady state matches the bench sweep.
  Phase B: N interleaved trials — round-robin over the named queries,
           timing each execution with bench.force (noop sink).

Medians land either near the old run's number (drift — adjudicate as
noise, record in BASELINE.md) or near the regressed number (real — go
profile the plan).

Usage:
    python scripts/adjudicate.py label_propagation_communities batch_gd_train ...
    python scripts/adjudicate.py --trials 5 --sf-dir /root/testdata/sf0.1 ...

Names are bench line names: registry names, or keys of
``materialize.BENCH_ONLY``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from big_data_toolkit_spark.session import build_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "names",
        nargs="+",
        help="bench line names (registry or materialize.BENCH_ONLY)",
    )
    ap.add_argument("--trials", type=int, default=5)
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                           "/root/testdata/sf0.1")
    )
    args = ap.parse_args()

    missing = [n for n in args.names if n not in bench.HEADLINE]
    if missing:
        print(f"unknown bench keys: {missing}", file=sys.stderr)
        return 2

    spark = build_spark(app_name="bdts-adjudicate")
    spark.sparkContext.setLogLevel("ERROR")

    # Phase A — bench.py's exact burn-in.
    bench.burn_in(spark, args.sf_dir)
    # Plus one untimed pass of each adjudicated query itself, matching the
    # per-plan warmup the driver sweep gives every timed slot.
    for name in args.names:
        bench.force(bench.HEADLINE[name](spark, args.sf_dir))
        spark.catalog.clearCache()

    # Phase B — interleaved steady-state trials.
    trials: dict[str, list[float]] = {n: [] for n in args.names}
    for t in range(args.trials):
        for name in args.names:
            fn = bench.HEADLINE[name]
            t0 = time.perf_counter()
            bench.force(fn(spark, args.sf_dir))
            trials[name].append(round(time.perf_counter() - t0, 3))
            spark.catalog.clearCache()
        print(
            f"trial {t + 1}/{args.trials}: "
            + ", ".join(f"{n}={trials[n][-1]}" for n in args.names),
            file=sys.stderr,
        )

    out = {
        "sf_dir": args.sf_dir,
        "trials": trials,
        "median": {
            n: round(statistics.median(v), 3) for n, v in trials.items()
        },
        "min": {n: min(v) for n, v in trials.items()},
    }
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
