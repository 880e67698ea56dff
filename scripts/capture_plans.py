#!/usr/bin/env python
"""Capture `.explain("formatted")` output for named bench lines (registry
names or ``materialize.BENCH_ONLY`` keys) into
plans/<tag>/<name>_<suffix>.txt — the judge-auditable plan evidence for
optimization rounds (guide §1: record the plan shape before and after).

Note on iterative operators: queries built around ``localCheckpoint``
loops (component closures, pagerank, LPA) EXECUTE their checkpoint
prefix eagerly while the DataFrame is being constructed; the captured
plan is the final post-checkpoint stage.  Per-round plan shape for those
is captured separately by the round-specific probe scripts.

Usage:
    python scripts/capture_plans.py --tag r13 --suffix before name...
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from big_data_toolkit_spark.session import build_spark  # noqa: E402


def explain_formatted(df) -> str:
    """The string `df.explain('formatted')` prints, captured."""
    return df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "names",
        nargs="+",
        help="bench line names (registry or materialize.BENCH_ONLY)",
    )
    ap.add_argument("--tag", default="r13")
    ap.add_argument("--suffix", default="before")
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    args = ap.parse_args()

    missing = [n for n in args.names if n not in bench.HEADLINE]
    if missing:
        print(f"unknown bench keys: {missing}", file=sys.stderr)
        return 2

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = os.path.join(repo, "plans", args.tag)
    os.makedirs(out_dir, exist_ok=True)

    spark = build_spark(app_name="bdts-capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    for name in args.names:
        spark.sparkContext.setJobDescription(f"capture: {name}")
        df = bench.HEADLINE[name](spark, args.sf_dir)
        path = os.path.join(out_dir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(explain_formatted(df))
        n_ex = 0
        with open(path) as fh:
            for line in fh:
                if "Exchange" in line and "Reused" not in line:
                    n_ex += 1
        print(f"{name}: wrote {path} (Exchange nodes in final stage: {n_ex})")
        spark.catalog.clearCache()
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
