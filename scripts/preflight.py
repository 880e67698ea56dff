#!/usr/bin/env python
"""Driver-contract sweep: replicate the external driver's checks for EVERY
registered query.

Usage:
    python scripts/preflight.py                 # full registry at sf0.01
    python scripts/preflight.py shard_pack pmi_pairs   # named queries

Exit code 0 iff every checked query passes (oracle MATCH, or rows>0 for the
six rows-only-by-design queries). Prints one summary line per query and a
final JSON tally.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402
from big_data_toolkit_spark.session import build_spark  # noqa: E402
from tests.oracle_utils import compare  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", help="specific queries (default all)")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--strict",
        action="store_true",
        help="full-precision float comparison (replicates the driver hash)",
    )
    ap.add_argument(
        "--types-only",
        action="store_true",
        help="no-Spark sweep: run every oracle through DuckDB and the "
        "driver-safe result-type guard only (catches HUGEINT/DECIMAL "
        "widening — the r2/r6/r7 red class — in seconds)",
    )
    args = ap.parse_args()

    queries = entry.queries()
    oracles = entry.oracle_sql()
    if args.names:
        unknown = [n for n in args.names if n not in queries]
        if unknown:
            print(f"unknown queries: {unknown}", file=sys.stderr)
            return 2
        items = [(n, queries[n]) for n in args.names]
    else:
        items = list(queries.items())

    if args.types_only:
        from tests.oracle_utils import assert_driver_safe_types, run_oracle

        # Columns where BOTH engines emit decimals with the SAME scale —
        # driver-safe (digit strings match; lineitem_stats was driver-green
        # r6) but this no-Spark mode can't see the Spark side to prove it;
        # the full compare() / strict preflight validates the scale match.
        matched_decimal_ok = {"lineitem_stats": {"sum_price"}}

        failures = {}
        t_start = time.perf_counter()
        checked = 0
        for name, _fn in items:
            osql = oracles.get(name)
            if osql is None:
                continue
            checked += 1
            try:
                cols, _rows, types = run_oracle(osql, args.sf_dir)
                ok_cols = matched_decimal_ok.get(name, set())
                keep = [i for i, c in enumerate(cols) if c not in ok_cols]
                assert_driver_safe_types(
                    [cols[i] for i in keep], [types[i] for i in keep]
                )
            except AssertionError as exc:
                failures[name] = str(exc)[:300]
                print(f"  {name}: UNSAFE {failures[name]}", flush=True)
            except Exception as exc:  # noqa: BLE001
                failures[name] = f"{type(exc).__name__}: {exc}"[:300]
                print(f"  {name}: FAIL {failures[name]}", flush=True)
        print(
            json.dumps(
                {
                    "mode": "types-only",
                    "checked": checked,
                    "failures": failures,
                    "seconds": round(time.perf_counter() - t_start, 1),
                    "sf_dir": args.sf_dir,
                }
            )
        )
        return 1 if failures else 0

    spark = build_spark(app_name="preflight")
    spark.sparkContext.setLogLevel("ERROR")
    n_match = n_rows_only = 0
    failures: dict[str, str] = {}
    t_start = time.perf_counter()
    for name, fn in items:
        t0 = time.perf_counter()
        try:
            df = fn(spark, args.sf_dir)
            osql = oracles.get(name)
            if osql is None:
                n = df.count()
                assert n > 0, f"rows-only query returned {n} rows"
                n_rows_only += 1
                status = f"rows-only ({n} rows)"
            else:
                compare(df, osql, args.sf_dir, strict=args.strict)
                n_match += 1
                status = "MATCH"
        except Exception as exc:  # noqa: BLE001 — report every failure
            failures[name] = f"{type(exc).__name__}: {exc}"[:300]
            status = f"FAIL {failures[name]}"
        print(f"  {name}: {status}  [{time.perf_counter() - t0:.1f}s]", flush=True)
    spark.stop()

    print(
        json.dumps(
            {
                "checked": len(items),
                "match": n_match,
                "rows_only": n_rows_only,
                "failures": failures,
                "seconds": round(time.perf_counter() - t_start, 1),
                "sf_dir": args.sf_dir,
            }
        )
    )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
