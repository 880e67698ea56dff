"""Local replica of the driver's DuckDB-oracle comparison.

Runs a Spark query and its oracle SQL side-by-side at a given sf_dir and
compares row count, column names, and order-insensitive values — the same
checks the driver's correctness gate makes, so a pass here predicts a pass
there.
"""

from __future__ import annotations

import math

import duckdb

from big_data_toolkit_spark.catalog import TABLES, table_path


def run_oracle(sql: str, sf_dir: str):
    """Returns (columns, rows, type_strings) for an oracle query."""
    con = duckdb.connect()
    try:
        for name in TABLES:
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM '{table_path(sf_dir, name)}'"
            )
        rel = con.sql(sql)
        types = [str(t) for t in rel.types]
        return list(rel.columns), rel.fetchall(), types
    finally:
        con.close()


import re as _re


def _decimal_scale(type_str: str):
    m = _re.search(r"decimal\s*\(\s*\d+\s*,\s*(\d+)\s*\)", type_str, _re.I)
    return int(m.group(1)) if m else None


def assert_driver_safe_types(cols, types, spark_dtypes=None) -> None:
    """Fail on oracle output types the external driver serializes differently
    from the Python-normalized values this replica compares.

    DuckDB widens ``sum(BIGINT)`` — aggregate and window forms — to HUGEINT
    (the r6+r7 ``user_value_moving_avg`` and r5 ``shard_pack`` reds), which
    the driver hashes as an int128, while the matching Spark column is LONG:
    rows/schema pass, hash fails.  HUGEINT is therefore always unsafe; wrap
    the sum in ``CAST(... AS BIGINT)`` in the oracle SQL.

    DECIMAL is unsafe only on a cross-engine mismatch: both engines emit
    Python ``Decimal`` cells, whose serialized digit string depends on the
    SCALE (``Decimal('1.10') != Decimal('1.1')``), so a DuckDB DECIMAL
    column is safe iff the Spark column is also a decimal with the SAME
    scale (``lineitem_stats`` — decimal(28,2) vs decimal(38,2), driver-green
    r6) and unsafe when Spark emits DOUBLE/LONG (the r2 red).  When
    ``spark_dtypes`` (mapping lower-cased column -> Spark dtype string) is
    not provided, DECIMAL is treated as unsafe outright.
    """
    bad = []
    for c, t in zip(cols, types):
        up = t.upper()
        if "HUGEINT" in up:
            bad.append((c, t, "spark has no int128 — CAST(... AS BIGINT)"))
        elif "DECIMAL" in up:
            sp = (spark_dtypes or {}).get(c)
            if sp is None or _decimal_scale(sp) != _decimal_scale(t):
                bad.append(
                    (c, t, f"spark side is {sp!r} — scales must match, or "
                           f"CAST both sides to BIGINT/DOUBLE")
                )
    assert not bad, (
        f"oracle emits driver-unsafe types {bad}: the driver hashes TYPED "
        f"values, so these hash red even when every value matches "
        f"(the class behind the r2, r6 and r7 driver reds)"
    )


def _norm_cell(v, strict: bool = False):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # strict replicates the external driver, which hashes floats at
        # FULL precision: a last-ulp divergence (round() implementations,
        # aggregation order) passes the 9-sig-digit check but fails the
        # driver hash (the user_value_moving_avg r6 red, VERDICT r6).
        return repr(v) if strict else f"{v:.9g}"
    if isinstance(v, list):
        return tuple(_norm_cell(x, strict) for x in v)
    return v


def _norm_rows(cols, rows, strict: bool = False):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        out.append(tuple(_norm_cell(row[i], strict) for i in order))
    out.sort(key=repr)
    return out


def compare(spark_df, oracle_sql: str, sf_dir: str, strict: bool = False) -> None:
    """Assert the Spark result and the DuckDB oracle result match.

    ``strict=True`` compares floats at full precision (``repr``), the
    closest local replica of the driver's value-hash; the default 9
    significant digits tolerates last-ulp engine drift.
    """
    spark_cols = [c.lower() for c in spark_df.columns]
    spark_rows = [tuple(r) for r in spark_df.collect()]

    duck_cols, duck_rows, duck_types = run_oracle(oracle_sql, sf_dir)
    duck_cols = [c.lower() for c in duck_cols]
    assert_driver_safe_types(
        duck_cols,
        duck_types,
        {c.lower(): t for c, t in spark_df.dtypes},
    )

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"column mismatch: spark={spark_cols} duckdb={duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"row count mismatch: spark={len(spark_rows)} duckdb={len(duck_rows)}"
    )
    s = _norm_rows(spark_cols, spark_rows, strict)
    d = _norm_rows(duck_cols, duck_rows, strict)
    mismatches = [(a, b) for a, b in zip(s, d) if a != b]
    assert not mismatches, f"value mismatch (first 5): {mismatches[:5]}"
