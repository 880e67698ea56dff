"""The operator registry: the one list of the engine's queries.

Each operator module declares its queries once, in its ``QUERIES`` dict
(name -> builder taking ``(spark, sf_dir)``), and the DuckDB oracle for the
ones that have one in ``ORACLE_SQL``. Every front end reads the registry
through ``queries()`` / ``oracle_sql()``: the driver contract
(``__spark_entry__``), the CLI, ``bench.py`` and the correctness and plan
gates under ``scripts/``. Both return plain registration order.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from big_data_toolkit_spark.multimodal import binary_ops as multimodal
from big_data_toolkit_spark.operators import (
    analytics_ext,
    curation,
    dedup,
    inverted_index,
    pagerank,
    quality,
    relational_ext,
    similarity,
    spam,
    sql_analytics,
    text_analytics,
)
from big_data_toolkit_spark.plans import materialize, scale
from big_data_toolkit_spark.streaming import anomaly as streaming_anomaly
from big_data_toolkit_spark.streaming import windows as streaming_windows

_MODULES = [
    sql_analytics,
    text_analytics,
    inverted_index,
    spam,
    pagerank,
    streaming_windows,
    streaming_anomaly,
    dedup,
    similarity,
    quality,
    relational_ext,
    analytics_ext,
    multimodal,
    curation,
    scale,
    materialize,
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _MODULES:
        out.update(mod.QUERIES)
    return out


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    for mod in _MODULES:
        out.update(mod.ORACLE_SQL)
    return out
