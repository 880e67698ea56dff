"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (Q4: filtered fact join chain +
per-nation aggregation) at sf0.001. ``queries()`` / ``oracle_sql()`` expose
every implemented operator from SURVEY.md §2 for the DuckDB correctness gate;
both come from ``big_data_toolkit_spark.registry``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from big_data_toolkit_spark.operators import sql_analytics
from big_data_toolkit_spark.registry import oracle_sql, queries

__all__ = ["entry", "oracle_sql", "queries"]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return sql_analytics.q4_orders_by_nation(spark, "/root/testdata/sf0.001")
