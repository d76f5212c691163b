"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash).

Implementation lives in ``glamira_end_to_end_data_pipeline_spark``; this module is
a thin adapter over its query registry.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from glamira_end_to_end_data_pipeline_spark.plans import ORACLES, QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["flagship_daily_events"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI-SQL twin for each query (same column names)."""
    return dict(ORACLES)
