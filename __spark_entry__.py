"""Driver contract for the spark-graft builder (PySpark target).

Exposes the engine's declared-query registry (bigquery_etl_spark.plans —
one entry per implemented operator from SURVEY.md §2) plus the DuckDB
oracle twins for the driver's t2 differential check.
"""

from __future__ import annotations

import functools
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bigquery_etl_spark.registry import all_queries  # noqa: E402
from bigquery_etl_spark.session import ensure_workers  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-style pricing summary) on sf0.001."""
    from bigquery_etl_spark.plans.aggregates import q_agg_hash

    ensure_workers(spark)
    return q_agg_hash(spark, "/root/testdata/sf0.001")


def _on_workers(fn: Callable[..., DataFrame]) -> Callable[..., DataFrame]:
    """``fn`` with the caller's session made able to run the package's
    Python workers (the driver brings its own session)."""

    @functools.wraps(fn)
    def run(spark: SparkSession, *args, **kwargs) -> DataFrame:
        ensure_workers(spark)
        return fn(spark, *args, **kwargs)

    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: _on_workers(spec.fn) for name, spec in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle twin for each SQL-expressible declared query."""
    return {name: spec.sql for name, spec in all_queries().items() if spec.sql is not None}
