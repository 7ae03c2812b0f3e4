"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship query (TPC-H Q1) on sf0.001.
queries()     — every implemented operator/query from SURVEY.md §2,
                assembled from greengage_spark.plans.*.
oracle_sql()  — DuckDB-runnable ANSI SQL equivalents (same column names).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from greengage_spark.session import apply_runtime_confs
    from greengage_spark.plans.tpch import q1_pricing_summary

    apply_runtime_confs(spark)
    return q1_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from greengage_spark.plans import registry

    return registry.queries()


def oracle_sql() -> dict[str, str]:
    from greengage_spark.plans import registry

    return registry.oracle_sql()
