"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` is a smoke check; each ``queries()[name]`` is
compared against the matching ``oracle_sql()[name]`` run on DuckDB
(row count + schema + order-insensitive value hash), as
``tools/oracle_check.py`` does locally. Both list the registry in
registration order.

The real inventory lives in
``api_kakfa_spark_airflow_s3_athena_spark.plans.queries``; this module is a thin
adapter.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# robust under by-path imports: make the package resolvable regardless
# of the caller's working directory / sys.path
_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from api_kakfa_spark_airflow_s3_athena_spark.plans import queries as Q


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the TPC-H Q1 pricing
    summary — scan, filter, wide aggregate, the engine's core shape."""
    return Q.tpch_q1_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return Q.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for every oracle-expressible query."""
    return Q.oracle_sql()
