"""Driver contract for the spark-graft builder (PySpark target).

All queries live in fforma_spark.queries; this file only adapts them to
the driver's entry/queries/oracle_sql interface.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from fforma_spark.queries import ORACLES, QUERIES, flagship  # noqa: E402
from fforma_spark.session import ship_package  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    ship_package(spark)
    return flagship(spark, "/root/testdata/sf0.001")


def _wrap(fn: Callable[[SparkSession, str], DataFrame]):
    def inner(spark: SparkSession, sf_dir: str) -> DataFrame:
        ship_package(spark)
        return fn(spark, sf_dir)

    return inner


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _wrap(fn) for name, fn in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
