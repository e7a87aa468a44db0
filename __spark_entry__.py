"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke-check at sf0.001.
``queries()`` — every declared operator/query (SURVEY §2 + north-star
LLM ops), each a (spark, sf_dir) -> DataFrame callable.
``oracle_sql()`` — DuckDB-equivalent SQL for each SQL-expressible
query; LSH/fuzzy ops are rows-only (exact-verified against their
brute-force twins in tests/ instead).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tidb_cdc_spark.queries import ORACLE, QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: TPC-H Q1 pricing summary on sf0.001."""
    from tidb_cdc_spark.queries.tpch import q1_pricing_summary

    return q1_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLE)
