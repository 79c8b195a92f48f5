"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The actual catalog lives in ``traits_data_spark.catalog`` — one
``(spark, sf_dir) -> DataFrame`` callable per implemented operator
from SURVEY.md §2 plus the LLM-pipeline extensions, each with a
DuckDB oracle generated from the same metadata (hash coefficients,
LSH hyperplanes, weights hierarchy) the Spark plan uses.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from traits_data_spark import catalog

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the full E1 silver pipeline (profile build →
    meta re-join → ANY/season totals self-join → cast contract) on
    sf0.001."""
    return catalog.QUERIES["silver_e1"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(catalog.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL per query (same table views). Queries
    absent here (binary/multimodal) get the driver's rows-only check.
    """
    return catalog.oracle_sqls()
