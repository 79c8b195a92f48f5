"""The driver-facing query catalog: every operator from SURVEY.md §2
wired as a ``(spark, sf_dir) -> DataFrame`` callable plus a DuckDB
oracle SQL string computing the same result on the same parquet
tables.

Design rules that make the oracles hash-exact (not merely "close"):

- integer arithmetic wherever a SUM crosses engines (sums of doubles
  are order-dependent; sums of integer-valued columns are exact) —
  money becomes ``*100 → ROUND → BIGINT`` cents;
- single-operation float math is IEEE-deterministic, so MIN/MAX,
  one division, or a sequential fold (``aggregate``/``list_dot_product``
  — verified bit-exact between Spark and DuckDB) pass through raw;
- engine-variance-prone floats (stddev) are rounded on BOTH sides;
- every aggregate/computed column is aliased identically in the Spark
  plan and the SQL; DuckDB's SUM(BIGINT)→HUGEINT is cast back.

Shared metadata (minhash coefficients, LSH hyperplanes, the weights
hierarchy) is generated once here and baked into both the Spark plan
and the SQL text, so the oracle recomputes the exact same sketches.
"""

from __future__ import annotations

from traits_data_spark.catalog.registry import QUERIES, oracle_sqls
from traits_data_spark.catalog.relational import (
    FEATURE_STORE,
    GOLD_SPEC,
    PROFILE_SPEC,
    WEIGHTS,
)

__all__ = [
    "FEATURE_STORE",
    "GOLD_SPEC",
    "PROFILE_SPEC",
    "QUERIES",
    "WEIGHTS",
    "oracle_sqls",
]
