"""The query registry — the engine's operator-coverage surface.

Every operator from SURVEY.md §2 is a named query over the test tables,
paired with an ANSI-SQL oracle that DuckDB runs on the same parquet
files. The two results are hash-compared (row count + schema +
order-insensitive value hash), so:

* every computed column is aliased identically in Spark and SQL;
* money/quantity aggregates are summed in DECIMAL (exact, order-free)
  and cast to DOUBLE at the end — double summation order differs
  between engines, decimal summation does not;
* averages are ``CAST(decimal_sum AS DOUBLE) / count`` — one IEEE
  division of identical inputs, bit-identical on both sides;
* ties in any top-k are broken by a unique key column.

This module holds only the registry. The queries live in one module per
domain (``plans/relational.py``, ``plans/tpch.py``, ``plans/corpus.py``,
…), each registering through ``register``; a helper used by two or more
domains lives in ``plans/shared.py``. Reference-parity notes cite the
reference pipeline's file:line in each query's docstring.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class EngineQuery:
    name: str
    description: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None => not SQL-expressible; driver does rows-only check


REGISTRY: dict[str, EngineQuery] = {}


def register(name: str, description: str, oracle: str | None):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = EngineQuery(name=name, description=description, spark=fn, oracle=oracle)
        return fn

    return deco


# The domain modules import `register` from this module, so they are
# imported at the bottom, after it is defined.
from etl_seattle_call_data_spark.plans import relational  # noqa: E402,F401
from etl_seattle_call_data_spark.plans import tpch  # noqa: E402,F401
from etl_seattle_call_data_spark.plans import corpus  # noqa: E402,F401
from etl_seattle_call_data_spark.plans import vectors  # noqa: E402,F401
from etl_seattle_call_data_spark.plans import graph  # noqa: E402,F401
from etl_seattle_call_data_spark.plans import stats  # noqa: E402,F401
from etl_seattle_call_data_spark.plans import timeseries  # noqa: E402,F401
from etl_seattle_call_data_spark.plans import behavior  # noqa: E402,F401
from etl_seattle_call_data_spark.plans import cdc  # noqa: E402,F401
