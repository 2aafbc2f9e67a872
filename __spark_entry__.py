"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``udacity_capstone_data_engineering_spark/``;
this module only wires the contract.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# The driver imports the package from this checkout; Python workers
# never import it, because the package registers itself with PySpark's
# cloudpickle to ship its code by value with every task.
_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _ROOT)

from udacity_capstone_data_engineering_spark import queries as _catalog


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (fact ⋈ dims → per-nation order stats) on sf0.001."""
    return _catalog.flagship_nation_order_stats(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _catalog.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each (SQL-expressible) query."""
    return _catalog.oracle_sql()
