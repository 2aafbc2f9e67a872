"""Window-function operators (SURVEY.md §2.5 W1/O2 — absent from the
reference, required by any real analytics surface).

Determinism rule: every ORDER BY in a ranking/frame window carries a
unique tiebreaker column so ranks and frames are total-ordered — results
must hash-match an oracle and survive re-partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def top_k_per_group(
    df: DataFrame, keys: list[str], order_by: list, k: int, rank_alias: str = "rnk"
) -> DataFrame:
    """Top-k rows per group via row_number (deterministic with tiebreak).

    Scale note: this is the shuffle-once pattern — one hash partition on
    ``keys``, sort within partitions, early-out after k rows per group
    (Spark pushes the rank predicate into the window via
    WindowGroupLimit in physical planning).
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn(rank_alias, F.row_number().over(w))
        .filter(F.col(rank_alias) <= k)
    )


def lag_delta(
    df: DataFrame,
    keys: list[str],
    order_by: list,
    value_col: str,
    alias: str = "delta",
) -> DataFrame:
    """Per-group difference vs previous row (lag)."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return df.withColumn(alias, F.col(value_col) - F.lag(value_col).over(w))


def global_top_k(df: DataFrame, order_by: list, k: int) -> DataFrame:
    """Global ORDER BY ... LIMIT k (O2). Spark executes this as a
    TakeOrderedAndProject — per-partition top-k then a k-sized merge on
    the driver; no full sort, safe at any scale."""
    return df.orderBy(*order_by).limit(k)
