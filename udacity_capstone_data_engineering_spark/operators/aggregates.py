"""Aggregation operators (SURVEY.md §2.4 A1-A5 + rollup/cube extensions).

Money/measure sums are computed over DECIMAL, not DOUBLE: decimal sums
are exact and order-independent, so results are bit-stable across
partitionings — the property that makes a 32-partition local run and a
20,000-partition cluster run hash-identical. Spark's partial aggregation
(map-side combine) applies automatically to all of these.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def group_agg(df: DataFrame, keys: list[str], aggs: dict[str, str]) -> DataFrame:
    """groupBy + named aggregates: ``{output_name: sql_agg_expr}``."""
    return df.groupBy(*keys).agg(
        *(F.expr(expr).alias(name) for name, expr in aggs.items())
    )


def null_profile(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Per-column null counts + ratios in ONE aggregate pass (A4 —
    the reference's nicest pattern, notebook cell 12, kept as a
    first-class op). One job regardless of column count."""
    use = cols or df.columns
    total = F.count(F.lit(1))
    exprs = [total.alias("row_count")]
    for c in use:
        n = F.count(F.when(F.col(c).isNull(), 1))
        exprs.append(n.alias(f"{c}_nulls"))
        # greatest(total,1): identical on any non-empty input; keeps the
        # empty-table profile from raising under ANSI division.
        exprs.append(F.round(n / F.greatest(total, F.lit(1)), 6).alias(f"{c}_null_ratio"))
    return df.select(*exprs)


def rollup_agg(df: DataFrame, keys: list[str], aggs: dict[str, str]) -> DataFrame:
    """ROLLUP hierarchy totals (extension tier; SQL-oracle friendly)."""
    return df.rollup(*keys).agg(*(F.expr(e).alias(n) for n, e in aggs.items()))


def cube_agg(df: DataFrame, keys: list[str], aggs: dict[str, str]) -> DataFrame:
    """CUBE over all key combinations (extension tier)."""
    return df.cube(*keys).agg(*(F.expr(e).alias(n) for n, e in aggs.items()))
