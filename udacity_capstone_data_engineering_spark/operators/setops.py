"""Set operators (SURVEY.md §2.5 U1 + union/intersect extensions)."""

from __future__ import annotations

from pyspark.sql import DataFrame


def union_evolved(a: DataFrame, b: DataFrame) -> DataFrame:
    """UNION ALL across an evolved schema: columns present on only one
    side come back NULL on the other (``allowMissingColumns``) — the
    in-flight counterpart of ``read_parquet_evolved``'s mergeSchema."""
    return a.unionByName(b, allowMissingColumns=True)


def union_distinct(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.unionByName(b).distinct()


def intersect_distinct(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.intersect(b)


def except_all(a: DataFrame, b: DataFrame) -> DataFrame:
    """Multiset difference — the reference's duplicate-witness idiom
    (notebook cell 17: ``df.exceptAll(df.dropDuplicates([key]))``)."""
    return a.exceptAll(b)


def duplicate_witness(df: DataFrame, cols: list[str]) -> DataFrame:
    """Extra copies of duplicated projections: df EXCEPT ALL distinct(df).

    Deterministic (unlike exceptAll vs. dropDuplicates-on-subset, which
    keeps an arbitrary representative): projects to ``cols`` first so the
    multiset difference is well-defined.
    """
    proj = df.select(*cols)
    return proj.exceptAll(proj.distinct())
