"""Session defaults that pay off across queries of one long-lived session."""

from __future__ import annotations

from udacity_capstone_data_engineering_spark import queries as catalog
from udacity_capstone_data_engineering_spark.session import codegen_compilations

# The catalog_mix rows of the benchmark (perfbench/workloads.py): one per
# measured operator module, about 200 generated classes per sweep.
MIX_ROWS = (
    "rollup_priority_status",
    "window_topk_orders",
    "near_dup_collapsed",
    "doc_repetition_flags",
    "embedding_cosine_topk",
    "embedding_ivf_topk",
    "semantic_dedup_eps",
)


def test_codegen_cache_keeps_catalog_classes(spark, sf_dir):
    """A second sweep over the rows reuses the classes the first one
    generated. With Spark's default cache of 100 classes it recompiled
    about 200 of them."""
    qs = catalog.queries()

    def sweep() -> int:
        before = codegen_compilations(spark)
        for name in MIX_ROWS:
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return codegen_compilations(spark) - before

    first = sweep()
    second = sweep()
    assert second < 25, f"second sweep compiled {second} classes (first {first})"


def test_local_df_arrow_paths_agree(spark):
    """``local_df`` returns the same values with Arrow on (one record
    batch) and off (one pickled slice): NaN stays NaN, NULL stays NULL,
    and a long past 2^53 survives, scalar and array alike."""
    from udacity_capstone_data_engineering_spark.session import local_df

    nan = float("nan")
    schema = "a long, b double, c array<double>"
    row_sets = {
        "empty": [],
        "one row": [(1, 0.5, [1.0, 2.0])],
        "degenerate": [
            (1, None, [1.0]),  # NULL scalar
            (2, 2.0, None),  # NULL array
            (3, nan, [0.0]),  # NaN scalar
            (4, 1.0, [nan, 1.0]),  # NaN inside an array
            (2**62 + 1, 1.0, [None, 2.0]),  # NULL element, wide long
        ],
    }
    conf = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(conf)
    try:
        got = {}
        for arrow in ("true", "false"):
            spark.conf.set(conf, arrow)
            got[arrow] = {}
            for name, rows in row_sets.items():
                out = local_df(spark, rows, schema).collect()
                got[arrow][name] = repr(sorted(map(tuple, out)))
    finally:
        spark.conf.set(conf, old)
    assert got["true"] == got["false"]
    assert got["true"]["degenerate"] == repr(sorted(row_sets["degenerate"]))
