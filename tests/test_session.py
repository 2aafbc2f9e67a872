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
