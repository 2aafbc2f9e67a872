"""Phase-16 query tier (round 10): the unified ANN dispatch facade
(VERDICT r9 #4) under the oracle gate.

Same contract as ``queries.py`` (imported at the end of that module so
everything lands in one registry); house determinism rules apply.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from udacity_capstone_data_engineering_spark.queries import _register
from udacity_capstone_data_engineering_spark.sources.catalog import (
    fan_out_small_scan,
    load_table,
)

_DISPATCH_BOUND = 0.9  # recall@5 gate, same as the other auto rows


def ann_truth_paths(spark, sf_dir: str) -> tuple[str, str, str]:
    """(base, exact64_path, exact16_path) for the session-scoped exact
    ANN truth artifacts (VERDICT r10 #3)."""
    import os

    from udacity_capstone_data_engineering_spark.sources.catalog import (
        artifact_base,
    )

    base = artifact_base(spark, sf_dir, "ann_truth")
    return base, os.path.join(base, "exact64"), os.path.join(base, "exact16")


def build_ann_exact_truth(spark, sf_dir: str) -> tuple[str, str]:
    """Compute and persist the two exact top-5 truth relations the
    recall gates score against: brute-force cosine over the raw 64-dim
    embeddings, and over their 16-dim JL projection. Both are (id, id)
    pair relations — deterministic integers, so persisting them is
    loss-free. The 16-dim artifact is written LAST and its _SUCCESS
    marker is the build-complete sentinel (same crash discipline as
    the standing ANN index's meta-last write)."""
    from udacity_capstone_data_engineering_spark.operators.similarity import (
        brute_force_topk,
        jl_project,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    _base, p64, p16 = ann_truth_paths(spark, sf_dir)
    brute_force_topk(emb, "vec_id", "embedding", k=5).select(
        "query_id", "neighbor_id"
    ).write.mode("overwrite").parquet(p64)
    proj = jl_project(emb, "vec_id", "embedding", 16)
    brute_force_topk(proj, "vec_id", "embedding", k=5).select(
        "query_id", "neighbor_id"
    ).write.mode("overwrite").parquet(p16)
    return p64, p16


def load_ann_exact_truth(spark, sf_dir: str):
    """(exact64_df, exact16_df), building the artifacts first if the
    completion sentinel is absent — the build-if-absent serve gate
    ``ann_recall_report`` uses, mirroring the standing-index pattern:
    in a bench session ``ann_exact_truth_build`` (alphabetically ahead
    of every ann_* serve row in bench.py's sorted tail) has already
    paid the quadratic truth cost, so the report's wall is serve-side
    work only (VERDICT r10 #3: the report was the top bench row at
    34.4 s, re-deriving the same truths every run)."""
    import os

    _base, p64, p16 = ann_truth_paths(spark, sf_dir)
    if not os.path.exists(os.path.join(p16, "_SUCCESS")) or not os.path.exists(
        os.path.join(p64, "_SUCCESS")
    ):
        build_ann_exact_truth(spark, sf_dir)
    return spark.read.parquet(p64), spark.read.parquet(p16)


@_register(
    "ann_exact_truth_build",
    """
    SELECT (SELECT COUNT(*) * 5 FROM embeddings) AS n_pairs64,
           (SELECT COUNT(*) * 5 FROM embeddings) AS n_pairs16,
           (SELECT COUNT(*) FROM embeddings) AS n_queries
    """,
)
def ann_exact_truth_build(spark, sf_dir):
    """The BUILD half of the recall-gate split (VERDICT r10 #3):
    always recompute and persist the exact top-5 truths (64-dim and
    16-dim-JL), then receipt the artifacts by reading them BACK —
    n_pairs re-counted from parquet (exactly 5 per query or the hash
    flips), n_queries as the distinct probe count. This row carries
    the quadratic truth cost in the bench; ``ann_recall_report`` and
    the other recall gates then serve from the artifact."""
    import shutil

    base, _p64, _p16 = ann_truth_paths(spark, sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    build_ann_exact_truth(spark, sf_dir)
    exact64, exact16 = load_ann_exact_truth(spark, sf_dir)
    c64 = exact64.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs64"),
        F.count_distinct("query_id").cast("bigint").alias("n_queries"),
    )
    c16 = exact16.agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs16"))
    return c64.crossJoin(c16).select("n_pairs64", "n_pairs16", "n_queries")


@_register(
    "ann_auto_dispatch",
    """
    SELECT 'lsh' AS tier,
           (SELECT COUNT(*) * 5 FROM embeddings) AS n_pairs,
           TRUE AS recall_ok
    """,
)
def ann_auto_dispatch(spark, sf_dir):
    """The unified ``ann_topk`` facade (VERDICT r9 #4) end to end in
    ``mode='auto'``: the dispatcher must (a) pick the tier the measured
    choice table says — at every gate scale the corpus is ≤ 2M vectors
    and the target 0.9 ≤ 0.97, so 'lsh' (the oracle hard-codes that
    expectation: a dispatch-law regression flips the tier column red) —
    and (b) deliver the promised recall: recall@5 ≥ 0.9 vs the
    brute-force truth, the same gate shape as ``ann_recall_report``.
    n_pairs doubles as the exactly-5-per-query structural check."""
    from udacity_capstone_data_engineering_spark.operators.ann import (
        ann_topk,
        choose_ann_tier,
    )

    emb = fan_out_small_scan(load_table(spark, sf_dir, "embeddings"))
    n = emb.count()
    tier = choose_ann_tier(n, target_recall=0.9)
    # n= (r11): the facade reuses this count instead of re-scanning
    approx = ann_topk(emb, "vec_id", "embedding", dim=64, k=5, n=n)
    # exact truth served from the persisted artifact (VERDICT r10 #3)
    exact = load_ann_exact_truth(spark, sf_dir)[0].localCheckpoint(
        eager=True
    )
    hits = exact.join(
        approx.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
    ).agg(F.count(F.lit(1)).alias("hits"))
    tot = exact.agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    return hits.crossJoin(tot).select(
        F.lit(tier).alias("tier"),
        "n_pairs",
        (F.col("hits") / F.col("n_pairs") >= F.lit(_DISPATCH_BOUND)).alias(
            "recall_ok"
        ),
    )
