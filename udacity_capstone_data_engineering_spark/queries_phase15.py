"""Phase-15 query tier (round 9): the persisted standing ANN index
(VERDICT r8 #2 — build/load/serve for the IVF-PQ fit artifacts,
mirroring the r8 semantic-index pattern) and the build/serve split of
the semantic-index bench row (VERDICT r8 #4).

Artifact-path discipline: per-session AND per-sf-dir scoped temp paths
(the ADVICE-r6 pattern), so repeat invocations within one session
amortize the build — the serving regime these rows exist to measure —
while concurrent sessions and different scale factors never share an
artifact. Serve rows build-if-absent so every row stays self-contained
under the driver's any-subset correctness runs; when the build row ran
first (bench runs rows alphabetically: build < serve), the serve row's
timing is the SERVE-ONLY cost users actually pay per batch.

Same contract as ``queries.py`` (imported at the end of that module);
house determinism rules apply.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from udacity_capstone_data_engineering_spark.queries import _register
from udacity_capstone_data_engineering_spark.session import local_df
from udacity_capstone_data_engineering_spark.sources.catalog import (
    _SEM_INC_MOD,
    artifact_base,
    fan_out_small_scan,
    load_table,
)


# ---------------------------------------------------------------------------
# Standing ANN index: build → artifact, serve ← artifact (VERDICT r8 #2)
# ---------------------------------------------------------------------------

_ANN_DIM = 64
_ANN_M = 8
_ANN_KSUB = 256
_ANN_SERVE_BOUND = 0.9  # recall@5 gate for the served batch


@_register(
    "ann_index_build",
    f"""
    SELECT COUNT(*) AS n_vectors,
           {_ANN_DIM} AS dim, {_ANN_M} AS m, {_ANN_KSUB} AS ksub,
           GREATEST(16, CAST(FLOOR(SQRT(GREATEST(COUNT(*), 256)))
                             AS INT)) AS n_centroids,
           COUNT(*) FILTER (
             WHERE embedding IS NOT NULL
               AND len(list_filter(embedding, x -> x <> 0)) > 0
           ) AS n_coded
    FROM embeddings
    """,
)
def ann_index_build(spark, sf_dir):
    """Build the PERSISTED IVF-PQ standing index (VERDICT r8 #2): fit
    coarse centroids + PQ codebooks once, encode the corpus, write all
    artifacts as parquet (codes repartitioned by cell). The r8 sf10
    probe measured ~10 min of every ``ivfpq_topk`` call at 200k
    vectors re-paying this fit; after this row the serve path re-fits
    NOTHING. Emits the build receipt — corpus count, knob sizes, and
    the coded-row count (valid vectors only: NULL and zero-norm rows
    have no direction to index; the oracle recomputes both counts and
    the sqrt-law centroid count from the raw table, so a build that
    dropped rows or mis-sized the fit hash-mismatches. This row always
    REBUILDS (its bench wall IS the build cost — the number
    ``ann_standing_serve`` exists to exclude)."""
    import shutil

    from udacity_capstone_data_engineering_spark.operators.ann_index import (
        build_ann_index,
    )

    emb = fan_out_small_scan(load_table(spark, sf_dir, "embeddings"))
    base = artifact_base(spark, sf_dir, "ann_index")
    shutil.rmtree(base, ignore_errors=True)
    meta = build_ann_index(
        emb, "vec_id", "embedding", _ANN_DIM, base, m=_ANN_M, ksub=_ANN_KSUB
    )
    n_coded = spark.read.parquet(f"{base}/codes").count()
    return local_df(
        spark,
        [
            (
                meta["n"],
                meta["dim"],
                meta["m"],
                meta["ksub"],
                meta["n_centroids"],
                n_coded,
            )
        ],
        "n_vectors long, dim int, m int, ksub int, n_centroids int, "
        "n_coded long",
    )


@_register(
    "ann_standing_serve",
    f"""
    SELECT 'ivfpq_standing' AS method,
           (SELECT COUNT(*) FROM embeddings
            WHERE vec_id % {_SEM_INC_MOD} = 0) AS n_queries,
           (SELECT COUNT(*) * 5 FROM embeddings
            WHERE vec_id % {_SEM_INC_MOD} = 0) AS n_pairs,
           TRUE AS recall_ok
    """,
)
def ann_standing_serve(spark, sf_dir):
    """Serve a query batch (1-in-10 ids — the ingest-shaped workload)
    against the PERSISTED standing ANN index: load centroids +
    codebooks + codes from parquet, probe, ADC-scan, exact-rerank —
    no fit, no re-encode. Builds the artifact only if absent (bench
    runs ``ann_index_build`` first, so this row's wall is the
    serve-only cost). Recall-gated like every approximate row:
    recall@5 of the served batch vs the in-engine brute-force truth
    restricted to the batch's query ids must hold ≥ 0.9 or recall_ok
    flips false and the hash gate goes red; n_pairs doubles as the
    structural exactly-5-per-query check."""
    from udacity_capstone_data_engineering_spark.operators.ann_index import (
        ann_topk_against_index,
        build_ann_index,
    )
    from udacity_capstone_data_engineering_spark.queries_phase16 import (
        load_ann_exact_truth,
    )

    emb = fan_out_small_scan(load_table(spark, sf_dir, "embeddings"))
    base = artifact_base(spark, sf_dir, "ann_index")
    if not os.path.exists(os.path.join(base, "meta")):
        build_ann_index(
            emb, "vec_id", "embedding", _ANN_DIM, base,
            m=_ANN_M, ksub=_ANN_KSUB,
        )
    batch = emb.filter(F.col("vec_id") % _SEM_INC_MOD == 0)
    served = ann_topk_against_index(
        emb, "vec_id", "embedding", base, k=5, queries=batch
    )
    # the batch's exact truth is the FULL self-top-5 truth restricted
    # to the batch's query ids (brute_force_topk with queries=batch is
    # exactly that filter) — serve it from the persisted truth
    # artifact instead of re-deriving it quadratically (VERDICT r10
    # #3: build/serve split for every recall gate's exact baseline)
    truth64, _truth16 = load_ann_exact_truth(spark, sf_dir)
    exact = (
        truth64.join(
            batch.select(F.col("vec_id").alias("query_id")),
            "query_id",
            "left_semi",
        )
        .localCheckpoint(eager=True)
    )
    hits = exact.join(
        served.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
    ).agg(F.count(F.lit(1)).alias("hits"))
    stats = exact.agg(
        F.count_distinct("query_id").cast("bigint").alias("n_queries"),
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
    )
    return hits.crossJoin(stats).select(
        F.lit("ivfpq_standing").alias("method"),
        "n_queries",
        "n_pairs",
        (F.col("hits") / F.col("n_pairs") >= F.lit(_ANN_SERVE_BOUND)).alias(
            "recall_ok"
        ),
    )


@_register(
    "ann_index_append",
    f"""
    WITH standing AS (SELECT * FROM embeddings
                      WHERE vec_id % {_SEM_INC_MOD} <> 0),
         batch AS (SELECT * FROM embeddings
                   WHERE vec_id % {_SEM_INC_MOD} = 0)
    SELECT (SELECT COUNT(*) FROM standing) AS n_old,
           (SELECT COUNT(*) FROM batch) AS n_batch,
           (SELECT COUNT(*) FILTER (
              WHERE embedding IS NOT NULL
                AND len(list_filter(embedding, x -> x <> 0)) > 0
            ) FROM batch) AS n_batch_coded,
           (SELECT COUNT(*) FROM standing)
             + (SELECT COUNT(*) FROM batch) AS n_new,
           (SELECT COUNT(*) FILTER (
              WHERE embedding IS NOT NULL
                AND len(list_filter(embedding, x -> x <> 0)) > 0
            ) FROM embeddings) AS n_codes_total
    """,
)
def ann_index_append(spark, sf_dir):
    """Incremental append to the standing ANN index (VERDICT r9 #2):
    build on the standing corpus (9 in 10 ids), then APPEND the
    incoming batch (1 in 10) with the frozen codebooks — encode-only
    upsert into ``codes``, meta.n bumped, no refit of anything. The
    receipt is recomputed end-to-end by the oracle: n_old and n_batch
    from the id split, the coded counts from the valid-vector
    predicate (NULL / all-zero vectors have no direction to index),
    n_new = n_old + n_batch, and n_codes_total re-counted from the
    artifact itself — so an append that dropped rows, double-wrote, or
    forgot the meta bump hash-mismatches. Per batch the work is one
    map-only encode plus a cell-partitioned append: the 100 TB ingest
    shape (the standing codes/centroids/codebooks are never touched).
    Uses its own artifact path (not the serve rows'), since this row
    mutates the index."""
    import shutil

    from udacity_capstone_data_engineering_spark.operators.ann_index import (
        append_ann_index,
        build_ann_index,
    )

    emb = fan_out_small_scan(load_table(spark, sf_dir, "embeddings"))
    standing = emb.filter(F.col("vec_id") % _SEM_INC_MOD != 0)
    batch = emb.filter(F.col("vec_id") % _SEM_INC_MOD == 0)
    base = artifact_base(spark, sf_dir, "ann_index_inc")
    shutil.rmtree(base, ignore_errors=True)
    build_ann_index(
        standing, "vec_id", "embedding", _ANN_DIM, base,
        m=_ANN_M, ksub=_ANN_KSUB, fit_on=standing,
    )
    receipt = append_ann_index(batch, "vec_id", "embedding", base)
    n_codes_total = spark.read.parquet(f"{base}/codes").count()
    meta_n = (
        spark.read.parquet(f"{base}/meta").head().asDict()["n"]
    )
    assert meta_n == receipt["n_new"]
    return local_df(
        spark,
        [
            (
                receipt["n_old"],
                receipt["n_batch"],
                receipt["n_batch_coded"],
                receipt["n_new"],
                n_codes_total,
            )
        ],
        "n_old long, n_batch long, n_batch_coded long, n_new long, "
        "n_codes_total long",
    )


# ---------------------------------------------------------------------------
# Semantic index: the build half of the r8 row (VERDICT r8 #4)
# ---------------------------------------------------------------------------


@_register(
    "semantic_dedup_index_build",
    f"""
    WITH standing AS (SELECT * FROM embeddings
                      WHERE vec_id % {_SEM_INC_MOD} <> 0)
    SELECT GREATEST(4, (COUNT(*) + 63) // 64) AS k,
           1024 AS scale, 64 AS dim,
           COUNT(*) AS n_standing
    FROM standing
    """,
)
def semantic_dedup_index_build(spark, sf_dir):
    """Build the persisted standing SEMANTIC index (VERDICT r8 #4 —
    the build half of r8's 31.2 s ``semantic_dedup_standing_index``
    row, which conflated once-per-corpus build cost with the per-batch
    serve cost users actually pay): Lloyd the standing corpus, persist
    centroids + exact-collapse representatives, emit the build receipt
    (auto-k, quantization scale, dim, standing count — all recomputed
    independently by the oracle's integer formulas). Always REBUILDS;
    the serve row reuses this artifact, so its bench wall is
    serve-only."""
    import shutil

    from udacity_capstone_data_engineering_spark.operators.semdedup import (
        build_semantic_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    standing = fan_out_small_scan(
        emb.filter(F.col("vec_id") % _SEM_INC_MOD != 0)
    )
    base = artifact_base(spark, sf_dir, "sem_index")
    shutil.rmtree(base, ignore_errors=True)
    meta = build_semantic_index(standing, "vec_id", "embedding", base, k=None)
    return local_df(
        spark,
        [(meta["k"], meta["scale"], meta["dim"], meta["n_standing"])],
        "k long, scale long, dim int, n_standing long",
    )
