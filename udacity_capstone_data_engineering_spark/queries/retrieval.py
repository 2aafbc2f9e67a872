"""Retrieval and ANN catalog rows over the embeddings table: exact cosine
top-k and threshold pairs, multi-table LSH, IVF, PQ and IVF-PQ, the
persisted standing ANN index (build, serve, append), the unified
dispatch facade and its exact-truth artifact, the recall report,
two-stage retrieve-rerank, embedding statistics (norms, centroids,
Gram and correlation matrices, int8 quantization, JL projections),
exact-integer k-means, and the lexical side (inverted index, BM25).

Registered into the one catalog registry (``queries/__init__.py``);
the house determinism rules in its docstring apply.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from udacity_capstone_data_engineering_spark.functions.hashing import (
    portable_hash64,
    portable_hash64_sql,
)
from udacity_capstone_data_engineering_spark.functions.text import tokens
from udacity_capstone_data_engineering_spark.operators.inverted_index import (
    inverted_index,
    inverted_index_oracle_sql,
)
from udacity_capstone_data_engineering_spark.operators.kmeans import (
    kmeans_int,
    kmeans_int_oracle_sql,
)
from udacity_capstone_data_engineering_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
)
from udacity_capstone_data_engineering_spark.queries import _register
from udacity_capstone_data_engineering_spark.session import local_df
from udacity_capstone_data_engineering_spark.sources.catalog import (
    _SEM_INC_MOD,
    artifact_base,
    fan_out_small_scan,
    load_table,
)


_COSINE_SQL = """
    list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
    / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                             CAST(a.embedding AS DOUBLE[])))
       * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                               CAST(b.embedding AS DOUBLE[]))))
"""


@_register(
    "embedding_cosine_topk",
    f"""
    SELECT query_id, neighbor_id, cosine, CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT query_id, neighbor_id, cosine,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, neighbor_id) AS rnk
          FROM (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                       ROUND({_COSINE_SQL}, 6) AS cosine
                FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id))
    WHERE rnk <= 5
    """,
)
def embedding_cosine_topk(spark, sf_dir):
    """Brute-force exact cosine top-5 neighbors — the ANN correctness
    baseline: one block scan of the corpus against its broadcast matrix
    (the expression plan past the byte cap), DOUBLE products accumulated
    left to right per dimension — bit-identical to the oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, "vec_id", "embedding", k=5)


@_register("embedding_lsh_topk", None)  # approximate → rows-only check
def embedding_lsh_topk(spark, sf_dir):
    """ANN scale path: multi-table random-hyperplane LSH (deterministic
    md5-derived hyperplanes; 12 tables, planes and directed-multiprobe
    depth auto-sized to the corpus — ≥0.95 recall@5 at every tested
    size), exact cosine ranking of candidates only.
    Approximate ⇒ no SQL oracle; recall vs brute force is asserted in
    tests (SURVEY.md §7 risk register)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_topk(emb, "vec_id", "embedding", dim=64, k=5)


@_register("embedding_ivf_topk", None)  # approximate → rows-only check
def embedding_ivf_topk(spark, sf_dir):
    """IVF ANN: k-means cells (deterministic seed) + nprobe search —
    the cluster-structure-exploiting scale path alongside hyperplane
    LSH. Approximate ⇒ recall asserted in tests, not hash equality."""
    from udacity_capstone_data_engineering_spark.operators.ivf import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(emb, "vec_id", "embedding", k=5, nprobe=8)


@_register(
    "embedding_norms",
    """
    SELECT vec_id, label,
           ROUND(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[]))), 6) AS l2,
           len(embedding) AS dim
    FROM embeddings
    """,
)
def embedding_norms(spark, sf_dir):
    """Vector-column scalar coverage: per-row L2 norm + dimensionality,
    all builtin higher-order functions."""
    from udacity_capstone_data_engineering_spark.functions.vectors import l2_norm

    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        "label",
        F.round(l2_norm(F.col("embedding").cast("array<double>")), 6).alias("l2"),
        F.size("embedding").alias("dim"),
    )


@_register(
    "embedding_dup_pairs",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                  CAST(b.embedding AS DOUBLE[]))
                 / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                          CAST(a.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                                            CAST(b.embedding AS DOUBLE[])))),
                 6) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]),
                           CAST(b.embedding AS DOUBLE[]))
          / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                   CAST(a.embedding AS DOUBLE[])))
             * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])))) >= 0.4
    """,
)
def embedding_dup_pairs(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs, EXACT tier: the ordered
    pairs whose unrounded cosine is >= 0.4, from the one exact-cosine
    scan of ``brute_force_topk`` (the expression plan past the byte
    cap) — left-to-right double accumulation, bit-identical to the
    oracle's list_dot_product. The LSH/IVF paths are the scale tier;
    this is their correctness baseline and the semantic dedup
    companion to shingle-Jaccard near-dup."""
    from udacity_capstone_data_engineering_spark.operators.similarity import (
        _exact_cosine,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return _exact_cosine(emb, "vec_id", "embedding", threshold=0.4).select(
        F.col("query_id").alias("id_a"),
        F.col("neighbor_id").alias("id_b"),
        "cosine",
    )


@_register(
    "ann_recall_report",
    """
    SELECT 'lsh' AS method,
           (SELECT COUNT(*) * 5 FROM embeddings) AS n_pairs,
           TRUE AS recall_ok
    UNION ALL
    SELECT 'ivf' AS method,
           (SELECT COUNT(*) * 5 FROM embeddings) AS n_pairs,
           TRUE AS recall_ok
    UNION ALL
    SELECT 'pq' AS method,
           (SELECT COUNT(*) * 5 FROM embeddings) AS n_pairs,
           TRUE AS recall_ok
    UNION ALL
    SELECT 'ivfpq' AS method,
           (SELECT COUNT(*) * 5 FROM embeddings) AS n_pairs,
           TRUE AS recall_ok
    UNION ALL
    SELECT 'ivf_auto' AS method,
           (SELECT COUNT(*) * 5 FROM embeddings) AS n_pairs,
           TRUE AS recall_ok
    UNION ALL
    SELECT 'ivfpq_auto' AS method,
           (SELECT COUNT(*) * 5 FROM embeddings) AS n_pairs,
           TRUE AS recall_ok
    UNION ALL
    SELECT 'lsh_jl' AS method,
           (SELECT COUNT(*) * 5 FROM embeddings) AS n_pairs,
           TRUE AS recall_ok
    UNION ALL
    SELECT 'ivf_jl' AS method,
           (SELECT COUNT(*) * 5 FROM embeddings) AS n_pairs,
           TRUE AS recall_ok
    UNION ALL
    SELECT 'ivfpq_standing' AS method,
           (SELECT COUNT(*) * 5 FROM embeddings) AS n_pairs,
           TRUE AS recall_ok
    """,
)
def ann_recall_report(spark, sf_dir):
    """Recall of all four approximate ANN paths (LSH, IVF, PQ, IVF-PQ)
    vs the in-engine brute-force baseline, under the hash gate (VERDICT r1
    next-round #8): emits (method, n_pairs, recall_ok) with
    recall_ok = recall@5 >= 0.8 for the pinned-knob rows, plus two
    FULLY-AUTO rows (ivf_auto, ivfpq_auto) gated at the >= 0.9 the
    recall-targeted auto-sizing promises (VERDICT r3 #3).
    Everything is deterministic (md5 hyperplanes, seeded centroids), so
    the oracle's TRUE rows are a real check: if either path's recall
    ever drops below 0.8, the row flips false and the gate goes red.
    n_pairs doubles as a structural check that brute force yields
    exactly 5 neighbors per vector. Measured recall@5 on the test
    embeddings: LSH ~0.89 (16 tables), IVF ~0.96 (16 cells, nprobe 12).
    Intersections are computed with joins — sets never leave the JVM."""
    from udacity_capstone_data_engineering_spark.operators.ivf import ivf_topk
    from udacity_capstone_data_engineering_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # Build/serve split (VERDICT r10 #3): the exact truths are
    # PERSISTED session artifacts (``ann_exact_truth_build`` — the
    # build row pays the quadratic cost once per bench session; this
    # gate serves from parquet, build-if-absent outside the bench).
    # Truths are (id, id) integer pairs, so the round trip is
    # loss-free and every recall verdict is unchanged.
    exact, exact_jl = load_ann_exact_truth(spark, sf_dir)

    def method_row(name, approx, bound=0.8):
        hits = exact.join(
            approx.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
        ).agg(F.count(F.lit(1)).alias("hits"))
        tot = exact.agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        return hits.crossJoin(tot).select(
            F.lit(name).alias("method"),
            "n_pairs",
            (F.col("hits") / F.col("n_pairs") >= F.lit(bound)).alias("recall_ok"),
        )

    from udacity_capstone_data_engineering_spark.operators.pq import (
        ivfpq_topk,
        pq_topk,
    )

    lsh = lsh_topk(emb, "vec_id", "embedding", dim=64, k=5)
    ivf = ivf_topk(emb, "vec_id", "embedding", k=5, n_centroids=16, nprobe=12)
    pq = pq_topk(emb, "vec_id", "embedding", dim=64, k=5)
    ivfpq = ivfpq_topk(
        emb, "vec_id", "embedding", dim=64, k=5, n_centroids=16, nprobe=12
    )
    # AUTO-KNOB rows (VERDICT r3 #3): what a naive caller gets with
    # every knob defaulted — gated at the 0.9 the recall-targeted
    # auto-sizing promises (the old cells/4 default measured ~0.66
    # and would flip these rows false).
    ivf_auto = ivf_topk(emb, "vec_id", "embedding", k=5)
    ivfpq_auto = ivfpq_topk(emb, "vec_id", "embedding", dim=64, k=5)
    # JL-projected rows (VERDICT r6 #7): gate the COMPOSITION — each
    # kernel running on 16 JL dims must approximate EXACT search in
    # those same 16 dims at >= 0.9, the property the project_dims=
    # hook actually adds. The end-to-end question (does 16-dim
    # candidate generation + exact rerank retain the 64-dim top-5?)
    # is measured, not gated, because this corpus is the JL worst
    # case by construction: embeddings are isotropic-random, so
    # top-5 margins are O(1/sqrt(dim)) near-ties that NO 4x
    # projection preserves (measured capture of the 64-dim top-5
    # within the projected top-50: 0.48 @ 16d, 0.64 @ 32d, 0.72 @
    # 48d — sf0.01 sweep, SCALING.md r7). On real embedding corpora
    # (low-dim manifold structure) the same hook is the standard
    # cheap-candidates shape; here the gate pins what is provable.
    from udacity_capstone_data_engineering_spark.operators.similarity import (
        jl_project,
    )

    proj = jl_project(emb, "vec_id", "embedding", 16).localCheckpoint(
        eager=True
    )

    def jl_row(name, approx, bound=0.9):
        hits = exact_jl.join(
            approx.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
        ).agg(F.count(F.lit(1)).alias("hits"))
        tot = exact_jl.agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        return hits.crossJoin(tot).select(
            F.lit(name).alias("method"),
            "n_pairs",
            (F.col("hits") / F.col("n_pairs") >= F.lit(bound)).alias(
                "recall_ok"
            ),
        )

    lsh_jl = lsh_topk(proj, "vec_id", "embedding", dim=16, k=5)
    ivf_jl = ivf_topk(proj, "vec_id", "embedding", k=5)
    # ivfpq_standing (VERDICT r9 #7): the serve-from-artifact path in
    # the SAME hash-gated report everyone already watches, so index
    # staleness or an artifact-format regression flips a red row here,
    # not just in ann_standing_serve. Build-if-absent against the
    # shared per-session artifact (bench runs ann_index_build first,
    # so in the bench this is serve-only cost).
    import os as _os

    from udacity_capstone_data_engineering_spark.operators.ann_index import (
        ann_topk_against_index,
        build_ann_index,
    )
    from udacity_capstone_data_engineering_spark.sources.catalog import (
        artifact_base,
    )

    standing_base = artifact_base(spark, sf_dir, "ann_index")
    if not _os.path.exists(_os.path.join(standing_base, "meta")):
        build_ann_index(
            emb, "vec_id", "embedding", 64, standing_base, m=8, ksub=256
        )
    ivfpq_standing = ann_topk_against_index(
        emb, "vec_id", "embedding", standing_base, k=5
    )
    return (
        method_row("lsh", lsh)
        .unionAll(method_row("ivf", ivf))
        .unionAll(method_row("pq", pq))
        .unionAll(method_row("ivfpq", ivfpq))
        .unionAll(method_row("ivf_auto", ivf_auto, bound=0.9))
        .unionAll(method_row("ivfpq_auto", ivfpq_auto, bound=0.9))
        .unionAll(jl_row("lsh_jl", lsh_jl))
        .unionAll(jl_row("ivf_jl", ivf_jl))
        .unionAll(method_row("ivfpq_standing", ivfpq_standing, bound=0.9))
    )


# ---------------------------------------------------------------------------
# Embeddings: per-label centroids (array-column aggregation)
# ---------------------------------------------------------------------------


@_register(
    "label_centroids",
    """
    SELECT label, CAST(i AS INTEGER) AS idx,
           ROUND(CAST(SUM(CAST(ROUND(CAST(embedding[CAST(i + 1 AS INT)]
                                          AS DOUBLE), 9)
                               AS DECIMAL(28,12))) AS DOUBLE)
                 / COUNT(*), 6) AS centroid,
           COUNT(*) AS n_vecs
    FROM embeddings, range(64) t(i)
    GROUP BY label, i
    """,
)
def label_centroids(spark, sf_dir):
    """Per-label embedding centroids: posexplode the vector column and
    aggregate per (label, dimension). Cross-row float sums are order-
    dependent, so elements are rounded then summed as decimals (exact,
    order-independent) before the final double mean — the recipe that
    keeps a 1000-executor result hash-identical to any oracle. Shuffle
    carries |labels| x dim partial aggregates, not vectors (map-side
    combine)."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("idx", "v"),
    )
    return e.groupBy("label", "idx").agg(
        F.round(
            F.sum(F.round(F.col("v"), 9).cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("centroid"),
        F.count(F.lit(1)).alias("n_vecs"),
    )


# ---------------------------------------------------------------------------
# Embedding int8 quantization (4x memory cut for the vector store)
# ---------------------------------------------------------------------------


@_register(
    "embedding_int8_quantize",
    """
    SELECT vec_id,
           ROUND(127.0 / greatest(list_max(list_transform(
                     CAST(embedding AS DOUBLE[]), x -> abs(x))), 1e-30), 6)
               AS scale,
           list_transform(CAST(embedding AS DOUBLE[]),
               x -> CAST(greatest(least(floor(
                        x * (127.0 / greatest(list_max(list_transform(
                            CAST(embedding AS DOUBLE[]), y -> abs(y))), 1e-30))
                        + 0.5), 127), -127) AS INTEGER))
               AS qvec
    FROM embeddings
    """,
)
def embedding_int8_quantize(spark, sf_dir):
    """Symmetric per-vector int8 quantization of the embedding column:
    scale = 127/max|v|, q_i = clamp(floor(v_i*scale + 0.5), ±127).
    The standard 4× memory cut for a billion-vector store (int8
    SDOT/VNNI scoring downstream); per-vector scales keep the max
    quantization error at 1/254 of each vector's range regardless of
    norm spread. Map-only, builtin higher-order functions.

    Rounding is floor(x+0.5) SPELLED OUT on both engine and oracle —
    Spark rounds half-up, DuckDB half-even, so a bare round() would
    hash-mismatch on exact .5 boundaries. Recall preserved ≥0.9 vs
    fp32 (test_phase7)."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = 127.0 / F.greatest(amax, F.lit(1e-30))
    q = F.transform(
        v,
        lambda x: F.greatest(
            F.least(F.floor(x * scale + 0.5), F.lit(127.0)), F.lit(-127.0)
        ).cast("int"),
    )
    return emb.select(
        "vec_id",
        F.round(scale, 6).alias("scale"),
        q.alias("qvec"),
    )


# ---------------------------------------------------------------------------
# Two-stage retrieval: cheap recall stage -> expensive rerank stage
# ---------------------------------------------------------------------------

_RERANK_K1 = 20
_RERANK_K = 5
_RERANK_QMOD = 50  # every 50th vector is a serving query; corpus stays full


@_register(
    "rerank_two_stage",
    f"""
    WITH stage1 AS (
        SELECT query_id, neighbor_id, cosine FROM (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                   ROUND({_COSINE_SQL}, 6) AS cosine,
                   ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                      ORDER BY {_COSINE_SQL} DESC, b.vec_id) AS r1
            FROM embeddings a JOIN embeddings b
              ON a.vec_id <> b.vec_id
            WHERE a.vec_id % {_RERANK_QMOD} = 0)
        WHERE r1 <= {_RERANK_K1}),
    scored AS (
        SELECT query_id, neighbor_id,
               ROUND(0.7 * cosine
                     + 0.3 * (CAST(('0x' || substring(md5(
                           CAST(query_id AS VARCHAR) || ':' ||
                           CAST(neighbor_id AS VARCHAR)), 1, 4)) AS INTEGER)
                         / 65535.0), 6) AS rerank_score
        FROM stage1)
    SELECT query_id, neighbor_id, rerank_score, CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY rerank_score DESC,
                                                neighbor_id) AS rnk
          FROM scored)
    WHERE rnk <= {_RERANK_K}
    """,
)
def rerank_two_stage(spark, sf_dir):
    """Two-stage retrieval, the serving pattern every RAG/search stack
    runs: a cheap high-recall stage-1 (top-{_RERANK_K1} by embedding
    cosine) feeds an expensive stage-2 scorer over candidates ONLY —
    here a deterministic md5-derived stand-in for a cross-encoder,
    blended 0.7·cosine + 0.3·model — and the final top-{_RERANK_K} is
    ranked by the blend. At 100 TB the stage-2 model (the costly part)
    touches k1·queries rows instead of corpus·queries; the md5 stub
    keeps the whole pipeline under the hash gate (swap one column
    expression for a real scorer UDF in production).

    Serving shape: the QUERY side is a workload (here every
    {_RERANK_QMOD}th vector — queries are a stream, not the corpus),
    the corpus side is full. THIS registered entry pins
    ``stage1="exact"`` (the brute-force scorer) so the end-to-end
    result stays deterministic and hash-checkable against the DuckDB
    oracle — the workload streams through the same exact-cosine block
    scan as ``embedding_cosine_topk`` (the quadratic baseline, one
    query against every corpus row). The 100 TB serving shape is
    ``rerank_two_stage_ann`` (stage1="lsh"): identical stage-2 blend
    and top-k, candidates from the bucketed ANN tier — per-query cost
    ~tables·probes·sqrt(n) instead of n; ``stage1="ivfpq"`` wires the
    compressed-index tier the same way
    (recall vs this exact pipeline gated ≥0.9 in
    ``tests/test_similarity.py`` and the sf1 probe)."""
    return _rerank_pipeline(spark, sf_dir, stage1="exact")


def _rerank_pipeline(spark, sf_dir, stage1: str = "exact"):
    """Shared two-stage pipeline; ``stage1`` picks the candidate
    generator (VERDICT r4 #1): "exact" = brute-force cosine (oracle
    anchor), "lsh" = multiprobe hyperplane LSH, "ivfpq" = compressed
    IVF-PQ index — all through the operators' ``queries=`` workload
    hook, so only workload vectors probe while the index/corpus side
    stays full. Stage-2 (the expensive model stand-in, the blend, and
    the final top-k) is byte-identical across backends."""
    emb = load_table(spark, sf_dir, "embeddings")
    workload = emb.filter(F.col("vec_id") % _RERANK_QMOD == 0)
    if stage1 == "exact":
        from udacity_capstone_data_engineering_spark.operators.similarity import (
            brute_force_topk,
        )

        s1 = brute_force_topk(
            emb, "vec_id", "embedding", k=_RERANK_K1, queries=workload
        )
    elif stage1 == "lsh":
        from udacity_capstone_data_engineering_spark.operators.similarity import (
            lsh_topk,
        )

        dim = int(emb.select(F.size("embedding").alias("d")).head()["d"])
        s1 = lsh_topk(
            emb, "vec_id", "embedding", dim, k=_RERANK_K1, queries=workload
        )
    elif stage1 == "ivfpq":
        from udacity_capstone_data_engineering_spark.operators.pq import (
            ivfpq_topk,
        )

        dim = int(emb.select(F.size("embedding").alias("d")).head()["d"])
        s1 = ivfpq_topk(
            emb, "vec_id", "embedding", dim, k=_RERANK_K1, queries=workload
        )
    else:
        raise ValueError(f"unknown stage1 backend: {stage1!r}")
    return _rerank_stage2(s1)


def _rerank_stage2(stage1):
    fake_model = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("query_id").cast("string"),
                        F.col("neighbor_id").cast("string"),
                    )
                ),
                1,
                4,
            ),
            16,
            10,
        ).cast("double")
        / 65535.0
    )
    scored = stage1.select(
        "query_id",
        "neighbor_id",
        F.round(0.7 * F.col("cosine") + 0.3 * fake_model, 6).alias(
            "rerank_score"
        ),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("rerank_score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _RERANK_K)
        .select("query_id", "neighbor_id", "rerank_score", "rnk")
    )


@_register("rerank_two_stage_ann", None)
def rerank_two_stage_ann(spark, sf_dir):
    """The serving-shape twin of ``rerank_two_stage`` (VERDICT r4 #1):
    stage-1 candidates come from the multiprobe-LSH tier through its
    ``queries=`` workload hook instead of the brute-force scorer, so
    per-query stage-1 cost is ~tables·probes·sqrt(n) bucket rows
    instead of a corpus-linear scan; stage-2 (the md5 model stand-in,
    the 0.7/0.3 blend, the final top-{_RERANK_K}) is byte-identical to
    the exact pipeline. Approximate by construction — no SQL oracle;
    gated instead by the end-to-end final-top-k recall test against
    the exact pipeline (≥0.9, ``tests/test_similarity.py``) and the
    sf1 probe's 20k row, mirroring how the other ANN rows are gated
    through ``ann_recall_report``."""
    return _rerank_pipeline(spark, sf_dir, stage1="lsh")


# ---------------------------------------------------------------------------
# ANN third path: product quantization (PQ + ADC + exact rerank)
# ---------------------------------------------------------------------------


@_register("embedding_pq_topk", None)
def embedding_pq_topk(spark, sf_dir):
    """Approximate top-5 neighbors via product quantization: vectors
    compressed to 8 one-byte codes (64× smaller than raw — the index
    broadcasts where vectors cannot), ADC lookup-table scan for
    candidates, exact cosine rerank of the top slice. Approximate ⇒
    rows-only under the driver gate; recall is hash-gated through the
    'pq' row of ``ann_recall_report`` and pinned ≥0.95 in tests.
    See ``operators/pq.py`` for the auto-sized rerank cut (constant
    corpus fraction — the knob-coupling law, third application)."""
    from udacity_capstone_data_engineering_spark.operators.pq import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_topk(emb, "vec_id", "embedding", dim=64, k=5)


@_register("embedding_ivfpq_topk", None)
def embedding_ivfpq_topk(spark, sf_dir):
    """IVF-PQ composition: PQ codes grouped into IVF cells so each
    query ADC-scans only its probed cells' codes — sub-linear scan
    over the 64×-compressed index, the billion-vector serving layout.
    Pinned at the recall report's 16-cell/nprobe-12 operating point
    (recall tracks plain IVF with ~2 points of PQ cut; auto knobs
    trade recall for a 1/4-of-cells scan exactly like plain IVF).
    Rows-only under the gate; recall hash-gated via the 'ivfpq' row
    of ``ann_recall_report`` and pinned ≥0.9 in tests."""
    from udacity_capstone_data_engineering_spark.operators.pq import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_topk(
        emb, "vec_id", "embedding", dim=64, k=5, n_centroids=16, nprobe=12
    )


# ---------------------------------------------------------------------------
# Retrieval: inverted-index build
# ---------------------------------------------------------------------------

_INDEX_OCC_SQL = (
    "SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'), "
    "t -> t <> '')) AS tok, doc_id AS doc FROM documents"
)


@_register("inverted_index_postings", inverted_index_oracle_sql(_INDEX_OCC_SQL))
def inverted_index_postings(spark, sf_dir):
    """Inverted index over the corpus: per token, document frequency,
    collection frequency, and the posting list of the 8 smallest doc
    ids — built with hash-keyed shuffles and a two-level min-K
    tournament so no stopword ever owns a corpus-sized partition
    (``operators/inverted_index.py``)."""
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    occ = docs.select(
        F.col("doc_id"),
        F.explode(F.filter(tokens(F.col("text")), lambda t: t != "")).alias("token"),
    )
    return inverted_index(occ, "token", "doc_id")


# ---------------------------------------------------------------------------
# Iterative ML: exact-integer k-means over embeddings
# ---------------------------------------------------------------------------


@_register("embedding_kmeans_int", kmeans_int_oracle_sql())
def embedding_kmeans_int(spark, sf_dir):
    """Fixed-iteration Lloyd k-means over the embedding corpus in
    EXACT BIGINT arithmetic (quantize -> assign -> floor-div update),
    so the iterative fixpoint is bit-equal across engines and the
    clustering carries a full value-hash oracle — the second
    application of the PageRank pattern, extended from graph ranking
    to iterative ML (``operators/kmeans.py``). Assignment is map-only
    against broadcast literal centroids; the update is one k x d
    tree-aggregated collect per round (the MLlib layout)."""
    vecs = fan_out_small_scan(load_table(spark, sf_dir, "embeddings"))
    return kmeans_int(vecs, "vec_id", "embedding")


# ---------------------------------------------------------------------------
# Retrieval: BM25 ranking for a data-derived term workload
# ---------------------------------------------------------------------------

_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TERMS = 8
_BM25_TOPN = 50

_BM25_SQL = f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(trim(lower(text)),
                                                      '\\s+'), t -> t <> ''))
               AS token
      FROM documents),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT token, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
    terms AS (
      SELECT token, df FROM (
        SELECT token, df,
               row_number() OVER (ORDER BY df, token) AS rn FROM df)
      WHERE rn <= {_BM25_TERMS}),
    doclen AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
    stats AS (
      SELECT (SELECT count(*) FROM documents) AS n_docs,
             (SELECT count(*) FROM toks) AS total_toks),
    contrib AS (
      SELECT tf.doc_id,
        CAST(ROUND(
          ln(1 + (n_docs - t.df + 0.5) / (t.df + 0.5))
          * tf.tf * ({_BM25_K1} + 1)
          / (tf.tf + {_BM25_K1} * (1 - {_BM25_B}
             + {_BM25_B} * dl.dl
               / (CAST(total_toks AS DOUBLE) / n_docs))),
          9) AS DECIMAL(18, 9)) AS c
      FROM tf JOIN terms t USING (token)
      JOIN doclen dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats),
    scored AS (
      SELECT doc_id, ROUND(CAST(sum(c) AS DOUBLE), 6) AS score,
             count(*) AS n_matched
      FROM contrib GROUP BY doc_id)
    SELECT doc_id, score, n_matched
    FROM scored ORDER BY score DESC, doc_id LIMIT {_BM25_TOPN}
"""


@_register("bm25_topk_docs", _BM25_SQL)
def bm25_topk_docs(spark, sf_dir):
    """BM25 ranking over the corpus for a DATA-DERIVED term workload
    (the 8 rarest tokens — the discriminative end of the vocabulary):
    idf * tf-saturation * length normalization, per-term contributions
    quantized to DECIMAL(18,9) before the per-doc sum (house rule: the
    sum must be order-independent for the hash gate; one final double
    round). Scale shape: tf/df/doclen are the inverted-index
    aggregates; the term set and corpus stats are vocabulary-sized
    TakeOrdered / scalar aggs entering as broadcasts; top-50 under a
    (score, doc_id) total order is TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(tokens(F.lower(F.col("text"))), lambda t: t != "")
        ).alias("token"),
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("token").agg(F.count_distinct("doc_id").alias("df"))
    terms = df.orderBy("df", "token").limit(_BM25_TERMS)
    doclen = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = docs.agg(F.count(F.lit(1)).alias("n_docs")).crossJoin(
        toks.agg(F.count(F.lit(1)).alias("total_toks"))
    )
    k1, b = _BM25_K1, _BM25_B
    avgdl = F.col("total_toks").cast("double") / F.col("n_docs")
    idf = F.log(
        1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + k1 * (1 - b + b * F.col("dl") / avgdl)
    contrib = tf.join(F.broadcast(terms), "token").join(doclen, "doc_id").crossJoin(
        F.broadcast(stats)
    ).select(
        "doc_id",
        F.round(idf * F.col("tf") * (k1 + 1) / denom, 9)
        .cast("decimal(18,9)")
        .alias("c"),
    )
    scored = contrib.groupBy("doc_id").agg(
        F.round(F.sum("c").cast("double"), 6).alias("score"),
        F.count(F.lit(1)).alias("n_matched"),
    )
    return scored.orderBy(F.desc("score"), "doc_id").limit(_BM25_TOPN)


# ---------------------------------------------------------------------------
# Linear algebra: integer gram matrix of the embedding corpus (PCA prep)
# ---------------------------------------------------------------------------

_GRAM_SCALE = 1024

_GRAM_SQL = f"""
    WITH q AS (
      SELECT list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) * {_GRAM_SCALE} + 0.5)
                           AS BIGINT)) AS qv
      FROM embeddings),
    cells AS (
      SELECT u.i AS i, u.j AS j, u.p AS p FROM (
        SELECT unnest(flatten(list_transform(range(1, len(qv) + 1),
                   i -> list_transform(range(i, len(qv) + 1),
                       j -> {{'i': i, 'j': j, 'p': qv[i] * qv[j]}})))) AS u
        FROM q))
    SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
           CAST(sum(p) AS BIGINT) AS g
    FROM cells GROUP BY 1, 2
"""


@_register("embedding_gram_matrix", _GRAM_SQL)
def embedding_gram_matrix(spark, sf_dir):
    """Upper-triangle gram matrix G[i,j] = sum over vectors of
    qv[i]*qv[j] on the floor-rounded integer quantization — the
    PCA/whitening precursor (covariance = G/n - mean outer product,
    driver-side arithmetic on this d^2-sized output). Exact BIGINT
    products make the reduction order-independent, so the matrix
    itself is hash-gated. Scale shape: the d(d+1)/2 products per
    vector are built by nested builtin HOFs and exploded MAP-ONLY —
    no self-join — then one aggregation onto d^2-bounded cells with
    map-side combine; shuffle bytes are partitions x 2080 cells
    regardless of corpus size."""
    vecs = fan_out_small_scan(load_table(spark, sf_dir, "embeddings"))
    d = F.size("qv")
    q = vecs.select(
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * _GRAM_SCALE + F.lit(0.5)).cast(
                "long"
            ),
        ).alias("qv")
    )
    pairs = q.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), d),
                    lambda i: F.transform(
                        F.sequence(i, d),
                        lambda j: F.struct(
                            i.cast("int").alias("i"),
                            j.cast("int").alias("j"),
                            (
                                F.element_at("qv", i) * F.element_at("qv", j)
                            ).alias("p"),
                        ),
                    ),
                )
            )
        ).alias("u")
    )
    return pairs.select("u.i", "u.j", "u.p").groupBy("i", "j").agg(
        F.sum("p").alias("g")
    )


# ---------------------------------------------------------------------------
# Linear algebra: correlation matrix from the integer gram machinery
# ---------------------------------------------------------------------------

_CORR_SCALE = 1024

_CORR_SQL = f"""
    WITH q AS (
      SELECT list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) * {_CORR_SCALE} + 0.5)
                           AS BIGINT)) AS qv
      FROM embeddings),
    cells AS (
      SELECT u.i AS i, u.j AS j, CAST(sum(u.p) AS BIGINT) AS g FROM (
        SELECT unnest(flatten(list_transform(range(1, len(qv) + 1),
                   i -> list_transform(range(i, len(qv) + 1),
                       j -> {{'i': i, 'j': j, 'p': qv[i] * qv[j]}})))) AS u
        FROM q)
      GROUP BY 1, 2),
    sums AS (
      SELECT v.dim AS dim, CAST(sum(v.val) AS BIGINT) AS s FROM (
        SELECT unnest(list_transform(range(1, len(qv) + 1),
                   d -> {{'dim': d, 'val': qv[d]}})) AS v
        FROM q)
      GROUP BY 1),
    stats AS (SELECT count(*) AS n FROM q),
    var AS (
      SELECT c.i AS dim, (s.n * c.g - m.s * m.s) AS v
      FROM cells c JOIN sums m ON m.dim = c.i CROSS JOIN stats s
      WHERE c.i = c.j)
    SELECT CAST(c.i AS INTEGER) AS i, CAST(c.j AS INTEGER) AS j,
           ROUND((st.n * c.g - si.s * sj.s)
                 / sqrt(CAST(vi.v AS DOUBLE) * CAST(vj.v AS DOUBLE)),
                 6) AS corr
    FROM cells c
    JOIN sums si ON si.dim = c.i
    JOIN sums sj ON sj.dim = c.j
    JOIN var vi ON vi.dim = c.i
    JOIN var vj ON vj.dim = c.j
    CROSS JOIN stats st
    WHERE c.i < c.j
"""


@_register("embedding_corr_matrix", _CORR_SQL)
def embedding_corr_matrix(spark, sf_dir):
    """Pearson correlation matrix of the embedding dimensions, derived
    from the integer gram machinery (`embedding_gram_matrix`'s map-only
    outer-product reduction): corr_ij = (n*G_ij - S_i*S_j) /
    sqrt((n*G_ii - S_i^2)(n*G_jj - S_j^2)) with every G/S/n an exact
    BIGINT, so only the final expression touches doubles — and its
    sqrt makes rounding ties measure-zero (the documented safe case).
    This is the whitening/PCA input: the driver takes the d^2-sized
    output and eigendecomposes locally. Scale shape identical to the
    gram query — one map-only HOF explode, one d^2-bounded
    aggregation, then joins against the d-sized sums/vars relations
    (broadcast). Overflow: n*G <= n^2*(scale*max|x|)^2 — at 1e9+ rows
    drop the quantization scale, precision is relative (the PageRank
    rescaling note applies)."""
    vecs = fan_out_small_scan(load_table(spark, sf_dir, "embeddings"))
    d = F.size("qv")
    q = vecs.select(
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * _CORR_SCALE + F.lit(0.5)).cast(
                "long"
            ),
        ).alias("qv")
    ).persist()
    cells = (
        q.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.sequence(F.lit(1), d),
                        lambda i: F.transform(
                            F.sequence(i, d),
                            lambda j: F.struct(
                                i.cast("int").alias("i"),
                                j.cast("int").alias("j"),
                                (
                                    F.element_at("qv", i) * F.element_at("qv", j)
                                ).alias("p"),
                            ),
                        ),
                    )
                )
            ).alias("u")
        )
        .select("u.i", "u.j", "u.p")
        .groupBy("i", "j")
        .agg(F.sum("p").alias("g"))
    )
    sums = (
        q.select(F.posexplode("qv").alias("dim0", "val"))
        .select((F.col("dim0") + 1).alias("dim"), "val")
        .groupBy("dim")
        .agg(F.sum("val").alias("s"))
    )
    stats = q.agg(F.count(F.lit(1)).alias("n"))
    var = (
        cells.filter(F.col("i") == F.col("j"))
        .join(F.broadcast(sums), F.col("i") == F.col("dim"))
        .crossJoin(F.broadcast(stats))
        .select(
            F.col("i").alias("vdim"),
            (F.col("n") * F.col("g") - F.col("s") * F.col("s")).alias("v"),
        )
    )
    si = sums.select(F.col("dim").alias("i"), F.col("s").alias("si"))
    sj = sums.select(F.col("dim").alias("j"), F.col("s").alias("sj"))
    vi = var.select(F.col("vdim").alias("i"), F.col("v").alias("vi"))
    vj = var.select(F.col("vdim").alias("j"), F.col("v").alias("vj"))
    out = (
        cells.filter(F.col("i") < F.col("j"))
        .join(F.broadcast(si), "i")
        .join(F.broadcast(sj), "j")
        .join(F.broadcast(vi), "i")
        .join(F.broadcast(vj), "j")
        .crossJoin(F.broadcast(stats))
        .select(
            "i",
            "j",
            F.round(
                (F.col("n") * F.col("g") - F.col("si") * F.col("sj"))
                / F.sqrt(
                    F.col("vi").cast("double") * F.col("vj").cast("double")
                ),
                6,
            ).alias("corr"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# Embeddings: Johnson-Lindenstrauss random projection (ANN preprocessing)
# ---------------------------------------------------------------------------

_JL_OUT_DIMS = 16
_JL_SCALE = 1024


@_register(
    "embedding_random_projection",
    f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) * {_JL_SCALE} + 0.5)
                           AS BIGINT)) AS qv
      FROM embeddings),
    vdim AS (
      SELECT vec_id, u.i AS i, u.val AS val FROM (
        SELECT vec_id, unnest(list_transform(range(1, len(qv) + 1),
                   i -> {{'i': i - 1, 'val': qv[i]}})) AS u
        FROM q))
    SELECT v.vec_id, CAST(j AS INTEGER) AS out_dim,
           CAST(sum(v.val * (1 - 2 * ({portable_hash64_sql(
               "CAST(v.i AS VARCHAR) || '_' || CAST(j AS VARCHAR)")} % 2)))
             AS BIGINT) AS proj
    FROM vdim v, range({_JL_OUT_DIMS}) t(j)
    GROUP BY 1, 2
    """,
)
def embedding_random_projection(spark, sf_dir):
    """Johnson-Lindenstrauss dimensionality reduction (Achlioptas
    ±1 signs): project the 64-dim embeddings to 16 dims with a
    DETERMINISTIC sign matrix — sign(i,j) = 1 - 2*(h(i_j) % 2) from
    the portable 60-bit hash, so the projection is a pure function of
    the coordinates: engine-portable, repartition-stable, and (on the
    floor-quantized integer grid) fully value-hash-gateable. This is
    the standard ANN/sketch preprocessing step: downstream LSH or
    clustering runs on 4x fewer dimensions with (1±eps)-preserved
    distances. Scale shape: one map-only posexplode x 16 output dims
    (the sign is computed inline — no sign-matrix join), one
    (vec, out_dim)-keyed aggregation with map-side combine; at 100 TB
    this is scan-bound, shuffle bytes are n*16 longs."""
    vecs = fan_out_small_scan(load_table(spark, sf_dir, "embeddings"))
    q = vecs.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * _JL_SCALE + F.lit(0.5)).cast(
                "long"
            ),
        ).alias("qv"),
    )
    vdim = q.select("vec_id", F.posexplode("qv").alias("i", "val"))
    dims = F.broadcast(
        spark.range(_JL_OUT_DIMS).select(F.col("id").cast("int").alias("out_dim"))
    )
    sign = 1 - 2 * F.pmod(
        portable_hash64(
            F.concat(
                F.col("i").cast("string"), F.lit("_"), F.col("out_dim").cast("string")
            )
        ),
        F.lit(2),
    )
    return (
        vdim.crossJoin(dims)
        .groupBy("vec_id", "out_dim")
        .agg(F.sum(F.col("val") * sign).alias("proj"))
    )


# ---------------------------------------------------------------------------
# JL on STRUCTURED embeddings (VERDICT r7 #7): the manifold fixture
# ---------------------------------------------------------------------------

_JLM_OUT_DIMS = 16
_JLM_CAND_K = 50
_JLM_BOUND = 0.9  # measured 0.9844 (n=500) / 0.9767 (n=2000); see SCALING.md


@_register(
    "jl_manifold_capture",
    f"""
    SELECT 'lsh_jl_manifold' AS method,
           (SELECT COUNT(*) * 5 FROM embeddings) AS n_pairs,
           TRUE AS capture_ok
    """,
)
def jl_manifold_capture(spark, sf_dir):
    """End-to-end JL capture on a LOW-INTRINSIC-DIMENSION corpus
    (VERDICT r7 #7): the r7 sweep honestly showed the isotropic test
    embeddings are JL's worst case (capture 0.48 @ 16d — top-5 margins
    are O(1/sqrt(dim)) near-ties no 4x projection preserves), so the
    end-to-end hook was measured but not gated there. This row gates
    it on the fixture the hook exists for: `manifold_embeddings`
    places every vector on an exact 8-d md5-deterministic linear
    manifold inside R^64 (the structure real embedding corpora have),
    where distances are governed by 8 effective dimensions and a
    64->16 projection preserves neighborhoods. capture_ok flips false
    if |top5_exact64 ∩ LSH-top50-on-16d-projection| / |top5_exact64|
    drops below 0.9 (measured: 0.9844 at n=500, 0.9767 at n=2000 —
    vs 0.48 isotropic; 32d captures 0.9994+). n_pairs doubles as the
    structural exact-top-5 check. The serving shape this validates:
    project once (map-only literal sign matrix), build the candidate
    index in d/4 dims at 1/4 the flops, exact-rerank the short
    candidate list in full dims."""
    from udacity_capstone_data_engineering_spark.operators.similarity import (
        brute_force_topk,
        jl_project,
        lsh_topk,
        manifold_embeddings,
    )

    ids = load_table(spark, sf_dir, "embeddings").select("vec_id")
    man = manifold_embeddings(ids, "vec_id").localCheckpoint(eager=True)
    exact = (
        brute_force_topk(man, "vec_id", "embedding", k=5)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )
    proj = jl_project(man, "vec_id", "embedding", _JLM_OUT_DIMS)
    cand = lsh_topk(
        proj, "vec_id", "embedding", dim=_JLM_OUT_DIMS, k=_JLM_CAND_K
    )
    hits = exact.join(
        cand.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
    ).agg(F.count(F.lit(1)).alias("hits"))
    tot = exact.agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    return hits.crossJoin(tot).select(
        F.lit("lsh_jl_manifold").alias("method"),
        "n_pairs",
        (F.col("hits") / F.col("n_pairs") >= F.lit(_JLM_BOUND)).alias(
            "capture_ok"
        ),
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
