"""Phase-12 query tier (round 7): VERDICT r6's forward items —
incremental SemDeDup against a standing centroid index, perceptual
image dedup (dHash + Hamming-banded near-dup pairs), and the JL
random projection composed into the ANN tier as preprocessing.

Same contract as ``queries.py`` (imported at the end of that module so
everything lands in one registry); house determinism rules apply.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from udacity_capstone_data_engineering_spark.operators.semdedup import (
    semantic_dedup_incremental,
    semantic_dedup_incremental_oracle_sql,
)
from udacity_capstone_data_engineering_spark.queries import _register
from udacity_capstone_data_engineering_spark.sources.catalog import (
    _SEM_INC_MOD,
    artifact_base,
    fan_out_small_scan,
    load_table,
)

# ---------------------------------------------------------------------------
# Incremental SemDeDup: batch vs standing centroid index (VERDICT r6 #9)
# ---------------------------------------------------------------------------

@_register(
    "semantic_dedup_incremental",
    semantic_dedup_incremental_oracle_sql(
        f"(SELECT * FROM embeddings WHERE vec_id % {_SEM_INC_MOD} <> 0)",
        f"(SELECT * FROM embeddings WHERE vec_id % {_SEM_INC_MOD} = 0)",
    ),
)
def semantic_dedup_incremental_batch(spark, sf_dir):
    """Incremental SemDeDup (VERDICT r6 #9): marry round 6's two
    closures — the auto-k standing cluster index and the
    incremental-ingest shape. The standing corpus (9 in 10 vectors)
    is Lloyd-clustered ONCE; the incoming batch (1 in 10) is assigned
    to the nearest STANDING centroid (map-only, by the broadcast Arrow
    kernel at every k) and eps-checked only against its assigned
    cluster's exact-collapse representatives. The petabyte standing
    side never re-clusters and never reshuffles per batch; only the
    batch moves. The oracle
    replays the standing k-means CTE chain (k from a count(*) scalar
    subquery), assigns the batch against the final centroid relation
    with the same (dist, cid) tie rule, and exists-checks the eps
    ball — full value-hash gate, cluster ids included."""
    emb = load_table(spark, sf_dir, "embeddings")
    standing = fan_out_small_scan(
        emb.filter(F.col("vec_id") % _SEM_INC_MOD != 0)
    )
    batch = fan_out_small_scan(emb.filter(F.col("vec_id") % _SEM_INC_MOD == 0))
    return semantic_dedup_incremental(
        standing, batch, "vec_id", "embedding", k=None
    )


@_register(
    "semantic_dedup_standing_index",
    semantic_dedup_incremental_oracle_sql(
        f"(SELECT * FROM embeddings WHERE vec_id % {_SEM_INC_MOD} <> 0)",
        f"(SELECT * FROM embeddings WHERE vec_id % {_SEM_INC_MOD} = 0)",
    ),
)
def semantic_dedup_standing_index_q(spark, sf_dir):
    """Incremental SemDeDup against a PERSISTED standing index
    (VERDICT r7 #2): ``semantic_dedup_incremental`` proves the verdict
    semantics but re-fits Lloyd on the standing corpus every call; the
    real ingest regime fits ONCE, saves centroids + exact-collapse
    representatives (``build_semantic_index``), and serves each batch
    from the LOADED artifact — no standing-corpus scan, no Lloyd, the
    batch assigned map-only and eps-checked against its cluster's
    representatives read straight off parquet. Builds the artifact
    only when ABSENT (VERDICT r8 #4 — the r8 version rebuilt every
    call, so its 31.2 s bench row conflated once-per-corpus build cost
    with the per-batch serve cost; ``semantic_dedup_index_build`` in
    phase 15 is now the build row, runs first in bench order, and this
    row's wall is SERVE-ONLY). Self-contained under any-subset
    correctness runs: a missing artifact is built in-row, and the
    build is deterministic, so results are identical either way. Same
    oracle as the in-process row — the artifact round-trip is
    verdict-lossless (integer centroids and quantized vectors in
    BIGINT arrays) — so the persisted path sits under the full
    value-hash gate."""
    import os

    from udacity_capstone_data_engineering_spark.operators.semdedup import (
        build_semantic_index,
        semantic_dedup_against_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    batch = fan_out_small_scan(emb.filter(F.col("vec_id") % _SEM_INC_MOD == 0))
    base = artifact_base(spark, sf_dir, "sem_index")
    if not os.path.exists(os.path.join(base, "meta")):
        standing = fan_out_small_scan(
            emb.filter(F.col("vec_id") % _SEM_INC_MOD != 0)
        )
        build_semantic_index(standing, "vec_id", "embedding", base, k=None)
    return semantic_dedup_against_index(
        spark, batch, "vec_id", "embedding", base
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
# Image perceptual dedup: dHash + Hamming-banded near-dup pairs (r6 #8)
# ---------------------------------------------------------------------------

from udacity_capstone_data_engineering_spark.queries_phase11 import (  # noqa: E402
    _CORRUPT_MOD,
    _PPM_H,
    _PPM_W,
    _ppm_payloads,
)

_DH_BANDS = 4
_DH_BAND_BITS = 7  # ceil(28 / 4) for the (w-1)*h = 28-bit gate corpus
_DH_MAX_HAMMING = 6

# Shared SQL: per-doc dHash recomputed from the raw text bytes (the
# same substring+ascii byte oracle as image_decode_stats). Positions:
# pixel (r, c) lives at text offset 3*(W*r+c)+1..3; luma = sum // 3;
# bit p = r*(W-1)+c set iff luma(r,c) < luma(r,c+1).
_DH_LUMA = (
    "((ascii(substring(text, CAST(3*({w}*r+{c})+1 AS INT), 1))"
    " + ascii(substring(text, CAST(3*({w}*r+{c})+2 AS INT), 1))"
    " + ascii(substring(text, CAST(3*({w}*r+{c})+3 AS INT), 1))) // 3)"
)
_DH_SQL_BASE = f"""
    d AS (SELECT doc_id, text FROM documents
          WHERE strlen(text) >= {_PPM_W * _PPM_H * 3}
            AND length(text) = strlen(text)
            AND doc_id % {_CORRUPT_MOD} <> 0),
    bits AS (
      SELECT doc_id, CAST(r * {_PPM_W - 1} + c AS INT) AS p,
             CASE WHEN {_DH_LUMA.format(w=_PPM_W, c="c")}
                     < {_DH_LUMA.format(w=_PPM_W, c="(c+1)")}
                  THEN 1 ELSE 0 END AS b
      FROM d, range({_PPM_H}) t1(r), range({_PPM_W - 1}) t2(c)),
    dh AS (
      SELECT doc_id,
             CAST(sum(b * (CAST(1 AS BIGINT) << p)) AS BIGINT) AS dhash
      FROM bits GROUP BY doc_id)"""


@_register(
    "image_dhash_docs",
    f"""
    WITH {_DH_SQL_BASE}
    SELECT doc_id, {_PPM_W} AS width, {_PPM_H} AS height,
           {(_PPM_W - 1) * _PPM_H} AS nbits, dhash
    FROM dh
    """,
)
def image_dhash_docs(spark, sf_dir):
    """Perceptual dHash over the decoded PPM corpus (VERDICT r6 #8):
    gradient-sign bits on exact integer luma, packed into a BIGINT —
    brightness-shift-invariant, byte-exact, and recomputed bit-for-bit
    by the oracle from the raw text bytes. Corrupt payloads (the
    1-in-7 truncations) contribute no rows, matching the decoder's
    quarantine contract. Map-only over Arrow batches — the 100 TB
    shape is one scan, no shuffle."""
    from udacity_capstone_data_engineering_spark.operators.multimodal import (
        image_dhash,
    )

    return image_dhash(_ppm_payloads(spark, sf_dir), "payload", "doc_id")


@_register(
    "image_near_dup_pairs",
    f"""
    WITH {_DH_SQL_BASE},
    bands AS (
      SELECT doc_id, dhash, CAST(j AS INT) AS band_idx,
             (dhash // (CAST(1 AS BIGINT) << CAST({_DH_BAND_BITS} * j AS INT)))
               % {1 << _DH_BAND_BITS} AS band_val
      FROM dh, range({_DH_BANDS}) t(j)),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      a.dhash AS ha, b.dhash AS hb
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(ha, hb)) <= {_DH_MAX_HAMMING}
    """,
)
def image_near_dup_pairs(spark, sf_dir):
    """Image near-dup detection via Hamming-banded dHash (VERDICT r6
    #8): the SimHash banding machinery applied to the image tier.
    Candidates come from an equi-join on (band_idx, band_val) — never
    an all-pairs product — and survive iff full Hamming distance <=
    6. Semantics are BANDED on both engines (a pair must share at
    least one clean band), so the oracle reproduces the operator
    exactly; for thresholds < band count the pigeonhole makes banding
    lossless. Production knob: band width grows with log(n) exactly as
    in the MinHash tier, so bucket sizes — and with them candidate
    volume — stay bounded as the corpus grows."""
    from udacity_capstone_data_engineering_spark.operators.multimodal import (
        image_dhash,
    )

    dh = image_dhash(_ppm_payloads(spark, sf_dir), "payload", "doc_id")
    mask = (1 << _DH_BAND_BITS) - 1
    band_arr = F.array(
        *[
            F.expr(f"shiftright(dhash, {_DH_BAND_BITS * j}) & {mask}")
            for j in range(_DH_BANDS)
        ]
    )
    bands = dh.select(
        "doc_id",
        "dhash",
        "nbits",
        F.posexplode(band_arr).alias("band_idx", "band_val"),
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.nbits") == F.col("b.nbits"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.dhash").alias("ha"),
            F.col("b.dhash").alias("hb"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.expr("bit_count(ha ^ hb)").cast("int"))
        .filter(F.col("hamming") <= _DH_MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
    )
