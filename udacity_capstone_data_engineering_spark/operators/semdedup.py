"""SemDeDup: semantic deduplication of an embedding corpus via
within-cluster epsilon-ball pruning (Abbas et al. 2023, arXiv
2303.09540).

The missing member of the dedup family: exact dedup catches byte
twins, MinHash/SimHash catch lexical near-twins — semantic dedup
catches REWORDED duplicates whose embeddings land close together.
The published recipe: k-means-cluster the embedding corpus, compare
pairs only WITHIN a cluster, and drop all but one representative of
every near-duplicate neighborhood. Clustering is what makes it
tractable: candidate pairs are sum-of-cluster-sizes-squared, not
corpus-squared, and k grows with the corpus to hold cluster sizes
bounded.

This implementation composes two operators the repo already trusts:
- clusters come from the EXACT-INTEGER Lloyd k-means
  (``operators/kmeans.py``), so the partition is bit-equal across
  engines and the whole result — cluster ids included — stays under
  the full value-hash oracle gate (no other SemDeDup oracle story
  survives float k-means);
- closeness is exact integer squared L2 on the same floor-rounded
  quantization, thresholded at ``eps`` (on unit-normalized embeddings
  squared L2 is monotone in cosine, so an eps-ball IS a cosine
  threshold up to the quantization grid).

Keep rule (deterministic): a vector is a duplicate iff some
SMALLER-id vector lies within eps in the same cluster — the id-order
greedy the exact-dedup tier already uses; every neighborhood keeps
its minimum-id member, and chained near-dups (a~b, b~c, a!~c) prune
to their component representative transitively.

Scale blueprint at 100 TB: raise k so E[cluster] stays bounded
(SemDeDup used 50k clusters for LAION); the pair stage is an
equi-join ON CLUSTER — Spark shuffles both sides by cluster id and
never materializes a corpus square. Two mechanisms make that hold
here (VERDICT r5 #1 — the fixed-k knob was the one remaining
fixed-capacity design in the dedup family):

- **auto-k** (``auto_k``): k = ceil(n / TARGET_CLUSTER), so the
  expected cluster size — and with it the per-cluster pair volume —
  is a CONSTANT as the corpus grows; total candidate pairs are
  ~n * TARGET_CLUSTER / 2, linear in the corpus. The oracle stays a
  full value-hash gate because the k-means CTE chain unrolls per
  ITERATION, never per k: the cluster count enters the SQL as a
  ``count(*)``-derived scalar subquery with the same integer formula.
- **exact-collapse valve** (the LSH tier's boilerplate valve,
  ``operators/dedup.collapse_exact_duplicates`` pattern): identical
  QUANTIZED vectors collapse to their minimum-id representative
  before the pair join. Semantics-preserving, proven: (i) every
  non-representative is a dup of its rep (distance 0 <= eps, same
  cluster, rep id < member id); (ii) if a non-rep x < y witnesses y,
  then x's rep r <= x < y lies at the SAME distance from y (equal
  qv), so r witnesses y too; (iii) a rep y flagged via non-rep x
  implies r_x <= x < y, never a self-witness. This is what bounds
  the hot-cluster skew case — k-means piles exact/near-exact twins
  into ONE cluster no matter how large k is, and after the collapse
  that cluster contributes its DISTINCT-vector count squared, not
  its row count squared (duplicate-heavy fixture: 480 twins -> 1
  representative; see tests/test_round6.py).

The demo query pins k=4 (the hash anchor, unchanged since r5f) and
audits a deterministic 1-in-20 id sample; ``semantic_dedup_autok``
serves the production shape on the full corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from udacity_capstone_data_engineering_spark.operators.kmeans import (
    ITERATIONS,
    K,
    SCALE,
    _assign_kernel,
    _quantize,
    kmeans_int,
    kmeans_oracle_blocks,
)

EPS = 1_600_000  # quantized (scale=1024) squared L2; ~5% dup rate on testdata
SAMPLE_MOD = 20  # deterministic 1-in-20 id sample for the audit query
TARGET_CLUSTER = 64  # auto-k expected cluster size (pair volume ~ n*64/2)


def auto_k(n: int, target_cluster: int = TARGET_CLUSTER) -> int:
    """Cluster count for a corpus of ``n`` vectors: ceil(n / target),
    floored at the pinned demo K and capped at n (Lloyd init takes the
    k smallest ids). Pure integer arithmetic so the DuckDB twin
    (``auto_k_sql``) is bit-equal."""
    return max(1, min(n, max(K, -(-n // target_cluster))))


def auto_k_sql(q_cte: str = "q", target_cluster: int = TARGET_CLUSTER) -> str:
    """The same formula as a DuckDB scalar subquery over the quantized
    CTE (``//`` is DuckDB integer division; counts are BIGINT, so the
    ceil-division spelling ``(n + t - 1) // t`` is exact)."""
    return (
        f"SELECT GREATEST({K}, (count(*) + {target_cluster - 1}) "
        f"// {target_cluster}) FROM {q_cte}"
    )


def _sq_l2(a, b):
    """Exact integer squared L2 of two quantized-vector columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda p, r: (p - r) * (p - r)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def semantic_dedup(
    vecs: DataFrame,
    id_col: str,
    vec_col: str,
    k: int | None = K,
    iterations: int = ITERATIONS,
    scale: int = SCALE,
    eps: int = EPS,
    collapse: bool = True,
) -> DataFrame:
    """Cluster ``vecs`` with integer Lloyd, then flag every vector
    that has a smaller-id within-cluster neighbor at integer squared
    L2 <= eps. Returns ``(id_col, cluster, is_dup)`` over all input
    vectors.

    ``k=None`` auto-sizes the cluster count from the corpus
    (``auto_k`` — one bounded ``count()``, the same class of driver
    action as the Lloyd iteration collects). ``collapse`` routes the
    pair stage through min-id representatives of identical quantized
    vectors — identical results (the module docstring carries the
    proof; ``test_semantic_dedup_collapse_equivalence`` checks it),
    but per-cluster pair volume is distinct²  instead of rows²."""
    if k is None:
        k = auto_k(vecs.count())
    assign = kmeans_int(vecs, id_col, vec_col, k, iterations, scale).select(
        F.col(id_col).alias("vid"), "cluster"
    )
    q = _quantize(vecs, id_col, vec_col, scale)
    # r11: materialize the (vid, cluster, qv) spine — it fans into
    # three branches (representatives, group minima, non-reps) and the
    # optimizer additionally pushed isnotnull(<quantize transform>)
    # filters below the projection (r11 filter audit), so the quantize
    # fold ran up to 5× per vector. One slim integer relation replaces
    # them; the reps self-join above it reuses one exchange.
    a = (
        assign.join(q, "vid")
        .select("vid", "cluster", "qv")
        .localCheckpoint(eager=True)
    )
    if collapse:
        # Representatives: min id per distinct quantized vector (qv
        # determines the cluster — the argmin is a pure function of qv
        # — so carrying cluster through the groupBy is free).
        reps = a.groupBy("cluster", "qv").agg(F.min("vid").alias("vid"))
        pair_side = reps.select("vid", "cluster", "qv")
        # Every non-representative is a dup of its (smaller-id,
        # distance-0) representative — no pair join needed for them.
        grp_min = a.groupBy("qv").agg(F.min("vid").alias("rep_vid"))
        nonrep = (
            a.join(grp_min, "qv")
            .filter(F.col("vid") != F.col("rep_vid"))
            .select("vid")
        )
    else:
        pair_side = a
        nonrep = None
    rep_dups = (
        pair_side.alias("x")
        .join(
            pair_side.alias("y"),
            (F.col("x.cluster") == F.col("y.cluster"))
            & (F.col("x.vid") < F.col("y.vid")),
        )
        .filter(_sq_l2(F.col("x.qv"), F.col("y.qv")) <= F.lit(eps))
        .select(F.col("y.vid").alias("vid"))
    )
    dups = (
        rep_dups if nonrep is None else rep_dups.unionByName(nonrep)
    ).distinct().withColumn("is_dup", F.lit(True))
    return assign.join(dups, "vid", "left").select(
        F.col("vid").alias(id_col),
        "cluster",
        F.coalesce(F.col("is_dup"), F.lit(False)).alias("is_dup"),
    )


def _fit_standing(
    standing: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    iterations: int,
    scale: int,
):
    """``(centroids, representatives)`` of a standing corpus: integer
    Lloyd's k x d int centroids, and the exact-collapse
    representatives ``(cluster, qv, rep_vid)`` — the min id per
    distinct quantized vector of a cluster. Screening a batch against
    representatives only is verdict-preserving (an identical qv sits
    at the same distance) and bounds twin-pileup hot clusters, as in
    the full operator."""
    cents: list = []
    assign = kmeans_int(
        standing, id_col, vec_col, k, iterations, scale, _cents_out=cents
    ).select(F.col(id_col).alias("vid"), "cluster")
    reps = (
        assign.join(_quantize(standing, id_col, vec_col, scale), "vid")
        .groupBy("cluster", "qv")
        .agg(F.min("vid").alias("rep_vid"))
    )
    return cents, reps


def _screen_batch(
    batch: DataFrame,
    id_col: str,
    vec_col: str,
    cents: list,
    reps: DataFrame,
    scale: int,
    eps: int,
) -> DataFrame:
    """The batch side of incremental SemDeDup: assign each batch vector
    to its nearest standing centroid (``kmeans._assign_kernel`` —
    map-only over the batch; the standing corpus never moves), then
    eps-check it against its cluster's representatives only. Returns
    ``(id_col, cluster, is_dup)`` over the batch; a batch vector that
    is NULL, holds a NULL element or is not of the centroid dim gets a
    NULL cluster and is never a dup."""
    # Both branches below read the assignment: materialized, the kernel
    # runs once (a Python stage costs ~0.4 s at local[4] even on a
    # 50-row batch; unmaterialized, each branch paid it).
    basg = _assign_kernel(
        _quantize(batch, id_col, vec_col, scale),
        cents,
        len(cents[0]) if cents else 0,
    ).localCheckpoint(eager=True)
    dups = (
        basg.alias("b")
        .join(
            reps.select("cluster", "qv").alias("s"),
            F.col("b.cluster") == F.col("s.cluster"),
        )
        .filter(_sq_l2(F.col("b.qv"), F.col("s.qv")) <= F.lit(eps))
        .select(F.col("b.vid").alias("vid"))
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    return basg.select("vid", "cluster").join(dups, "vid", "left").select(
        F.col("vid").alias(id_col),
        "cluster",
        F.coalesce(F.col("is_dup"), F.lit(False)).alias("is_dup"),
    )


def semantic_dedup_incremental(
    standing: DataFrame,
    batch: DataFrame,
    id_col: str,
    vec_col: str,
    k: int | None = None,
    iterations: int = ITERATIONS,
    scale: int = SCALE,
    eps: int = EPS,
) -> DataFrame:
    """Incremental SemDeDup (VERDICT r6 #9 — the semantic analogue of
    the bucketed fingerprint-index ingest): an incoming ``batch`` is
    screened against a STANDING corpus without re-clustering the
    corpus: ``_fit_standing`` then ``_screen_batch``, the two steps
    ``build_semantic_index`` and ``semantic_dedup_against_index`` run
    with the artifact round-trip between them.

    Returns ``(id_col, cluster, is_dup)`` over the BATCH: is_dup iff
    some standing vector in the assigned cluster lies within eps.
    At 100 TB this is the ingest shape: the petabyte standing side
    contributes one cluster-keyed representative scan; only the
    (small) incoming batch is assigned and joined."""
    if k is None:
        k = auto_k(standing.count())
    cents, reps = _fit_standing(
        standing, id_col, vec_col, k, iterations, scale
    )
    return _screen_batch(batch, id_col, vec_col, cents, reps, scale, eps)


def build_semantic_index(
    standing: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    k: int | None = None,
    iterations: int = ITERATIONS,
    scale: int = SCALE,
) -> dict:
    """Fit the standing semantic index ONCE and PERSIST it (VERDICT r7
    #2 — the semantic analogue of the lexical tier's bucketed
    fingerprint index): ``semantic_dedup_incremental`` re-runs Lloyd on
    the standing corpus on every call, which is the right *verdict* but
    the wrong *regime* for ingest — the real incremental shape fits
    once (``_fit_standing``), saves centroids + exact-collapse
    representatives, and serves every subsequent batch against the
    loaded artifact.

    Artifact layout under ``path`` (all parquet — object-store
    portable):
      - ``meta``            one row: (k, iterations, scale, dim, n_standing)
      - ``centroids``       (cid int, centroid array<long>) — the k x d
                            integer matrix, tiny (LAION shape: 50k x 64
                            = 25 MB), collected by the loader.
      - ``representatives`` (cluster int, qv array<long>, rep_vid long),
                            repartitioned BY CLUSTER at write so each
                            batch's eps-check join reads only its
                            clusters' files; a petabyte deployment
                            writes this relation with
                            ``sinks.write_bucketed`` instead so the
                            standing side of the join never exchanges
                            (``incremental_ingest_dedup_bucketed``
                            in ``queries/corpus.py`` demonstrates
                            that plan).

    Returns the meta dict. Serving is ``semantic_dedup_against_index``;
    equivalence with the in-process path is pinned by
    ``test_standing_index_equivalent_to_incremental``."""
    spark = standing.sparkSession
    n_standing = standing.count()
    if k is None:
        k = auto_k(n_standing)
    cents, reps = _fit_standing(
        standing, id_col, vec_col, k, iterations, scale
    )
    dim = len(cents[0]) if cents else 0
    meta = {
        "k": k,
        "iterations": iterations,
        "scale": scale,
        "dim": dim,
        "n_standing": n_standing,
    }
    from udacity_capstone_data_engineering_spark.session import local_df

    local_df(
        spark,
        [(i, list(c)) for i, c in enumerate(cents)],
        "cid int, centroid array<long>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    reps.repartition("cluster").write.mode("overwrite").parquet(
        f"{path}/representatives"
    )
    # meta last: it is the completion sentinel the build-if-absent
    # serve gates key on — an interrupted build must not leave a
    # meta-bearing half artifact behind (ADVICE r9).
    local_df(
        spark,
        [(k, iterations, scale, dim, n_standing)],
        "k int, iterations int, scale long, dim int, n_standing long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
    return meta


def load_semantic_index(spark, path: str):
    """``(centroid_matrix, representatives_df, meta)`` from a
    ``build_semantic_index`` artifact. Centroids are collected (k x d
    ints — the same broadcast-sized object the Lloyd loop ships);
    representatives stay a lazy DataFrame so only the clusters a batch
    actually touches are read."""
    meta_row = spark.read.parquet(f"{path}/meta").head()
    meta = meta_row.asDict()
    cent_rows = (
        spark.read.parquet(f"{path}/centroids").orderBy("cid").collect()
    )
    cents = [list(r["centroid"]) for r in cent_rows]
    reps = spark.read.parquet(f"{path}/representatives")
    return cents, reps, meta


def semantic_dedup_against_index(
    spark,
    batch: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    eps: int = EPS,
) -> DataFrame:
    """Serve one ingest batch against a PERSISTED standing index: load
    centroids + representatives from ``path`` (no standing-corpus scan,
    no Lloyd) and run ``_screen_batch`` — the batch assigned map-only
    by the broadcast Arrow kernel, each vector eps-checked against its
    assigned cluster's representatives. Output and verdicts are
    identical to ``semantic_dedup_incremental`` run with the same
    standing corpus and parameters — the artifact round-trip is exact
    (integer centroids and quantized vectors in parquet BIGINT
    arrays)."""
    cents, reps, meta = load_semantic_index(spark, path)
    return _screen_batch(
        batch, id_col, vec_col, cents, reps, meta["scale"], eps
    )


def semantic_dedup_incremental_oracle_sql(
    standing_table: str,
    batch_table: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int | str | None = None,
    iterations: int = ITERATIONS,
    scale: int = SCALE,
    eps: int = EPS,
) -> str:
    """DuckDB twin of ``semantic_dedup_incremental``: the standing
    k-means CTE chain (per-iteration unrolled, k as a scalar subquery
    for auto-k), then batch assignment against the FINAL centroid
    relation (same argmin/tie rule: min dist, then min cid), then the
    within-assigned-cluster eps exists-check against ALL standing
    vectors (rep-collapse is verdict-preserving, so the oracle may
    skip it)."""
    if k is None:
        k = auto_k_sql("q")
    blocks, final = kmeans_oracle_blocks(
        standing_table, id_col, vec_col, k, iterations, scale
    )
    # Final centroids: the chain's last cdim relation (asg_{T+1}
    # assigns against cdim_{T}).
    cent_final = f"cdim_{iterations}"
    blocks = blocks + [
        f"""bq AS (
      SELECT {id_col} AS vid,
             list_transform({vec_col},
                 x -> CAST(floor(CAST(x AS DOUBLE) * {scale} + 0.5) AS BIGINT))
               AS qv
      FROM {batch_table}),
    bdim AS (
      SELECT vid, u.dim AS dim, u.val AS val FROM (
        SELECT vid, unnest(list_transform(range(1, len(qv) + 1),
                   i -> {{'dim': i, 'val': qv[i]}})) AS u
        FROM bq)),
    bdist AS (
      SELECT b.vid, c.cid,
             sum((b.val - c.val) * (b.val - c.val)) AS dist_sq
      FROM bdim b JOIN {cent_final} c USING (dim)
      GROUP BY b.vid, c.cid),
    basg AS (
      SELECT vid, cid AS cluster FROM (
        SELECT vid, cid, dist_sq,
               row_number() OVER (PARTITION BY vid
                                  ORDER BY dist_sq, cid) AS rn
        FROM bdist) WHERE rn = 1),
    bclose AS (
      SELECT DISTINCT p.bvid AS vid FROM (
        SELECT b.vid AS bvid, a.vid AS svid
        FROM basg b JOIN {final} a ON a.cluster = b.cluster) p
      JOIN bdim bd ON bd.vid = p.bvid
      JOIN vdim sd ON sd.vid = p.svid AND sd.dim = bd.dim
      GROUP BY p.bvid, p.svid
      HAVING sum((bd.val - sd.val) * (bd.val - sd.val)) <= {eps})"""
    ]
    return (
        "WITH "
        + ",\n    ".join(blocks)
        + f"""
    SELECT b.vid AS {id_col}, b.cluster,
           (c.vid IS NOT NULL) AS is_dup
    FROM basg b LEFT JOIN bclose c ON b.vid = c.vid
    """
    )


def semantic_dedup_oracle_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int | str = K,
    iterations: int = ITERATIONS,
    scale: int = SCALE,
    eps: int = EPS,
) -> str:
    """Extends the unrolled k-means WITH chain: within-cluster pairs,
    exact integer distance via the dimension-exploded relation, then
    the smaller-id-neighbor flag. ``k`` passes through to
    ``kmeans_oracle_blocks`` — an int for the pinned rows, a SQL
    scalar expression (``auto_k_sql()``) for the auto-k row."""
    blocks, final = kmeans_oracle_blocks(
        table, id_col, vec_col, k, iterations, scale
    )
    blocks = blocks + [
        f"""pairs AS (
      SELECT a.vid AS ia, b.vid AS ib
      FROM {final} a JOIN {final} b
        ON a.cluster = b.cluster AND a.vid < b.vid),
    close_pairs AS (
      SELECT p.ia, p.ib
      FROM pairs p
      JOIN vdim va ON va.vid = p.ia
      JOIN vdim vb ON vb.vid = p.ib AND vb.dim = va.dim
      GROUP BY p.ia, p.ib
      HAVING sum((va.val - vb.val) * (va.val - vb.val)) <= {eps}),
    dups AS (SELECT DISTINCT ib FROM close_pairs)"""
    ]
    return (
        "WITH "
        + ",\n    ".join(blocks)
        + f"""
    SELECT a.vid AS {id_col}, a.cluster,
           (d.ib IS NOT NULL) AS is_dup
    FROM {final} a LEFT JOIN dups d ON a.vid = d.ib
    """
    )
