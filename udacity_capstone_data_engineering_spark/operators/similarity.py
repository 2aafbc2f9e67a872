"""Similarity search over embedding columns (``array<float>``).

Two paths:
  - ``brute_force_topk``: exact cosine top-k — the correctness
    baseline, quadratic, and the recall oracle for the approximate
    paths. Under ``BROADCAST_SCORE_MAX_BYTES`` it is one block scan of
    the query rows against the broadcast corpus matrix
    (``_cosine_scan``, shared with the threshold pairs of
    ``embedding_dup_pairs``); past the cap, the builtin expression
    plan (``_pairwise_cosine``).
  - ``lsh_topk``: multi-table random-hyperplane LSH — deterministic
    hyperplanes derived from md5 (no RNG state to ship); candidates are
    gathered only from the query's probed sign-pattern buckets, so the
    cost scales with bucket sizes, not corpus². Keying, gathering and
    scoring run in one Arrow-batched numpy scan per query partition (a
    declared Python boundary — measured 4-5× faster than interpreted
    higher-order functions here).

Both exact plans accumulate DOUBLE products left to right per dimension
(see ``functions/vectors.py``), so their cosines are bit-identical to
each other and to any engine that sums in order. The approx paths trade
that portability for throughput; they are verified by recall, not hash
equality.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Live kernel broadcasts, content-keyed (ADVICE r7: each anchor query
# used to leave an up-to-256MiB broadcast pinned on the executors for
# the life of the session; a 201-query catalog run accretes them).
# Reuse within a session for identical corpora; evicted entries are
# unpersist(blocking=False)-ed — safe even if a stale plan still
# references one, since Spark re-ships an unpersisted broadcast from
# the driver on next use.
_KERNEL_BC: "dict[tuple, object]" = {}
_KERNEL_BC_MAX = 3


def _cached_broadcast(spark, key, build):
    """Content-keyed LRU of live TorrentBroadcasts (shared by every
    Arrow scan kernel — exact-cosine, LSH bucket index, IVF inverted
    file, PQ code table). Shipping the index through an explicit
    broadcast instead of UDF-closure capture matters twice over (r9):
    a closure is re-serialized to the python worker PER TASK — the 4×
    finer kernel partitions of the straggler fix turned that into
    ~128 × 200 MB of deserialization at sf10 (measured DOUBLING the
    sf1 lsh_self wall) — while a broadcast value is fetched once per
    worker process and cached. Evicted entries are
    unpersist(blocking=False)-ed — safe even if a stale plan still
    references one, since Spark re-ships an unpersisted broadcast
    from the driver on next use."""
    bc = _KERNEL_BC.get(key)
    if bc is None:
        bc = spark.sparkContext.broadcast(build())
        _KERNEL_BC[key] = bc
        while len(_KERNEL_BC) > _KERNEL_BC_MAX:
            old = _KERNEL_BC.pop(next(iter(_KERNEL_BC)))
            try:
                old.unpersist(blocking=False)
            except Exception:
                pass  # already cleaned by context shutdown
    return bc


def _probe_dim(emb: DataFrame, vec_col: str) -> int:
    """Length of the first non-NULL vector (0 if there is none): the
    corpus dim of both exact plans. A vector of any other length is
    ragged and scores NULL."""
    head = (
        emb.filter(F.col(vec_col).isNotNull())
        .select(F.size(F.col(vec_col)).alias("d"))
        .head()
    )
    return int(head["d"]) if head is not None else 0


def _require_dim(df: DataFrame, vec_col: str, dim: int, what: str) -> None:
    """Raise unless ``df`` has no vector or its dim (:func:`_probe_dim`)
    is the index's ``dim``: a whole workload of another dim would read
    as ragged, one NULL uv per row, and drop out without a word."""
    got = _probe_dim(df, vec_col)
    if got and dim and got != dim:
        raise ValueError(
            f"{what} vectors have dim {got} but the index has dim {dim}"
        )


def _pairwise_cosine(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    queries: DataFrame | None = None,
    threshold: float | None = None,
) -> DataFrame:
    """The expression plan of exact cosine, run past
    ``BROADCAST_SCORE_MAX_BYTES``: (query_id, neighbor_id, cosine
    rounded to 6) for every query/corpus pair with different ids, or,
    with ``threshold``, for the pairs with query_id < neighbor_id whose
    UNROUNDED cosine is >= threshold (the oracle filters before it
    rounds).

    Per-side squared norms are projected ONCE per row (n folds, not n²)
    and the per-pair dot is the unrolled scalar expression. A pair with
    a NULL, NULL-element, ragged (length other than the probed dim),
    zero-norm or NaN vector scores NULL: NaN maps to NULL because Spark
    orders NaN FIRST under desc() and NaN >= t holds."""
    from udacity_capstone_data_engineering_spark.functions.vectors import (
        cosine_similarity_presq,
        dot,
        dot_unrolled,
    )

    dim = _probe_dim(emb, vec_col)
    q = (queries or emb).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        dot(vec_col, vec_col).alias("__qsq"),
    )
    c = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        dot(vec_col, vec_col).alias("__csq"),
    )
    joined = q.crossJoin(c).filter(
        F.col("query_id") < F.col("neighbor_id")
        if threshold is not None
        else F.col("query_id") != F.col("neighbor_id")
    )
    # dot_unrolled is only valid when `dim` covers BOTH arrays: a longer
    # vector would get its tail dropped (ADVICE r7), so any other
    # length scores NULL (size(NULL) is NULL, which also routes there)
    dotp = F.when(
        (F.size("qv") == dim) & (F.size("cv") == dim),
        dot_unrolled("qv", "cv", dim),
    )
    raw = F.nanvl(
        cosine_similarity_presq(dotp, F.col("__qsq"), F.col("__csq")),
        F.lit(None).cast("double"),
    )
    scored = joined.select("query_id", "neighbor_id", raw.alias("__raw"))
    if threshold is not None:
        scored = scored.filter(F.col("__raw") >= threshold)
    return scored.select(
        "query_id", "neighbor_id", F.round("__raw", 6).alias("cosine")
    )


# Safety margin for the top-k candidate cut (see _cosine_scan): ranking
# happens on round(cosine, 6), and |round(x) - x| <= 5e-7, so a
# candidate can out-rank the k-th raw score by at most 1e-6 after
# rounding. 2e-6 doubles that bound so a float comparison at the
# boundary can never exclude a true top-k row.
_TOPK_ROUND_MARGIN = 2e-6


def _sumsq(x):
    """Row sums of squares accumulated left to right per dimension —
    the JVM ``aggregate`` fold's order, bit for bit."""
    import numpy as np

    acc = np.zeros(len(x))
    for i in range(x.shape[1]):
        acc = acc + x[:, i] * x[:, i]
    return acc


def _vector_rows(vecs, dim: int):
    """``(len(vecs), dim)`` doubles of a numpy object array of vectors.
    A NULL vector, or one whose length is not ``dim``, is a row of NaN;
    a NULL element already reads NaN."""
    import numpy as np

    ok = np.fromiter(
        (v is not None and len(v) == dim for v in vecs), bool, len(vecs)
    )
    out = np.full((len(vecs), dim), np.nan)
    if ok.any():
        out[ok] = np.vstack(vecs[ok])
    return out


def _topk_cut(scores, other, k: int):
    """Per query row, the candidates that can reach the top ``k`` after
    rounding: every scored neighbour with a raw cosine within
    ``_TOPK_ROUND_MARGIN`` of the row's k-th largest, and, when fewer
    than ``k`` are scored, the smallest-id NULL neighbours to make up
    ``k`` (the window ranks NULL last, then by id; ``other`` is in id
    order). Ranking is by round(raw, 6) DESC with |round(x)-x| <= 5e-7,
    so any row that beats the k-th by rounded order has
    raw >= raw_k - 1e-6 and is kept, ties included."""
    import numpy as np

    valid = other & ~np.isnan(scores)
    s = np.where(valid, scores, -np.inf)
    nn = s.shape[1]
    kth = (
        np.partition(s, nn - k, axis=1)[:, nn - k]
        if k <= nn
        else np.full(len(s), -np.inf)
    )
    null = other & ~valid
    need = k - valid.sum(axis=1)
    return (valid & (s >= (kth - _TOPK_ROUND_MARGIN)[:, None])) | (
        null & (np.cumsum(null, axis=1) <= need[:, None])
    )


def _cosine_scan(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    queries: DataFrame | None = None,
    k: int | None = None,
    threshold: float | None = None,
) -> DataFrame | None:
    """Exact cosine of query rows against the corpus ``emb`` as one
    block scan: (query_id, neighbor_id, cosine_raw), UNROUNDED, or None
    past ``BROADCAST_SCORE_MAX_BYTES``.

    The corpus comes from ONE limited Arrow collect
    (``_collect_raw_vectors``) and ships as a positional matrix, sorted
    by id, through ``_cached_broadcast``. The query rows — ``queries``,
    or the corpus itself — carry their own vectors, and each block of
    them is scored against the whole matrix with the expression plan's
    arithmetic: per-dimension products accumulated left to right, then
    ``acc / (sqrt(sq_q) * sqrt(sq_c))``. The doubles are therefore
    bit-identical to ``_pairwise_cosine``'s. Pairs with the same id are
    excluded; which of the rest are emitted depends on the caller:

      - ``k``: the margin cut of :func:`_topk_cut`, a superset of every
        query's top-k that the caller's window ranks;
      - ``threshold``: the pairs with query_id < neighbor_id and raw
        cosine >= threshold;
      - neither: every pair.

    Degenerate rows take the expression plan's semantics: a pair with a
    NULL, NULL-element, ragged, zero-norm or NaN vector scores NULL,
    and NULL never passes a threshold. Rows with a NULL id pair with
    nothing. Duplicate ids stay separate rows of the matrix. The output
    ids keep the input's types."""
    import hashlib

    import numpy as np
    import pandas as pd

    from udacity_capstone_data_engineering_spark.sources.catalog import (
        fan_out_small_scan,
    )

    spark = emb.sparkSession
    dim = _probe_dim(emb, vec_col)
    # NULL vectors enter the collect as empty arrays: ragged, so they
    # stay neighbours that score NULL
    corpus = emb.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col),
        F.coalesce(
            F.col(vec_col).cast("array<double>"),
            F.array().cast("array<double>"),
        ).alias(vec_col),
    )
    tbl = _collect_raw_vectors(corpus, id_col, vec_col, dim)
    if tbl is None:
        return None
    ids, mat = _raw_matrix(tbl, dim)
    roots = np.sqrt(_sumsq(mat))
    key = (
        "cosine",
        id(spark.sparkContext),
        mat.shape,
        hashlib.sha1(mat.tobytes()).hexdigest(),
        hashlib.sha1(repr(ids.tolist()).encode()).hexdigest(),
    )
    bc = _cached_broadcast(spark, key, lambda: (ids, mat, roots))

    def scan(batches):
        cids, m, croots = bc.value
        nn, d = m.shape
        # <=64 MB of double score scratch per block regardless of n
        block = max(8, (8 << 20) // max(nn, 1))
        for pdf in batches:
            for s in range(0, len(pdf), block):
                qids = pdf["query_id"].to_numpy()[s : s + block]
                qm = _vector_rows(pdf["qv"].to_numpy()[s : s + block], d)
                with np.errstate(all="ignore"):
                    acc = np.zeros((len(qids), nn))
                    for i in range(d):  # left-to-right per pair
                        acc = acc + qm[:, i][:, None] * m[:, i][None, :]
                    denom = np.sqrt(_sumsq(qm))[:, None] * croots[None, :]
                    scores = np.where(denom > 0, acc / denom, np.nan)
                if threshold is not None:
                    keep = (scores >= threshold) & (
                        qids[:, None] < cids[None, :]
                    )
                else:
                    keep = qids[:, None] != cids[None, :]
                    if k is not None:
                        keep = _topk_cut(scores, keep, k)
                rows, cols = np.nonzero(keep)
                yield pd.DataFrame(
                    {
                        "query_id": qids[rows],
                        "neighbor_id": cids[cols],
                        # NaN → <NA>, a SQL NULL
                        "cosine_raw": pd.array(
                            scores[rows, cols], dtype="Float64"
                        ),
                    }
                )

    src = queries if queries is not None else emb
    qsrc = src.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    schema = (
        f"query_id {src.schema[id_col].dataType.simpleString()}, "
        f"neighbor_id {emb.schema[id_col].dataType.simpleString()}, "
        "cosine_raw double"
    )
    return fan_out_small_scan(qsrc).mapInPandas(scan, schema)


def _exact_cosine(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    queries: DataFrame | None = None,
    k: int | None = None,
    threshold: float | None = None,
) -> DataFrame:
    """(query_id, neighbor_id, cosine rounded to 6) of exact cosine:
    ``_cosine_scan`` under the byte cap, the expression plan
    (``_pairwise_cosine``, which applies no top-k cut) past it."""
    raw = _cosine_scan(emb, id_col, vec_col, queries, k, threshold)
    if raw is None:
        return _pairwise_cosine(emb, id_col, vec_col, queries, threshold)
    return raw.select(
        "query_id", "neighbor_id", F.round("cosine_raw", 6).alias("cosine")
    )


def brute_force_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    queries: DataFrame | None = None,
) -> DataFrame:
    """Exact top-k nearest neighbors by cosine (ties → lower id first,
    NULL cosine last), for every corpus row or for the ``queries``
    rows (same id/vec columns) against the corpus."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        _exact_cosine(emb, id_col, vec_col, queries, k=k)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


JL_SCALE = 1024  # same quantization grid as embedding_random_projection


def _jl_sign_matrix(in_dim: int, out_dims: int) -> list[list[int]]:
    """Deterministic Achlioptas ±1 sign matrix: sign(i, j) =
    1 - 2*(h60(f"{i}_{j}") % 2), the SAME portable-md5 formula the
    `embedding_random_projection` catalog query hash-gates — so the
    projection used for ANN preprocessing is the one the oracle
    already verifies bit-for-bit."""
    import hashlib

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    return [
        [1 - 2 * (h60(f"{i}_{j}") % 2) for i in range(in_dim)]
        for j in range(out_dims)
    ]


def jl_project(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    out_dims: int,
    dim: int | None = None,
    scale: int = JL_SCALE,
) -> DataFrame:
    """Map-only Johnson-Lindenstrauss projection (VERDICT r6 #7 — the
    r6 standalone demo composed into the ANN tier): quantize to the
    integer grid, multiply by the LITERAL ±1 sign matrix (out_dims x
    dim ints embedded in the plan — no sign-matrix join, no shuffle,
    no runtime hashing), emit ``array<double>`` of the exact integer
    sums. Cosine on the projected vectors approximates cosine on the
    originals with the JL (1±eps) distance guarantee; determinism is
    exact (integer sums are order-free). At 100 TB this is scan-bound
    preprocessing: per-row flops drop every downstream index build by
    dim/out_dims (64→16 = 4x)."""
    if dim is None:
        dim = _probe_dim(emb, vec_col)
    # One parsed SQL literal, not out_dims*dim F.lit() calls: the
    # 16x64 sign matrix cost ~2.5 s of driver wall in py4j round-trips
    # (r11, guide §1.2 driver-side; values and INT element type are
    # identical).
    signs = F.expr(
        "CAST(array("
        + ",".join(
            "array(" + ",".join(str(int(s)) for s in row) + ")"
            for row in _jl_sign_matrix(dim, out_dims)
        )
        + ") AS ARRAY<ARRAY<INT>>)"
    )
    qv = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * scale + F.lit(0.5)).cast("long"),
    )
    proj = F.transform(
        signs,
        lambda row: F.aggregate(
            F.zip_with(qv, row, lambda a, s: a * s),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).cast("double"),
    )
    return emb.select(F.col(id_col), proj.alias(vec_col))


MANIFOLD_LATENT = 8  # intrinsic dimension of the structured fixture
MANIFOLD_GRID = 1000  # latent coordinates live on a +-1 integer grid


def manifold_embeddings(
    ids: DataFrame,
    id_col: str,
    out_dim: int = 64,
    latent: int = MANIFOLD_LATENT,
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic LOW-INTRINSIC-DIMENSION embedding corpus
    (VERDICT r7 #7): each id gets a ``latent``-dim coordinate
    z_j = (h60(id || '_' || j) % (2*grid+1) - grid) / grid  in [-1, 1]
    (the house portable-md5 hash — no RNG state, any engine can
    reproduce it), embedded into ``out_dim`` dims by a FIXED
    md5-derived literal mixing matrix. The corpus therefore lies
    exactly on an ``latent``-dimensional linear manifold inside
    R^out_dim — the structure real text/image embeddings have and the
    isotropic test corpus (JL's worst case by construction) lacks.
    This is the fixture the ``project_dims=`` JL hook exists for:
    distances here are governed by ``latent`` effective dimensions, so
    a 4x projection preserves neighbor margins instead of destroying
    O(1/sqrt(dim)) near-ties. Map-only expression plan (8 md5 calls +
    a literal out_dim x latent multiply-add per row), scan-bound at
    any scale."""
    from udacity_capstone_data_engineering_spark.functions.hashing import (
        portable_hash64,
    )

    mod = 2 * MANIFOLD_GRID + 1

    def h60(s: str) -> int:
        import hashlib

        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    mix = [
        [
            (h60(f"mix_{i}_{j}") % mod - MANIFOLD_GRID) / MANIFOLD_GRID
            for j in range(latent)
        ]
        for i in range(out_dim)
    ]
    z = [
        (
            (
                portable_hash64(
                    F.concat(F.col(id_col).cast("string"), F.lit(f"_{j}"))
                )
                % mod
                - MANIFOLD_GRID
            ).cast("double")
            / MANIFOLD_GRID
        ).alias(f"__z{j}")
        for j in range(latent)
    ]
    # r11 (guide §1.2 driver-side): the old mixing build issued
    # out_dim*latent*3 ≈ 1500 py4j Column calls (~2.5 s of driver wall
    # per call — the bulk of jl_manifold_capture's jobs-vs-wall gap).
    # The latent coordinates are BOUND columns (each referenced
    # out_dim times, so CollapseProject cannot re-inline the md5
    # hashes), and the mixing matrix enters as ONE parsed expression.
    # Term order and association are unchanged:
    # ((0.0 + m_i0*z0) + m_i1*z1) + ... with D-suffixed double
    # literals that parse to the identical IEEE doubles repr() emits.
    bound = ids.select(F.col(id_col), *z)
    out = F.expr(
        "array("
        + ",".join(
            _sum_terms_sql(
                [f"({mix[i][j]!r}D * __z{j})" for j in range(latent)]
            )
            for i in range(out_dim)
        )
        + ")"
    )
    return bound.select(F.col(id_col), out.alias(vec_col))


def _sum_terms_sql(terms: list[str]) -> str:
    """Left-associated ``((0.0 + t0) + t1) + ...`` — the exact fold
    Python's ``sum(..., F.lit(0.0))`` built, as a SQL string."""
    acc = "0.0D"
    for t in terms:
        acc = f"({acc} + {t})"
    return acc


def _exact_rerank_pairs(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    cand: DataFrame,
    k: int,
) -> DataFrame:
    """Exact-cosine rerank of candidate (query_id, neighbor_id) pairs
    in the ORIGINAL vector space — brute_force_topk's scoring and tie
    rule, restricted to the candidate set."""
    scored = _score_pairs(emb, id_col, vec_col, cand.select("query_id", "neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


def _hyperplane(dim: int, table: int, plane: int) -> list[float]:
    """Deterministic pseudo-random hyperplane component values in [-1, 1],
    derived from md5 so any engine can reproduce them."""
    import hashlib

    out = []
    for d in range(dim):
        h = int(hashlib.md5(f"t:{table}:p:{plane}:d:{d}".encode()).hexdigest()[:15], 16)
        out.append(h / float(2**59) - 1.0)
    return out


def _lsh_key_fn(dim: int, planes: int, tables: int, probes: int):
    """The numpy LSH key machinery of ``_lsh_scanner``.  Returns
    ``(fn, n_probes)`` where ``fn(x)`` maps a (batch × dim) RAW float
    matrix to (batch × tables·(n_probes+1)) int64 keys laid out
    [t0r0, t0r1, …, t1r0, …] (just (batch × tables) when n_probes is
    0).  Bucket bit p of table t is sign(v · hyperplane_{t,p}); all
    tables×planes projections are ONE matmul against the (dim ×
    tables·planes) hyperplane matrix.

    ``probes > 0`` adds QUERY-DIRECTED multiprobe keys (Lv et al.):
    per table, also the ``probes`` buckets reached by the
    margin-ordered PERTURBATION SEQUENCE — the non-empty subsets of
    the U lowest-|margin| sign bits, ranked per row by the summed
    margin of the flipped bits. Rank 0 is the exact key. Multi-bit
    subsets matter once planes auto-grow with the corpus: with 6+
    planes a boundary miss increasingly flips TWO bits, and
    single-bit probing plateaus (measured recall 0.93 at 16 tables ×
    2 single-bit probes on 2000 vectors, vs 0.97+ from the ranked
    subset sequence). U = max(3, ceil(planes/2)) must GROW with key
    width or the probe sequence saturates (measured recall 0.96 →
    0.61 from 2k to 20k vectors, r3).

    Keys must be computed from RAW vectors: signs and margin ORDER are
    scale-invariant, but dividing by the norm can collapse near-tied
    margins differently in the last ulp."""
    import itertools

    import numpy as np

    hmat = np.array(
        [
            _hyperplane(dim, t, p)
            for t in range(tables)
            for p in range(planes)
        ],
        dtype=np.float64,
    ).T  # (dim, tables*planes)
    weights = (2 ** np.arange(planes, dtype=np.int64))[None, None, :]
    if planes >= 3:
        universe = max(3, -(-planes // 2))  # ceil(planes/2)
        subsets = [
            s
            for r in range(1, universe + 1)
            for s in itertools.combinations(range(universe), r)
        ]
        n_probes = min(probes, len(subsets))
    else:
        subsets = []
        n_probes = min(probes, planes)

    def fn(x):
        proj = (x @ hmat).reshape(len(x), tables, planes)
        bits = proj > 0
        keys = (bits * weights).sum(axis=2, dtype=np.int64)
        if not n_probes:
            return keys
        margins = np.abs(proj)
        order = np.argsort(margins, axis=2)
        if planes < 3:
            out = np.empty((len(x), tables * (n_probes + 1)), dtype=np.int64)
            out[:, :: n_probes + 1] = keys
            for r in range(n_probes):
                out[:, r + 1 :: n_probes + 1] = keys ^ (
                    np.int64(1) << order[:, :, r]
                )
            return out
        n_univ = max(p for s in subsets for p in s) + 1
        low = order[:, :, :n_univ]
        mlow = np.take_along_axis(margins, low, axis=2)
        scores = np.stack(
            [mlow[:, :, list(s)].sum(axis=2) for s in subsets], axis=2
        )
        masks = np.zeros(scores.shape, dtype=np.int64)
        for si, s in enumerate(subsets):
            for pos in s:
                masks[:, :, si] |= np.int64(1) << low[:, :, pos]
        rank = np.argsort(scores, axis=2, kind="stable")[:, :, :n_probes]
        probe_keys = keys[:, :, None] ^ np.take_along_axis(masks, rank, axis=2)
        out = np.concatenate([keys[:, :, None], probe_keys], axis=2)
        return out.reshape(len(x), -1)

    return fn, n_probes


# Above this many MATRIX BYTES (n_vectors × dim × 8), fall back to
# join-based pair scoring instead of broadcasting the normalized vector
# matrix to every worker. Sized in measured bytes, not vector count,
# because driver/executor heap cost scales with dim too (VERDICT r1
# "What's wrong" #3). 256 MiB keeps the driver-side numpy copy + the
# torrent broadcast comfortably inside an 8g driver; tune per cluster.
BROADCAST_SCORE_MAX_BYTES = 256 * 1024 * 1024


def _normalize_batches(batches, dim: int):
    """The :func:`_unit_vectors` kernel: ``(id, vector)`` record batches
    in, ``(__id, uv)`` record batches out, one per input batch.  A
    vector whose length is not ``dim`` is ragged and its uv is NULL, as
    a NULL-element vector's is."""
    import numpy as np
    import pyarrow as pa

    for rb in batches:
        ids = rb.column(0)
        vecs = rb.column(1)
        if isinstance(vecs, pa.ChunkedArray):
            vecs = vecs.combine_chunks()
        n_rows = len(vecs)
        out_vals: list = [None] * n_rows
        live: list = []
        offs = vecs.offsets.to_numpy(zero_copy_only=False)
        lens = np.diff(offs)
        # ``values`` is the whole child array even when the batch is a
        # slice; the rows own only ``offs[0]:offs[-1]`` of it.
        values = vecs.values.slice(offs[0], offs[-1] - offs[0])
        if (
            vecs.null_count == 0
            and values.null_count == 0
            and n_rows > 0
            and lens.min() == lens.max() == dim != 0
        ):
            # Fixed-dim, no-null batch (the real corpus shape):
            # one zero-copy reshape, no per-cell accessor churn.
            flat_in = values.to_numpy(zero_copy_only=False)
            live = [
                (p, row)
                for p, row in enumerate(
                    np.asarray(flat_in, dtype=np.float64).reshape(
                        n_rows, dim
                    )
                )
            ]
        else:
            for p in range(n_rows):
                cell = vecs[p]
                if not cell.is_valid:
                    continue
                a = cell.values.to_numpy(zero_copy_only=False)
                if (
                    cell.values.null_count
                    or a.shape[0] == 0
                    or a.shape[0] != dim
                ):
                    # NULL element → NULL fold → NULL uv; empty →
                    # norm 0 → NULL uv, as the expression path; ragged
                    # → NULL uv
                    continue
                live.append((p, np.asarray(a, dtype=np.float64)))
        if live:
            x = np.vstack([a for _, a in live])
            n = np.sqrt(_sumsq(x))
            # when(__n > 0): Spark compares NaN greater than any
            # number, so NaN norms PASS and propagate NaN elements.
            ok = (n > 0) | np.isnan(n)
            u = x / np.where(ok, n, 1.0)[:, None]
            for r in np.nonzero(ok)[0]:
                out_vals[live[int(r)][0]] = u[int(r)]
        # Explicit ListArray build: values buffer keeps true NaNs
        # (pandas' from_pandas path would null them out).
        offsets = np.zeros(n_rows + 1, dtype=np.int32)
        for p in range(n_rows):
            offsets[p + 1] = offsets[p] + (
                len(out_vals[p]) if out_vals[p] is not None else 0
            )
        flat = (
            np.concatenate([v for v in out_vals if v is not None])
            if offsets[-1]
            else np.zeros(0, dtype=np.float64)
        )
        mask = pa.array([v is None for v in out_vals], type=pa.bool_())
        uv = pa.ListArray.from_arrays(
            pa.array(offsets), pa.array(flat, type=pa.float64()),
            mask=mask,
        )
        yield pa.RecordBatch.from_arrays([ids, uv], ["__id", "uv"])


def _unit_vectors(emb, id_col: str, vec_col: str, dim: int):
    """(id, uv) with uv the L2-normalized double vector; zero-norm →
    NULL uv (ANSI /0 raises), which yields NULL cosine ranked last —
    degenerate vectors never crash the job.

    r11 (guide §4.2/§4.4): the normalize runs as an Arrow kernel
    instead of the interpreted ``aggregate``+``transform`` fold, and —
    because every caller filters ``uv IS NOT NULL`` right above this
    projection — the old expression plan ALSO paid the §4.4 pushdown
    tax: Catalyst pushed ``isnotnull(<whole normalize expression>)``
    below the projection, evaluating the l2 fold twice per row (the
    r11 filter audit flagged a 925-char HOF condition in every ANN
    plan). ``mapInArrow`` is an optimizer-opaque boundary, so the
    filter stays above and the normalize runs once. Every consumer is
    a declared-Arrow ANN path (encode/assign kernels, ADC scans,
    ``_score_pairs``).

    BIT-IDENTICAL doubles to the JVM expression: sumsq accumulates
    LEFT-TO-RIGHT per dimension exactly like the ``aggregate`` fold;
    ``np.sqrt`` and the per-element divide are the same
    correctly-rounded IEEE ops. Degenerate semantics replicated
    exactly (pinned by ``test_unit_vectors_kernel_bit_equal``):
    NULL vector / any NULL element / zero norm → NULL uv; a NaN norm
    passes the ``when(__n > 0)`` gate (Spark orders NaN greater than
    every number) so NaN/±inf elements propagate NaN into uv — the
    output is built with explicit pyarrow buffers because the pandas
    return path would silently rewrite those NaN elements to nulls.
    A ragged vector (length other than the corpus ``dim``) is a NULL uv
    too."""
    id_type = emb.schema[id_col].dataType.simpleString()
    return (
        emb.select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
        )
        .mapInArrow(
            functools.partial(_normalize_batches, dim=dim),
            f"__id {id_type}, uv array<double>",
        )
        .select(F.col("__id").alias(id_col), "uv")
    )


def _collect_raw_vectors(emb, id_col, vec_col, dim):
    """The ``(id, vector)`` Arrow table of the non-NULL vectors as
    ``array<double>``, iff they fit ``BROADCAST_SCORE_MAX_BYTES``; None
    past the cap.

    One Arrow job replaces three (count + dim-probe + full collect):
    the byte cap is enforced with a LIMIT of cap/(8·dim)+1 rows — if
    the limited collect comes back full, the corpus is over the cap
    and the caller takes its past-the-cap path. At 100 TB the limit
    stops the scan after the first partitions; the driver never sees
    more than the cap + one row."""
    max_rows = BROADCAST_SCORE_MAX_BYTES // (8 * max(dim, 1))
    tbl = (
        emb.select(F.col(id_col), F.col(vec_col).cast("array<double>"))
        .filter(F.col(vec_col).isNotNull())
        .limit(max_rows + 1)
        .toArrow()
    )
    return None if tbl.num_rows > max_rows else tbl


def _raw_matrix(tbl, dim):
    """``(ids, raw)`` of a :func:`_collect_raw_vectors` table, sorted by
    id; the ids keep their type, and a row whose length is not ``dim``
    reads NaN, as does a NULL element (:func:`_vector_rows`).  Rows
    with no direction are kept: LSH keys come from raw vectors, and
    zero- or NaN-norm rows are still bucket members (``_score_pairs``
    drops them itself)."""
    import numpy as np

    ids = tbl.column(0).to_numpy()
    raw = _vector_rows(tbl.column(1).to_pandas().to_numpy(), dim)
    order = np.argsort(ids, kind="stable")
    return ids[order], raw[order]


def _collect_raw_matrix(emb, id_col, vec_col, dim):
    """:func:`_raw_matrix` of the :func:`_collect_raw_vectors` collect;
    None past the cap."""
    tbl = _collect_raw_vectors(emb, id_col, vec_col, dim)
    return None if tbl is None else _raw_matrix(tbl, dim)


def _bucket_index(corpus_keys):
    """(table, exact key) → id-sorted positions dict from a corpus key
    matrix (n × tables int64)."""
    import numpy as np

    n_tables = corpus_keys.shape[1] if corpus_keys.ndim == 2 else 1
    index: dict[tuple[int, int], object] = {}
    for t in range(n_tables):
        kt = corpus_keys[:, t]
        order = np.argsort(kt, kind="stable")
        sk = kt[order]
        bounds = np.flatnonzero(np.diff(sk)) + 1
        for grp in np.split(order, bounds):
            if len(grp):
                index[(t, int(kt[grp[0]]))] = np.sort(grp)
    return index


_LSH_CANDIDATES_SCHEMA = "query_id long, neighbor_id long, cosine double"


def _no_lsh_candidates():
    import pandas as pd

    return pd.DataFrame(
        {
            "query_id": pd.array([], dtype="int64"),
            "neighbor_id": pd.array([], dtype="int64"),
            "cosine": pd.array([], dtype="Float64"),
        }
    )


def _lsh_scanner(dim, planes, tables, multiprobe, take):
    """The LSH scan, as two numpy functions that both distribution
    shapes of :func:`lsh_topk` run unchanged:

    - ``build(ids, raw)`` → the scan state of a corpus, or of one shard
      of it (ids sorted): the bucket index over exact keys of the RAW
      vectors, the L2-normalized rows (``x / ||x||`` elementwise) and
      the mask of rows with no direction (norm zero or NaN), whose unit
      rows are zeroed.
    - ``scan(state, qids, qvecs)`` → a ``(query_id, neighbor_id,
      cosine)`` frame. Per query it gathers the buckets of its
      ``multiprobe``-deep probe sequence, dedups positions with one
      sort, selects the top-``take`` by (score desc, id asc) and emits
      their row-wise-einsum cosines.

    Degenerate rows rank last and score NULL, never NaN: a directionless
    candidate scores −inf in selection and NULL in the output; a
    directionless query keeps its gathered candidates in id order, all
    NULL. The per-(query, row) scores do not depend on which other rows
    share the state, so shards that partition the corpus yield, per
    query, a union of top-``take`` sets that contains the one-state
    top-``take`` with bit-identical cosines."""
    import numpy as np
    import pandas as pd

    corpus_keyfn, _ = _lsh_key_fn(dim, planes, tables, 0)
    probe_keyfn, n_probes = _lsh_key_fn(dim, planes, tables, multiprobe)

    def unit_rows(x):
        norms = np.linalg.norm(x, axis=1, keepdims=True)
        bad = ~(norms[:, 0] > 0)
        unit = x / np.where(bad[:, None], 1.0, norms)
        unit[bad] = 0.0
        return unit, bad

    def build(ids, raw):
        unit, bad = unit_rows(raw)
        return _bucket_index(corpus_keyfn(raw)), ids, unit, bad

    def scan(state, qids, qvecs):
        if not len(qids):
            return _no_lsh_candidates()
        index, ids, unit, bad = state
        x = _vector_rows(qvecs, dim)
        xq, qbad = unit_rows(x)
        pk = probe_keyfn(x).reshape(len(x), tables, n_probes + 1)
        out_q, out_i, out_c, out_na = [], [], [], []
        for qi in range(len(x)):
            parts = [
                arr
                for t in range(tables)
                for r in range(n_probes + 1)
                if (arr := index.get((t, int(pk[qi, t, r])))) is not None
            ]
            if not parts:
                continue
            pos = np.unique(np.concatenate(parts))
            s = unit[pos] @ xq[qi]
            s[bad[pos] | qbad[qi]] = -np.inf
            sel = pos[np.argsort(-s, kind="stable")[:take]]
            out_q.append(np.full(len(sel), qids[qi], dtype=np.int64))
            out_i.append(ids[sel])
            out_c.append(
                np.einsum(
                    "ij,ij->i",
                    unit[sel],
                    np.broadcast_to(xq[qi], (len(sel), unit.shape[1])),
                )
            )
            out_na.append(bad[sel] | qbad[qi])
        if not out_q:
            return _no_lsh_candidates()
        cosine = pd.array(np.concatenate(out_c), dtype="Float64")
        cosine[np.concatenate(out_na)] = pd.NA
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_i),
                "cosine": cosine,
            }
        )

    return build, scan


def _lsh_broadcast_candidates(qsrc, ids, raw, build, scan, key, fan):
    """Under the byte cap: the whole corpus's scan state ships as ONE
    broadcast (fetched once per worker, not re-deserialized per task —
    see ``_cached_broadcast``) and each query partition runs ``scan``
    against it.

    FINER-than-cores query partitions (``fan`` × cores, VERDICT r8 #6):
    per-query scan cost varies with local cluster density, so
    cores-wide partitions leave one task grinding ~2× the mean — the
    measured +0.18 exponent (~20 straggler minutes on one core) of the
    sf10 lsh_self cell. The caller widens only when the estimated
    candidate volume says the scan stage is tens of core-minutes: each
    task pays fixed scheduler/Arrow overhead (~0.3 s), measured +26 s
    on the 60 s sf1 cell at unconditional 4×."""
    from udacity_capstone_data_engineering_spark.sources.catalog import (
        fan_out_small_scan,
    )

    spark = qsrc.sparkSession
    bc = _cached_broadcast(spark, key, lambda: build(ids, raw))

    def scan_batches(pdfs):
        state = bc.value
        for pdf in pdfs:
            yield scan(state, pdf["query_id"].to_numpy(), pdf["qv"].to_numpy())

    return fan_out_small_scan(
        qsrc, min_partitions=fan * spark.sparkContext.defaultParallelism
    ).mapInPandas(scan_batches, _LSH_CANDIDATES_SCHEMA)


# Query rows per block in the sharded grid joins (LSH here, PQ/IVF-PQ
# in ``pq``) — bounds the per-task pandas group (block × dim doubles)
# and the score buffer.
LSH_QUERY_BLOCK_ROWS = 4096


def _grid_shards(
    n_queries: int, par: int, total_bytes: int = 0, cap: int = 1,
    at_least: int = 1,
) -> tuple[int, int]:
    """``(n_blocks, n_shards)`` of a (query-block × shard) grid join.

    The grid's task count is n_shards × n_blocks: a serving batch (one
    query block) against a few byte-capped shards would run on a few of
    the cluster's cores. Shards may be FINER than the byte cap requires
    — per-(query, row) work is shard-independent, and shards partition
    the corpus rather than replicate it — so the count is the larger of
    the byte-driven ``ceil(total_bytes / cap)``, ``at_least``, and
    ~2 tasks per core (at most 4 × cores shards)."""
    par = max(1, par)
    n_blocks = max(1, -(-n_queries // LSH_QUERY_BLOCK_ROWS))
    n_shards = max(
        at_least,
        -(-total_bytes // max(cap, 1)),
        min(-(-2 * par // n_blocks), 4 * par),
    )
    return n_blocks, n_shards


def _lsh_grid_candidates(
    qsrc, corpus, build, scan, dim, n_bytes, n_q, cap
):
    """PAST the byte cap (VERDICT r10 #1): the (query-block × shard)
    grid of ``pq._sharded_cell_candidates`` applied to bucket indexes.
    Not a join: a bucket join carries a tables·probes·bucket²
    candidate multiset through its shuffle, and one was MEASURED
    spilling >60 GB of shuffle to local-disk exhaustion at 2M vectors
    × 2k queries (SCALING.md third-decade probe, r10).

    ``corpus`` is ``(id, v)`` raw vectors. It is hash-sharded on id so
    each shard's raw matrix fits ``cap`` bytes; queries are
    hash-blocked (``LSH_QUERY_BLOCK_ROWS``); a cogrouped
    ``applyInPandas`` runs ``build`` on each (query-block × shard)
    cell's shard and ``scan`` on its queries. Nothing corpus-sized is
    broadcast or carried through a join: the shuffled volume is
    corpus×n_blocks + queries×n_shards rows, and candidates leave each
    task already cut to ``take`` per query; the caller's query-keyed
    window merges the shards."""
    import numpy as np
    import pandas as pd

    spark = qsrc.sparkSession
    n_blocks, n_shards = _grid_shards(
        n_q, spark.sparkContext.defaultParallelism, n_bytes, cap, at_least=2
    )
    left = qsrc.crossJoin(
        F.broadcast(
            spark.range(n_shards).select(F.col("id").cast("int").alias("__shard"))
        )
    ).withColumn(
        "__qb", F.pmod(F.xxhash64("query_id"), F.lit(n_blocks)).cast("int")
    )
    right = corpus.withColumn(
        "__shard", F.pmod(F.xxhash64("id"), F.lit(n_shards)).cast("int")
    ).crossJoin(
        F.broadcast(
            spark.range(n_blocks).select(F.col("id").cast("int").alias("__qb"))
        )
    )

    def cell(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if not len(lpdf) or not len(rpdf):
            return _no_lsh_candidates()
        rpdf = rpdf.sort_values("id")
        state = build(
            rpdf["id"].to_numpy(dtype=np.int64),
            _vector_rows(rpdf["v"].to_numpy(), dim),
        )
        return scan(state, lpdf["query_id"].to_numpy(), lpdf["qv"].to_numpy())

    return (
        left.groupBy("__shard", "__qb")
        .cogroup(right.groupBy("__shard", "__qb"))
        .applyInPandas(cell, _LSH_CANDIDATES_SCHEMA)
    )


def _score_pairs(
    emb,
    id_col: str,
    vec_col: str,
    cand,
    n: int | None = None,
    unit=None,
    raw=None,
):
    """Cosine for candidate (query_id, neighbor_id) pairs.

    Fast path: broadcast the normalized vector matrix (corpus is small
    enough) and score id pairs with one numpy gather + row-wise dot per
    Arrow batch — the pairs DataFrame carries ONLY ids, so nothing wide
    is shuffled or Arrow-transferred per pair. This is how an ANN
    serving tier scores candidates (replicated vector store).

    The matrix is the :func:`_collect_raw_matrix` collect normalized in
    one numpy pass — measured faster than evaluating the per-element
    normalization JVM-side just to re-collect the result.  Rows with
    no direction (zero or NaN norm) are dropped from it, so their
    pairs score NULL.

    Fallback (corpus too big to replicate): two equi-joins bringing the
    unit vectors to the pairs, scored with the builtin dot; a NaN dot
    (a NaN-element vector) is mapped to NULL there too.

    ``unit``: optionally a precomputed ``(id, uv)`` DataFrame from
    :func:`_unit_vectors`, so callers that already normalized (IVF's
    probe stage) don't pay the normalization scan twice.

    ``raw``: optionally the :func:`_collect_raw_matrix` pair a caller
    already collected (IVF's cell serve reads its inverted file from
    it), which skips the dim probe and the collect.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from udacity_capstone_data_engineering_spark.functions.vectors import dot

    spark = emb.sparkSession

    # dim probed from one row (limit-1 scan) unless the caller's raw
    # matrix carries it
    dim = raw[1].shape[1] if raw is not None else _probe_dim(emb, vec_col)
    if unit is not None:
        unit = unit.select(F.col(id_col), F.col("uv"))
    else:
        unit = _unit_vectors(emb, id_col, vec_col, dim)

    if raw is None:
        if n is None:
            n = emb.count()
        # Cap in measured bytes.
        if n * dim * 8 <= BROADCAST_SCORE_MAX_BYTES:
            raw = _collect_raw_matrix(emb, id_col, vec_col, dim)

    if raw is not None:
        ids, mat = raw
        norms = np.linalg.norm(mat, axis=1)
        keep = norms > 0
        ids, mat = ids[keep], mat[keep] / norms[keep][:, None]
        index = {int(i): pos for pos, i in enumerate(ids)}
        bc = spark.sparkContext.broadcast((index, mat))

        def score(q, c):
            idx, m = bc.value
            qi = q.map(idx).to_numpy()
            ci = c.map(idx).to_numpy()
            ok = ~(pd.isna(qi) | pd.isna(ci))
            out = np.zeros(len(q))
            if ok.any():
                out[ok] = np.einsum(
                    "ij,ij->i", m[qi[ok].astype(int)], m[ci[ok].astype(int)]
                )
            # Ids absent from the index (zero-norm vectors) must score
            # NULL, not NaN: Spark orders NaN FIRST under desc(), which
            # would rank degenerate vectors as everyone's top neighbor;
            # NULL sorts last, matching brute_force_topk and the join
            # fallback (dot(NULL) → NULL, NaN → NULL). Nullable
            # Float64 + pd.NA is what Arrow maps to a true SQL NULL
            # (ADVICE r1).
            res = pd.array(out, dtype="Float64")
            res[~ok] = pd.NA
            return pd.Series(res)

        udf = pandas_udf(score, "double")
        return cand.select(
            "query_id",
            "neighbor_id",
            F.round(udf(F.col("query_id"), F.col("neighbor_id")), 6).alias("cosine"),
        )

    return (
        cand.join(
            unit.select(F.col(id_col).alias("query_id"), F.col("uv").alias("qv")),
            "query_id",
        )
        .join(
            unit.select(F.col(id_col).alias("neighbor_id"), F.col("uv").alias("cv")),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            # NaN (a NaN-element vector) → NULL, as the broadcast path
            # scores it: Spark orders NaN FIRST under desc()
            F.nanvl(
                F.round(dot("qv", "cv"), 6), F.lit(None).cast("double")
            ).alias("cosine"),
        )
    )


def auto_lsh_tables(n: int) -> int:
    """Scale-aware LSH table count (VERDICT r8 #1): the measured
    frontier points (10 @ <4096, 12 @ ≤20k) joined past 20k by the
    L ~ n^ρ growth law at the DECADE RATE THE r8 LADDER MEASURED —
    tables = ceil(12 · (n/20k)^0.22), which lands 200k vectors exactly
    on the 20-table / 0.9699-recall@5 rung (12 tables had silently
    decayed to 0.8787 there). Capped at 32 (~2M vectors); past that
    the recommended recall-targeted tier is IVF/IVF-PQ."""
    import math

    if n < 4096:
        return 10
    if n <= 20_000:
        return 12
    return min(32, math.ceil(12 * (n / 20_000) ** 0.22))


# Estimated candidate rows (n_queries × tables × (probes+1) × mean
# bucket size) past which the broadcast shape splits queries 4× finer
# than cores (see _lsh_broadcast_candidates); r8's sf10 straggler
# evidence.
LSH_FAN_OUT_MIN_CANDIDATES = 512_000_000


def lsh_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 5,
    planes: int | None = None,
    tables: int | None = None,
    multiprobe: int | None = None,
    queries: DataFrame | None = None,
    project_dims: int | None = None,
    stage1_mult: int = 4,
) -> DataFrame:
    """Approximate top-k: candidates = corpus rows sharing any table's
    bucket with the query, then exact cosine ranking of candidates only.

    ``project_dims`` (VERDICT r6 #7): run candidate generation on a
    JL random projection to that many dimensions (``jl_project`` —
    deterministic ±1 signs, map-only), with a DEEPER stage-1 cut
    (``max(k*stage1_mult, k+10)``) to absorb projection error, then
    exact-rerank the candidates in the ORIGINAL space. Index flops
    and hyperplane-matrix width drop by dim/project_dims; recall is
    restored by the rerank — the classic sketch-then-verify shape.

    Scale shape: per query, candidate count is the sum of its probed
    bucket sizes, tunable via planes (bucket granularity) × tables
    (recall). ``planes=None`` auto-sizes granularity to the corpus —
    planes ≈ log2(n / 32) keeps expected bucket size ~32, so candidate
    generation stays near-linear as n grows instead of quadratic
    (fixed planes degenerate at scale).

    ONE scan (``_lsh_scanner``) in TWO distribution shapes, chosen only
    by the raw-matrix byte cap and row-identical (cosines included;
    pinned by the regime tests): under ``BROADCAST_SCORE_MAX_BYTES`` the
    corpus's bucket index ships as one broadcast and query partitions
    scan it; past the cap each (query-block × shard) cell of a grid
    join builds its shard's index (``_lsh_grid_candidates``). Either
    way each query emits its top-``k+8`` with exact cosines, and one
    query-keyed window ranks them (cosine desc, id asc). Rows whose
    vector is NULL are not in the corpus and send no query; zero- or
    NaN-norm rows score NULL cosine and rank last.

    ``multiprobe`` enables QUERY-DIRECTED multiprobe (Lv et al.): the
    probe side also checks, per table, the ``multiprobe`` next-likeliest
    buckets from the margin-ranked perturbation sequence (subsets of
    the lowest-|margin| sign bits ordered by summed margin) — the
    recall lever that does NOT add tables. ``multiprobe=None``
    auto-sizes it to ``max(2, planes-2)``: probe depth must GROW with
    key width, because auto-sizing adds planes as n grows, which
    decays per-table exact-key collision odds — a FIXED probe count
    then decays recall exactly like r2's fixed-planes bug (measured
    0.995 → 0.93 recall@5 from 500 to 2000 vectors at 2 probes;
    planes-2 probes holds ≥0.95 at both, r3 sweep). Directed beats
    flip-everything: all-bit probing costs ×(planes+1) probe rows
    (measured 6× slower end-to-end) where the ranked low-margin
    subsets capture most boundary misses at ×(multiprobe+1). The
    index keeps exact keys only, so no pair is double-generated
    across probe ranks. ``multiprobe=0`` restores exact-bucket
    probing. Recall is validated against ``brute_force_topk`` in
    tests AND in-gate via ``ann_recall_report`` (approx operators get
    recall thresholds, not hash equality — SURVEY.md §7 risk
    register).

    ``queries``: optional serving WORKLOAD (same id/vec columns, ids
    a subset of the corpus). Only workload vectors probe — the bucket
    index is still built over the full corpus, and all knob
    auto-sizing stays a function of CORPUS size (recall depends on the
    index, not on how many queries hit it). This is the stage-1 hook
    ``rerank_two_stage`` uses.
    """
    import hashlib
    import math

    import numpy as np

    from udacity_capstone_data_engineering_spark.functions.vectors import dot

    if project_dims is not None:
        proj = jl_project(emb, id_col, vec_col, project_dims, dim=dim)
        proj_q = (
            jl_project(queries, id_col, vec_col, project_dims, dim=dim)
            if queries is not None
            else None
        )
        cand = lsh_topk(
            proj,
            id_col,
            vec_col,
            dim=project_dims,
            k=max(k * stage1_mult, k + 10),
            planes=planes,
            tables=tables,
            multiprobe=multiprobe,
            queries=proj_q,
        )
        return _exact_rerank_pairs(emb, id_col, vec_col, cand, k)
    # ONE sizing job under the cap: the limited raw collect the
    # broadcast needs anyway. Only an over-cap corpus pays a count.
    # Either way n counts the vectors WITH a direction (norm > 0), so
    # the knobs do not shift with degenerate rows or with the shape.
    rawm = _collect_raw_matrix(emb, id_col, vec_col, dim)
    if rawm is not None:
        n = int(np.count_nonzero(np.linalg.norm(rawm[1], axis=1) > 0))
    else:
        sq = dot(vec_col, vec_col)
        n = emb.filter((sq > 0) & ~F.isnan(sq)).count()
    if tables is None:
        # Table count must GROW with the corpus, because recall decays
        # with n at fixed tables (measured recall@5 at 12 tables:
        # 0.995 @ 500 → 0.985 @ 2k → 0.960 @ 20k → 0.8787 @ 200k)
        # while the ≥0.95 bar is constant — the same knob-coupling law
        # as planes/probes, applied to the last fixed knob. Measured
        # frontier: 10 tables holds 0.986 @ 500 and 0.970 @ 2k at ~80%
        # of the 12-table wall; 8 tables drops to 0.943 @ 2k (below
        # bar); 20k needs the full 12 (sf1 probe). Past 20k the count
        # follows the L ~ n^ρ growth law the r8 second-decade ladder
        # MEASURED (same sf10 cell, tables pinned, all else auto:
        # 12 → 0.8787, 16 → 0.9400 @ 1.31× wall, 20 → 0.9699 @ 1.49×):
        # ρ = log10(20/12) ≈ 0.22 is the decade rate that lands the
        # 200k corpus exactly on the measured 20-table ≥0.95 point
        # (VERDICT r8 #1 — the r8 default was left at 12 to keep
        # mid-round digests stable, silently serving 0.88 recall at
        # 200k). Capped at 32 (~2M vectors): past that corpus size the
        # recommended recall-targeted tier is IVF/IVF-PQ, whose
        # measured-curve knobs hold 0.996 at sf10 without growing the
        # hash-family count.
        tables = auto_lsh_tables(n)
    if planes is None:
        # Bucket target grows as ~1.4·sqrt(n), NOT a constant: planes =
        # ceil(log2(n/32)/2) + 2 ⇒ bucket ≈ sqrt(32n)/4. A constant
        # bucket target (r2's log2(n/32)) forces key width — and with
        # it per-table miss probability — up linearly in log n, and the
        # sf1 probe measured the result: recall 0.96 → 0.61 from 2k to
        # 20k vectors even with probe depth auto-scaling. Sqrt-growth
        # buckets keep per-query candidates at ~tables·probes·1.4·sqrt(n)
        # — the same n^1.5 total-work shape as IVF's sqrt(n) centroids —
        # and measured recall@5 ≥0.95 at every probed size (0.995 @
        # 500, 0.985 @ 2k, 0.96 @ 20k).
        planes = max(4, math.ceil(math.log2(max(n, 64) / 32) / 2) + 2)
    if multiprobe is None:
        # Probe depth must GROW with key width: wider keys decay
        # per-table exact-collision odds, and a fixed probe count then
        # decays recall exactly like r2's fixed-planes bug — and it
        # must grow FASTER once keys are wide (misses spread over more
        # bits). planes-2 up to 6 planes, planes-1 beyond, from the
        # margin-ranked subset sequence, measured recall@5 ≥0.95 at
        # every probed size (12 tables): 0.995 @ 500 vecs/4 planes,
        # 0.985 @ 2k/5 planes, 0.96 @ 20k/7 planes (sf1 probe).
        multiprobe = max(2, planes - 2) if planes <= 6 else planes - 1
    n_q = n if queries is None else queries.count()
    build, scan = _lsh_scanner(dim, planes, tables, multiprobe, take=k + 8)
    qsrc = (queries if queries is not None else emb).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).filter(F.col("qv").isNotNull())
    if rawm is not None:
        ids, raw = rawm
        key = (
            "lsh_scan",
            id(emb.sparkSession.sparkContext),
            raw.shape,
            planes,
            tables,
            hashlib.sha1(ids.tobytes()).hexdigest(),
            hashlib.sha1(raw.tobytes()).hexdigest(),
        )
        est_candidates = n_q * tables * (multiprobe + 1) * (n / (2**planes))
        fan = 4 if est_candidates > LSH_FAN_OUT_MIN_CANDIDATES else 1
        cand = _lsh_broadcast_candidates(qsrc, ids, raw, build, scan, key, fan)
    else:
        corpus = emb.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        ).filter(F.col("v").isNotNull())
        cand = _lsh_grid_candidates(
            qsrc, corpus, build, scan, dim, n * dim * 8, n_q,
            cap=BROADCAST_SCORE_MAX_BYTES,
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        cand.filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )
