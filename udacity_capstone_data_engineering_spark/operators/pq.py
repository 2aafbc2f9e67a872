"""Product quantization (PQ) approximate nearest neighbors.

The third ANN path beside hyperplane LSH (``similarity.py``) and IVF
(``ivf.py``), and the one whose point is MEMORY: each unit vector is
compressed to ``m`` one-byte codes (64-dim float64 → 8 bytes, a 64×
reduction), so the whole index broadcasts/replicates where raw vectors
cannot — the standard serving layout for billion-vector corpora
(Jégou et al., "Product Quantization for Nearest Neighbor Search").

Pipeline:

  1. FIT: split the dimension into ``m`` subspaces; per subspace, run
     seeded Lloyd k-means over a bounded Arrow-collected sample (the
     same driver-side fit practice as IVF — codebooks are
     m × ksub × dsub floats, trivially small).
  2. ENCODE: one Arrow-batched pass assigns every vector its nearest
     centroid PER SUBSPACE → one BYTE per subspace (ksub ≤ 256 —
     codes stay uint8 from the encode matmul through every closure,
     so the driver/executor footprint matches the byte gate, not 8×
     it).
  3. SEARCH (ADC — asymmetric distance computation): the query stays
     EXACT; per query, a lookup table LUT[s][c] = q_s · codebook[s][c]
     turns each corpus row's approximate dot product into ``m`` table
     lookups + adds.  The scan streams over FIXED-SIZE id chunks with
     a per-query running top-``rerank`` tournament, so the score
     buffer is bounded (~256 MB) no matter how large the corpus is —
     a single (batch × n) matrix would out-grow executor memory long
     before the index cap binds.  Top-``rerank`` candidates per query
     then get EXACT cosine scoring and the final top-k — the standard
     two-stage that recovers most recall lost to quantization.

One cell-major scan, two payloads.  Flat PQ is IVF-PQ with ONE cell
(a zero centroid) and ``nprobe=1``; IVF's exact scan is IVF-PQ without
the quantizer, its cells holding the unit vectors themselves.  So
``pq_topk``, ``ivfpq_topk``, the standing index
(``ann_index.ann_topk_against_index``) and ``ivf_topk`` past its
pair-join volume all size their knobs and hand a lazy
``(id, cell, payload)`` relation (``_encode_to_cells``, or the
persisted code table) to :func:`_cell_serve`.  What differs by
payload is one :class:`_Payload` value, passed in: the payload column
and its decode (uint8 codes or float64 unit vectors), the bytes per
row that ship (8+m or 8+8·dim), how the inverted file is collected
under the cap (the coded relation, or the raw vectors the exact
rerank reads anyway) and the block scorer (the ADC LUT gather, or an
exact ``xq @ mat.T``).  The candidate kernel is
:func:`_cell_major_scan`: probe each query's ``nprobe`` nearest
cells and run the bounded tournament (:func:`_top_block`) once per
cell for all the queries probing it.  The kernel runs in two shapes,
switched on MEASURED payload bytes:

  * UNDER the broadcast cap (n·row_bytes ≤ 256 MiB: ≈ 16M vectors of
    m=8 codes, ≈ 500k raw 64-d vectors): the inverted file
    broadcasts; candidate generation is one Arrow pass over the
    queries (``_cell_candidates_udf``).
  * PAST the cap: cells pack into byte-capped shards (a cell too big
    for one is hash-split first), queries join only the shards that
    hold a probed cell, and a cogrouped ``applyInPandas`` grid join
    runs the SAME kernel on each (query-block × shard) cell
    (``_sharded_cell_candidates``); a query-keyed window merges the
    shards on (score desc, id asc).  Per-(query, row) ADC scores do
    not depend on the shard (einsum LUTs, fixed accumulation order),
    so both shapes return identical rows (the forced-cap equality
    tests pin this); the exact scan's cut keeps 8 candidates past k,
    which absorbs a last-ulp dgemm difference before the exact
    rerank.  Replication cost is the standard grid-join trade:
    payload × query-blocks, queries × probed shards.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from udacity_capstone_data_engineering_spark.operators.similarity import (
    _grid_shards,
)

# Per-query-batch score buffer budget of the shared tournament
# (_top_block, ADC and exact scorers alike), in float64 ELEMENTS
# (32M ≈ 256 MB).  The corpus-axis chunk size is derived from it so
# batch_rows × chunk stays bounded regardless of corpus size.
ADC_CHUNK_ELEMS = 32_000_000

# Column width of the tournament's reused fill window — sized for
# cache residency of the ADC gather under MANY concurrent workers,
# measured best at 2048 for nq 625 AND 10000 (smaller hits a
# short-gather slow path, larger spills shared L3).
_ADC_ACC_COLS = 2048


def fit_pq_codebooks(
    emb: DataFrame,
    vec_col: str,
    dim: int,
    m: int = 8,
    ksub: int = 16,
    seed: int = 42,
    sample: int = 100_000,
    iters: int = 10,
    n: int | None = None,
):
    """Seeded per-subspace Lloyd k-means over a bounded Arrow sample.

    Returns an (m, k, dim//m) float64 ndarray of codebooks, fit on
    L2-NORMALIZED vectors (PQ approximates the unit vector, so ADC
    lookup sums approximate the cosine directly), the same bounded
    sample as the IVF fit (``ivf._fit_sample``: NULL rows and rows
    whose norm is not finite stay out).  An EMPTY sample short-circuits
    to the zero-initialized books (k=1) instead of tripping
    ``rng.choice`` on a zero-length population."""
    import numpy as np

    from udacity_capstone_data_engineering_spark.operators.ivf import (
        _fit_sample,
    )

    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    if ksub > 256:
        raise ValueError("ksub > 256 does not fit one-byte codes")
    x = _fit_sample(emb, vec_col, sample, seed, n)
    dsub = dim // m
    rng = np.random.default_rng(seed)
    k = min(ksub, max(len(x), 1))
    books = np.zeros((m, k, dsub), dtype=np.float64)
    if not len(x):
        return books
    for s in range(m):
        xs = x[:, s * dsub : (s + 1) * dsub]
        centers = xs[rng.choice(len(xs), size=k, replace=False)]
        for _ in range(iters):
            # nearest by L2: argmin |x-c|² == argmax x·c − ½|c|²
            d = xs @ centers.T - 0.5 * (centers * centers).sum(axis=1)
            lab = d.argmax(axis=1)
            # vectorized Lloyd update: scatter-add members per centroid
            # (a per-centroid boolean-mask loop is O(k·n) per iter and
            # dominated the fit at ksub=256)
            sums = np.zeros_like(centers)
            np.add.at(sums, lab, xs)
            counts = np.bincount(lab, minlength=k).astype(np.float64)
            nonempty = counts > 0
            centers[nonempty] = sums[nonempty] / counts[nonempty, None]
        books[s] = centers
    return books


def _encode_udf(books):
    """pandas_udf: unit vector → array<smallint> of per-subspace codes
    (one batch matmul per subspace against the broadcast codebooks).
    Values are 0..255 (ksub ≤ 256); smallint is the narrowest Spark
    integral that holds them, and every numpy consumer downcasts to
    uint8 on arrival."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    m, _k, dsub = books.shape
    corrections = [0.5 * (books[s] * books[s]).sum(axis=1) for s in range(m)]

    def encode(v):
        x = np.vstack(v.to_numpy())
        codes = np.empty((len(x), m), dtype=np.int16)
        for s in range(m):
            xs = x[:, s * dsub : (s + 1) * dsub]
            d = xs @ books[s].T - corrections[s]
            codes[:, s] = d.argmax(axis=1).astype(np.int16)
        return pd.Series(list(codes))

    return pandas_udf(encode, "array<smallint>")


def _nearest_cell(x, centers):
    """Nearest cell of each unit row of ``x``: argmax x·c − ½|c|²."""
    return (x @ centers.T - 0.5 * (centers * centers).sum(axis=1)).argmax(
        axis=1
    )


def _probe1_cell_udf(centers):
    """pandas_udf: unit vector → its single nearest cell id."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def assign(v):
        x = np.vstack(v.to_numpy())
        return pd.Series(_nearest_cell(x, centers).astype("int64"))

    return pandas_udf(assign, "long")


def _encode_to_cells(
    emb, id_col, vec_col, centers, payload, n_rows
) -> DataFrame:
    """``(id, cell, payload)`` for every vector of ``emb`` with a unit
    vector, encoded with the GIVEN (already-fit) centroids and
    ``payload`` (:func:`_adc_payload` codes, or :func:`_exact_payload`
    unit vectors as they are) — the one encode stage of the in-line
    serves and of the standing index's build and append, so appended
    rows are bit-identical to what a build with the same books would
    have written.  ``n_rows`` is ``emb``'s row count, which every
    caller already holds."""
    from udacity_capstone_data_engineering_spark.operators.similarity import (
        _unit_vectors,
    )
    from udacity_capstone_data_engineering_spark.sources.catalog import (
        fan_out_small_scan,
    )

    v = _unit_vectors(emb, id_col, vec_col).filter(F.col("uv").isNotNull())
    assign = _probe1_cell_udf(centers)
    # fan out before the CPU-heavy encode/assign UDFs: a one-file
    # corpus otherwise runs the whole encode as ONE task (r8, observed
    # 13 serial CPU-minutes at 200k vectors in the sf10 probe); skipped
    # under FAN_OUT_MIN_ROWS, a no-op at real scale.
    return fan_out_small_scan(v, n_rows=n_rows).select(
        F.col(id_col).alias("id"),
        assign(F.col("uv")).cast("int").alias("cell"),
        payload.encode(F.col("uv")).alias(payload.column),
    )


def _query_luts(x, books):
    """Per-subspace ADC lookup tables for a query block: list of
    (n_queries × ksub) float64 arrays.

    Computed with ``einsum`` (default optimize=False — a fixed-order C
    loop, NOT a shape-adaptive BLAS kernel), so each LUT entry is a
    pure function of (query row, codebook row) regardless of how the
    query block is composed (ADVICE r4): the broadcast kernel's Arrow
    batches and the sharded grid's hash blocks slice queries
    differently, and dgemm/dgemv results may differ in the last ulp
    across shapes — einsum makes LUTs, and with the fixed per-subspace
    accumulation order every downstream ADC score, bit-identical
    across regimes.  ~1.7× the dgemm cost on the LUTs only (measured
    0.6 s vs 0.36 s per 10k-query batch), invisible next to the scan."""
    import numpy as np

    m, _k, dsub = books.shape
    return [
        np.einsum("qd,kd->qk", x[:, s * dsub : (s + 1) * dsub], books[s])
        for s in range(m)
    ]


def _top_block(nq, ids, take, fill):
    """Streaming top-``take`` tournament over the corpus axis, shared
    by both block scorers (:func:`_adc_top_block`,
    :func:`_exact_top_block`).

    ``ids`` must be ASCENDING; ``fill(lo, hi, out)`` writes the
    (nq × (hi−lo)) scores of rows ``lo:hi`` into ``out``.  Scans in
    chunks sized so the (nq × chunk) float64 buffer stays under
    ``ADC_CHUNK_ELEMS`` elements; between chunks each query keeps its
    best ``take`` (score desc, id asc) — maintained in id-ascending
    storage order so the stable argsort reproduces the full-matrix
    kernel's tie behavior bit-for-bit.  Returns (top_ids, top_scores),
    both (nq × ≤take).

    A NaN score (a query or a row with no direction) is ranked LAST
    as −inf, so such a query keeps its candidates in id order — the
    order ``lsh_topk`` gives it — and the exact rerank scores those
    pairs NULL."""
    import numpy as np

    n = len(ids)
    take = min(take, n)
    if not nq or not n or not take:
        return (
            np.zeros((nq, 0), dtype=np.int64),
            np.zeros((nq, 0), dtype=np.float64),
        )
    chunk = max(256, ADC_CHUNK_ELEMS // max(nq, 1))
    best_i = np.zeros((nq, 0), dtype=np.int64)
    best_s = np.zeros((nq, 0), dtype=np.float64)
    for lo in range(0, n, chunk):
        hi = min(lo + chunk, n)
        nb = best_s.shape[1]
        width = nb + (hi - lo)
        # one buffer holds [carry-over best | this chunk]; fill it
        # through a ~2048-column sliding window. The window exists for
        # memory behavior, not semantics: the r4 ADC form allocated 7
        # fresh (nq × chunk) float64 temps per chunk, and at 32
        # concurrent workers that allocation+bandwidth storm collapsed
        # throughput 8× (measured 48.6 s → 1.5 s wall for 32 parallel
        # 625-query scans of 20k codes after the windowed rewrite;
        # 2048 columns beat both 512 and 8192 at every probed nq).
        all_s = np.empty((nq, width), dtype=np.float64)
        all_s[:, :nb] = best_s
        for b0 in range(lo, hi, _ADC_ACC_COLS):
            b1 = min(b0 + _ADC_ACC_COLS, hi)
            view = all_s[:, nb + b0 - lo : nb + b1 - lo]
            fill(b0, b1, view)
            # NaN → −inf in place (fmax drops the NaN operand); a NaN
            # threshold below would select no column at all
            np.fmax(view, -np.inf, out=view)
        all_i = np.concatenate(
            [best_i, np.broadcast_to(ids[lo:hi], (nq, hi - lo))], axis=1
        )
        if width <= take:
            best_s, best_i = all_s, np.ascontiguousarray(all_i)
            continue
        # Invariant: previous best ids < this chunk's ids (global id
        # sort) and best rows stay id-ascending, so one row is one
        # id-ascending sequence. Top-``take`` selection WITHOUT the
        # O(width log width) stable mergesort the r4 kernel paid per
        # chunk (its argsort dominated the chunk wall and its index
        # matrix the memory traffic — 8× contention collapse at 32
        # concurrent workers): threshold at the take-th largest, keep
        # everything strictly greater, then fill with the LOWEST
        # storage indices among threshold ties — row-major boolean
        # selection order IS id-ascending, which IS the stable
        # argsort's tie rule, so the kept set and its storage order
        # match the r4 kernel bit-for-bit
        # (test_adc_chunked_tournament_matches_one_shot).
        kth = np.partition(all_s, width - take, axis=1)[:, width - take]
        gt = all_s > kth[:, None]
        need = (take - gt.sum(axis=1, dtype=np.int64))[:, None]
        eq = all_s == kth[:, None]
        sel = gt | (eq & (np.cumsum(eq, axis=1, dtype=np.int32) <= need))
        best_s = all_s[sel].reshape(nq, take)
        best_i = all_i[sel].reshape(nq, take)
    # emit in rank order (score desc, id asc)
    order = np.argsort(-best_s, axis=1, kind="stable")
    return (
        np.take_along_axis(best_i, order, axis=1),
        np.take_along_axis(best_s, order, axis=1),
    )


def _adc_top_block(luts, ids, codes, take):
    """The ADC block scorer: :func:`_top_block` over ``codes`` ((n × m)
    uint8), each row's score the sum of its ``m`` LUT entries.  The
    gather writes through one reused window-sized temp (accumulation
    ORDER over subspaces is fixed, so scores are bit-identical however
    the rows are chunked)."""
    import numpy as np

    nq = luts[0].shape[0] if luts else 0
    tmp = np.empty((nq, min(_ADC_ACC_COLS, len(ids))), dtype=np.float64)

    def fill(lo, hi, out):
        np.take(luts[0], codes[lo:hi, 0], axis=1, out=out)
        t = tmp[:, : hi - lo]
        for s in range(1, len(luts)):
            np.take(luts[s], codes[lo:hi, s], axis=1, out=t)
            out += t

    return _top_block(nq, ids, take, fill)


def _exact_top_block(tables, ids, mat, take):
    """The exact block scorer: :func:`_top_block` over ``mat`` ((n ×
    dim) float64 unit rows), each score the dot product ``xq @ mat.T``
    of one fill window (one dgemm per window)."""
    import numpy as np

    xq = tables[0]
    return _top_block(
        len(xq), ids, take,
        lambda lo, hi, out: np.matmul(xq, mat[lo:hi].T, out=out),
    )


def _compact_candidate_partials(qpos, cids, cscores, nq, rerank):
    """Reduce accumulated (query, id, score) candidate partials to each
    query's top-``rerank`` by the merge key (query, score desc, id asc)
    — the SAME lexsort the final emission uses, so compacting
    mid-accumulation is lossless for the final per-query top-``rerank``
    (every dropped row is beaten by ``rerank`` kept rows of its own
    query under the exact final ordering; (query, id) pairs are unique
    because cells partition ids and a query probes a cell once).
    Returns the compacted (qpos, cids, cscores), sorted by the key."""
    import numpy as np

    order = np.lexsort((cids, -cscores, qpos))
    qpos, cids, cscores = qpos[order], cids[order], cscores[order]
    starts = np.searchsorted(qpos, np.arange(nq), side="left")
    rank = np.arange(len(qpos)) - starts[qpos]
    keep = rank < rerank
    return qpos[keep], cids[keep], cscores[keep]


def _cell_major_scan(
    x, centers, payload, cell_ids, cell_rows, nprobe, rerank,
    compact_elems=None, return_partials=False,
):
    """CELL-MAJOR scan over a query batch (r10), the one candidate
    kernel of every cell serve: probe each query's ``nprobe`` nearest
    cells and run the payload's block scorer once per probed cell for
    ALL the queries probing it, keep each cell's per-query
    top-``rerank`` partials, and merge with one (query, score desc, id
    asc) lexsort.  Flat PQ is the one-cell case (a zero centroid,
    ``nprobe=1``), where the merge keeps the tournament's own
    top-``rerank``.

    The scorer is the :class:`_Payload`'s: ``payload.tables`` — x →
    per-query tables, computed once per batch and sliced to each
    cell's queries — and ``payload.top_block`` — ``(tables, ids, rows,
    take)`` → the cell's tournament.

    ``compact_elems`` (ADVICE r10, the memory bound): whenever the
    accumulated partial count exceeds this many elements, compact to
    per-query top-``rerank`` via :func:`_compact_candidate_partials`
    — without it the partials grow O(nq_batch · probed cells · rerank)
    (a 10k-query Arrow batch probing 3/4 of thousands of cells would
    accumulate tens of GB before the final lexsort), while the
    compacted floor is nq·rerank. Defaults to ``ADC_CHUNK_ELEMS``.
    Compaction is lossless (same merge key), pinned by
    ``test_cell_major_compaction_lossless``.

    Returns a list of ``nq`` int64 id arrays (each ≤ ``rerank``) — or,
    with ``return_partials=True``, the compacted ``(qpos, ids, score)``
    arrays themselves (sorted by the merge key), which the sharded
    grid kernel emits so the cross-shard window can re-merge on the
    identical (query, score desc, id asc) rule."""
    import numpy as np

    if compact_elems is None:
        compact_elems = ADC_CHUNK_ELEMS
    correction = 0.5 * (centers * centers).sum(axis=1)
    nq = len(x)
    n_cells = len(cell_ids)
    cell_scores = x @ centers.T - correction
    take_cells = min(nprobe, cell_scores.shape[1])
    probed = np.argsort(-cell_scores, axis=1, kind="stable")[:, :take_cells]
    mask = np.zeros((nq, n_cells), dtype=bool)
    np.put_along_axis(mask, probed, True, axis=1)
    # batch-level query tables (ADC: the same shape-invariant einsum
    # LUTs as the sharded grid — ADVICE r4: per-query dgemv here vs the
    # shard path's dgemm could differ in the last ulp)
    qtables = payload.tables(x)
    qpos_parts, id_parts, score_parts = [], [], []
    acc_elems = 0
    empty = np.zeros(0, dtype=np.int64)
    empty_f = np.zeros(0, dtype=np.float64)
    for c in range(n_cells):
        qidx = np.nonzero(mask[:, c])[0]
        if not len(cell_ids[c]) or not len(qidx):
            continue
        qt = qtables if len(qidx) == nq else [t[qidx] for t in qtables]
        top_i, top_s = payload.top_block(
            qt, cell_ids[c], cell_rows[c], rerank
        )
        qpos_parts.append(np.repeat(qidx, top_i.shape[1]))
        id_parts.append(top_i.ravel())
        score_parts.append(top_s.ravel())
        acc_elems += top_i.size
        if acc_elems > compact_elems:
            qp, ci, cs = _compact_candidate_partials(
                np.concatenate(qpos_parts),
                np.concatenate(id_parts),
                np.concatenate(score_parts),
                nq,
                rerank,
            )
            qpos_parts, id_parts, score_parts = [qp], [ci], [cs]
            acc_elems = len(qp)
    if not qpos_parts:
        if return_partials:
            return empty, empty, empty_f
        return [empty] * nq
    if len(qpos_parts) == 1:
        # one tournament (or one compaction) is already in merge-key
        # order, ≤ rerank per query: flat PQ's single cell
        qpos, cids, cscores = qpos_parts[0], id_parts[0], score_parts[0]
    else:
        qpos, cids, cscores = _compact_candidate_partials(
            np.concatenate(qpos_parts),
            np.concatenate(id_parts),
            np.concatenate(score_parts),
            nq,
            rerank,
        )
    if return_partials:
        return qpos, cids, cscores
    starts = np.searchsorted(qpos, np.arange(nq), side="left")
    ends = np.searchsorted(qpos, np.arange(nq), side="right")
    return [
        cids[starts[qi] : ends[qi]] if ends[qi] > starts[qi] else empty
        for qi in range(nq)
    ]


def _cell_major_candidates(
    x, centers, books, cell_ids, cell_codes, nprobe, rerank, **kw
):
    """:func:`_cell_major_scan` of PQ codes, scored by ADC under
    ``books``."""
    return _cell_major_scan(
        x, centers, _adc_payload(books), cell_ids, cell_codes, nprobe,
        rerank, **kw,
    )


class _Payload(NamedTuple):
    """What a cell-major scan reads and how it scores it — the ONLY
    things that differ between the ADC scan of PQ codes and the exact
    scan of unit vectors; passed in, so the kernel, the grid and the
    serve never branch on their caller."""

    column: str  # payload column of the (id, cell, payload) relation
    encode: Callable  # uv Column → payload Column
    dtype: str  # element type of the decoded payload
    width: int  # row width of the decoded payload
    row_bytes: int  # bytes per row that ship: the int64 id + payload
    # under the cap: (emb, id_col, vec_col, cells, centers) → (the
    # (id, cell, payload) frame, the rerank's raw matrix or None)
    collect: Callable
    tables: Callable  # scorer: x → per-query tables
    top_block: Callable  # scorer: (tables, ids, rows, take) → top


def _collect_exact_cells(emb, id_col, vec_col, cells, centers):
    """``_Payload.collect`` of unit vectors: the rows of ``cells`` and
    the rerank's raw matrix from ONE limited Arrow collect of the raw
    vectors — a JVM-only job, where collecting ``cells`` would run the
    normalize and assign kernels in Python workers and the rerank would
    then collect the corpus again.  The rows are derived as on the
    executors: ``_unit_vectors``' own Arrow kernel normalizes (NULL,
    NULL-element and zero vectors drop out, NaN rows stay) and
    :func:`_nearest_cell` assigns.  Past the rerank's byte cap (only a
    ``max_broadcast_bytes`` above it gets here) ``cells`` itself is
    collected and the rerank collects on its own."""
    import numpy as np
    import pandas as pd

    from udacity_capstone_data_engineering_spark.operators.similarity import (
        _collect_raw_vectors,
        _normalize_batches,
        _raw_matrix,
    )

    dim = centers.shape[1]
    tbl = _collect_raw_vectors(emb, id_col, vec_col, dim)
    if tbl is None:
        return cells.toPandas(), None
    ids, rows = [np.zeros(0, dtype=np.int64)], [np.zeros((0, dim))]
    for rb in _normalize_batches(tbl.to_batches()):
        uv = rb.column(1)
        live = uv.is_valid().to_numpy(zero_copy_only=False)
        ids.append(rb.column(0).to_numpy()[live].astype(np.int64))
        rows.append(uv.flatten().to_numpy().reshape(int(live.sum()), dim))
    ids, x = np.concatenate(ids), np.concatenate(rows)
    cell = _nearest_cell(x, centers) if len(x) else np.zeros(0, np.int64)
    frame = pd.DataFrame({"id": ids, "cell": cell, "uv": list(x)})
    return frame, _raw_matrix(tbl, dim)


def _adc_payload(books):
    """PQ codes: ``m`` uint8 per row, scored by the ADC LUT gather."""
    m = books.shape[0]
    # encode wraps the UDF in a lambda: the payload is pickled into the
    # scan closures, and a UDF that has been applied holds a JVM handle;
    # under the cap the coded relation itself is collected, and the
    # rerank collects its own matrix
    return _Payload(
        "codes", lambda uv: _encode_udf(books)(uv), "uint8", m, 8 + m,
        lambda emb, id_col, vec_col, cells, centers: (cells.toPandas(), None),
        lambda x: _query_luts(x, books), _adc_top_block,
    )


def _exact_payload(dim):
    """Unit vectors as they are: ``dim`` float64 per row, scored by an
    exact dot product; there is no codebook, and a query's table is
    the unit query itself."""
    return _Payload(
        "uv", lambda uv: uv, "float64", dim, 8 + 8 * dim,
        _collect_exact_cells, lambda x: [x], _exact_top_block,
    )


def _inverted_file(pdf, payload, n_cells):
    """Per cell, its ids and decoded payload rows in id order, from an
    ``(id, cell, payload)`` pandas frame — the layout the kernel scans,
    in both shapes."""
    import numpy as np

    ids = pdf["id"].to_numpy(dtype=np.int64)
    cells = pdf["cell"].to_numpy(dtype=np.int64)
    values = pdf[payload.column].to_numpy()
    rows = (
        np.vstack(values).astype(payload.dtype)
        if len(values)
        else np.zeros((0, payload.width), dtype=payload.dtype)
    )
    order = np.lexsort((ids, cells))
    ids, rows = ids[order], rows[order]
    bounds = np.searchsorted(cells[order], np.arange(n_cells + 1))
    spans = list(zip(bounds[:-1], bounds[1:]))
    return [ids[a:b] for a, b in spans], [rows[a:b] for a, b in spans]


def _cell_candidates_udf(
    spark, centers, payload, cell_ids, cell_rows, nprobe, rerank
):
    """pandas_udf: unit query vector → array<long> of the ``rerank``
    best candidate ids by the payload's score over ONLY the query's
    ``nprobe`` nearest cells (all of them for flat PQ's single cell) —
    the under-the-cap shape of :func:`_cell_major_scan`.
    Deterministic: stable argsorts + id-sorted cells.  The inverted
    file ships as ONE broadcast (fetched once per worker, not
    re-deserialized per task; r9)."""
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from udacity_capstone_data_engineering_spark.operators.similarity import (
        _cached_broadcast,
    )

    bc = _cached_broadcast(
        spark,
        (
            "cell_scan",
            id(spark.sparkContext),
            len(cell_ids),
            sum(len(c) for c in cell_ids),
            hashlib.sha1(centers.tobytes()).hexdigest(),
            hashlib.sha1(
                b"".join(c.tobytes() for c in cell_ids)
            ).hexdigest(),
            # the rows are part of the payload and, for codes, depend
            # on (m, ksub) even when centers/cells are identical:
            # without this digest a second ivfpq_topk in the same
            # session with a different ksub would silently serve the
            # first call's stale codes against the new LUTs (ADVICE r9)
            hashlib.sha1(
                b"".join(c.tobytes() for c in cell_rows)
            ).hexdigest(),
        ),
        lambda: (cell_ids, cell_rows),
    )

    def cand(v):
        # CELL-MAJOR scan (r10): one tournament per probed cell for all
        # the queries probing it, instead of a per-query concatenation
        # of ~nprobe cells (~1M python-level concatenations per 1k
        # queries at the third-decade probe, SCALING.md r10).
        cell_ids, cell_rows = bc.value
        x = np.vstack(v.to_numpy())
        return pd.Series(
            _cell_major_scan(
                x, centers, payload, cell_ids, cell_rows, nprobe, rerank
            )
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
    return pandas_udf(cand, "array<long>").asNondeterministic()


def _pack_cells_to_shards(counts: dict, row_bytes: int, cap: int):
    """Deterministic first-fit-decreasing packing of IVF cells into
    byte-capped shards (r11): each cell whose code bytes exceed the cap
    is first hash-split into ``ceil(bytes/cap)`` pieces, then pieces
    pack into the fewest shards whose content stays ≤ ``cap``.

    Why pack MANY cells per shard instead of shard-per-cell (the r4
    design): the per-(query, shard) top-``rerank`` cut only truncates
    when a shard holds ≫ ``rerank`` rows. With shard = cell, cell size
    (~√n) is BELOW the √n-contour rerank budget, so every probed
    cell's every row flowed into the cross-shard merge window —
    nq · probe_fraction · n rows of shuffle, the same failure class as
    the r10 LSH join spill, just deferred to the fourth decade. Packed
    shards hold ~cap/row_bytes rows (16M at m=8), the cut binds, and
    the merge window receives nq · n_shards · rerank rows.

    Returns ``(mapping_rows, n_shards, nsub)``: mapping_rows is
    ``[(cell, sub, shard)]``, ``nsub[cell]`` the piece count."""
    pieces = []
    nsub = {}
    for c in sorted(counts):
        ns = max(1, -(-counts[c] * row_bytes // max(cap, 1)))
        nsub[int(c)] = int(ns)
        per_piece = -(-counts[c] // ns) * row_bytes
        pieces.extend((per_piece, int(c), j) for j in range(ns))
    pieces.sort(key=lambda p: (-p[0], p[1], p[2]))
    remaining: list[int] = []
    mapping_rows = []
    for size, c, j in pieces:
        for s, room in enumerate(remaining):
            if room >= size:
                remaining[s] = room - size
                mapping_rows.append((c, j, s))
                break
        else:
            remaining.append(max(cap - size, 0))
            mapping_rows.append((c, j, len(remaining) - 1))
    return mapping_rows, max(1, len(remaining)), nsub


def _sharded_cell_candidates(
    qframe, cells, centers, payload, nprobe, rerank, n_queries, cap
):
    """The past-the-cap shape of every cell serve (r11 rewrite): a
    cogrouped grid join over CELL-PACKED shards.  ``qframe`` is
    (query_id, uv); ``cells`` is (id, cell, payload), the distributed
    inverted file.  Cells pack into byte-capped shards
    (``_pack_cells_to_shards``, at ``payload.row_bytes`` per row; flat
    PQ's single cell is hash-split into pieces) and queries join only
    the shards holding ≥1 of their probed cells.  Each (query-block ×
    shard) task re-derives its queries' probed cells from the
    broadcast centroids (the ``_probe_cells_udf`` selection, so nothing
    per-query ships besides the vector), runs the SAME cell-major scan
    as the broadcast kernel on this shard's cells and emits
    per-(query, shard) top-``rerank`` (score, id) partials; the
    cross-shard window merges them on the identical (query, score
    desc, id asc) key, so the merged set is the broadcast kernel's
    (forced-cap equality tests, including the sub-shard split cap).

    Returns (query_id, neighbor_id) candidate pairs."""
    import numpy as np
    import pandas as pd

    from udacity_capstone_data_engineering_spark.operators.ivf import (
        _probe_cells_udf,
    )

    spark = qframe.sparkSession
    row_bytes = payload.row_bytes
    n_cells = len(centers)
    # bounded Arrow boundary: cells × count = √n rows to the driver
    cnt_pdf = (
        cells.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .toPandas()
    )
    counts = dict(zip(cnt_pdf["cell"].tolist(), cnt_pdf["cnt"].tolist()))
    # the grid's task count is n_shards × n_blocks: a one-block query
    # batch against the minimum byte-driven shard count would run on a
    # handful of cores. Shards may be FINER than the cap requires
    # (per-(query,row) scores are shard-independent; cells partition,
    # not replicate), so shrink the effective packing cap until the
    # shard count reaches ~2 tasks/core.
    n_blocks, min_shards = _grid_shards(
        n_queries, spark.sparkContext.defaultParallelism
    )
    total_bytes = sum(counts.values()) * row_bytes
    eff_cap = (
        max(1, min(cap, -(-total_bytes // min_shards))) if counts else cap
    )
    mapping_rows, n_shards, nsub = _pack_cells_to_shards(
        counts, row_bytes, eff_cap
    )
    from udacity_capstone_data_engineering_spark.session import local_df

    mapping = local_df(
        spark, mapping_rows or [(0, 0, 0)], "cell int, __sub int, __shard int"
    )
    nsub_df = local_df(
        spark, sorted(nsub.items()) or [(0, 1)], "cell int, __nsub int"
    )
    col = payload.column
    sharded = (
        cells.join(F.broadcast(nsub_df), "cell")
        .withColumn(
            "__sub", F.pmod(F.xxhash64("id"), F.col("__nsub")).cast("int")
        )
        .join(F.broadcast(mapping), ["cell", "__sub"])
        .select("id", "cell", col, "__shard")
    )
    probe = _probe_cells_udf(centers, nprobe)
    # an INDEPENDENT cell→shard relation for the probe side (sharing
    # the `mapping` frame across both cogroup lineages trips Spark's
    # ambiguous-self-join analysis on __shard)
    probe_mapping = local_df(
        spark,
        sorted({(c, s) for c, _j, s in mapping_rows}) or [(0, 0)],
        "cell int, __shard int",
    )
    probes = (
        qframe.select(
            "query_id", F.explode(probe(F.col("uv"))).alias("cell")
        )
        .join(F.broadcast(probe_mapping), "cell")
        .select("query_id", "__shard")
        .distinct()
    )
    left = probes.join(qframe, "query_id").withColumn(
        "__qb", F.pmod(F.xxhash64("query_id"), F.lit(n_blocks)).cast("int")
    )
    right = sharded.crossJoin(
        F.broadcast(
            spark.range(n_blocks).select(F.col("id").cast("int").alias("__qb"))
        )
    )

    def scan(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if not len(lpdf) or not len(rpdf):
            return pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "score": []}
            ).astype(
                {"query_id": "int64", "neighbor_id": "int64", "score": "f8"}
            )
        cell_ids, cell_rows = _inverted_file(rpdf, payload, n_cells)
        x = np.vstack(lpdf["uv"].to_numpy())
        qids = lpdf["query_id"].to_numpy(dtype=np.int64)
        qpos, cids, cscores = _cell_major_scan(
            x, centers, payload, cell_ids, cell_rows, nprobe, rerank,
            return_partials=True,
        )
        return pd.DataFrame(
            {
                "query_id": qids[qpos],
                "neighbor_id": cids,
                "score": cscores,
            }
        )

    out = (
        left.groupBy("__shard", "__qb")
        .cogroup(right.groupBy("__shard", "__qb"))
        .applyInPandas(scan, "query_id long, neighbor_id long, score double")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), "neighbor_id")
    return (
        out.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= rerank)
        .select("query_id", "neighbor_id")
    )


def _cell_serve(
    emb, id_col, vec_col, cells, centers, payload, n, k, nprobe, rerank,
    max_broadcast_bytes, queries,
) -> DataFrame:
    """The one serve body of ``pq_topk``, ``ivfpq_topk``,
    ``ann_index.ann_topk_against_index`` and ``ivf_topk``'s scan:
    candidate generation over the lazy ``(id, cell, payload)``
    relation ``cells``, exact rerank of the candidates
    (``_score_pairs``, against ``emb``'s raw vectors) and the (cosine
    desc, id asc) rank window.

    The shape follows the bytes that actually ship,
    n·``payload.row_bytes``, against the broadcast cap: under it the
    rows of ``cells`` are collected (``payload.collect``, which may
    hand the rerank the raw matrix it read them from), laid out per
    cell in id order on the driver (:func:`_inverted_file`; no global
    ``orderBy``) and broadcast (``_cell_candidates_udf``); past it
    ``cells`` stays distributed and the cell-packed grid runs the same
    kernel (``_sharded_cell_candidates``).  ``queries`` is the optional
    serving workload (ids ⊆ corpus); ``None`` is the self-top-k."""
    from udacity_capstone_data_engineering_spark.operators.similarity import (
        BROADCAST_SCORE_MAX_BYTES,
        _score_pairs,
        _unit_vectors,
    )
    from udacity_capstone_data_engineering_spark.sources.catalog import (
        fan_out_small_scan,
    )

    cap = (
        BROADCAST_SCORE_MAX_BYTES
        if max_broadcast_bytes is None
        else max_broadcast_bytes
    )
    col = payload.column
    unit = _unit_vectors(emb, id_col, vec_col)
    qv = unit if queries is None else _unit_vectors(queries, id_col, vec_col)
    qv = qv.filter(F.col("uv").isNotNull())
    cells = cells.select("id", "cell", col)
    raw = None
    if n * payload.row_bytes > cap:
        # only the grid's query-block count needs the workload size
        pairs = _sharded_cell_candidates(
            qv.select(F.col(id_col).alias("query_id"), "uv"),
            cells,
            centers, payload, nprobe, rerank,
            n_queries=n if queries is None else queries.count(),
            cap=cap,
        )
    else:
        frame, raw = payload.collect(emb, id_col, vec_col, cells, centers)
        cell_ids, cell_rows = _inverted_file(frame, payload, len(centers))
        cand = _cell_candidates_udf(
            emb.sparkSession, centers, payload, cell_ids, cell_rows,
            nprobe, rerank,
        )
        # the scan is the CPU-heavy stage: widen a narrow parquet scan
        # so it parallelizes (no-op at real scale)
        pairs = fan_out_small_scan(qv).select(
            F.col(id_col).alias("query_id"), cand(F.col("uv")).alias("cs")
        ).select("query_id", F.explode("cs").alias("neighbor_id"))
    scored = _score_pairs(
        emb, id_col, vec_col,
        pairs.filter(F.col("query_id") != F.col("neighbor_id")),
        n=n, unit=unit, raw=raw,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


def ivfpq_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 5,
    m: int = 8,
    ksub: int = 256,
    n_centroids: int | None = None,
    nprobe: int | None = None,
    rerank: int | None = None,
    seed: int = 42,
    fit_sample: int = 100_000,
    target_recall: float | None = 0.9,
    max_broadcast_bytes: int | None = None,
    queries: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ: the composition the module docstring promises — PQ's
    64×-compressed codes grouped into IVF cells, so each query
    ADC-scans only its ``nprobe`` nearest cells' codes instead of the
    whole index. Per-query scan cost drops from n to ~n·nprobe/cells
    (sub-linear with sqrt(n) cells); the broadcast stays code-sized.
    This variant quantizes the raw unit vectors (not per-cell
    residuals — the classic residual refinement buys recall at the
    cost of per-cell code spaces; the auto-sized exact-rerank cut
    recovers it more simply here).

    Auto-sizing follows the coupled-knob law end to end: sqrt(n)
    cells, rerank from :func:`rerank_budget`, and nprobe sized FROM THE
    MEASURED RECALL CURVE via ``target_recall`` (see
    :func:`probe_fraction_for_recall` — VERDICT r3 #3: the old raw
    cells/4 default measured recall@5 ≈ 0.66; the default 0.9 target
    probes 3/4 of cells, the operating point measured at 0.93-0.96
    with ~2 points of PQ cut recovered by the exact rerank).  Pass
    ``target_recall=None`` to fall back to the speed-first 1/4
    fraction, or pin ``nprobe`` explicitly.

    The serve is :func:`_cell_serve`, shared with ``pq_topk``, the
    standing index and ``ivf_topk``'s scan: under the broadcast cap
    the coded inverted file broadcasts; past it the cells pack into
    byte-capped shards (hot cells hash-split first, so the per-task
    bound is ENFORCED under any skew — ADVICE r4) and queries join only
    the shards holding their probed cells.  Both shapes return identical results
    (forced-cap equality tests, including a cap small enough to force
    sub-shard splits).

    ``queries``: optional serving WORKLOAD — a DataFrame with the same
    ``id_col``/``vec_col`` columns whose ids are a subset of the
    corpus.  Only workload vectors probe the index (the index itself
    is still built over the full corpus), so per-batch serving cost is
    |workload|·nprobe·cellsize instead of n·…; this is the stage-1
    hook ``rerank_two_stage`` uses.  ``None`` keeps the all-pairs
    self-topk behavior."""
    import math

    from udacity_capstone_data_engineering_spark.operators.ivf import (
        _fit_centroids,
    )

    n = emb.count()
    if n_centroids is None:
        n_centroids = max(16, int(math.sqrt(max(n, 256))))
    if nprobe is None:
        frac = probe_fraction_for_recall(target_recall)
        nprobe = max(4, math.ceil(n_centroids * frac))
    if rerank is None:
        # Budget from the measured curve (VERDICT r8 #5) at the SAME
        # target the nprobe sizing uses; k-aware floor from r4 (a
        # deeper top-k needs ~20 exact-rerank candidates per returned
        # neighbor or recall decays like every under-coupled knob).
        rerank = rerank_budget(n, k, target_recall)

    centers = _fit_centroids(emb, vec_col, n_centroids, seed, fit_sample, n=n)
    books = fit_pq_codebooks(
        emb, vec_col, dim, m=m, ksub=ksub, seed=seed, sample=fit_sample, n=n
    )
    payload = _adc_payload(books)
    return _cell_serve(
        emb, id_col, vec_col,
        _encode_to_cells(emb, id_col, vec_col, centers, payload, n),
        centers, payload, n, k, nprobe, rerank, max_broadcast_bytes, queries,
    )


def rerank_budget(
    n: int, k: int, target_recall: float | None = None
) -> int:
    """Exact-rerank candidate budget per query (VERDICT r8 #5): the
    coupled-knob floor (max of 50, 20·k, and a corpus term) with the
    corpus term sized from the MEASURED recall curve instead of pinned
    at the generous n/20 — which the r8 sf10 cell measured at recall
    0.9992, an order of magnitude of rerank pairs past a 0.95 target.

    The curve collapses on rerank/√n, not rerank/n (measured,
    ``scripts/pq_rerank_probe.py``, fixed-20k-query second-decade
    protocol, m=8 / ksub=256, recall@5 vs exact truth):

        rerank/√n   sf1 (n=20k)        sf10 (n=200k)
        0.71        0.7815 (155 s)     —
        1.41        0.8881 (315 s)     —
        2.24        —                  0.9240 (1389 s)
        2.83        0.9560 (340 s)     —
        4.47        —                  0.9700 (1782 s)
        7.07        0.9933 (354 s)     —
        22.4        —                  0.9992 (3059 s, r8)

    (IVF-PQ tracks the same contour: 0.7818 at rerank/√n = 0.71 vs
    PQ's 0.7815 — the cut, not the cell filter, governs.) A constant
    FRACTION over-delivers as n grows (n/20 is 7.07√n at sf1 but
    22.4√n at sf10); a constant COUNT decays (100 is 0.78@20k vs
    0.97@2k); √n is the iso-recall contour between them. Tiers take
    the smallest coefficient whose target is MEASURED at one probed
    decade and bracket-monotone at the other:

        target ≤0.90 → 2.83·√n  (0.9560 measured sf1; sf10 ≥ the
                                  2.24-rung's 0.9240 by monotonicity)
        target ≤0.95 → 4.5·√n   (0.9700 measured sf10; sf1 ≥ 0.9560)
        target ≤0.97 → 7.1·√n   (0.9933 measured sf1; sf10 ≥ 0.9700)
        above / None → n/20     (legacy hash-anchor cut: 0.9933 sf1,
                                  0.9992 sf10)

    At sf10 the 0.95 default cut the PQ serving wall 3059 → ~1782 s
    (1.7×) while holding 0.97; total rerank work becomes Q·√n instead
    of Q·n/20 — the difference between a linear and a √-scaling
    serving tier at the third decade."""
    import math

    if target_recall is None or target_recall > 0.97:
        return max(50, -(-n // 20), 20 * k)
    if target_recall <= 0.90:
        c = 2.83
    elif target_recall <= 0.95:
        c = 4.5
    else:
        c = 7.1
    return max(50, 20 * k, math.ceil(c * math.sqrt(n)))


def probe_fraction_for_recall(target_recall: float | None) -> float:
    """Probed-cell fraction for a recall@5 target, from the measured
    IVF/IVF-PQ curves (SCALING.md rounds 2-3, re-measured each round
    by ``ann_recall_report`` + the sf1 probe at 500/2k/20k vectors):

        fraction 1/4 → recall ≈ 0.66     (the old speed-first default)
        fraction 1/2 → recall ≈ 0.85
        fraction 3/4 → recall ≈ 0.93-0.96 (the pinned 16-cell/nprobe-12
                                           operating point)
        fraction 7/8 → recall ≈ 0.97+

    ``None`` keeps the legacy speed-first 1/4.  The step above the
    smallest measured fraction meeting the target is chosen, so the
    returned operating point sits ON the measured curve rather than
    interpolating optimistically."""
    if target_recall is None:
        return 0.25
    if target_recall <= 0.66:
        return 0.25
    if target_recall <= 0.85:
        return 0.5
    if target_recall <= 0.95:
        return 0.75
    return 0.875


def pq_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 5,
    m: int = 8,
    ksub: int = 256,
    rerank: int | None = None,
    seed: int = 42,
    fit_sample: int = 100_000,
    max_broadcast_bytes: int | None = None,
    queries: DataFrame | None = None,
    target_recall: float | None = 0.95,
) -> DataFrame:
    """Approximate cosine top-k via PQ + ADC with exact reranking.

    ``queries``: optional serving workload (same columns, ids ⊆
    corpus) — r8, closing the one asymmetry with the LSH/IVF/IVF-PQ
    kernels, which all had the hook; only workload vectors scan, the
    codebooks/codes stay corpus-wide. This is the shape that matters
    at scale: per-query ADC work is linear in the CORPUS, so the
    self-workload (queries = corpus) is quadratic by construction —
    fine as a correctness anchor at probe scale, never the serving
    path.

    Stage 1 scans the COMPRESSED index (n × m BYTES) per query and
    keeps the top-``rerank`` ADC candidates; stage 2 scores those
    candidates with exact cosine and ranks the final top-k, so
    quantization error only costs recall when a true neighbor falls
    outside the top-``rerank`` ADC cut. Codes and candidates are
    deterministic (seeded fit, stable argsort, id tiebreaks).

    Flat PQ is IVF-PQ with one cell: the codes all sit in the cell of
    a single zero centroid, probed by every query (``nprobe=1``), and
    the serve is :func:`_cell_serve`, shared with ``ivfpq_topk``.
    Under the measured broadcast cap (n·(8+m) bytes — uint8 codes are
    what actually ships) the index broadcasts; past it the one cell
    is hash-split into byte-capped shards of the cogroup grid join,
    with identical results.

    ``rerank=None`` auto-sizes to a CONSTANT FRACTION of the corpus
    via the measured ``rerank_budget`` curve (VERDICT r8 #5) at the
    default ``target_recall=0.95`` — a FRACTION, not a fixed count,
    because a fixed cut decays recall as n grows (measured recall@5
    at m=8: ksub=16/rerank=50 gave 0.74 @ 500 → 0.50 @ 2,000; the
    same knob-coupling law as IVF's nprobe and LSH's tables), and a
    TARGETED fraction, not always-n/20, because the r8 sf10 cell
    measured the generous cut at recall 0.9992 — an order of
    magnitude of rerank pairs past a 0.95 target (the wall numbers
    are in ``rerank_budget``'s docstring). ``target_recall=None``
    keeps the legacy n/20. ``ksub=256`` (8-bit codes) is the
    standard PQ operating point — 16 centroids per subspace
    quantizes too coarsely for the ADC ranking to keep true
    neighbors inside any affordable cut."""
    import numpy as np

    n = emb.count()
    if rerank is None:
        # Budget from the measured √n contour (VERDICT r8 #5; the
        # default 0.95 target takes the 4.5·√n rung — at sf10 that
        # cut the serving wall 3059 → 1782 s (1.7×) while measuring
        # recall 0.9700); k-aware floor from r4 (a deeper top-k needs
        # ~20 exact-rerank candidates per returned neighbor).
        rerank = rerank_budget(n, k, target_recall)
    books = fit_pq_codebooks(
        emb, vec_col, dim, m=m, ksub=ksub, seed=seed, sample=fit_sample, n=n
    )

    centers = np.zeros((1, dim), dtype=np.float64)
    payload = _adc_payload(books)
    return _cell_serve(
        emb, id_col, vec_col,
        _encode_to_cells(emb, id_col, vec_col, centers, payload, n),
        centers, payload, n, k, 1, rerank, max_broadcast_bytes, queries,
    )
