"""Exact-integer Lloyd k-means: iterative ML under the value-hash gate.

Second application of the PageRank pattern (`clusters.pagerank_fixed`):
run a fixed number of iterations with every quantity an exact BIGINT,
so the fixpoint of the recurrence is bit-equal across engines,
partitionings, and shuffles — which lets an iterative ML algorithm
carry a full DuckDB oracle (the recurrence unrolled as CTE blocks)
instead of a weaker rows-only check.

Recurrence (all integers):
- quantize: qv[i] = floor(x[i] * scale + 1/2)  (floor-round; Spark
  HALF_UP vs DuckDB half-even `round` never enters the picture)
- init: centroids 0..k-1 are the quantized vectors of the k smallest
  ids (deterministic, oracle-trivial)
- assign: nearest centroid by integer squared L2; ties -> smallest
  centroid id (strict-< argmin chain)
- update: per dimension, floor(sum / count) (true floor division —
  sums go negative; spelled pmod-style in the oracle so both engines
  agree without float analysis); empty clusters keep their previous
  centroid

Scale shape — the MLlib KMeans layout, which IS the 100 TB design:
centroids live on the driver (k x d integers, here 4 x 64) and enter
the plan as broadcast literals; assignment is a MAP-ONLY zip_with/
aggregate over the scan (no shuffle, no UDF); the update is one
aggregate producing k rows x d sum columns with map-side partial
combine, collected to the driver (k x d values — the canonical
bounded collect, same class as the PQ fit sample). Per iteration:
one job, shuffle bytes O(partitions * k * d). Construction is
necessarily eager (an iterative fixpoint materializes per round, like
``.fit()``); callers wanting pure plan inspection should use a single
iteration.

Overflow bound: |qv| <= scale * max|x|; dist <= d * (2 * scale *
max|x|)^2 — at scale 1024, d 64, |x| <= 32 that is ~2.7e11, far
under 2^63. Update sums are |n * scale * max|x|| — safe past 1e13
rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

K = 4
ITERATIONS = 3
SCALE = 1024
# Above this k, nearest-centroid assignment switches from the literal
# expression plan (O(k*d) Catalyst nodes) to an Arrow kernel over
# broadcast int64 centroids. Both regimes compute the SAME
# exact-integer recurrence and are bit-equal (test_kmeans_assign_regimes
# pins it on a straddle pair), so the oracle story is regime-blind.
# r10: boundary lowered 64 -> 16. The literal plan at k~32, d=64 is a
# ~2048-node expression tree re-analyzed/codegen'd per Lloyd iteration
# — measured DRIVER-bound 20-63 s with 2x run-to-run variance on the
# sf0.1 semantic rows, vs 8-14 s stable through the kernel
# (semantic_dedup_autok 62.7 -> 8.0 s, semantic_dedup_index_build
# 28.6 -> 14.0 s, fresh-session bench protocol). k <= 16 keeps the
# oracle demo rows (k=4) on the pure-JVM literal plan the no-Python-UDF
# plan guard pins.
ASSIGN_KERNEL_MIN_K = 16

# Driver-Lloyd regime bounds (r12, guide §1.2: the distributed loop is
# 2+iterations full job barriers — init collect, one agg collect per
# iteration, the final checkpoint — each ~0.45 s of fixed overhead at
# bench scale regardless of data volume). Under BOTH caps the quantized
# matrix collects once and the whole recurrence runs in numpy int64 on
# the driver. Every quantity is an exact integer (module docstring), so
# the driver loop is BIT-EQUAL to the distributed one — same init (k
# smallest vids), same strict-< argmin, same floor-division update,
# same empty-cluster rule — pinned by
# test_kmeans_driver_regime_bit_equal. Past either cap (the 100 TB
# shape) the distributed loop runs unchanged.
KMEANS_DRIVER_MAX_BYTES = 64 * 1024 * 1024  # collected n x d int64 matrix
KMEANS_DRIVER_MAX_WORK = 256_000_000  # n*k*d int ops per assign pass


def _quantize(vecs: DataFrame, id_col: str, vec_col: str, scale: int) -> DataFrame:
    return vecs.select(
        F.col(id_col).alias("vid"),
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(x.cast("double") * scale + F.lit(0.5)).cast("long"),
        ).alias("qv"),
    )


def _assign(q: DataFrame, cents: list[list[int]]) -> DataFrame:
    """Map-only nearest-centroid assignment against literal centroids.

    The distances live in ONE array column built by `transform` over a
    k x d literal matrix, and the argmin is `array_min` +
    `array_position` (first occurrence == smallest centroid id — the
    same strict-< tie rule as a left-to-right argmin chain). Plan size
    is O(k*d) literal nodes; the r5 formulation chained
    `when(better, ...).otherwise(best_d)` with best_d re-embedded on
    BOTH branches, an expression tree EXPONENTIAL in k — invisible at
    the pinned k=4, a driver OOM at auto-k's k=32 (caught by the
    round-6 sf0.1 gate on `semantic_dedup_autok`)."""
    # r11 (guide §1.2 driver-side): the k x d literal matrix is built
    # as ONE parsed SQL expression, not k*d F.lit() Column calls — each
    # py4j round-trip costs ~2.5 ms, so the 4x64 matrix cost ~0.7 s of
    # DRIVER wall per Lloyd iteration (measured; the job itself is
    # ~0.3 s). Values and types are identical (BIGINT elements).
    cent_lit = F.expr(
        "CAST(array("
        + ",".join(
            "array(" + ",".join(str(int(v)) for v in cv) + ")" for cv in cents
        )
        + ") AS ARRAY<ARRAY<BIGINT>>)"
    )
    dists = F.transform(
        cent_lit,
        lambda cv: F.aggregate(
            F.zip_with("qv", cv, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    out = q.select("vid", "qv", dists.alias("_dists"))
    best_d = F.array_min("_dists")
    return out.select(
        "vid",
        "qv",
        (F.array_position("_dists", best_d) - 1).cast("int").alias("cluster"),
        best_d.alias("dist_sq"),
    )


def _assign_kernel(
    q: DataFrame, cents: list[list[int]], _bc_out: list | None = None
) -> DataFrame:
    """Large-k assignment: the same exact-integer argmin as `_assign`,
    vectorized in numpy int64 inside an Arrow kernel over BROADCAST
    centroids (k x d int64 — SemDeDup's LAION configuration is 50k x
    64 = 25 MB, well under any broadcast budget). int64 arithmetic is
    exact, `np.argmin` returns the FIRST minimum (== smallest centroid
    id, the strict-< tie rule), so the kernel is bit-equal to the
    literal plan — only the plan size changes. Distance blocks are
    row-chunked so a worker never holds more than ~chunk*k int64s."""
    import numpy as np
    import pandas as pd

    spark = q.sparkSession
    bc = spark.sparkContext.broadcast(np.asarray(cents, dtype=np.int64))
    if _bc_out is not None:
        # ADVICE r6: each kernel call pins a k x d int64 broadcast
        # (~25 MB at the LAION shape) on every executor for the
        # application lifetime. Callers that fully consume the result
        # (the Lloyd loop's per-iteration collect) pass a list here
        # and unpersist after consumption.
        _bc_out.append(bc)
    # ~32 MB of i64 distance scratch per chunk regardless of k
    chunk = max(64, (4 << 20) // max(1, len(cents)))

    def run(batches):
        c = bc.value  # (k, d) int64
        for pdf in batches:
            for start in range(0, len(pdf), chunk):
                part = pdf.iloc[start : start + chunk]
                x = np.array(list(part["qv"]), dtype=np.int64)  # (b, d)
                # Expanded squared L2 in pure int64 — exact; per-term
                # bound d*(scale*max|x|)^2 ~ 2^36, far under 2^63.
                d2 = (
                    (x * x).sum(1, keepdims=True)
                    - 2 * (x @ c.T)
                    + (c * c).sum(1)[None, :]
                )
                best = d2.argmin(1)  # first min == smallest cid
                yield pd.DataFrame(
                    {
                        "vid": part["vid"].values,
                        "qv": part["qv"].values,
                        "cluster": best.astype("int32"),
                        "dist_sq": d2[np.arange(len(part)), best],
                    }
                )

    return q.select("vid", "qv").mapInPandas(
        run, schema="vid long, qv array<long>, cluster int, dist_sq long"
    )


def _assign_any(
    q: DataFrame, cents: list[list[int]], _bc_out: list | None = None
) -> DataFrame:
    if len(cents) > ASSIGN_KERNEL_MIN_K:
        return _assign_kernel(q, cents, _bc_out)
    return _assign(q, cents)


def _lloyd_driver(ids, mat, k, iterations):
    """The exact-integer Lloyd recurrence over a collected int64
    matrix: same init (quantized vectors of the k smallest vids), same
    strict-< argmin (``np.argmin`` returns the FIRST minimum), same
    ``//`` floor-division update (numpy int64 floor_divide == Python
    ``//``), same empty-cluster keep rule. int64 throughout — exact,
    so bit-equal to the distributed loop by construction. Returns
    ``(cents, labels, dist_sq)``."""
    import numpy as np

    order = np.argsort(ids, kind="stable")
    cents = mat[order[:k]].copy()  # (k, d) int64

    def assign(c):
        # expanded squared L2, all int64 (bounds per module docstring)
        d2 = (
            (mat * mat).sum(axis=1, keepdims=True)
            - 2 * (mat @ c.T)
            + (c * c).sum(axis=1)[None, :]
        )
        lab = d2.argmin(axis=1)
        return lab, d2[np.arange(len(mat)), lab]

    for _ in range(iterations):
        lab, _d = assign(cents)
        counts = np.bincount(lab, minlength=len(cents))
        sums = np.zeros_like(cents)
        np.add.at(sums, lab, mat)
        nonempty = counts > 0
        cents[nonempty] = sums[nonempty] // counts[nonempty, None]
    lab, dist = assign(cents)
    return cents, lab, dist


def _collect_quantized(q: DataFrame, max_rows: int):
    """``(ids, int64 matrix)`` from the quantized relation iff it has
    at most ``max_rows`` rows and a clean rectangular no-null layout;
    ``None`` otherwise (the caller takes the distributed loop). The
    LIMIT enforces the cap without a count job — at 100 TB the scan
    stops after the first partitions."""
    import numpy as np

    pdf = q.limit(max_rows + 1).toPandas()
    if len(pdf) > max_rows:
        return None
    if pdf["qv"].isna().any():
        return None
    try:
        mat = np.vstack(pdf["qv"].to_numpy())
    except ValueError:  # ragged rows
        return None
    if mat.dtype != np.int64:  # null elements surface as object/float
        return None
    try:
        ids = pdf["vid"].to_numpy(dtype=np.int64)
    except (ValueError, TypeError):  # non-integral id column
        return None
    if pdf["vid"].isna().any():
        return None
    return ids, mat


def kmeans_int(
    vecs: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = K,
    iterations: int = ITERATIONS,
    scale: int = SCALE,
    _cents_out: list | None = None,
) -> DataFrame:
    """Fixed-iteration integer Lloyd; returns the FINAL assignment
    ``(vec_id, cluster, dist_sq)`` after ``iterations`` update rounds.
    Pass ``_cents_out=[]`` to also receive the final centroid matrix
    (k lists of d ints) — the incremental SemDeDup tier assigns NEW
    batches against these standing centroids without re-clustering."""
    from udacity_capstone_data_engineering_spark.sources.catalog import (
        fan_out_small_scan,
    )

    # ---- driver regime (r12): under the byte cap, collect the
    # quantized matrix once and run the whole recurrence in numpy
    # int64 — bit-equal (exact integers), and 1 job instead of
    # 2 + iterations job barriers. The work gate keeps a big-k fit
    # off the driver even when the matrix fits.
    head = vecs.select(F.size(F.col(vec_col)).alias("d")).head()
    d_probe = int(head["d"]) if head is not None and head["d"] is not None else 0
    if d_probe:
        max_rows = min(
            KMEANS_DRIVER_MAX_BYTES // (8 * d_probe),
            KMEANS_DRIVER_MAX_WORK // max(1, k * d_probe),
        )
        local = _collect_quantized(
            _quantize(vecs, id_col, vec_col, scale), max_rows
        )
        if local is not None:
            from udacity_capstone_data_engineering_spark.session import (
                local_df,
            )

            ids, mat = local
            cents, lab, dist = _lloyd_driver(ids, mat, k, iterations)
            if _cents_out is not None:
                _cents_out.extend([list(map(int, c)) for c in cents])
            return local_df(
                vecs.sparkSession,
                list(
                    zip(
                        ids.tolist(),
                        [int(x) for x in lab],
                        dist.tolist(),
                    )
                ),
                f"{id_col} long, cluster int, dist_sq long",
            )

    # Widen a too-narrow scan BEFORE persisting: a one-file corpus
    # otherwise serializes every assign kernel on a single worker —
    # the sf10 probe measured the k=3125 kernel pegging ONE core for
    # ~30 min on a single-partition 200k-vector parquet. No-op when
    # the scan already has >= default-parallelism partitions.
    q = fan_out_small_scan(_quantize(vecs, id_col, vec_col, scale)).persist()
    init = q.orderBy("vid").limit(k).collect()
    cents = [list(r["qv"]) for r in init]
    d = len(cents[0])
    # One parsed struct expression instead of d F.sum(element_at())
    # Column builds per iteration (same py4j economy as cent_lit; the
    # d=64 column list alone cost ~0.3 s of driver wall per iteration).
    # `qv[i]` is 0-based in SQL — identical to element_at(qv, i+1).
    sums_expr = F.expr(
        "struct(" + ",".join(f"sum(qv[{i}]) AS s{i}" for i in range(d)) + ")"
    ).alias("sums")
    for _ in range(iterations):
        bcs: list = []
        assign = _assign_any(q, cents, bcs)
        rows = assign.groupBy("cluster").agg(
            F.count("*").alias("c"), sums_expr
        ).collect()
        # The collect fully consumed this iteration's assignment —
        # release its centroid broadcast (ADVICE r6: they otherwise
        # accumulate iterations+2 x ~25 MB per run on every executor).
        for bc in bcs:
            bc.unpersist(blocking=False)
        by_cid = {r["cluster"]: r for r in rows}
        for cid in range(k):
            r = by_cid.get(cid)
            if r is None or r["c"] == 0:
                continue  # empty cluster keeps its previous centroid
            s = r["sums"]
            cents[cid] = [s[f"s{i}"] // r["c"] for i in range(d)]
    # r11 (guide §1.2/§3.3): materialize the FINAL assignment while q
    # is still cached. The returned lineage used to re-run quantize +
    # assign from the raw scan on every downstream evaluation (the
    # unpersist below fires before any consumer evaluates), and
    # multi-branch consumers (semantic dedup joins it twice; the
    # optimizer also duplicates the assign expression into pushed
    # join-key null filters — r11 filter audit, 2.9 KB conditions)
    # paid it once per branch. The assignment is 3 longs/row — the
    # canonical slim decision relation (guide §8) — so one
    # materialization replaces every recomputation, and at scale it is
    # exactly what MLlib's fit/transform split materializes too.
    out = (
        _assign_any(q, cents)
        .select(F.col("vid").alias(id_col), "cluster", "dist_sq")
        .localCheckpoint(eager=True)
    )
    q.unpersist()
    if _cents_out is not None:
        _cents_out.extend(cents)
    return out


def kmeans_oracle_blocks(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int | str = K,
    iterations: int = ITERATIONS,
    scale: int = SCALE,
) -> tuple[list[str], str]:
    """The recurrence unrolled as CTE blocks, returned as
    ``(blocks, final_assignment_cte_name)`` so composite oracles
    (semantic dedup) can extend the same WITH chain. Floor division is
    spelled ``(s - ((s % c) + c) % c) / c`` — exact in pure integers,
    equal to Python's ``//`` for negative sums too.

    ``k`` may be an int (the pinned-k rows) or a SQL scalar expression
    string (the auto-k tier: the cluster count derives from
    ``count(*)`` of the quantized relation, so the oracle stays valid
    when k scales with the corpus — the unrolling is per-ITERATION,
    never per-k, which is what makes dynamic k expressible)."""
    k_expr = f"({k})" if isinstance(k, str) else str(int(k))
    blocks = [
        f"""q AS (
      SELECT {id_col} AS vid,
             list_transform({vec_col},
                 x -> CAST(floor(CAST(x AS DOUBLE) * {scale} + 0.5) AS BIGINT))
               AS qv
      FROM {table}),
    vdim AS (
      SELECT vid, u.dim AS dim, u.val AS val FROM (
        SELECT vid, unnest(list_transform(range(1, len(qv) + 1),
                   i -> {{'dim': i, 'val': qv[i]}})) AS u
        FROM q)),
    cdim_0 AS (
      SELECT CAST(rn - 1 AS INTEGER) AS cid, dim, val FROM (
        SELECT vid, row_number() OVER (ORDER BY vid) AS rn FROM q) r
      JOIN vdim USING (vid) WHERE rn <= {k_expr})"""
    ]
    for t in range(1, iterations + 2):
        prev = f"cdim_{t - 1}"
        blocks.append(
            f"""dist_{t} AS (
      SELECT v.vid, c.cid,
             sum((v.val - c.val) * (v.val - c.val)) AS dist_sq
      FROM vdim v JOIN {prev} c USING (dim)
      GROUP BY v.vid, c.cid),
    asg_{t} AS (
      SELECT vid, cid AS cluster, dist_sq FROM (
        SELECT vid, cid, dist_sq,
               row_number() OVER (PARTITION BY vid
                                  ORDER BY dist_sq, cid) AS rn
        FROM dist_{t}) WHERE rn = 1)"""
        )
        if t <= iterations:
            blocks.append(
                f"""new_{t} AS (
      SELECT a.cluster AS cid, v.dim,
             sum(v.val) AS s, count(*) AS c
      FROM asg_{t} a JOIN vdim v USING (vid)
      GROUP BY a.cluster, v.dim),
    cdim_{t} AS (
      SELECT p.cid, p.dim,
             CASE WHEN n.c IS NULL THEN p.val
                  ELSE CAST((n.s - (((n.s % n.c) + n.c) % n.c)) / n.c
                            AS BIGINT)
             END AS val
      FROM {prev} p LEFT JOIN new_{t} n
        ON p.cid = n.cid AND p.dim = n.dim)"""
            )
    return blocks, f"asg_{iterations + 1}"


def kmeans_int_oracle_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = K,
    iterations: int = ITERATIONS,
    scale: int = SCALE,
) -> str:
    blocks, final = kmeans_oracle_blocks(
        table, id_col, vec_col, k, iterations, scale
    )
    return (
        "WITH "
        + ",\n    ".join(blocks)
        + f"""
    SELECT vid AS {id_col}, cluster, CAST(dist_sq AS BIGINT) AS dist_sq
    FROM {final}
    """
    )
